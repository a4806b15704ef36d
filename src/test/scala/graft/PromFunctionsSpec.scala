package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.prom._
import graft.operators.PromPipeline

/** Spark-level tests of the custom expression layer + pipeline stages. */
class PromFunctionsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def fixtureDf = {
    val s = spark
    import s.implicits._
    Seq(
      (0L, 456.0, Map("__name__" -> "foo", "labelfoo" -> "label-bar"), ""),
      (10001L, Double.PositiveInfinity, Map("__name__" -> "foo", "labelfoo" -> "label-bar"), ""),
      (0L, 456.0, Map("__name__" -> "foo", "labelfoo" -> "label-bar"), "fake")
    ).toDF("timestampMs", "value", "labels", "tenantId")
  }

  test("serializers via expressions reproduce golden vectors") {
    val out = PromPipeline.serialize(fixtureDf, "json")
      .select("payload").collect().map(_.getString(0))
    assert(out(0) == """{"value":[0,"456"],"metric":{"__name__":"foo","labelfoo":"label-bar"}}""")
    assert(out(1) == """{"value":[10.001,"+Inf"],"metric":{"__name__":"foo","labelfoo":"label-bar"}}""")
    assert(out(2) == """{"value":[0,"456"],"metric":{"__name__":"foo","labelfoo":"label-bar"},"tenant_id":"fake"}""")
  }

  test("serialize -> deserialize round-trip through Catalyst") {
    for (fmt <- Seq(("json", 0), ("json-compat", 1), ("avro-json-compat", 1))) {
      val df = PromPipeline.serialize(fixtureDf, fmt._1)
      val back = PromPipeline.deserialize(df, fmt._2, col("payload"))
        .select(col("sample.timestampMs"), col("sample.value"), col("sample.tenantId"))
        .collect()
      assert(back(0).getLong(0) == 0L && back(0).getDouble(1) == 456.0 && back(0).getString(2) == "")
      assert(back(1).getDouble(1).isPosInfinity)
      assert(back(2).getString(2) == "fake")
    }
  }

  test("poison payload deserializes to null (skip-and-ack)") {
    val s = spark
    import s.implicits._
    val df = Seq("not json at all", """{"value":[0,"1"]}""").toDF("payload")
    val out = PromPipeline.deserialize(df, 0, col("payload")).select("sample").collect()
    assert(out(0).isNullAt(0))
    assert(!out(1).isNullAt(0))
  }

  test("series_key: replica-invariant, tenant-sensitive, matches kernel") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (Map("__name__" -> "foo", "__replica__" -> "a"), ""),
      (Map("__name__" -> "foo", "__replica__" -> "b"), ""),
      (Map("__name__" -> "foo"), ""),
      (Map("__name__" -> "foo"), "t1")
    ).toDF("labels", "tenantId")
    val keys = df.select(series_key(col("labels"), col("tenantId"))).collect().map(_.getString(0))
    assert(keys(0) == keys(1) && keys(1) == keys(2))
    assert(keys(3) != keys(2))
    assert(keys(2) == graft.functions.PromKernel.seriesKey(
      Array("__name__"), Array("foo"), "", Array("__replica__")))
  }

  test("wire: explode + re-encode + snappy/proto round-trip") {
    val s = spark
    import s.implicits._
    val samples = PromPipeline.attachTenant(
      fixtureDf.drop("tenantId"), lit(null).cast("string"), lit("org-1"))
    // egress: per-sample single-series wire, sorted labels; batch per tenant
    val batches = PromPipeline.encodeTenantBatches(samples)
    val row = batches.collect().head
    assert(row.getAs[String]("tenantId") == "org-1")
    assert(row.getAs[Long]("sampleCount") == 3L)
    // ingress: decode body -> explode -> same samples
    val decoded = PromPipeline.explodeWriteRequest(
      PromPipeline.decodeBody(batches.select("tenantId", "body"), col("body")),
      col("timeseries"))
      .select("timestampMs", "value", "labels")
    assert(decoded.count() == 3L)
    val vals = decoded.collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1)
    assert(vals(0) == ((0L, 456.0)))
    assert(vals(2)._1 == 10001L && vals(2)._2.isPosInfinity)
  }

  test("label map: sorted, a repeated name last-wins, nulls as map_from_entries") {
    def entry(n: String, v: String) =
      struct(lit(n).cast("string").as("name"), lit(v).cast("string").as("value"))
    val df = spark.range(1).select(
      array(entry("b", null), entry("a", "1"), entry("c", "3")).as("unique"),
      array(entry("b", "1"), entry("a", "2"), entry("b", null)).as("repeated"),
      array(entry(null, "1")).as("nullName"))
    val row = df.select(prom_label_map(col("unique")), map_from_entries(col("unique")),
      prom_label_map(col("repeated"))).head()
    assert(row.getMap[String, String](0) == row.getMap[String, String](1))
    assert(row.getMap[String, String](0).keys.toSeq == Seq("a", "b", "c"))
    assert(row.getMap[String, String](0)("b") == null)
    assert(row.getMap[String, String](2).toSeq == Seq("a" -> "2", "b" -> null))
    val e = intercept[Exception](df.select(prom_label_map(col("nullName"))).collect())
    assert(e.toString.contains("label name is null") ||
      Option(e.getCause).exists(_.toString.contains("label name is null")), e)
  }

  test("whole-stage codegen keeps custom expressions in the fused span") {
    // On a local relation Catalyst constant-folds the whole plan; use a real
    // parquet scan to observe the executed shape.
    val ev = graft.sources.Tables.load(spark, "/root/testdata/sf0.001", "events")
      .select(col("event_id"), unix_millis(col("ts")).as("timestampMs"), col("value"),
        map(lit("__name__"), col("event_type")).as("labels"), lit("").as("tenantId"))
    val plan = PromPipeline.serialize(ev, "json")
      .select("payload", "key").queryExecution.executedPlan.toString
    // "*(1)" = WholeStageCodegen stage 1 in compact plan notation
    assert(plan.contains("*(1) Project") && plan.contains("static_invoke"), plan)
    // column pruning reached the scan: only the 3 needed columns are read
    // (ts encoding varies by testdata generation: nanos-long or timestamp_ntz)
    assert(plan.contains("ReadSchema: struct<ts:bigint,event_type:string,value:double>")
      || plan.contains("ReadSchema: struct<ts:timestamp_ntz,event_type:string,value:double>"), plan)
  }
}
