package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, ExprId, Expression}
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.GraftFunctions
import graft.functions.prom._

/** The engine's functions reachable from plain SQL. */
class SqlFunctionsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]").config("spark.ui.enabled", "false").getOrCreate()

  test("registered SQL functions run the same kernels") {
    GraftFunctions.register(spark)
    val row = spark.sql(
      """SELECT
        |  prom_value_string(456.0d) AS vs,
        |  prom_seconds_string(10001L) AS ss,
        |  prom_rfc3339(10001L) AS ts,
        |  prom_parse_rfc3339('1970-01-01T00:00:10.001Z') AS ms,
        |  prom_json(0L, 456.0d, map('__name__', 'foo'), '') AS pj,
        |  prom_series_key(map('__name__', 'foo', '__replica__', 'a'), '') AS k1,
        |  prom_series_key(map('__name__', 'foo', '__replica__', 'b'), '') AS k2,
        |  cast(snappy_uncompress(snappy_compress(cast('hi' as binary))) as string) AS roundtrip,
        |  fingerprint64('hello') AS fp,
        |  prom_deserialize(prom_json(10001L, 1.5d, map('__name__', 'x'), 'org')).tenantId AS t
        |""".stripMargin).collect().head
    assert(row.getAs[String]("vs") == "456")
    assert(row.getAs[String]("ss") == "10.001")
    assert(row.getAs[String]("ts") == "1970-01-01T00:00:10.001Z")
    assert(row.getAs[Long]("ms") == 10001L)
    assert(row.getAs[String]("pj") == """{"value":[0,"456"],"metric":{"__name__":"foo"}}""")
    assert(row.getAs[String]("k1") == row.getAs[String]("k2"))
    assert(row.getAs[String]("roundtrip") == "hi")
    assert(row.getAs[Long]("fp") == graft.functions.PromKernel.fingerprint64("hello"))
    assert(row.getAs[String]("t") == "org")
  }

  test("shingle kernels reachable from SQL match the Scala kernels") {
    GraftFunctions.register(spark)
    val row = spark.sql(
      """SELECT shingle_g('a b c d a b c d', 3) AS sg,
        |       ngram_g('a b c d a b c d', 2) AS ng""".stripMargin).collect().head
    val sg = row.getSeq[Long](row.fieldIndex("sg")).toList
    val ng = row.getSeq[Long](row.fieldIndex("ng")).toList
    assert(sg == graft.functions.PromKernel.shingleG("a b c d a b c d", 3).toList)
    assert(ng == graft.functions.PromKernel.ngramG("a b c d a b c d", 2).toList)
    // distinct vs with-repeats: the repeated "a b c"/"b c d" shingles
    // collapse in shingle_g but stay in ngram_g
    assert(sg.distinct == sg)
    assert(ng.length == 7)
  }

  test("vec_dot from SQL: fold-ordered dot product") {
    val d = spark.sql(
      "SELECT vec_dot(array(1.0D, 2.0D, 3.0D), array(4.0D, 5.0D, 6.0D)) AS d")
      .collect().head.getDouble(0)
    assert(d == 32.0)
  }

  test("hamming64 and next_fit_bins reachable from SQL") {
    GraftFunctions.register(spark)
    val row = spark.sql(
      """SELECT hamming64('0011', '0101') AS h,
        |       next_fit_bins(array(60L, 60L, 50L, 30L), 100L, 0L) AS bins,
        |       next_fit_bins(array(10L, 10L, 10L), 100L, 2L) AS capped""".stripMargin)
      .collect().head
    assert(row.getLong(row.fieldIndex("h")) == 2L)
    assert(row.getSeq[Long](row.fieldIndex("bins")).toList == List(0L, 1L, 2L, 2L))
    assert(row.getSeq[Long](row.fieldIndex("capped")).toList == List(0L, 0L, 1L))
  }

  test("every SQL function builds the expression its Column twin builds") {
    GraftFunctions.register(spark)
    // analysis only: the kernels are not run, so `ts` need not hold a real
    // timeseries array
    val t = spark.sql(
      """SELECT 1.5d AS v, 10001L AS ms, 'a b c' AS s, map('__name__', 'x') AS l,
        |  'org' AS tn, cast('hi' AS binary) AS b, cast('hi' AS binary) AS ts,
        |  array(1.0d, 2.0d) AS x, array(1L, 2L) AS q""".stripMargin)
    t.createOrReplaceTempView("parity")
    def c(n: String): Column = col(n)
    val twins: Seq[(String, String, Column)] = Seq(
      ("prom_value_string", "v", prom_value_string(c("v"))),
      ("prom_seconds_string", "ms", prom_seconds_string(c("ms"))),
      ("prom_rfc3339", "ms", rfc3339_nano(c("ms"))),
      ("prom_parse_rfc3339", "s", parse_rfc3339(c("s"))),
      ("prom_json", "ms, v, l, tn", prom_json(c("ms"), c("v"), c("l"), c("tn"))),
      ("prom_json_compat", "ms, v, l, tn", prom_json_compat(c("ms"), c("v"), c("l"), c("tn"))),
      ("prom_avro_json", "ms, v, l, tn", prom_avro_json(c("ms"), c("v"), c("l"), c("tn"))),
      ("prom_deserialize", "s", prom_deserialize(0, c("s"))),
      ("prom_deserialize_compat", "s", prom_deserialize(1, c("s"))),
      ("prom_series_key", "l, tn", series_key(c("l"), c("tn"))),
      ("snappy_compress", "b", snappy_compress(c("b"))),
      ("snappy_uncompress", "b", snappy_uncompress(c("b"))),
      ("pb_encode_write_request", "ts", pb_encode(c("ts"))),
      ("pb_decode_write_request", "b", pb_decode(c("b"))),
      ("fingerprint64", "s", fingerprint64(c("s"))),
      ("mix64", "ms, 3L, 5L", mix64(c("ms"), 3L, 5L)),
      ("simhash64", "s", simhash64(c("s"))),
      ("vec_dot", "x, x", vec_dot(c("x"), c("x"))),
      ("vec_sqdist_q", "q, q", vec_sqdist_q(c("q"), c("q"))),
      ("shingle_g", "s, 3", shingle_g(c("s"), 3)),
      ("ngram_g", "s, 2", ngram_g(c("s"), 2)),
      ("hamming64", "s, s", hamming64(c("s"), c("s"))),
      ("next_fit_bins", "q, 100L, 0L", next_fit_bins(c("q"), 100, 0)))
    assert(twins.map(_._1).toSet == GraftFunctions.builders.map(_._1).toSet,
      "every SQL function needs a parity case")
    // the analyzed projection, with attribute ids zeroed: the SQL side reads
    // the view, the Column side the frame behind it
    def projected(df: DataFrame): Expression = df.queryExecution.analyzed match {
      case Project(Seq(Alias(e, _)), _) =>
        e.transform { case a: AttributeReference => a.withExprId(ExprId(0)) }
    }
    twins.foreach { case (name, args, column) =>
      val viaSql = projected(spark.sql(s"SELECT $name($args) AS r FROM parity"))
      val viaColumn = projected(t.select(column.as("r")))
      assert(viaSql.semanticEquals(viaColumn), s"$name:\n  SQL    $viaSql\n  Column $viaColumn")
    }
  }
}
