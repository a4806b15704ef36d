package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Tables

/** Storage-layout levers that carry the 100 TB design: partitioned layouts
  * whose predicates prune files at planning time, and bucketed tables whose
  * co-partitioning eliminates the join shuffle entirely.
  */
class StorageSpec extends AnyFunSuite {

  private lazy val warehouse = Files.createTempDirectory("graft-wh").toString

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.warehouse.dir", warehouse)
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val dir = "/root/testdata/sf0.001"

  test("partitionBy write + predicate => partition pruning at the scan") {
    val out = Files.createTempDirectory("graft-part").toString
    Tables.load(spark, dir, "events")
      .write.mode("overwrite").partitionBy("event_type").parquet(out)
    val read = spark.read.parquet(out).filter(org.apache.spark.sql.functions.col("event_type") === "click")
    val plan = read.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(event_type"), plan)
    // pruned scan must not list non-matching partitions' files
    val scanned = read.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scanned.contains("event_type"), scanned)
    assert(read.count() > 0)
  }

  test("AQE splits a skewed join at runtime (no manual salting needed)") {
    import org.apache.spark.sql.functions._
    val s = spark
    import s.implicits._
    // heavy-hitter key 0 holds ~all rows — the classic skew shape
    val left = (1 to 200000).map(i => (if (i <= 199000) 0L else i.toLong, i.toLong)).toDF("k", "v")
    val right = (0 to 1000).map(i => (i.toLong, s"r$i")).toDF("k", "tag")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = left.hint("shuffle_merge").join(right, "k")
      // collect() executes THIS Dataset's QueryExecution (count() would build
      // a different one and leave this plan un-adapted)
      assert(joined.collect().length == 199000) // tail keys (>1000) unmatched
      val finalPlan = joined.queryExecution.executedPlan.toString
      assert(finalPlan.contains("isFinalPlan=true"), finalPlan)
      // AQE marks the skewed SMJ; the heavy partition was split at runtime
      assert(finalPlan.contains("skew=true"), "skew join not triggered:\n" + finalPlan)
    } finally {
      Seq("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        "spark.sql.autoBroadcastJoinThreshold").foreach(spark.conf.unset)
    }
  }

  test("a table rewritten in place reads its new schema and keeps one memo entry") {
    val sf = Files.createTempDirectory("graft-memo").toString
    val path = s"$sf/t.parquet"
    // each rewrite changes the schema and the file count, so the freshness
    // token moves even where the directory mtime has coarse resolution
    val before = Tables.schemaMemo.size
    for (n <- 1 to 3) {
      spark.range(0, n, 1, n).selectExpr((1 to n).map(i => s"id AS c$i"): _*)
        .write.mode("overwrite").parquet(path)
      assert(Tables.load(spark, sf, "t").columns.toSeq == (1 to n).map(i => s"c$i"))
      assert(Tables.schemaMemo.size == before + 1,
        s"rewrite $n left ${Tables.schemaMemo.size - before} memo entries")
    }
  }

  test("bucketed tables co-partition the join: no Exchange in the plan") {
    // the session (and so the warehouse dir) may be inherited from an
    // earlier suite: clear both catalog entries and orphan table dirs
    for (t <- Seq("orders_b", "lineitem_b")) {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new java.io.File(
        spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), t)
      if (loc.exists()) {
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory) f.listFiles().foreach(rm)
          f.delete()
        }
        rm(loc)
      }
    }
    Tables.load(spark, dir, "orders").write.mode("overwrite")
      .bucketBy(8, "o_orderkey").sortBy("o_orderkey").saveAsTable("orders_b")
    Tables.load(spark, dir, "lineitem").write.mode("overwrite")
      .bucketBy(8, "l_orderkey").sortBy("l_orderkey").saveAsTable("lineitem_b")
    // sf0.001 dims are broadcast-sized; disable auto-broadcast so the plan
    // exercises the shape big-fact x big-fact joins take at 100 TB
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("orders_b").join(spark.table("lineitem_b"),
        org.apache.spark.sql.functions.col("o_orderkey") === org.apache.spark.sql.functions.col("l_orderkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        "bucketed join must not shuffle:\n" + plan)
      assert(plan.contains("SortMergeJoin"), plan)
      assert(plan.contains("Bucketed: true"), plan)
      assert(joined.count() > 0)
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }
}
