package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.PromPipeline
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Runs the full produce path: events -> samples -> json payload + series key.
    */
  def entry(spark: SparkSession): DataFrame = {
    val sm = EventSamples.df(spark, "/root/testdata/sf0.001")
    PromPipeline.serialize(
      sm.withColumn("timestampMs", sm("ts_ms")), "json")
      .select("event_id", "payload", "key")
  }

  /** The inventory's modules, each named once. A query name in a later
    * module replaces the same name in an earlier one.
    */
  private val modules: Seq[QueryModule] = Seq(
    PipelineQueries, RelationalQueries, DataQueries, DataQueries2, DataQueries3, DataQueries4,
    DataQueries5, DataQueries6, DataQueries7, DataQueries8, DataQueries9, DataQueries10,
    DataQueries11, DataQueries12, DataQueries13, DataQueries14, DataQueries15, DataQueries16,
    DataQueries17, DataQueries18, DataQueries19, DataQueries20, DataQueries21, DataQueries22,
    DataQueries23, DataQueries24, DataQueries25, RelationalQueries2, RelationalQueries3)

  /** One entry per implemented operator from SURVEY.md §2 (+ north-star). */
  lazy val queries: Map[String, Q] = modules.map(_.queries).reduce(_ ++ _)

  /** DuckDB-runnable oracle per query (same parquet tables). */
  lazy val oracleSql: Map[String, String] = modules.map(_.oracles).reduce(_ ++ _)
}
