package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Loader for the driver-generated testdata tables (TESTDATA.md).
  *
  * The driver's parquet has stored timestamps two ways across rounds:
  * INT64 TIMESTAMP(NANOS) (Spark 4 reads it only via
  * `spark.sql.legacy.parquet.nanosAsLong`, as raw nanos) and plain
  * `timestamp[us]` with isAdjustedToUTC=false (Spark reads TIMESTAMP_NTZ).
  * This loader normalizes both to TimestampType (µs, session tz pinned to
  * UTC, integer arithmetic — ns values exceed double precision) so engine
  * code and the DuckDB oracle see identical µs-precision timestamps.
  */
object Tables {

  /** Timestamp-bearing columns per table (either encoding). */
  private val nanoTsColumns: Map[String, Seq[String]] = Map(
    "events" -> Seq("ts"),
    "lineitem" -> Seq("l_shipdate"),
    "orders" -> Seq("o_orderdate")
  )

  def configure(spark: SparkSession): Unit = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
  }

  /** Parquet FILE SCHEMA per (dir, table) — metadata only, never data:
    * every declared query re-reads the parquet bytes at execution; this
    * memo only skips the per-call driver-side footer read Spark pays to
    * INFER the schema when `.schema(...)` is absent (r21: ~700
    * Tables.load calls per bench pass, each costing a listing + footer
    * parse on the driver). Keyed by path so differing SF dirs (or
    * regenerated testdata under a NEW path) can never cross-talk; the
    * nanos-vs-NTZ encoding variance across generations is part of the
    * schema itself, so both encodings memo correctly; one entry per path.
    */
  private[graft] val schemaMemo = new java.util.concurrent.ConcurrentHashMap[
    String, ((Long, Long), org.apache.spark.sql.types.StructType)]

  /** Cheap freshness token (ADVICE r21): parquet rewritten IN PLACE with a
    * different schema inside one long-lived JVM (regenerated testdata,
    * test fixtures) must not read through a stale pinned schema — the
    * memo re-reads the footer when (mtime, direct-child count) changes.
    * One stat + one list per load call, still no footer parse.
    */
  private def freshness(path: String): (Long, Long) = {
    val f = new java.io.File(path)
    val kids = f.list()
    (f.lastModified(), if (kids == null) -1L else kids.length.toLong)
  }

  def load(spark: SparkSession, sfDir: String, table: String): DataFrame = {
    configure(spark)
    val path = s"$sfDir/$table.parquet"
    val token = freshness(path)
    val (_, schema) = schemaMemo.compute(path, (p, old) =>
      if (old != null && old._1 == token) old else (token, spark.read.parquet(p).schema))
    val df = spark.read.schema(schema).parquet(path)
    nanoTsColumns.getOrElse(table, Nil).foldLeft(df) { (d, c) =>
      d.schema(c).dataType match {
        // integer div: epoch-ns (~1.7e18) exceeds double's 53-bit mantissa
        case LongType => d.withColumn(c, timestamp_micros(expr(s"`$c` div 1000")))
        // NTZ wall-clock reinterpreted in the session tz (pinned UTC above)
        // — identical instants, and downstream unix_millis etc. resolve
        case TimestampNTZType => d.withColumn(c, col(c).cast(TimestampType))
        case _ => d
      }
    }
  }
}
