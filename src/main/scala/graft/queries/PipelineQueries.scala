package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.prom._
import graft.operators.PromPipeline
import graft.queries.{SqlFragments => F}

/** Pipeline-parity queries: each exercises one operator from SURVEY §2 over
  * the deterministic events->samples mapping, with a DuckDB oracle that
  * recomputes the expected output byte-for-byte.
  */
object PipelineQueries extends QueryModule {

  private def samples(s: SparkSession, dir: String) = EventSamples.df(s, dir)

  val queries: Map[String, Q] = Map(
    // #4 flatten/explode: build nested WriteRequests then explode back
    "p01_flatten" -> ((s, dir) => {
      val sm = samples(s, dir)
      // one multi-sample series per (user, metric) — bounded group size, no
      // global collect; the explode is the operator under test
      val nested = sm
        .groupBy(col("user_id"), col("name"))
        .agg(sort_array(collect_list(struct(col("value"), col("ts_ms").as("timestamp")))).as("samples"))
        .select(array(struct(
          array(
            struct(lit("__name__").as("name"), col("name").as("value")),
            struct(lit("user").as("name"), col("user_id").cast("string").as("value"))
          ).as("labels"),
          col("samples"))).as("timeseries"))
      PromPipeline.explodeWriteRequest(nested, col("timeseries"))
        .select(
          element_at(col("labels"), "user").as("usr"),
          element_at(col("labels"), "__name__").as("name"),
          col("timestampMs").as("ts_ms"),
          col("value"))
        .orderBy(col("usr"), col("name"), col("ts_ms"), col("value"))
    }),

    // #5 tenant enrichment precedence: BasicAuth user > X-Scope-OrgID > ""
    "p02_tenant" -> ((s, dir) => {
      val sm = samples(s, dir)
      PromPipeline.attachTenant(
        sm.drop("tenantId"),
        when(pmod(col("event_id"), lit(5)) === 0, concat(lit("basic-"), col("user_id"))),
        when(pmod(col("event_id"), lit(2)) === 0, concat(lit("org-"), col("user_id"))))
        .select(col("event_id"), col("tenantId").as("tenant"))
        .orderBy("event_id")
    }),

    // #7 json serializer
    "p03_ser_json" -> ((s, dir) =>
      PromPipeline.serialize(withCanonCols(samples(s, dir)), "json")
        .select(col("event_id"), col("payload")).orderBy("event_id")),

    // #8 json-compat serializer
    "p04_ser_compat" -> ((s, dir) =>
      PromPipeline.serialize(withCanonCols(samples(s, dir)), "json-compat")
        .select(col("event_id"), col("payload")).orderBy("event_id")),

    // #9 avro-json-compat serializer
    "p05_ser_avro" -> ((s, dir) =>
      PromPipeline.serialize(withCanonCols(samples(s, dir)), "avro-json-compat")
        .select(col("event_id"), col("payload")).orderBy("event_id")),

    // #10 deserializer: full round-trip back to typed samples
    "p06_roundtrip" -> ((s, dir) => {
      val ser = PromPipeline.serialize(withCanonCols(samples(s, dir)), "json")
      PromPipeline.deserialize(ser, 0, col("payload"))
        .select(
          col("event_id"),
          col("sample.timestampMs").as("ts_ms"),
          col("sample.value").as("value"),
          element_at(col("sample.labels"), "__name__").as("name"),
          col("sample.tenantId").as("tenant"))
        .orderBy("event_id")
    }),

    // #11 partition key (FNV-1 64, replica labels excluded)
    "p07_series_key" -> ((s, dir) =>
      withCanonCols(samples(s, dir))
        .withColumn("key", series_key(col("labels"), col("tenantId")))
        .select(col("event_id"), col("key")).orderBy("event_id")),

    // #15 re-encode egress: single-sample series, labels sorted by name
    "p08_towire" -> ((s, dir) => {
      val sm = samples(s, dir)
      sm.withColumn("wire", PromPipeline.sampleToWire(col("labels"), col("ts_ms"), col("value")))
        .select(
          col("event_id"),
          array_join(transform(col("wire.labels"), l => concat(l.getField("name"), lit("="), l.getField("value"))), ",").as("sorted_labels"),
          size(col("wire.samples")).cast("long").as("n_samples"))
        .orderBy("event_id")
    }),

    // #2 snappy codec round-trip
    "p09_snappy" -> ((s, dir) => {
      val ser = PromPipeline.serialize(withCanonCols(samples(s, dir)), "json")
      ser.select(
        col("event_id"),
        snappy_uncompress(snappy_compress(col("payload").cast("binary"))).cast("string").as("decoded"),
        length(col("payload")).cast("long").as("len"))
        .orderBy("event_id")
    }),

    // #3 prompb proto codec round-trip (encode batch -> decode -> flatten)
    "p10_proto" -> ((s, dir) => {
      // bound batch size via a deterministic bucket so per-group state stays
      // O(100) at any scale factor (the streaming batcher caps at BatchSize)
      val sm = withCanonCols(samples(s, dir))
        .withColumn("labels", map_concat(col("labels"), map(lit("eid"), col("event_id").cast("string"))))
        .withColumn("tenantId", concat(col("tenantId"), lit("#"), (col("event_id") / lit(100)).cast("long")))
      val bodies = PromPipeline.encodeTenantBatches(sm)
      val back = PromPipeline.explodeWriteRequest(
        PromPipeline.decodeBody(bodies.select(col("tenantId"), col("body")), col("body")),
        col("timeseries"))
      back.select(
        element_at(col("labels"), "eid").cast("long").as("event_id"),
        col("timestampMs").as("ts_ms"),
        col("value"),
        element_at(col("labels"), "__name__").as("name"),
        substring_index(col("tenantId"), "#", 1).as("tenant"))
        .orderBy("event_id")
    }),

    // #14 per-tenant batching semantics (batch-mode analog: size-100 batches
    // in arrival order; streaming variant lives in graft.streaming)
    "p11_batches" -> ((s, dir) => {
      val w = Window.partitionBy(col("tenantId")).orderBy(col("ts_ms"), col("event_id"))
      samples(s, dir)
        .withColumn("rn", row_number().over(w))
        .withColumn("batch_id", ((col("rn") - 1) / lit(100)).cast("long"))
        .groupBy(col("tenantId").as("tenant"), col("batch_id"))
        .agg(count(lit(1)).as("n"), min(col("ts_ms")).as("min_ts"), max(col("ts_ms")).as("max_ts"))
        .orderBy("tenant", "batch_id")
    }),

    // #17 observability counters per tenant
    "p12_metrics" -> ((s, dir) =>
      samples(s, dir)
        .groupBy(col("tenantId").as("tenant"))
        .agg(count(lit(1)).as("received_samples"), round(sum(col("value")), 2).as("value_sum"))
        .orderBy("tenant"))
  )

  /** serialize() expects canonical column names (timestampMs). */
  private def withCanonCols(df: DataFrame): DataFrame =
    df.withColumn("timestampMs", col("ts_ms"))

  private val S = F.samplesCte

  val oracles: Map[String, String] = Map(
    "p01_flatten" ->
      s"""$S SELECT usr, name, ts_ms, value FROM samples
         |ORDER BY usr, name, ts_ms, value""".stripMargin,

    "p02_tenant" ->
      s"""$S SELECT event_id, coalesce(
         |  CASE WHEN event_id % 5 = 0 THEN 'basic-' || CAST(user_id AS VARCHAR) END,
         |  CASE WHEN event_id % 2 = 0 THEN 'org-' || CAST(user_id AS VARCHAR) END,
         |  '') AS tenant
         |FROM samples ORDER BY event_id""".stripMargin,

    "p03_ser_json" ->
      s"""$S SELECT event_id, ${F.jsonPayload} AS payload FROM samples ORDER BY event_id""",

    "p04_ser_compat" ->
      s"""$S SELECT event_id, ${F.compatPayload} AS payload FROM samples ORDER BY event_id""",

    "p05_ser_avro" ->
      s"""$S SELECT event_id, ${F.avroPayload} AS payload FROM samples ORDER BY event_id""",

    "p06_roundtrip" ->
      s"""$S SELECT event_id, ts_ms, value, name, tenant FROM samples ORDER BY event_id""",

    "p07_series_key" ->
      s"""$S, hashed AS (
         |  SELECT event_id, ${F.fnvAcc("'__name__' || name || 'k' || k || 'user' || usr || tenant")} AS h
         |  FROM samples)
         |SELECT event_id, ${F.hexKey("h")} AS key FROM hashed ORDER BY event_id""".stripMargin,

    "p08_towire" ->
      s"""$S SELECT event_id,
         |  '__name__=' || name || ',__replica__=' || replica || ',k=' || k || ',user=' || usr AS sorted_labels,
         |  CAST(1 AS BIGINT) AS n_samples
         |FROM samples ORDER BY event_id""".stripMargin,

    "p09_snappy" ->
      s"""$S SELECT event_id, ${F.jsonPayload} AS decoded,
         |  CAST(length(${F.jsonPayload}) AS BIGINT) AS len
         |FROM samples ORDER BY event_id""".stripMargin,

    "p10_proto" ->
      s"""$S SELECT event_id, ts_ms, value, name, tenant FROM samples ORDER BY event_id""",

    "p11_batches" ->
      s"""$S, numbered AS (
         |  SELECT tenant, ts_ms,
         |         row_number() OVER (PARTITION BY tenant ORDER BY ts_ms, event_id) AS rn
         |  FROM samples)
         |SELECT tenant, CAST((rn - 1) // 100 AS BIGINT) AS batch_id,
         |       CAST(count(*) AS BIGINT) AS n, min(ts_ms) AS min_ts, max(ts_ms) AS max_ts
         |FROM numbered GROUP BY tenant, (rn - 1) // 100
         |ORDER BY tenant, batch_id""".stripMargin,

    "p12_metrics" ->
      s"""$S SELECT tenant, CAST(count(*) AS BIGINT) AS received_samples,
         |  round(CAST(sum(value) AS DOUBLE), 2) AS value_sum
         |FROM samples GROUP BY tenant ORDER BY tenant""".stripMargin
  )
}
