package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.prom._

/** The reference's dataflow stages as declarative DataFrame transforms.
  *
  * source -> decode -> flatten -> enrich -> project -> serialize -> keyBy ->
  * sink (SURVEY §2). Everything here is pure Catalyst — narrow transforms fuse
  * into one whole-stage-codegen span; the only shuffles in the whole pipeline
  * are the intentional ones (keyBy for per-series ordering, groupBy(tenant)
  * for batching).
  */
object PromPipeline {

  /** Operator #2+#3 (produce.go:132-144): snappy-decompress + proto-decode the
    * HTTP body into the prompb wire struct. Corrupt input decodes to null
    * (HTTP 400 semantics belong to the receiver).
    */
  def decodeBody(df: DataFrame, body: Column): DataFrame =
    df.withColumn("timeseries", pb_decode(snappy_uncompress(body)))

  /** Operator #4 (protoToSamples, produce.go:187-204): cross-product explode —
    * one row per (timeseries x sample), sharing the series' label map.
    * Two chained explodes preserve per-partition request order, matching the
    * reference's append order.
    */
  def explodeWriteRequest(df: DataFrame, timeseries: Column): DataFrame =
    df.withColumn("__ts", explode(timeseries))
      .withColumn("labels", map_from_entries(col("__ts.labels")))
      .withColumn("__s", explode(col("__ts.samples")))
      .withColumn("timestampMs", col("__s.timestamp"))
      .withColumn("value", col("__s.value"))
      .drop("__ts", "__s")

  /** Operator #5 (pkg/context/handlers.go:29-40): tenant precedence —
    * BasicAuth username wins over X-Scope-OrgID header; absent => "".
    */
  def attachTenant(df: DataFrame, basicAuthUser: Column, orgIdHeader: Column): DataFrame =
    df.withColumn("tenantId", coalesce(basicAuthUser, orgIdHeader, lit("")))

  /** Operators #7-9 + #11 (serializers.go): payload in the chosen wire format
    * plus the replica-invariant FNV-64 partition key.
    * format: "json" | "json-compat" | "avro-json-compat" |
    * "avro-json-compat=&lt;path&gt;" (user Avro schema, read + validated at
    * plan time — pkg/app/pulsar.go:174-191 opens the file at startup and
    * fails fast on an unreadable/invalid schema; same here).
    */
  def serialize(df: DataFrame, format: String,
      replicaLabels: Seq[String] = Seq(graft.model.Model.DefaultReplicaLabel)): DataFrame = {
    val payload = format match {
      case "json" => prom_json(col("timestampMs"), col("value"), col("labels"), col("tenantId"))
      case "json-compat" => prom_json_compat(col("timestampMs"), col("value"), col("labels"), col("tenantId"))
      case "avro-json-compat" => prom_avro_json(col("timestampMs"), col("value"), col("labels"), col("tenantId"))
      case custom if custom.startsWith("avro-json-compat=") =>
        val path = custom.stripPrefix("avro-json-compat=")
        val schemaJson =
          try new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)), "UTF-8")
          catch {
            case e: Exception => throw new IllegalArgumentException(
              s"failed to read avro serializer schema at '$path': ${e.getMessage}", e)
          }
        prom_avro_json_schema(schemaJson)(
          col("timestampMs"), col("value"), col("labels"), col("tenantId"))
      case other => throw new IllegalArgumentException(s"unknown serializer: $other")
    }
    df.withColumn("payload", payload)
      .withColumn("key", series_key(col("labels"), col("tenantId"), replicaLabels))
  }

  /** Operator #10 (serializers.go:35-61,120-127): payload -> sample struct with
    * the __name__ backfill rule; poison payloads -> null struct (filter +
    * still-ack, pulsar.go:190-201). formatId: 0=json, 1=compat/avro.
    */
  def deserialize(df: DataFrame, formatId: Int, payload: Column): DataFrame =
    df.withColumn("sample", prom_deserialize(formatId, payload))

  /** Operator #15 (remote/write.go:251-284): re-encode for egress — each sample
    * becomes its own single-sample TimeSeries, labels sorted by name.
    */
  def sampleToWire(labels: Column, timestampMs: Column, value: Column): Column =
    struct(
      transform(
        sort_array(map_entries(labels)),
        e => struct(e.getField("key").as("name"), e.getField("value").as("value"))
      ).as("labels"),
      array(struct(value.as("value"), timestampMs.as("timestamp"))).as("samples"))

  /** Operator #15, streaming form: each sample as its own remote_write entry
    * ([[graft.functions.prom.pb_series_entry]]) next to its tenant ("" when
    * absent). [[graft.streaming.TenantBatcher]] runs this before its tenant
    * shuffle, so the encoding runs in the source's tasks and the batcher
    * buffers POST-ready bytes.
    */
  def remoteWriteEntries(df: DataFrame): DataFrame =
    df.select(coalesce(col("tenantId"), lit("")).as("tenantId"),
      pb_series_entry(col("labels"), col("timestampMs"), col("value")).as("entry"))

  /** Operators #14+#15+#16 batch-mode analog: group a micro-batch by tenant,
    * re-encode as one WriteRequest per tenant (snappy(proto)), ready for the
    * HTTP sink. The streaming path with size/deadline semantics lives in
    * [[graft.streaming.TenantBatcher]].
    */
  def encodeTenantBatches(df: DataFrame): DataFrame =
    df.withColumn("__wire", sampleToWire(col("labels"), col("timestampMs"), col("value")))
      .groupBy(col("tenantId"))
      .agg(collect_list(col("__wire")).as("timeseries"), count(lit(1)).as("sampleCount"))
      .withColumn("body", snappy_compress(pb_encode(col("timeseries"))))
      .drop("timeseries")
}
