package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.AvroJsonSchema
import graft.functions.prom._

/** The reference's dataflow stages as declarative DataFrame transforms.
  *
  * source -> decode -> flatten -> enrich -> project -> serialize -> keyBy ->
  * sink (SURVEY §2). The kernels are codegen'd static calls into
  * [[graft.functions.PromCatalyst]], so the narrow transforms of the produce
  * query fuse into one whole-stage-codegen span. Its label work runs once per
  * series, between the series explode and the sample explode: the labels are
  * sorted once and the key and the label part of the payload are rendered
  * there; each sample only renders its timestamp and value into that
  * template ([[produce]]). The only shuffles in the whole pipeline are the
  * intentional ones (groupBy(tenant) for batching).
  */
object PromPipeline {

  /** Operator #2+#3 (produce.go:132-144): snappy-decompress + proto-decode the
    * HTTP body into the prompb wire struct. Corrupt input decodes to null
    * (HTTP 400 semantics belong to the receiver).
    */
  def decodeBody(df: DataFrame, body: Column): DataFrame =
    df.withColumn("timeseries", pb_decode(snappy_uncompress(body)))

  /** Operator #4 (protoToSamples, produce.go:187-204): cross-product explode —
    * one row per (timeseries x sample), sharing the series' label map (sorted
    * by name, a repeated name keeping its last value, like the Go map).
    * Two chained explodes preserve per-partition request order, matching the
    * reference's append order.
    */
  def explodeWriteRequest(df: DataFrame, timeseries: Column): DataFrame =
    df.withColumn("__ts", explode(timeseries))
      .withColumn("labels", prom_label_map(col("__ts.labels")))
      .withColumn("__s", explode(col("__ts.samples")))
      .withColumn("timestampMs", col("__s.timestamp"))
      .withColumn("value", col("__s.value"))
      .drop("__ts", "__s")

  /** Operator #5 (pkg/context/handlers.go:29-40): tenant precedence —
    * BasicAuth username wins over X-Scope-OrgID header; absent => "".
    */
  def attachTenant(df: DataFrame, basicAuthUser: Column, orgIdHeader: Column): DataFrame =
    df.withColumn("tenantId", coalesce(basicAuthUser, orgIdHeader, lit("")))

  /** Operators #7-9 + #11 (serializers.go) over one row per sample: payload
    * in the chosen wire format plus the replica-invariant FNV-64 partition
    * key, through the same series stage and fill as [[produce]].
    * format: "json" | "json-compat" | "avro-json-compat" |
    * "avro-json-compat=&lt;path&gt;" (user Avro schema, read + validated at
    * plan time — [[graft.functions.AvroJsonSchema.payloadFormat]]).
    */
  def serialize(df: DataFrame, format: String,
      replicaLabels: Seq[String] = Seq(graft.model.Model.DefaultReplicaLabel)): DataFrame =
    df.withColumn("__series", prom_series_of_map(AvroJsonSchema.payloadFormat(format),
        col("labels"), col("tenantId"), replicaLabels))
      .withColumn("payload", prom_fill(col("__series.template"), col("timestampMs"), col("value")))
      .withColumn("key", col("__series.key"))
      .drop("__series")

  /** The produce query (operators #2-#11, produce.go:124-204): receiver rows
    * (`body`, `basicAuthUser`, `orgIdHeader`) -> one (key, payload bytes)
    * row per sample, in request order. Decode, explode the series, attach
    * the tenant; then per series sort the labels, key and render the
    * payload template ([[prom_series]]); then explode the samples and fill
    * each one's timestamp and value in ([[prom_fill]]).
    */
  def produce(src: DataFrame, format: String,
      replicaLabels: Seq[String] = Seq(graft.model.Model.DefaultReplicaLabel)): DataFrame = {
    val fmt = AvroJsonSchema.payloadFormat(format)
    val series = attachTenant(
      decodeBody(src, col("body")).filter(col("timeseries").isNotNull)
        .withColumn("__ts", explode(col("timeseries"))),
      col("basicAuthUser"), col("orgIdHeader"))
    series
      .select(prom_series(fmt, col("__ts.labels"), col("tenantId"), replicaLabels).as("__series"),
        col("__ts.samples").as("__samples"))
      .withColumn("__s", explode(col("__samples")))
      .select(col("__series.key").as("key"),
        prom_fill(col("__series.template"), col("__s.timestamp"), col("__s.value"))
          .cast("binary").as("payload"))
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
