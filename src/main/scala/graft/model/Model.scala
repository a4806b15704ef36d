package graft.model

import org.apache.spark.sql.types._

/** Canonical engine data model.
  *
  * Mirrors the reference's sample abstraction (reference:
  * pkg/pulsar/serializers.go:63-67 — `Sample{Value SamplePair, Metric, TenantID}`)
  * re-expressed as a Spark schema: one row per (timestamp, value, labels, tenant).
  */
object Model {

  /** Typed facade over the canonical schema (serializers.go:63-67).
    * `timestampMs` is epoch milliseconds (model.Time precision);
    * `tenantId == ""` means absent (omitempty semantics).
    */
  final case class Sample(
      timestampMs: Long,
      value: Double,
      labels: Map[String, String],
      tenantId: String)

  /** Default replica label excluded from the series partition key
    * (pkg/app/produce.go:49-50).
    */
  val DefaultReplicaLabel = "__replica__"

  /** Tenant header name (pkg/context/handlers.go:9). */
  val TenantHeader = "X-Scope-OrgID"

  /** Engine-wide canonical sample schema (SURVEY §1.2). */
  val sampleSchema: StructType = StructType(Seq(
    StructField("timestampMs", LongType, nullable = false),
    StructField("value", DoubleType, nullable = false),
    StructField("labels", MapType(StringType, StringType, valueContainsNull = false), nullable = true),
    StructField("tenantId", StringType, nullable = true)
  ))

  /** Wire-level remote_write schema mirroring prompb.WriteRequest
    * (decoded at pkg/app/produce.go:139-144).
    */
  val labelSchema: StructType = StructType(Seq(
    StructField("name", StringType, nullable = false),
    StructField("value", StringType, nullable = false)
  ))

  val promSampleSchema: StructType = StructType(Seq(
    StructField("value", DoubleType, nullable = false),
    StructField("timestamp", LongType, nullable = false)
  ))

  val timeseriesSchema: StructType = StructType(Seq(
    StructField("labels", ArrayType(labelSchema, containsNull = false), nullable = false),
    StructField("samples", ArrayType(promSampleSchema, containsNull = false), nullable = false)
  ))

  val writeRequestSchema: StructType = StructType(Seq(
    StructField("timeseries", ArrayType(timeseriesSchema, containsNull = false), nullable = false)
  ))

  /** Default Avro schema shipped by the reference (serializers.go:149-181). */
  val AvroJsonDefaultSchema: String =
    """{
      |  "namespace": "io.prometheus",
      |  "type": "record",
      |  "name": "Metric",
      |  "fields": [
      |    {"name": "timestamp", "type": "string"},
      |    {"name": "value", "type": "string"},
      |    {"name": "name", "type": "string"},
      |    {"name": "labels", "type": {"type": "map", "values": "string"}},
      |    {"name": "tenant_id", "type": "string", "default": ""}
      |  ]
      |}""".stripMargin
}
