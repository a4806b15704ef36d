package graft.functions

import scala.jdk.CollectionConverters._

/** User-supplied Avro schema support for the avro-json-compat serializer
  * (reference: pkg/app/pulsar.go:174-189 `avro-json-compat=<path>`,
  * pkg/pulsar/serializers.go:202-222 NewAvroJSONSerializer).
  *
  * The schema is parsed and validated at PLAN time (construction fails like
  * goavro.NewCodec on an invalid schema) into a field spec;
  * [[PromKernel.payloadTemplate]] then emits the record's fields in schema
  * order, applying schema defaults for values the sample doesn't carry (e.g.
  * tenant_id default "").
  */
object AvroJsonSchema {

  /** The engine-known record fields and how they serialize. */
  val KnownFields: Set[String] = Set("timestamp", "value", "name", "labels", "tenant_id")

  final case class Field(name: String, default: Option[String])

  final case class Parsed(fields: Seq[Field]) {
    /** Compact spec passed into the serializer expression: field names in
      * schema order, csv, `tenant_id=<default>` when it has one (the only
      * default a sample can need).
      */
    def spec: String = fields.map {
      case Field("tenant_id", Some(d)) => s"tenant_id=$d"
      case Field(n, _) => n
    }.mkString(",")
  }

  /** Parse + validate; throws IllegalArgumentException on anything goavro
    * would reject or the engine cannot serialize.
    */
  def parse(schemaJson: String): Parsed = {
    val schema =
      try new org.apache.avro.Schema.Parser().parse(schemaJson)
      catch {
        case e: Exception =>
          throw new IllegalArgumentException(s"invalid avro schema: ${e.getMessage}", e)
      }
    require(schema.getType == org.apache.avro.Schema.Type.RECORD,
      s"avro schema must be a record, got ${schema.getType}")
    val fields = schema.getFields.asScala.map { f =>
      val n = f.name()
      require(KnownFields.contains(n),
        s"avro schema field '$n' is not serializable from a sample (known: ${KnownFields.mkString(", ")})")
      val expectMap = n == "labels"
      val t = f.schema().getType
      require(
        if (expectMap) t == org.apache.avro.Schema.Type.MAP
        else t == org.apache.avro.Schema.Type.STRING,
        s"avro schema field '$n' has unsupported type $t")
      val default =
        if (f.hasDefaultValue) Some(String.valueOf(f.defaultVal())) else None
      require(n != "tenant_id" || !default.exists(_.contains(',')),
        s"avro schema field 'tenant_id' has a default holding ',', which the serializer spec cannot carry")
      Field(n, default)
    }.toSeq
    require(fields.nonEmpty, "avro schema has no fields")
    Parsed(fields)
  }

  /** The spec of the reference's default schema (Model.AvroJsonDefaultSchema),
    * which the built-in avro-json-compat serializer renders.
    */
  val DefaultSpec: String = "timestamp,value,name,labels,tenant_id="

  /** A user Avro schema as the (format, avro spec) pair of
    * [[PromKernel.payloadTemplate]]; throws on an invalid schema.
    */
  def schemaFormat(schemaJson: String): (Int, String) = (PromKernel.AvroFormat, parse(schemaJson).spec)

  /** A serializer name as the (format, avro spec) pair of
    * [[PromKernel.payloadTemplate]]: "json" | "json-compat" |
    * "avro-json-compat" | "avro-json-compat=&lt;path&gt;". A user schema is
    * read and validated here, once, the way pkg/app/pulsar.go:174-191 opens
    * the file at startup and fails fast on an unreadable or invalid schema.
    */
  def payloadFormat(serializer: String): (Int, String) = serializer match {
    case "json" => (PromKernel.JsonFormat, "")
    case "json-compat" => (PromKernel.CompatFormat, "")
    case "avro-json-compat" => (PromKernel.AvroFormat, DefaultSpec)
    case custom if custom.startsWith("avro-json-compat=") =>
      val path = custom.stripPrefix("avro-json-compat=")
      val schemaJson =
        try new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)), "UTF-8")
        catch {
          case e: Exception => throw new IllegalArgumentException(
            s"failed to read avro serializer schema at '$path': ${e.getMessage}", e)
        }
      schemaFormat(schemaJson)
    case other => throw new IllegalArgumentException(s"unknown serializer: $other")
  }
}
