package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{AvroJsonSchema, prom}
import graft.model.Model

/** User-supplied Avro schema path (serializers.go:202-222, app/pulsar.go:174-189). */
class AvroSchemaSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]").config("spark.ui.enabled", "false").getOrCreate()

  private def run(schema: String): Seq[String] = {
    val s = spark
    import s.implicits._
    val df = Seq(
      (0L, 456.0, Map("__name__" -> "foo", "labelfoo" -> "label-bar"), ""),
      (10001L, 456.0, Map("__name__" -> "foo"), "fake")
    ).toDF("ms", "value", "labels", "tenant")
    df.select(prom.prom_avro_json_schema(schema)(
      col("ms"), col("value"), col("labels"), col("tenant"))).collect().map(_.getString(0)).toSeq
  }

  test("default schema reproduces the fixed avro-json-compat output") {
    val out = run(Model.AvroJsonDefaultSchema)
    assert(out(0) ==
      """{"timestamp":"1970-01-01T00:00:00Z","value":"456","name":"foo","labels":{"__name__":"foo","labelfoo":"label-bar"},"tenant_id":""}""")
    assert(out(1).contains("\"tenant_id\":\"fake\""))
  }

  test("custom schema: subset + reordered fields honored") {
    val schema =
      """{"type":"record","name":"M","fields":[
        |{"name":"value","type":"string"},
        |{"name":"name","type":"string"}]}""".stripMargin
    val out = run(schema)
    assert(out(0) == """{"value":"456","name":"foo"}""")
  }

  test("custom default for tenant_id applied when sample has none") {
    val schema =
      """{"type":"record","name":"M","fields":[
        |{"name":"tenant_id","type":"string","default":"anonymous"}]}""".stripMargin
    val out = run(schema)
    assert(out(0) == """{"tenant_id":"anonymous"}""")
    assert(out(1) == """{"tenant_id":"fake"}""")
  }

  test("CLI form avro-json-compat=<path> threads the schema file through serialize") {
    // reference: --pulsar.serializer avro-json-compat=<path> opens the file
    // at startup (app/pulsar.go:174-191); unreadable path fails fast
    val s = spark
    import s.implicits._
    val schemaFile = java.nio.file.Files.createTempFile("graft-avro", ".avsc")
    java.nio.file.Files.write(schemaFile,
      """{"type":"record","name":"M","fields":[
        |{"name":"value","type":"string"},
        |{"name":"name","type":"string"},
        |{"name":"tenant_id","type":"string","default":"anonymous"}]}""".stripMargin.getBytes("UTF-8"))
    try {
      val df = Seq(
        (0L, 456.0, Map("__name__" -> "foo", "labelfoo" -> "label-bar"), ""),
        (10001L, 456.0, Map("__name__" -> "foo"), "fake")
      ).toDF("timestampMs", "value", "labels", "tenantId")
      val out = graft.operators.PromPipeline
        .serialize(df, s"avro-json-compat=$schemaFile")
        .select("payload").collect().map(_.getString(0))
      assert(out(0) == """{"value":"456","name":"foo","tenant_id":"anonymous"}""")
      assert(out(1) == """{"value":"456","name":"foo","tenant_id":"fake"}""")
      intercept[IllegalArgumentException](graft.operators.PromPipeline
        .serialize(df, "avro-json-compat=/nonexistent/schema.avsc"))
    } finally java.nio.file.Files.deleteIfExists(schemaFile)
  }

  test("invalid schemas rejected at plan time (goavro NewCodec parity)") {
    intercept[IllegalArgumentException](AvroJsonSchema.parse("""{"not json"""))
    intercept[IllegalArgumentException](AvroJsonSchema.parse(
      """{"type":"record","name":"M","fields":[{"name":"unknown_field","type":"string"}]}"""))
    intercept[IllegalArgumentException](AvroJsonSchema.parse(
      """{"type":"record","name":"M","fields":[{"name":"value","type":"int"}]}"""))
    intercept[IllegalArgumentException](AvroJsonSchema.parse("""{"type":"string"}"""))
  }

  test("a tenant_id default holding ',' is rejected at plan time; other defaults may hold one") {
    val schema = (tenantDefault: String) =>
      s"""{"type":"record","name":"M","fields":[
         |{"name":"name","type":"string","default":"x,y"},
         |{"name":"tenant_id","type":"string","default":"$tenantDefault"}]}""".stripMargin
    val e = intercept[IllegalArgumentException](run(schema("a,b")))
    assert(e.getMessage.contains("tenant_id"))
    val schemaFile = java.nio.file.Files.createTempFile("avro-comma", ".avsc")
    try {
      java.nio.file.Files.write(schemaFile, schema("a,b").getBytes("UTF-8"))
      intercept[IllegalArgumentException](AvroJsonSchema.payloadFormat(s"avro-json-compat=$schemaFile"))
    } finally java.nio.file.Files.deleteIfExists(schemaFile)
    assert(run(schema("anon")) == Seq(
      """{"name":"foo","tenant_id":"anon"}""", """{"name":"foo","tenant_id":"fake"}"""))
  }
}
