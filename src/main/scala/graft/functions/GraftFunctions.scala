package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.types._

import graft.model.Model

/** SQL registration of the engine's function surface, so the same kernels are
  * callable from `spark.sql(...)` as from the Column API:
  *
  *   GraftFunctions.register(spark)
  *   spark.sql("SELECT prom_series_key(labels, tenant) FROM samples")
  *
  * Builders are pure Catalyst expressions (the Spark 4 Column API wraps
  * ColumnNodes that do not resolve through the FunctionRegistry path).
  */
object GraftFunctions {

  private val C = classOf[PromCatalyst.type]

  private def invoke(dt: DataType, name: String, args: Seq[Expression], nullable: Boolean = false): Expression =
    StaticInvoke(C, dt, name, args.toIndexedSeq, Nil, true, nullable, true, None)

  private val emptyLabels: Expression =
    Cast(CreateMap(Nil), MapType(StringType, StringType, valueContainsNull = true))

  private def normLabels(e: Expression): Expression = Coalesce(Seq(e, emptyLabels))
  private def normTenant(e: Expression): Expression = Coalesce(Seq(e, Literal("")))

  /** The series stage ([[prom.prom_series_of_map]]): struct(key, template). */
  private def series(serializer: String, labels: Expression, tenant: Expression): Expression = {
    val (format, spec) = AvroJsonSchema.payloadFormat(serializer)
    invoke(prom.seriesType, "seriesOfMap", Seq(Literal(format), Literal(spec), normLabels(labels),
      normTenant(tenant), Literal.create(Seq(Model.DefaultReplicaLabel), ArrayType(StringType))))
  }

  /** One sample's payload: the series stage, then the fill. */
  private def payload(serializer: String, ms: Expression, value: Expression, labels: Expression,
      tenant: Expression): Expression =
    invoke(StringType, "fill", Seq(GetStructField(series(serializer, labels, tenant), 1), ms, value))

  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    builders.foreach { case (name, builder) =>
      reg.createOrReplaceTempFunction(name, builder, "scala_udf")
    }
  }

  /** Name -> expression builder, shared by [[register]] and the
    * `SparkSessionExtensions` injection path ([[graft.GraftExtensions]]).
    */
  val builders: Seq[(String, Seq[Expression] => Expression)] = {
    val out = Seq.newBuilder[(String, Seq[Expression] => Expression)]
    def f(name: String)(builder: Seq[Expression] => Expression): Unit =
      out += (name -> builder)

    f("prom_value_string") { case Seq(v) => invoke(StringType, "valueString", Seq(v)) }
    f("prom_seconds_string") { case Seq(ms) => invoke(StringType, "secondsString", Seq(ms)) }
    f("prom_rfc3339") { case Seq(ms) => invoke(StringType, "rfc3339Nano", Seq(ms)) }
    f("prom_parse_rfc3339") { case Seq(s) => invoke(LongType, "parseRfc3339", Seq(s), nullable = true) }
    f("prom_json") { case Seq(ms, v, l, t) => payload("json", ms, v, l, t) }
    f("prom_json_compat") { case Seq(ms, v, l, t) => payload("json-compat", ms, v, l, t) }
    f("prom_avro_json") { case Seq(ms, v, l, t) => payload("avro-json-compat", ms, v, l, t) }
    f("prom_deserialize") { case Seq(p) =>
      invoke(Model.sampleSchema, "deserialize", Seq(Literal(0), p), nullable = true) }
    f("prom_deserialize_compat") { case Seq(p) =>
      invoke(Model.sampleSchema, "deserialize", Seq(Literal(1), p), nullable = true) }
    f("prom_series_key") { case Seq(l, t) => GetStructField(series("json", l, t), 0) }
    f("snappy_compress") { case Seq(b) => invoke(BinaryType, "snappyCompress", Seq(b)) }
    f("snappy_uncompress") { case Seq(b) => invoke(BinaryType, "snappyUncompress", Seq(b), nullable = true) }
    f("pb_encode_write_request") { case Seq(ts) => invoke(BinaryType, "pbEncode", Seq(ts)) }
    f("pb_decode_write_request") { case Seq(b) =>
      invoke(ArrayType(Model.timeseriesSchema, containsNull = false), "pbDecode", Seq(b), nullable = true) }
    f("fingerprint64") { case Seq(s) => invoke(LongType, "fingerprint64", Seq(s)) }
    f("mix64") { case Seq(g, a, b) => invoke(LongType, "mix64", Seq(g, a, b)) }
    f("simhash64") { case Seq(s) => invoke(StringType, "simhash64", Seq(s)) }
    f("vec_dot") { case Seq(a, b) => invoke(DoubleType, "vecDot", Seq(a, b)) }
    f("vec_sqdist_q") { case Seq(a, b) => invoke(LongType, "vecSqDistQ", Seq(a, b)) }
    f("shingle_g") { case Seq(s, n) =>
      invoke(ArrayType(LongType, containsNull = false), "shingleG", Seq(s, n)) }
    f("ngram_g") { case Seq(s, n) =>
      invoke(ArrayType(LongType, containsNull = false), "ngramG", Seq(s, n)) }
    f("hamming64") { case Seq(a, b) => invoke(LongType, "hamming64", Seq(a, b)) }
    f("next_fit_bins") { case Seq(toks, seqLen, maxDocs) =>
      invoke(ArrayType(LongType, containsNull = false), "nextFitBins",
        Seq(toks, seqLen, maxDocs)) }
    out.result()
  }
}
