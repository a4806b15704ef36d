package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.graft.ColumnBridge

import graft.functions.prom._

/** SQL registration of the engine's function surface, so the same kernels are
  * callable from `spark.sql(...)` as from the Column API:
  *
  *   GraftFunctions.register(spark)
  *   spark.sql("SELECT prom_series_key(labels, tenant) FROM samples")
  *
  * Each SQL function is its Column twin in [[prom]], or the same [[Kernel]]
  * binding where the twin takes a Scala value (a format, a width, a seed)
  * that SQL passes as an expression. A builder returns its Column's
  * expression fully converted (`ColumnBridge.converted`): the analyzer does
  * not convert the Column nodes inside what a builder returns.
  */
object GraftFunctions {

  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    builders.foreach { case (name, builder) =>
      reg.createOrReplaceTempFunction(name, builder, "scala_udf")
    }
  }

  /** Name -> expression builder, shared by [[register]] and the
    * `SparkSessionExtensions` injection path ([[graft.GraftExtensions]]).
    */
  val builders: Seq[(String, Seq[Expression] => Expression)] =
    Seq[(String, PartialFunction[Seq[Column], Column])](
      "prom_value_string" -> { case Seq(v) => prom_value_string(v) },
      "prom_seconds_string" -> { case Seq(ms) => prom_seconds_string(ms) },
      "prom_rfc3339" -> { case Seq(ms) => rfc3339_nano(ms) },
      "prom_parse_rfc3339" -> { case Seq(s) => parse_rfc3339(s) },
      "prom_json" -> { case Seq(ms, v, l, t) => prom_json(ms, v, l, t) },
      "prom_json_compat" -> { case Seq(ms, v, l, t) => prom_json_compat(ms, v, l, t) },
      "prom_avro_json" -> { case Seq(ms, v, l, t) => prom_avro_json(ms, v, l, t) },
      "prom_deserialize" -> { case Seq(p) => prom_deserialize(0, p) },
      "prom_deserialize_compat" -> { case Seq(p) => prom_deserialize(1, p) },
      "prom_series_key" -> { case Seq(l, t) => series_key(l, t) },
      "snappy_compress" -> { case Seq(b) => snappy_compress(b) },
      "snappy_uncompress" -> { case Seq(b) => snappy_uncompress(b) },
      "pb_encode_write_request" -> { case Seq(ts) => pb_encode(ts) },
      "pb_decode_write_request" -> { case Seq(b) => pb_decode(b) },
      "fingerprint64" -> { case Seq(s) => fingerprint64(s) },
      "mix64" -> { case Seq(g, a, b) => Kernel.mix64(g, a, b) },
      "simhash64" -> { case Seq(s) => simhash64(s) },
      "vec_dot" -> { case Seq(a, b) => vec_dot(a, b) },
      "vec_sqdist_q" -> { case Seq(a, b) => vec_sqdist_q(a, b) },
      "shingle_g" -> { case Seq(s, n) => Kernel.shingleG(s, n) },
      "ngram_g" -> { case Seq(s, n) => Kernel.ngramG(s, n) },
      "hamming64" -> { case Seq(a, b) => hamming64(a, b) },
      "next_fit_bins" -> { case Seq(toks, seqLen, maxDocs) => Kernel.nextFitBins(toks, seqLen, maxDocs) }
    ).map { case (name, f) =>
      name -> ((args: Seq[Expression]) =>
        ColumnBridge.converted(f(args.map(ColumnBridge.column))))
    }
}
