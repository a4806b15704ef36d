package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.model.Model

/** Public column-function surface of the engine.
  *
  * All scalars bind through `StaticInvoke` — Catalyst generates a direct
  * static call into [[PromCatalyst]], so these stay inside whole-stage
  * codegen (no UDF serialization, no Row boxing).
  */
object prom {

  private val C = classOf[PromCatalyst.type]

  private def expr(c: Column): Expression = ColumnBridge.expression(c)

  private def invoke(dt: DataType, name: String, args: Seq[Expression], nullable: Boolean = false): Column =
    ColumnBridge.column(StaticInvoke(C, dt, name, args.toIndexedSeq, Nil,
      true, nullable, true, None))

  /** Labels map coalesced to empty, tenant to "" (omitempty semantics). */
  private def normLabels(labels: Column): Column =
    coalesce(labels, map().cast(MapType(StringType, StringType)))
  private def normTenant(tenant: Column): Column = coalesce(tenant, lit(""))

  // --- Go-parity formatting (serializers.go:69-80) --------------------------

  /** Shortest-round-trip float string: `456` not `456.0`, `+Inf`, `NaN`. */
  def prom_value_string(value: Column): Column =
    invoke(StringType, "valueString", Seq(expr(value)))

  /** Epoch-ms -> fractional seconds string (`10001` -> `"10.001"`). */
  def prom_seconds_string(ms: Column): Column =
    invoke(StringType, "secondsString", Seq(expr(ms)))

  /** Epoch-ms -> RFC3339Nano UTC with trimmed fractional zeros. */
  def rfc3339_nano(ms: Column): Column =
    invoke(StringType, "rfc3339Nano", Seq(expr(ms)))

  /** RFC3339 string -> epoch ms; null on malformed input. */
  def parse_rfc3339(s: Column): Column =
    invoke(LongType, "parseRfc3339", Seq(expr(s)), nullable = true)

  // --- serializers (formats: serializers.go json/json-compat/avro-json) -----

  private def serializeCol(format: Int, ms: Column, value: Column, labels: Column, tenant: Column): Column =
    invoke(StringType, "serialize",
      Seq(Literal(format), expr(ms), expr(value), expr(normLabels(labels)), expr(normTenant(tenant))))

  def prom_json(ms: Column, value: Column, labels: Column, tenant: Column): Column =
    serializeCol(0, ms, value, labels, tenant)

  def prom_json_compat(ms: Column, value: Column, labels: Column, tenant: Column): Column =
    serializeCol(1, ms, value, labels, tenant)

  def prom_avro_json(ms: Column, value: Column, labels: Column, tenant: Column): Column =
    serializeCol(2, ms, value, labels, tenant)

  /** avro-json-compat against a USER-supplied Avro schema (plan-time
    * validation; serializers.go:202-222 + app/pulsar.go:174-189).
    */
  def prom_avro_json_schema(schemaJson: String)(
      ms: Column, value: Column, labels: Column, tenant: Column): Column = {
    val spec = AvroJsonSchema.parse(schemaJson).spec // throws on invalid schema
    invoke(StringType, "serializeAvroSchema",
      Seq(Literal(spec), expr(ms), expr(value), expr(normLabels(labels)), expr(normTenant(tenant))))
  }

  /** Inverse: payload -> struct(timestampMs, value, labels, tenantId); null on
    * poison input (skip-and-ack, pulsar.go:190-201). format 0=json, 1=compat.
    */
  def prom_deserialize(format: Int, payload: Column): Column =
    invoke(Model.sampleSchema, "deserialize",
      Seq(Literal(format), expr(payload)), nullable = true)

  // --- series partition key (serializers.go:91-114) -------------------------

  def series_key(labels: Column, tenant: Column, replicaLabels: Seq[String] = Seq(Model.DefaultReplicaLabel)): Column =
    invoke(StringType, "seriesKey",
      Seq(expr(normLabels(labels)), expr(normTenant(tenant)),
        expr(array(replicaLabels.map(lit): _*))))

  // --- codecs ---------------------------------------------------------------

  def snappy_compress(data: Column): Column =
    invoke(BinaryType, "snappyCompress", Seq(expr(data)))

  /** null on corrupt input (HTTP 400 semantics, produce.go:132-137). */
  def snappy_uncompress(data: Column): Column =
    invoke(BinaryType, "snappyUncompress", Seq(expr(data)), nullable = true)

  /** prompb WriteRequest encode: timeseries array column -> proto bytes. */
  def pb_encode(timeseries: Column): Column =
    invoke(BinaryType, "pbEncode", Seq(expr(timeseries)))

  /** One sample -> its `WriteRequest.timeseries` entry bytes (single-sample
    * series, labels sorted by name); a batch's entries concatenate into its
    * WriteRequest.
    */
  def pb_series_entry(labels: Column, ms: Column, value: Column): Column =
    invoke(BinaryType, "seriesEntry", Seq(expr(normLabels(labels)), expr(ms), expr(value)))

  /** proto bytes -> timeseries array (null on malformed input). */
  def pb_decode(data: Column): Column =
    invoke(ArrayType(Model.timeseriesSchema, containsNull = false), "pbDecode",
      Seq(expr(data)), nullable = true)

  /** 64-bit polynomial rolling fingerprint (h = h*31 + byte mod 2^64). */
  def fingerprint64(s: Column): Column =
    invoke(LongType, "fingerprint64", Seq(expr(s)))

  /** 64-bit frequency-weighted SimHash bitstring over whitespace tokens. */
  def simhash64(text: Column): Column =
    invoke(StringType, "simhash64", Seq(expr(text)))

  /** Hamming distance between two bitstring signatures (codegen'd single
    * pass; positions beyond the shorter string count as differing).
    */
  def hamming64(a: Column, b: Column): Column =
    invoke(LongType, "hamming64", Seq(expr(a), expr(b)))

  /** Wrapping g*a+b mod 2^64 (minhash family; ANSI-safe). */
  def mix64(g: Column, a: Long, b: Long): Column =
    invoke(LongType, "mix64", Seq(expr(g), Literal(a), Literal(b)))

  /** Distinct word n-gram shingles as 60-bit md5-prefix values — value-equal
    * to `conv(substring(md5(shingle),1,15),16,10)` over
    * `array_distinct(transform(...))` string shingles, in one codegen'd pass
    * (no per-shingle string columns; downstream explodes move 8-byte longs).
    */
  def shingle_g(text: Column, n: Int): Column =
    invoke(ArrayType(LongType, containsNull = false), "shingleG",
      Seq(expr(text), Literal(n)))

  /** All word n-grams (with repeats, document order) as 60-bit md5-prefix
    * values — the frequency-carrying sibling of [[shingle_g]].
    */
  def ngram_g(text: Column, n: Int): Column =
    invoke(ArrayType(LongType, containsNull = false), "ngramG",
      Seq(expr(text), Literal(n)))

  /** Apply a trained BPE merge list (array of `"a b"` entries, training
    * order) to whitespace-tokenized text; returns the post-merge token
    * stream in document order (the trainer's greedy left-to-right fold per
    * merge — see [[graft.operators.BpeTokenizer]]).
    */
  def apply_merges(text: Column, merges: Column): Column =
    invoke(ArrayType(StringType, containsNull = false), "applyMerges",
      Seq(expr(text), expr(merges)))

  /** [[apply_merges]] with whitespace WORDS as the starting symbols
    * (SentencePiece-style phrase merging over the whole text — see
    * [[graft.functions.PromCatalyst.applyMergesWords]]).
    */
  def apply_merges_words(text: Column, merges: Column): Column =
    invoke(ArrayType(StringType, containsNull = false), "applyMergesWords",
      Seq(expr(text), expr(merges)))

  /** Greedy longest-match-first (WordPiece-style) subword tokenize against
    * a literal lexicon array; unmatched positions pass through as single
    * characters (see [[graft.functions.PromCatalyst.wordpiece]]).
    */
  def wordpiece(text: Column, pieces: Column): Column =
    invoke(ArrayType(StringType, containsNull = false), "wordpiece",
      Seq(expr(text), expr(pieces)))

  /** Codegen'd left-fold dot product over two array<double> columns. */
  def vec_dot(a: Column, b: Column): Column =
    invoke(DoubleType, "vecDot", Seq(expr(a), expr(b)))

  /** Codegen'd exact integer squared distance over two array<long> columns. */
  def vec_sqdist_q(a: Column, b: Column): Column =
    invoke(LongType, "vecSqDistQ", Seq(expr(a), expr(b)))

  /** Greedy next-fit bin ids for an array<long> of token counts — the O(n)
    * mutable-builder kernel behind `SequencePacking.packGreedy` (a Catalyst
    * `aggregate` fold carrying the output array would copy O(n^2) elements).
    * `maxDocsPerSeq <= 0` = unbounded.
    */
  def next_fit_bins(toks: Column, seqLen: Int, maxDocsPerSeq: Int = 0): Column =
    invoke(ArrayType(LongType, containsNull = false), "nextFitBins",
      Seq(expr(toks), Literal(seqLen.toLong), Literal(maxDocsPerSeq.toLong)))
}
