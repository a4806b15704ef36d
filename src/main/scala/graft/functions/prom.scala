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
  //
  // One kernel pair renders every format: a series stage (labels sorted, key
  // hashed, payload template with the timestamp and the value left open) and
  // a sample fill. The produce query runs the series stage once per series
  // ([[prom_series]]); the column functions over one row per sample run both.

  private[functions] val seriesType = StructType(Seq(
    StructField("key", StringType, nullable = false),
    StructField("template", BinaryType, nullable = false)))

  /** Series stage over a decoded series' `array<struct<name, value>>`
    * labels: struct(key, template) — the partition key and the payload with
    * the timestamp and the value left open ([[prom_fill]]). `format` is an
    * [[AvroJsonSchema.payloadFormat]] pair.
    */
  def prom_series(format: (Int, String), labelEntries: Column, tenant: Column,
      replicaLabels: Seq[String]): Column =
    seriesCol("seriesOfEntries", format, labelEntries, tenant, replicaLabels)

  /** [[prom_series]] over a labels map (one row per sample). */
  def prom_series_of_map(format: (Int, String), labels: Column, tenant: Column,
      replicaLabels: Seq[String] = Seq(Model.DefaultReplicaLabel)): Column =
    seriesCol("seriesOfMap", format, normLabels(labels), tenant, replicaLabels)

  private def seriesCol(kernel: String, format: (Int, String), labels: Column, tenant: Column,
      replicaLabels: Seq[String]): Column =
    invoke(seriesType, kernel, Seq(Literal(format._1), Literal(format._2), expr(labels),
      expr(normTenant(tenant)), expr(array(replicaLabels.map(lit): _*))))

  /** Sample stage: a series template with the sample's timestamp and value
    * rendered in — the payload.
    */
  def prom_fill(template: Column, ms: Column, value: Column): Column =
    invoke(StringType, "fill", Seq(expr(template), expr(ms), expr(value)))

  private def payloadCol(format: (Int, String), ms: Column, value: Column, labels: Column,
      tenant: Column): Column =
    prom_fill(prom_series_of_map(format, labels, tenant).getField("template"), ms, value)

  def prom_json(ms: Column, value: Column, labels: Column, tenant: Column): Column =
    payloadCol(AvroJsonSchema.payloadFormat("json"), ms, value, labels, tenant)

  def prom_json_compat(ms: Column, value: Column, labels: Column, tenant: Column): Column =
    payloadCol(AvroJsonSchema.payloadFormat("json-compat"), ms, value, labels, tenant)

  def prom_avro_json(ms: Column, value: Column, labels: Column, tenant: Column): Column =
    payloadCol(AvroJsonSchema.payloadFormat("avro-json-compat"), ms, value, labels, tenant)

  /** avro-json-compat against a USER-supplied Avro schema (plan-time
    * validation; serializers.go:202-222 + app/pulsar.go:174-189).
    */
  def prom_avro_json_schema(schemaJson: String)(
      ms: Column, value: Column, labels: Column, tenant: Column): Column =
    payloadCol(AvroJsonSchema.schemaFormat(schemaJson), ms, value, labels, tenant)

  /** A decoded series' label entries as a map: sorted by name, a repeated
    * name keeping its last value (produce.go:187-204); nulls as
    * `map_from_entries` treats them.
    */
  def prom_label_map(labelEntries: Column): Column =
    invoke(MapType(StringType, StringType, valueContainsNull = true), "labelMap",
      Seq(expr(labelEntries)), nullable = true)

  /** Inverse: payload -> struct(timestampMs, value, labels, tenantId); null on
    * poison input (skip-and-ack, pulsar.go:190-201). format 0=json, 1=compat.
    */
  def prom_deserialize(format: Int, payload: Column): Column =
    invoke(Model.sampleSchema, "deserialize",
      Seq(Literal(format), expr(payload)), nullable = true)

  // --- series partition key (serializers.go:91-114) -------------------------

  def series_key(labels: Column, tenant: Column, replicaLabels: Seq[String] = Seq(Model.DefaultReplicaLabel)): Column =
    prom_series_of_map(AvroJsonSchema.payloadFormat("json"), labels, tenant, replicaLabels)
      .getField("key")

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
