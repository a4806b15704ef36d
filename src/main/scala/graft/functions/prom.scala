package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.model.Model

/** Public column-function surface of the engine.
  *
  * Every function calls a [[Kernel]] binding. The SQL surface
  * ([[GraftFunctions]]) calls these functions, so the two spellings of a
  * kernel build one expression.
  */
object prom {

  private def literal(v: Any): Column = ColumnBridge.column(Literal(v))

  /** Labels map coalesced to empty, tenant to "" (omitempty semantics). */
  private def normLabels(labels: Column): Column =
    coalesce(labels, map().cast(MapType(StringType, StringType)))
  private def normTenant(tenant: Column): Column = coalesce(tenant, lit(""))

  // --- Go-parity formatting (serializers.go:69-80) --------------------------

  /** Shortest-round-trip float string: `456` not `456.0`, `+Inf`, `NaN`. */
  def prom_value_string(value: Column): Column =
    Kernel.valueString(value)

  /** Epoch-ms -> fractional seconds string (`10001` -> `"10.001"`). */
  def prom_seconds_string(ms: Column): Column =
    Kernel.secondsString(ms)

  /** Epoch-ms -> RFC3339Nano UTC with trimmed fractional zeros. */
  def rfc3339_nano(ms: Column): Column =
    Kernel.rfc3339Nano(ms)

  /** RFC3339 string -> epoch ms; null on malformed input. */
  def parse_rfc3339(s: Column): Column =
    Kernel.parseRfc3339(s)

  // --- serializers (formats: serializers.go json/json-compat/avro-json) -----
  //
  // One kernel pair renders every format: a series stage (labels sorted, key
  // hashed, payload template with the timestamp and the value left open) and
  // a sample fill. The produce query runs the series stage once per series
  // ([[prom_series]]); the column functions over one row per sample run both.

  /** Series stage over a decoded series' `array<struct<name, value>>`
    * labels: struct(key, template) — the partition key and the payload with
    * the timestamp and the value left open ([[prom_fill]]). `format` is an
    * [[AvroJsonSchema.payloadFormat]] pair.
    */
  def prom_series(format: (Int, String), labelEntries: Column, tenant: Column,
      replicaLabels: Seq[String]): Column =
    seriesCol(Kernel.seriesOfEntries, format, labelEntries, tenant, replicaLabels)

  /** [[prom_series]] over a labels map (one row per sample). */
  def prom_series_of_map(format: (Int, String), labels: Column, tenant: Column,
      replicaLabels: Seq[String] = Seq(Model.DefaultReplicaLabel)): Column =
    seriesCol(Kernel.seriesOfMap, format, normLabels(labels), tenant, replicaLabels)

  private def seriesCol(kernel: Kernel, format: (Int, String), labels: Column, tenant: Column,
      replicaLabels: Seq[String]): Column =
    kernel(literal(format._1), literal(format._2), labels, normTenant(tenant),
      array(replicaLabels.map(lit): _*))

  /** Sample stage: a series template with the sample's timestamp and value
    * rendered in — the payload.
    */
  def prom_fill(template: Column, ms: Column, value: Column): Column =
    Kernel.fill(template, ms, value)

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
    Kernel.labelMap(labelEntries)

  /** Inverse: payload -> struct(timestampMs, value, labels, tenantId); null on
    * poison input (skip-and-ack, pulsar.go:190-201). format 0=json, 1=compat.
    */
  def prom_deserialize(format: Int, payload: Column): Column =
    Kernel.deserialize(literal(format), payload)

  // --- series partition key (serializers.go:91-114) -------------------------

  def series_key(labels: Column, tenant: Column, replicaLabels: Seq[String] = Seq(Model.DefaultReplicaLabel)): Column =
    prom_series_of_map(AvroJsonSchema.payloadFormat("json"), labels, tenant, replicaLabels)
      .getField("key")

  // --- codecs ---------------------------------------------------------------

  def snappy_compress(data: Column): Column =
    Kernel.snappyCompress(data)

  /** null on corrupt input (HTTP 400 semantics, produce.go:132-137). */
  def snappy_uncompress(data: Column): Column =
    Kernel.snappyUncompress(data)

  /** prompb WriteRequest encode: timeseries array column -> proto bytes. */
  def pb_encode(timeseries: Column): Column =
    Kernel.pbEncode(timeseries)

  /** One sample -> its `WriteRequest.timeseries` entry bytes (single-sample
    * series, labels sorted by name); a batch's entries concatenate into its
    * WriteRequest.
    */
  def pb_series_entry(labels: Column, ms: Column, value: Column): Column =
    Kernel.seriesEntry(normLabels(labels), ms, value)

  /** proto bytes -> timeseries array (null on malformed input). */
  def pb_decode(data: Column): Column =
    Kernel.pbDecode(data)

  /** 64-bit polynomial rolling fingerprint (h = h*31 + byte mod 2^64). */
  def fingerprint64(s: Column): Column =
    Kernel.fingerprint64(s)

  /** 64-bit frequency-weighted SimHash bitstring over whitespace tokens. */
  def simhash64(text: Column): Column =
    Kernel.simhash64(text)

  /** Hamming distance between two bitstring signatures (codegen'd single
    * pass; positions beyond the shorter string count as differing).
    */
  def hamming64(a: Column, b: Column): Column =
    Kernel.hamming64(a, b)

  /** Wrapping g*a+b mod 2^64 (minhash family; ANSI-safe). */
  def mix64(g: Column, a: Long, b: Long): Column =
    Kernel.mix64(g, literal(a), literal(b))

  /** Distinct word n-gram shingles as 60-bit md5-prefix values — value-equal
    * to `conv(substring(md5(shingle),1,15),16,10)` over
    * `array_distinct(transform(...))` string shingles, in one codegen'd pass
    * (no per-shingle string columns; downstream explodes move 8-byte longs).
    */
  def shingle_g(text: Column, n: Int): Column =
    Kernel.shingleG(text, literal(n))

  /** All word n-grams (with repeats, document order) as 60-bit md5-prefix
    * values — the frequency-carrying sibling of [[shingle_g]].
    */
  def ngram_g(text: Column, n: Int): Column =
    Kernel.ngramG(text, literal(n))

  /** Apply a trained BPE merge list (array of `"a b"` entries, training
    * order) to whitespace-tokenized text; returns the post-merge token
    * stream in document order (the trainer's greedy left-to-right fold per
    * merge — see [[graft.operators.BpeTokenizer]]).
    */
  def apply_merges(text: Column, merges: Column): Column =
    Kernel.applyMerges(text, merges)

  /** [[apply_merges]] with whitespace WORDS as the starting symbols
    * (SentencePiece-style phrase merging over the whole text — see
    * [[graft.functions.PromCatalyst.applyMergesWords]]).
    */
  def apply_merges_words(text: Column, merges: Column): Column =
    Kernel.applyMergesWords(text, merges)

  /** Greedy longest-match-first (WordPiece-style) subword tokenize against
    * a literal lexicon array; unmatched positions pass through as single
    * characters (see [[graft.functions.PromCatalyst.wordpiece]]).
    */
  def wordpiece(text: Column, pieces: Column): Column =
    Kernel.wordpiece(text, pieces)

  /** Codegen'd left-fold dot product over two array<double> columns. */
  def vec_dot(a: Column, b: Column): Column =
    Kernel.vecDot(a, b)

  /** Codegen'd exact integer squared distance over two array<long> columns. */
  def vec_sqdist_q(a: Column, b: Column): Column =
    Kernel.vecSqDistQ(a, b)

  /** Greedy next-fit bin ids for an array<long> of token counts — the O(n)
    * mutable-builder kernel behind `SequencePacking.packGreedy` (a Catalyst
    * `aggregate` fold carrying the output array would copy O(n^2) elements).
    * `maxDocsPerSeq <= 0` = unbounded.
    */
  def next_fit_bins(toks: Column, seqLen: Int, maxDocsPerSeq: Int = 0): Column =
    Kernel.nextFitBins(toks, literal(seqLen.toLong), literal(maxDocsPerSeq.toLong))
}
