package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, ArrayData, GenericArrayData, MapData}
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{PromKernel => K}

/** Catalyst-typed static facade over [[PromKernel]].
  *
  * Every method takes/returns Spark internal types (UTF8String / MapData /
  * InternalRow) so it can be bound with `StaticInvoke` — a codegen'd direct
  * static call, faster than any UDF and null-safe via propagateNull.
  */
object PromCatalyst {

  private def mapToSortedArrays(labels: MapData): (Array[String], Array[String]) = {
    if (labels == null) return (Array.empty, Array.empty)
    val n = labels.numElements()
    val keys = new Array[String](n)
    val values = new Array[String](n)
    val ka = labels.keyArray()
    val va = labels.valueArray()
    var i = 0
    while (i < n) {
      keys(i) = ka.getUTF8String(i).toString
      values(i) = va.getUTF8String(i).toString
      i += 1
    }
    val idx = Array.range(0, n).sortWith((a, b) => K.compareUtf8(keys(a), keys(b)) < 0)
    (idx.map(keys), idx.map(values))
  }

  // --- formatting -----------------------------------------------------------

  def valueString(d: Double): UTF8String = UTF8String.fromString(K.valueString(d))

  def secondsString(ms: Long): UTF8String = UTF8String.fromString(K.secondsString(ms))

  def rfc3339Nano(ms: Long): UTF8String = UTF8String.fromString(K.rfc3339Nano(ms))

  /** Nullable: null on malformed timestamp. */
  def parseRfc3339(s: UTF8String): java.lang.Long =
    try java.lang.Long.valueOf(K.parseRfc3339ToMs(s.toString))
    catch { case _: Exception => null }

  // --- serializers ----------------------------------------------------------

  /** format: 0=json (default), 1=json-compat, 2=avro-json-compat. */
  def serialize(format: Int, ms: Long, value: Double, labels: MapData, tenant: UTF8String): UTF8String = {
    val (keys, values) = mapToSortedArrays(labels)
    val t = if (tenant == null) "" else tenant.toString
    val out = format match {
      case 0 => K.promJson(ms, value, keys, values, t)
      case 1 => K.compatJson(ms, value, keys, values, t, avroMode = false)
      case 2 => K.compatJson(ms, value, keys, values, t, avroMode = true)
    }
    UTF8String.fromString(out)
  }

  /** avro-json-compat with a user schema: spec from AvroJsonSchema.Parsed. */
  def serializeAvroSchema(spec: UTF8String, ms: Long, value: Double,
      labels: MapData, tenant: UTF8String): UTF8String = {
    val (keys, values) = mapToSortedArrays(labels)
    UTF8String.fromString(AvroJsonSchema.serialize(
      spec.toString, ms, value, keys, values,
      if (tenant == null) "" else tenant.toString))
  }

  private def toSampleRow(p: K.ParsedSample): InternalRow = {
    if (p == null) return null
    val keys = new GenericArrayData(p.labelKeys.map(UTF8String.fromString(_)).asInstanceOf[Array[Any]])
    val values = new GenericArrayData(p.labelValues.map(UTF8String.fromString(_)).asInstanceOf[Array[Any]])
    InternalRow(
      p.timestampMs,
      p.value,
      new ArrayBasedMapData(keys, values),
      UTF8String.fromString(if (p.tenantId == null) "" else p.tenantId))
  }

  /** Nullable struct(timestampMs, value, labels, tenantId); null = poison input
    * (skip-and-ack semantics, reference pulsar.go:190-201).
    */
  def deserialize(format: Int, payload: UTF8String): InternalRow = {
    if (payload == null) return null
    val s = payload.toString
    val parsed = format match {
      case 0 => K.parsePromJson(s)
      case _ => K.parseCompatJson(s)
    }
    toSampleRow(parsed)
  }

  /** The sample's remote_write entry ([[PromKernel.seriesEntry]]), labels
    * sorted by name: what the consume path buffers and POSTs.
    */
  def seriesEntry(labels: MapData, ms: Long, value: Double): Array[Byte] = {
    val (keys, values) = mapToSortedArrays(labels)
    K.seriesEntry(keys, values, value, ms)
  }

  // --- partition key --------------------------------------------------------

  def seriesKey(labels: MapData, tenant: UTF8String, replicaLabels: ArrayData): UTF8String = {
    val (keys, values) = mapToSortedArrays(labels)
    val rl = if (replicaLabels == null) Array.empty[String]
      else Array.tabulate(replicaLabels.numElements())(i => replicaLabels.getUTF8String(i).toString)
    val t = if (tenant == null) "" else tenant.toString
    UTF8String.fromString(K.seriesKey(keys, values, t, rl))
  }

  // --- codecs ---------------------------------------------------------------

  def snappyCompress(data: Array[Byte]): Array[Byte] = K.snappyCompress(data)

  /** Nullable: corrupt input -> null (HTTP 400 semantics, produce.go:132-137). */
  def snappyUncompress(data: Array[Byte]): Array[Byte] = K.snappyUncompress(data)

  def fingerprint64(s: UTF8String): Long = K.fingerprint64(s.toString)

  def simhash64(s: UTF8String): UTF8String = UTF8String.fromString(K.simhash64(s.toString))

  /** Hamming distance between two equal-length bitstrings (e.g. simhash64
    * signatures): one compiled byte-compare pass — the codegen'd
    * replacement for a 64-element interpreted higher-order filter.
    */
  def hamming64(a: UTF8String, b: UTF8String): Long = {
    val ab = a.getBytes
    val bb = b.getBytes
    val n = math.min(ab.length, bb.length)
    var d = math.abs(ab.length - bb.length).toLong
    var i = 0
    while (i < n) {
      if (ab(i) != bb(i)) d += 1L
      i += 1
    }
    d
  }

  def shingleG(s: UTF8String, n: Int): ArrayData =
    new GenericArrayData(K.shingleG(s.toString, n))

  def ngramG(s: UTF8String, n: Int): ArrayData =
    new GenericArrayData(K.ngramG(s.toString, n))

  /** Wrapping linear mix g*a+b mod 2^64 (ANSI mode would throw on overflow). */
  def mix64(g: Long, a: Long, b: Long): Long = g * a + b

  /** Greedy next-fit bin ids over per-doc token counts (input order): a doc
    * joins the open bin when it fits under `seqLen` AND the bin holds fewer
    * than `maxDocs` docs (maxDocs <= 0 = unbounded); otherwise it opens the
    * next bin (an oversized doc gets a bin of its own). One linear pass with
    * a mutable builder — O(n) per shard, unlike a Catalyst `aggregate` fold,
    * whose immutable accumulator array would copy O(n^2) elements.
    */
  def nextFitBins(toks: ArrayData, seqLen: Long, maxDocs: Long): ArrayData = {
    val n = toks.numElements()
    val bins = new Array[Long](n)
    var fill = 0L
    var bin = -1L
    var docs = 0L
    var i = 0
    while (i < n) {
      val t = toks.getLong(i)
      if (bin >= 0 && fill + t <= seqLen && (maxDocs <= 0 || docs < maxDocs)) {
        fill += t; docs += 1
      } else {
        bin += 1; fill = t; docs = 1
      }
      bins(i) = bin
      i += 1
    }
    new GenericArrayData(bins)
  }

  /** Left-fold dot product over array<double> — identical accumulation order
    * to `aggregate(zip_with(...))` (bit-identical results) but codegen'd
    * (Catalyst higher-order functions are interpreted).
    *
    * Precondition: equal-length non-null arrays (every caller in this repo
    * compares fixed-dimension vectors). Guarded on min(len) so a length
    * mismatch reads in-bounds; extra elements on the longer side are
    * ignored, mirroring neither-side-preferred truncation rather than an
    * out-of-bounds read.
    */
  def vecDot(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0d
    var i = 0
    while (i < n) { acc += a.getDouble(i) * b.getDouble(i); i += 1 }
    acc
  }

  /** Exact integer squared Euclidean distance over two array<long> columns
    * — value-identical to `aggregate(zip_with(a, b, (x,y) -> (x-y)*(x-y)),
    * 0L, +)` (Long addition is order-free mod 2^64) but codegen'd; this is
    * the inner loop of the k-means/IVF/PQ/silhouette family, which the
    * interpreted higher-order form dominates. Same equal-length
    * precondition and min(len) guard as [[vecDot]].
    */
  def vecSqDistQ(a: ArrayData, b: ArrayData): Long = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0L
    var i = 0
    while (i < n) { val d = a.getLong(i) - b.getLong(i); acc += d * d; i += 1 }
    acc
  }

  /** Apply a trained BPE merge list (entries `"a b"`, training order) to
    * whitespace-tokenized text: per word, symbols start as characters and
    * each merge runs one greedy left-to-right fuse pass — seed the
    * accumulator with the first symbol, fuse when (tail == a && next == b)
    * — exactly the trainer's fold semantics (DataQueries9.mergePair), so
    * encode(text) under the trained merges reproduces the training loop's
    * final symbol state. Word token streams concatenate in document order;
    * empty words (doubled spaces) are skipped like the trainer's
    * length >= 1 filter. One compiled pass per (word, merge) — the
    * codegen'd kernel sibling of [[nextFitBins]].
    */
  /** Tiny per-thread reference-keyed (`eq`) move-to-front cache for
    * compiled literal arguments. A projection can evaluate SEVERAL kernel
    * calls with DIFFERENT literal lists in the same row (e.g. two
    * apply_merges columns under two vocabularies) — a one-slot cache would
    * alternate the slot every row and silently recompile per row, the
    * exact cost the cache exists to avoid. Four slots scanned linearly by
    * reference cover any realistic per-projection literal count at ~4
    * pointer compares per lookup, and bound what a thread can pin to four
    * compiled lists.
    */
  private final class RefSlots[V <: AnyRef](cap: Int) {
    private val keys = new Array[AnyRef](cap)
    private val vals = new Array[AnyRef](cap)
    def get(k: AnyRef): V = {
      var i = 0
      while (i < cap) {
        if (keys(i) eq k) {
          if (i > 0) { // move to front so the hot literal stays O(1)
            val kk = keys(i); val vv = vals(i)
            var j = i
            while (j > 0) { keys(j) = keys(j - 1); vals(j) = vals(j - 1); j -= 1 }
            keys(0) = kk; vals(0) = vv
          }
          return vals(0).asInstanceOf[V]
        }
        i += 1
      }
      null.asInstanceOf[V]
    }
    def put(k: AnyRef, v: V): Unit = { // evicts the least-recently-used tail
      var j = cap - 1
      while (j > 0) { keys(j) = keys(j - 1); vals(j) = vals(j - 1); j -= 1 }
      keys(0) = k; vals(0) = v
    }
  }

  // per-thread compile cache for the (a, b) halves of a merge list: each
  // list arrives as the SAME literal ArrayData object every row of a task,
  // and a production-sized list (1k+ merges — BpeScaleSpec) re-split per
  // row would dominate the O(word) fuse work itself.
  private val mergeCache =
    new ThreadLocal[RefSlots[(Array[String], Array[String])]] {
      override def initialValue() = new RefSlots[(Array[String], Array[String])](4)
    }

  private def compiledMerges(merges: ArrayData): (Array[String], Array[String]) = {
    // reference-keyed caching is only sound for immutable GenericArrayData
    // (what a folded literal holds); Unsafe arrays are REUSED row buffers —
    // same reference, different contents — and must recompile every row
    val cacheable = merges.isInstanceOf[GenericArrayData]
    val slots = mergeCache.get()
    if (cacheable) {
      val hit = slots.get(merges)
      if (hit != null) return hit
    }
    val nM = merges.numElements()
    val ma = new Array[String](nM)
    val mb = new Array[String](nM)
    var k = 0
    while (k < nM) {
      val m = merges.getUTF8String(k).toString
      val sp = m.indexOf(' ')
      ma(k) = m.substring(0, sp)
      mb(k) = m.substring(sp + 1)
      k += 1
    }
    if (cacheable) slots.put(merges, (ma, mb))
    (ma, mb)
  }

  /** Sequential greedy left-to-right fuse passes — one pass per merge, the
    * trainer's exact fold semantics (DataQueries9.mergePair).
    */
  private def fusePasses(initial: Array[String],
      ma: Array[String], mb: Array[String]): Array[String] = {
    var syms = initial
    var k = 0
    while (k < ma.length) {
      if (syms.length >= 2) {
        val buf = scala.collection.mutable.ArrayBuffer[String](syms(0))
        var i = 1
        while (i < syms.length) {
          val x = syms(i)
          if (buf(buf.length - 1) == ma(k) && x == mb(k))
            buf(buf.length - 1) = ma(k) + mb(k)
          else buf += x
          i += 1
        }
        syms = buf.toArray
      }
      k += 1
    }
    syms
  }

  def applyMerges(s: UTF8String, merges: ArrayData): ArrayData = {
    val (ma, mb) = compiledMerges(merges)
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    val words = s.toString.split(' ')
    var wi = 0
    while (wi < words.length) {
      val w = words(wi)
      if (w.nonEmpty) {
        val syms = fusePasses(
          Array.tabulate(w.length)(i => w.substring(i, i + 1)), ma, mb)
        var i = 0
        while (i < syms.length) { out += UTF8String.fromString(syms(i)); i += 1 }
      }
      wi += 1
    }
    new GenericArrayData(out.toArray)
  }

  /** [[applyMerges]] with WORDS as the starting symbols (SentencePiece-style
    * phrase merging): the whole text is one symbol sequence, each initial
    * symbol a whitespace word, merged symbols plain concatenations — the
    * same unit-agnostic fold the trainer applies, so a phrase-level trained
    * merge list reproduces the training state exactly (BpeScaleSpec's
    * 1k-merge parity). Merge entries split on the FIRST space; symbols are
    * space-free by construction, so the encoding is unambiguous.
    */
  def applyMergesWords(s: UTF8String, merges: ArrayData): ArrayData = {
    val (ma, mb) = compiledMerges(merges)
    val words = s.toString.split(' ').filter(_.nonEmpty)
    val syms =
      if (words.isEmpty) words
      else fusePasses(words, ma, mb)
    val out = new Array[Any](syms.length)
    var i = 0
    while (i < syms.length) { out(i) = UTF8String.fromString(syms(i)); i += 1 }
    new GenericArrayData(out)
  }

  /** Greedy longest-match-first subword tokenize (the WordPiece/maximal-
    * munch rule, Wu et al. 2016): each whitespace word is consumed left to
    * right by the LONGEST lexicon piece matching at the cursor; a position
    * no piece matches emits its single character (never fires when the
    * lexicon contains every corpus character, which the trainer
    * guarantees — see BpeTokenizer.wordpieceLexicon). One O(|word| ·
    * maxPieceLen) pass per row; the lexicon hash set compiles once per
    * (thread, literal) like [[compiledMerges]] — at a production lexicon
    * (1k+ pieces, BpeScaleSpec) a per-row rebuild would dominate the
    * per-row match work.
    */
  private val pieceCache =
    new ThreadLocal[RefSlots[(java.util.HashSet[String], Integer)]] {
      override def initialValue() =
        new RefSlots[(java.util.HashSet[String], Integer)](4)
    }

  def wordpiece(s: UTF8String, pieces: ArrayData): ArrayData = {
    val cacheable = pieces.isInstanceOf[GenericArrayData]
    val slots = pieceCache.get()
    val hit = if (cacheable) slots.get(pieces) else null
    val (set, maxL) =
      if (hit != null) (hit._1, hit._2.intValue)
      else {
        val n = pieces.numElements()
        val st = new java.util.HashSet[String](n * 2)
        var ml = 1
        var k = 0
        while (k < n) {
          val p = pieces.getUTF8String(k).toString
          st.add(p)
          if (p.length > ml) ml = p.length
          k += 1
        }
        if (cacheable) slots.put(pieces, (st, Integer.valueOf(ml)))
        (st, ml)
      }
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    val words = s.toString.split(' ')
    var wi = 0
    while (wi < words.length) {
      val w = words(wi)
      var pos = 0
      while (pos < w.length) {
        var l = math.min(maxL, w.length - pos)
        var hit = 1
        var found = false
        while (l >= 1 && !found) {
          if (set.contains(w.substring(pos, pos + l))) { hit = l; found = true }
          l -= 1
        }
        out += UTF8String.fromString(w.substring(pos, pos + hit))
        pos += hit
      }
      wi += 1
    }
    new GenericArrayData(out.toArray)
  }

  // --- prompb wire codec ----------------------------------------------------

  /** arg: array<struct<labels array<struct<name,value>>, samples array<struct<value,timestamp>>>>
    * (Model.writeRequestSchema's `timeseries` field) -> proto bytes.
    */
  def pbEncode(timeseries: ArrayData): Array[Byte] = {
    val n = timeseries.numElements()
    val series = new Array[K.PbTimeSeries](n)
    var i = 0
    while (i < n) {
      val ts = timeseries.getStruct(i, 2)
      val labelsArr = ts.getArray(0)
      val samplesArr = ts.getArray(1)
      val labels = Array.tabulate(labelsArr.numElements()) { j =>
        val l = labelsArr.getStruct(j, 2)
        K.PbLabel(l.getUTF8String(0).toString, l.getUTF8String(1).toString)
      }
      val samples = Array.tabulate(samplesArr.numElements()) { j =>
        val s = samplesArr.getStruct(j, 2)
        K.PbSample(s.getDouble(0), s.getLong(1))
      }
      series(i) = K.PbTimeSeries(labels.toIndexedSeq, samples.toIndexedSeq)
      i += 1
    }
    K.encodeWriteRequest(K.PbWriteRequest(series.toIndexedSeq))
  }

  /** Nullable: malformed proto -> null. Returns the `timeseries` array. */
  def pbDecode(data: Array[Byte]): ArrayData = {
    if (data == null) return null
    val req = K.decodeWriteRequest(data)
    if (req == null) return null
    val rows: Array[Any] = req.timeseries.map { ts =>
      val labels = new GenericArrayData(ts.labels.map { l =>
        InternalRow(UTF8String.fromString(l.name), UTF8String.fromString(l.value)): Any
      }.toArray)
      val samples = new GenericArrayData(ts.samples.map { s =>
        InternalRow(s.value, s.timestamp): Any
      }.toArray)
      InternalRow(labels, samples): Any
    }.toArray
    new GenericArrayData(rows)
  }
}
