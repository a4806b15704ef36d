package graft.functions

import java.math.BigDecimal
import java.nio.charset.StandardCharsets

/** Pure-JVM kernel behind the engine's custom Catalyst expressions.
  *
  * Every function here reproduces an observable behavior of the reference
  * (grafana/prometheus-pulsar-remote-write) byte-for-byte; citations point at
  * the reference file:line the behavior comes from. No Spark types — this layer
  * is directly unit-testable and is invoked from codegen'd expressions.
  */
object PromKernel {

  // ---------------------------------------------------------------------------
  // Go-parity float formatting
  // ---------------------------------------------------------------------------

  /** Go `strconv.FormatFloat(v, 'f', -1, 64)` + prometheus SampleValue.String():
    * shortest decimal (no exponent) that round-trips, `+Inf`/`-Inf`/`NaN`
    * (reference: serializers.go:73 via prometheus/common model.SampleValue).
    */
  def valueString(d: Double): String = {
    if (java.lang.Double.isNaN(d)) "NaN"
    else if (d == java.lang.Double.POSITIVE_INFINITY) "+Inf"
    else if (d == java.lang.Double.NEGATIVE_INFINITY) "-Inf"
    else if (d == 0.0d) { if (1.0d / d < 0) "-0" else "0" }
    else {
      // Double.toString is the shortest repr that round-trips (possibly with
      // exponent); BigDecimal re-renders it plain, stripping trailing zeros.
      val bd = new BigDecimal(java.lang.Double.toString(d)).stripTrailingZeros()
      bd.toPlainString
    }
  }

  /** prometheus model.Time.String(): milliseconds rendered as fractional
    * seconds, shortest form (`10001` ms -> "10.001", `0` -> "0").
    * Exact decimal arithmetic — no float round-trip.
    */
  def secondsString(ms: Long): String = {
    val bd = BigDecimal.valueOf(ms, 3).stripTrailingZeros()
    bd.toPlainString
  }

  // ---------------------------------------------------------------------------
  // RFC3339Nano (Go time layout) format / parse
  // ---------------------------------------------------------------------------

  /** Go `Time().UTC().Format(time.RFC3339Nano)` at millisecond precision:
    * trailing fractional zeros trimmed, no "." when fraction is zero
    * (reference: serializers.go:71; golden: "1970-01-01T00:00:10.001Z").
    */
  def rfc3339Nano(ms: Long): String = {
    val instant = java.time.Instant.ofEpochMilli(ms)
    val odt = java.time.OffsetDateTime.ofInstant(instant, java.time.ZoneOffset.UTC)
    val sb = new java.lang.StringBuilder(30)
    pad4(sb, odt.getYear); sb.append('-'); pad2(sb, odt.getMonthValue); sb.append('-')
    pad2(sb, odt.getDayOfMonth); sb.append('T'); pad2(sb, odt.getHour); sb.append(':')
    pad2(sb, odt.getMinute); sb.append(':'); pad2(sb, odt.getSecond)
    val msPart = java.lang.Math.floorMod(ms, 1000L).toInt
    if (msPart != 0) {
      sb.append('.')
      var frac = f"$msPart%03d"
      while (frac.endsWith("0")) frac = frac.substring(0, frac.length - 1)
      sb.append(frac)
    }
    sb.append('Z')
    sb.toString
  }

  private def pad2(sb: java.lang.StringBuilder, v: Int): Unit = {
    if (v < 10) sb.append('0')
    sb.append(v)
  }
  private def pad4(sb: java.lang.StringBuilder, v: Int): Unit = {
    if (v < 1000) sb.append(("000" + v).takeRight(4)) else sb.append(v)
  }

  /** Go `time.Parse(RFC3339)` then `model.TimeFromUnixNano` (serializers.go:55):
    * returns epoch ms, truncating sub-ms. Throws on malformed input (callers
    * that need poison-skip catch and null out).
    */
  def parseRfc3339ToMs(s: String): Long = {
    val odt = java.time.OffsetDateTime.parse(s)
    val inst = odt.toInstant
    inst.getEpochSecond * 1000L + inst.getNano / 1000000L
  }

  /** prometheus model.Time JSON decoding: decimal seconds string -> ms,
    * exact integer arithmetic, fraction truncated to 3 digits.
    */
  def parseSecondsToMs(s: String): Long = {
    val neg = s.startsWith("-")
    val body = if (neg || s.startsWith("+")) s.substring(1) else s
    val dot = body.indexOf('.')
    val (ip, fp0) = if (dot < 0) (body, "") else (body.substring(0, dot), body.substring(dot + 1))
    val fp = (fp0 + "000").substring(0, 3)
    val v = java.lang.Long.parseLong(if (ip.isEmpty) "0" else ip) * 1000L + java.lang.Long.parseLong(fp)
    if (neg) -v else v
  }

  /** Go strconv.ParseFloat incl. the special spellings prometheus accepts. */
  def parseGoFloat(s: String): Double = s match {
    case "+Inf" | "Inf" | "inf" | "+inf" => Double.PositiveInfinity
    case "-Inf" | "-inf" => Double.NegativeInfinity
    case "NaN" | "nan" => Double.NaN
    case other => java.lang.Double.parseDouble(other)
  }

  // ---------------------------------------------------------------------------
  // Go encoding/json string escaping
  // ---------------------------------------------------------------------------

  /** Go `encoding/json` string escaping (incl. HTML-safe `<`, `>`, `&` ->
    * < …) so payloads are byte-identical to the reference's output.
    */
  def appendJsonString(sb: java.lang.StringBuilder, s: String): Unit = {
    sb.append('"')
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      c match {
        case '"' => sb.append("\\\"")
        case '\\' => sb.append("\\\\")
        case '\n' => sb.append("\\n")
        case '\r' => sb.append("\\r")
        case '\t' => sb.append("\\t")
        case '<' => sb.append("\\u003c")
        case '>' => sb.append("\\u003e")
        case '&' => sb.append("\\u0026")
        case '\u2028' => sb.append("\\u2028")
        case '\u2029' => sb.append("\\u2029")
        case cc if cc < ' ' => sb.append(f"\\u${cc.toInt}%04x")
        case cc => sb.append(cc)
      }
      i += 1
    }
    sb.append('"')
  }

  // ---------------------------------------------------------------------------
  // Serializers (labels passed pre-sorted by key — Go map marshal sorts keys)
  // ---------------------------------------------------------------------------

  /** Default `json` serializer (serializers.go:116-131): Go json.Marshal of
    * Sample — `{"value":[<sec>,"<val>"],"metric":{...},"tenant_id":...}` with
    * `metric` omitted when empty and `tenant_id` omitted when "".
    * `labelKeys`/`labelValues` must be parallel arrays sorted by key
    * (Go marshals maps key-sorted).
    */
  def promJson(
      timestampMs: Long,
      value: Double,
      labelKeys: Array[String],
      labelValues: Array[String],
      tenantId: String): String = {
    val sb = new java.lang.StringBuilder(64)
    sb.append("{\"value\":[").append(secondsString(timestampMs)).append(',')
    appendJsonString(sb, valueString(value))
    sb.append(']')
    if (labelKeys != null && labelKeys.length > 0) {
      sb.append(",\"metric\":")
      appendLabelObject(sb, labelKeys, labelValues)
    }
    if (tenantId != null && tenantId.nonEmpty) {
      sb.append(",\"tenant_id\":")
      appendJsonString(sb, tenantId)
    }
    sb.append('}')
    sb.toString
  }

  private def appendLabelObject(
      sb: java.lang.StringBuilder, keys: Array[String], values: Array[String]): Unit = {
    sb.append('{')
    var i = 0
    while (i < keys.length) {
      if (i > 0) sb.append(',')
      appendJsonString(sb, keys(i))
      sb.append(':')
      appendJsonString(sb, values(i))
      i += 1
    }
    sb.append('}')
  }

  /** `json-compat` serializer (serializers.go:69-80,137-147): Go json.Marshal of
    * the compat map — key-sorted object: labels, name, [tenant_id], timestamp,
    * value; tenant_id key present only when non-empty.
    * `avroMode=true` reproduces the avro-json-compat codec (serializers.go:183-196):
    * same fields but schema order (timestamp, value, name, labels, tenant_id)
    * and tenant_id always present (schema default "").
    */
  def compatJson(
      timestampMs: Long,
      value: Double,
      labelKeys: Array[String],
      labelValues: Array[String],
      tenantId: String,
      avroMode: Boolean): String = {
    val sb = new java.lang.StringBuilder(96)
    val name = {
      var n = ""
      var i = 0
      while (i < labelKeys.length) { if (labelKeys(i) == "__name__") n = labelValues(i); i += 1 }
      n
    }
    val tenant = if (tenantId == null) "" else tenantId
    if (avroMode) {
      sb.append("{\"timestamp\":")
      appendJsonString(sb, rfc3339Nano(timestampMs))
      sb.append(",\"value\":")
      appendJsonString(sb, valueString(value))
      sb.append(",\"name\":")
      appendJsonString(sb, name)
      sb.append(",\"labels\":")
      appendLabelObject(sb, labelKeys, labelValues)
      sb.append(",\"tenant_id\":")
      appendJsonString(sb, tenant)
    } else {
      sb.append("{\"labels\":")
      appendLabelObject(sb, labelKeys, labelValues)
      sb.append(",\"name\":")
      appendJsonString(sb, name)
      if (tenant.nonEmpty) {
        sb.append(",\"tenant_id\":")
        appendJsonString(sb, tenant)
      }
      sb.append(",\"timestamp\":")
      appendJsonString(sb, rfc3339Nano(timestampMs))
      sb.append(",\"value\":")
      appendJsonString(sb, valueString(value))
    }
    sb.append('}')
    sb.toString
  }

  // ---------------------------------------------------------------------------
  // Deserializers (jackson-core ships with Spark)
  // ---------------------------------------------------------------------------

  /** Parsed sample as a flat tuple for the expression layer. */
  final case class ParsedSample(
      timestampMs: Long,
      value: Double,
      labelKeys: Array[String],
      labelValues: Array[String],
      tenantId: String)

  private val jsonFactory = new com.fasterxml.jackson.core.JsonFactory()

  /** Default-format unmarshal (serializers.go:120-127): json.Unmarshal into
    * Sample. Returns null on malformed input (poison-skip, pulsar.go:190-201).
    */
  def parsePromJson(data: String): ParsedSample = {
    try {
      var ms = 0L; var v = 0.0d; var tenant = ""
      val keys = scala.collection.mutable.ArrayBuffer.empty[String]
      val vals = scala.collection.mutable.ArrayBuffer.empty[String]
      val p = jsonFactory.createParser(data)
      require(p.nextToken() == com.fasterxml.jackson.core.JsonToken.START_OBJECT)
      while (p.nextToken() != com.fasterxml.jackson.core.JsonToken.END_OBJECT) {
        p.currentName() match {
          case "value" =>
            require(p.nextToken() == com.fasterxml.jackson.core.JsonToken.START_ARRAY)
            p.nextToken(); ms = parseSecondsToMs(p.getValueAsString)
            p.nextToken(); v = parseGoFloat(p.getText)
            require(p.nextToken() == com.fasterxml.jackson.core.JsonToken.END_ARRAY)
          case "metric" =>
            require(p.nextToken() == com.fasterxml.jackson.core.JsonToken.START_OBJECT)
            while (p.nextToken() != com.fasterxml.jackson.core.JsonToken.END_OBJECT) {
              keys += p.currentName(); p.nextToken(); vals += p.getText
            }
          case "tenant_id" => p.nextToken(); tenant = p.getText
          case _ => p.nextToken(); p.skipChildren()
        }
      }
      p.close()
      ParsedSample(ms, v, keys.toArray, vals.toArray, tenant)
    } catch { case _: Exception => null }
  }

  /** Compat/avro unmarshal with the `__name__` backfill rule
    * (serializers.go:35-61: inject labels["__name__"]=name when missing and
    * name non-empty). Returns null on malformed input.
    */
  def parseCompatJson(data: String): ParsedSample = {
    try {
      var ms = 0L; var v = 0.0d; var tenant = ""; var name = ""
      val keys = scala.collection.mutable.ArrayBuffer.empty[String]
      val vals = scala.collection.mutable.ArrayBuffer.empty[String]
      val p = jsonFactory.createParser(data)
      require(p.nextToken() == com.fasterxml.jackson.core.JsonToken.START_OBJECT)
      while (p.nextToken() != com.fasterxml.jackson.core.JsonToken.END_OBJECT) {
        p.currentName() match {
          case "value" => p.nextToken(); v = parseGoFloat(p.getText)
          case "timestamp" => p.nextToken(); ms = parseRfc3339ToMs(p.getText)
          case "name" => p.nextToken(); name = p.getText
          case "tenant_id" => p.nextToken(); tenant = p.getText
          case "labels" =>
            require(p.nextToken() == com.fasterxml.jackson.core.JsonToken.START_OBJECT)
            while (p.nextToken() != com.fasterxml.jackson.core.JsonToken.END_OBJECT) {
              keys += p.currentName(); p.nextToken(); vals += p.getText
            }
          case _ => p.nextToken(); p.skipChildren()
        }
      }
      p.close()
      if (!keys.contains("__name__") && name.nonEmpty) { keys += "__name__"; vals += name }
      ParsedSample(ms, v, keys.toArray, vals.toArray, tenant)
    } catch { case _: Exception => null }
  }

  // ---------------------------------------------------------------------------
  // Series partition key — FNV-1 64 (Go hash/fnv.New64), serializers.go:91-114
  // ---------------------------------------------------------------------------

  private final val FnvOffset = 0xcbf29ce484222325L
  private final val FnvPrime = 0x100000001b3L

  private def fnvMix(h0: Long, bytes: Array[Byte]): Long = {
    var h = h0
    var i = 0
    while (i < bytes.length) {
      h = h * FnvPrime // FNV-1: multiply THEN xor (Go fnv.New64)
      h = h ^ (bytes(i) & 0xffL)
      i += 1
    }
    h
  }

  /** Byte-compat partition key: FNV-1 64 over (sorted non-replica label key
    * bytes ++ value bytes)* ++ tenant bytes, rendered `"hex %016x"`.
    * Sort order is UTF-8 byte order (Go sort.Strings on UTF-8 strings).
    */
  def seriesKey(
      labelKeys: Array[String],
      labelValues: Array[String],
      tenantId: String,
      replicaLabels: Array[String]): String = {
    val n = labelKeys.length
    val idx = Array.range(0, n).filterNot(i => replicaLabels.contains(labelKeys(i)))
    val sorted = idx.sortWith { (a, b) =>
      compareUtf8(labelKeys(a), labelKeys(b)) < 0
    }
    var h = FnvOffset
    var i = 0
    while (i < sorted.length) {
      h = fnvMix(h, labelKeys(sorted(i)).getBytes(StandardCharsets.UTF_8))
      h = fnvMix(h, labelValues(sorted(i)).getBytes(StandardCharsets.UTF_8))
      i += 1
    }
    if (tenantId != null) h = fnvMix(h, tenantId.getBytes(StandardCharsets.UTF_8))
    String.format("hex %016x", java.lang.Long.valueOf(h))
  }

  /** Unsigned UTF-8 byte-order comparison (== Go string compare). */
  def compareUtf8(a: String, b: String): Int = {
    val ab = a.getBytes(StandardCharsets.UTF_8)
    val bb = b.getBytes(StandardCharsets.UTF_8)
    var i = 0
    val n = math.min(ab.length, bb.length)
    while (i < n) {
      val c = (ab(i) & 0xff) - (bb(i) & 0xff)
      if (c != 0) return c
      i += 1
    }
    ab.length - bb.length
  }

  // ---------------------------------------------------------------------------
  // Snappy block codec (Go snappy.Encode/Decode == raw block format)
  // ---------------------------------------------------------------------------

  def snappyCompress(data: Array[Byte]): Array[Byte] =
    org.xerial.snappy.Snappy.compress(data)

  /** Returns null on corrupt input (produce.go:132-137 -> HTTP 400). */
  def snappyUncompress(data: Array[Byte]): Array[Byte] =
    try org.xerial.snappy.Snappy.uncompress(data)
    catch { case _: Exception => null }

  // ---------------------------------------------------------------------------
  // prompb wire codec (hand-rolled proto3: WriteRequest/TimeSeries/Label/Sample)
  // ---------------------------------------------------------------------------
  // message WriteRequest { repeated TimeSeries timeseries = 1; }
  // message TimeSeries  { repeated Label labels = 1; repeated Sample samples = 2; }
  // message Label       { string name = 1; string value = 2; }
  // message Sample      { double value = 1; int64 timestamp = 2; }
  // (prompb as unmarshalled at produce.go:139-144, built at remote/write.go:269-284)

  final case class PbLabel(name: String, value: String)
  final case class PbSample(value: Double, timestamp: Long)
  final case class PbTimeSeries(labels: Seq[PbLabel], samples: Seq[PbSample])
  final case class PbWriteRequest(timeseries: Seq[PbTimeSeries])

  private final class ProtoWriter {
    val out = new java.io.ByteArrayOutputStream(256)
    def varint(v0: Long): Unit = {
      var v = v0
      while ((v & ~0x7fL) != 0) { out.write(((v & 0x7f) | 0x80).toInt); v >>>= 7 }
      out.write(v.toInt)
    }
    def tag(field: Int, wire: Int): Unit = varint((field << 3) | wire)
    def bytes(field: Int, b: Array[Byte]): Unit = { tag(field, 2); varint(b.length); out.write(b, 0, b.length) }
    def string(field: Int, s: String): Unit = if (s.nonEmpty) bytes(field, s.getBytes(StandardCharsets.UTF_8))
    def fixed64(field: Int, v: Long): Unit = {
      tag(field, 1)
      var i = 0; var x = v
      while (i < 8) { out.write((x & 0xff).toInt); x >>>= 8; i += 1 }
    }
    def result(): Array[Byte] = out.toByteArray
  }

  def encodeWriteRequest(req: PbWriteRequest): Array[Byte] = {
    val w = new ProtoWriter
    req.timeseries.foreach { ts => w.bytes(1, encodeTimeSeries(ts)) }
    w.result()
  }

  /** One sample as its `WriteRequest.timeseries` entry: tag 1, length, then
    * a single-sample TimeSeries (remote/write.go:269-284). `names` must be
    * sorted by [[compareUtf8]], `values` parallel to them. A repeated field
    * concatenates, so a batch's entries joined ARE its WriteRequest.
    */
  def seriesEntry(names: Array[String], values: Array[String], value: Double,
      timestampMs: Long): Array[Byte] =
    encodeWriteRequest(PbWriteRequest(Seq(PbTimeSeries(
      names.indices.map(i => PbLabel(names(i), values(i))),
      Seq(PbSample(value, timestampMs))))))

  private def encodeTimeSeries(ts: PbTimeSeries): Array[Byte] = {
    val w = new ProtoWriter
    ts.labels.foreach { l =>
      val lw = new ProtoWriter
      lw.string(1, l.name); lw.string(2, l.value)
      w.bytes(1, lw.result())
    }
    ts.samples.foreach { s =>
      val sw = new ProtoWriter
      // proto3 default-omission: 0 (incl. -0.0, Go: m.Value != 0) not emitted
      if (s.value != 0.0d) sw.fixed64(1, java.lang.Double.doubleToLongBits(s.value))
      if (s.timestamp != 0L) { sw.tag(2, 0); sw.varint(s.timestamp) }
      w.bytes(2, sw.result())
    }
    w.result()
  }

  private final class ProtoReader(buf: Array[Byte], start: Int, end: Int) {
    var pos: Int = start
    def hasMore: Boolean = pos < end
    def varint(): Long = {
      var shift = 0; var r = 0L
      while (true) {
        val b = buf(pos); pos += 1
        r |= (b & 0x7fL) << shift
        if ((b & 0x80) == 0) return r
        shift += 7
      }
      r
    }
    def fixed64(): Long = {
      var r = 0L; var i = 0
      while (i < 8) { r |= (buf(pos) & 0xffL) << (8 * i); pos += 1; i += 1 }
      r
    }
    def lenDelim(): (Int, Int) = {
      val len = varint().toInt
      val s = pos; pos += len
      (s, s + len)
    }
    def skip(wire: Int): Unit = wire match {
      case 0 => varint()
      case 1 => pos += 8
      case 2 => val len = varint().toInt; pos += len
      case 5 => pos += 4
      case other => throw new IllegalArgumentException(s"wire type $other")
    }
  }

  /** Returns null on malformed input (produce.go:139-144 -> HTTP 400). */
  def decodeWriteRequest(data: Array[Byte]): PbWriteRequest = {
    try {
      val r = new ProtoReader(data, 0, data.length)
      val series = scala.collection.mutable.ArrayBuffer.empty[PbTimeSeries]
      while (r.hasMore) {
        val t = r.varint()
        if ((t >> 3) == 1 && (t & 7) == 2) {
          val (s, e) = r.lenDelim()
          series += decodeTimeSeries(data, s, e)
        } else r.skip((t & 7).toInt)
      }
      PbWriteRequest(series.toSeq)
    } catch { case _: Exception => null }
  }

  private def decodeTimeSeries(buf: Array[Byte], start: Int, end: Int): PbTimeSeries = {
    val r = new ProtoReader(buf, start, end)
    val labels = scala.collection.mutable.ArrayBuffer.empty[PbLabel]
    val samples = scala.collection.mutable.ArrayBuffer.empty[PbSample]
    while (r.hasMore) {
      val t = r.varint()
      ((t >> 3).toInt, (t & 7).toInt) match {
        case (1, 2) =>
          val (s, e) = r.lenDelim()
          val lr = new ProtoReader(buf, s, e)
          var name = ""; var value = ""
          while (lr.hasMore) {
            val lt = lr.varint()
            ((lt >> 3).toInt, (lt & 7).toInt) match {
              case (1, 2) => val (ls, le) = lr.lenDelim(); name = new String(buf, ls, le - ls, StandardCharsets.UTF_8)
              case (2, 2) => val (ls, le) = lr.lenDelim(); value = new String(buf, ls, le - ls, StandardCharsets.UTF_8)
              case (_, w) => lr.skip(w)
            }
          }
          labels += PbLabel(name, value)
        case (2, 2) =>
          val (s, e) = r.lenDelim()
          val sr = new ProtoReader(buf, s, e)
          var v = 0.0d; var ts = 0L
          while (sr.hasMore) {
            val st = sr.varint()
            ((st >> 3).toInt, (st & 7).toInt) match {
              case (1, 1) => v = java.lang.Double.longBitsToDouble(sr.fixed64())
              case (2, 0) => ts = sr.varint()
              case (_, w) => sr.skip(w)
            }
          }
          samples += PbSample(v, ts)
        case (_, w) => r.skip(w)
      }
    }
    PbTimeSeries(labels.toSeq, samples.toSeq)
  }

  // ---------------------------------------------------------------------------
  // 64-bit polynomial rolling fingerprint (document fingerprinting, north-star)
  // ---------------------------------------------------------------------------

  /** Deterministic rolling hash h = h*31 + codePoint (mod 2^64) over the
    * string's UTF-8 bytes — SQL-parity expressible (DuckDB list_reduce).
    */
  def fingerprint64(s: String): Long = {
    val bytes = s.getBytes(StandardCharsets.UTF_8)
    var h = 0L
    var i = 0
    while (i < bytes.length) { h = h * 31L + (bytes(i) & 0xffL); i += 1 }
    h
  }

  // ---------------------------------------------------------------------------
  // 64-bit SimHash (near-duplicate fingerprinting, north-star)
  // ---------------------------------------------------------------------------

  private val md5Digest = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** Distinct word n-gram shingles of `text` (whitespace-split, Spark
    * `split(text, ' ')` parity incl. kept trailing empties), each reduced to
    * its 60-bit md5-prefix value — EXACTLY the value the expression chain
    * `conv(substring(md5(shingle), 1, 15), 16, 10)` produces, so DuckDB
    * oracles built on the md5 prefix keep matching. One pass, no per-shingle
    * string columns in the plan: the explode downstream moves 8-byte longs.
    * Distinctness is by shingle STRING (first occurrence kept), mirroring
    * `array_distinct` on the string shingles.
    */
  def shingleG(text: String, n: Int): Array[Long] = {
    val w = text.split(" ", -1)
    if (w.length < n) return Array.emptyLongArray
    val seen = new java.util.LinkedHashSet[String]()
    var i = 0
    while (i <= w.length - n) {
      val sb = new java.lang.StringBuilder()
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(w(i + j))
        j += 1
      }
      seen.add(sb.toString)
      i += 1
    }
    val md = md5Digest.get()
    val out = new Array[Long](seen.size)
    var k = 0
    val it = seen.iterator()
    while (it.hasNext) {
      md.reset()
      val h = md.digest(it.next().getBytes(StandardCharsets.UTF_8))
      var v = 0L
      var b = 0
      while (b < 8) { v = (v << 8) | (h(b) & 0xffL); b += 1 }
      out(k) = v >>> 4 // first 15 hex nibbles = top 60 bits
      k += 1
    }
    out
  }

  /** All word n-grams of `text` (with repeats, document order) as 60-bit
    * md5-prefix values — the frequency-carrying sibling of [[shingleG]] for
    * operators that weight by occurrence (bigram LM scoring). Value-equal to
    * mapping each n-gram string through conv(substring(md5(s),1,15),16,10).
    */
  def ngramG(text: String, n: Int): Array[Long] = {
    val w = text.split(" ", -1)
    if (w.length < n) return Array.emptyLongArray
    val md = md5Digest.get()
    val out = new Array[Long](w.length - n + 1)
    var i = 0
    while (i <= w.length - n) {
      val sb = new java.lang.StringBuilder()
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(w(i + j))
        j += 1
      }
      md.reset()
      val h = md.digest(sb.toString.getBytes(StandardCharsets.UTF_8))
      var v = 0L
      var b = 0
      while (b < 8) { v = (v << 8) | (h(b) & 0xffL); b += 1 }
      out(i) = v >>> 4
      i += 1
    }
    out
  }

  /** Frequency-weighted 64-bit SimHash over whitespace tokens, returned as a
    * 64-char bitstring (MSB first). Per token: md5, take the first 64 bits
    * big-endian; bit j votes +1/-1 on counter j; output bit = counter > 0
    * (strict). Token split mirrors Spark `split(text, ' ')` (regex, trailing
    * empties kept), so results are identical to the exploded-token formulation
    * — but computed in one narrow per-row pass with no explode/shuffle.
    */
  def simhash64(text: String): String = {
    val md = md5Digest.get()
    val counters = new Array[Int](64)
    val tokens = text.split(" ", -1)
    var t = 0
    while (t < tokens.length) {
      md.reset()
      val h = md.digest(tokens(t).getBytes(StandardCharsets.UTF_8))
      var v = 0L
      var b = 0
      while (b < 8) { v = (v << 8) | (h(b) & 0xffL); b += 1 }
      var j = 0
      while (j < 64) {
        counters(j) += (((v >>> (63 - j)) & 1L).toInt * 2) - 1
        j += 1
      }
      t += 1
    }
    val sb = new java.lang.StringBuilder(64)
    var j = 0
    while (j < 64) { sb.append(if (counters(j) > 0) '1' else '0'); j += 1 }
    sb.toString
  }
}
