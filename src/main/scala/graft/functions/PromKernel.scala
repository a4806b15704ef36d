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
      // exponent). Without one it is already plain and only its trailing
      // fraction zeros go; with one, BigDecimal re-renders it plain.
      val s = java.lang.Double.toString(d)
      if (s.indexOf('E') < 0) {
        var end = s.length
        while (s.charAt(end - 1) == '0') end -= 1
        if (s.charAt(end - 1) == '.') end -= 1
        s.substring(0, end)
      } else new BigDecimal(s).stripTrailingZeros().toPlainString
    }
  }

  /** prometheus model.Time.String(): milliseconds rendered as fractional
    * seconds, shortest form (`10001` ms -> "10.001", `0` -> "0").
    * Exact integer arithmetic — no float round-trip.
    */
  def secondsString(ms: Long): String = {
    if (ms == Long.MinValue) return BigDecimal.valueOf(ms, 3).stripTrailingZeros().toPlainString
    val abs = math.abs(ms)
    val sb = new java.lang.StringBuilder(24)
    if (ms < 0) sb.append('-')
    sb.append(abs / 1000L)
    appendMillisFraction(sb, (abs % 1000L).toInt)
    sb.toString
  }

  /** `.ddd` with trailing zeros trimmed; nothing for 0. */
  private def appendMillisFraction(sb: java.lang.StringBuilder, millis: Int): Unit =
    if (millis != 0) {
      sb.append('.').append((millis / 100 + '0').toChar)
      if (millis % 100 != 0) {
        sb.append(((millis / 10) % 10 + '0').toChar)
        if (millis % 10 != 0) sb.append((millis % 10 + '0').toChar)
      }
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
    appendMillisFraction(sb, java.lang.Math.floorMod(ms, 1000L).toInt)
    sb.append('Z')
    sb.toString
  }

  private def pad2(sb: java.lang.StringBuilder, v: Int): Unit = {
    if (v < 10) sb.append('0')
    sb.append(v)
  }
  /** Go's long year: a year before 0 gets a sign, then at least 4 digits. */
  private def pad4(sb: java.lang.StringBuilder, v: Int): Unit = {
    if (v < 0) sb.append('-')
    val a = math.abs(v)
    if (a < 1000) sb.append(("000" + a).takeRight(4)) else sb.append(a)
  }

  /** Go `time.Parse(RFC3339)` then `model.TimeFromUnixNano` (serializers.go:55):
    * returns epoch ms, truncating sub-ms. Throws on malformed input (callers
    * that need poison-skip catch and null out), which includes a year that
    * is not four unsigned digits: Go rejects it, though java.time reads
    * `-0005` and `+10000`.
    */
  def parseRfc3339ToMs(s: String): Long = {
    require(s.length > 4 && s.charAt(4) == '-' && s.take(4).forall(c => c >= '0' && c <= '9'),
      s"not a four-digit year: $s")
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
  // Serializers: one series stage, one sample fill
  // ---------------------------------------------------------------------------
  // The label-dependent work runs once per series: sort the labels
  // ([[Labels]]), hash the partition key ([[keyOf]]) and render everything of
  // the payload but the timestamp and the value ([[payloadTemplate]]). Each
  // sample then only renders those two into the template ([[fillPayload]]).
  // Every format (json, json-compat, avro-json-compat with any schema) is one
  // template shape, so this pair is the only serializer.

  /** One series' labels as UTF-8 bytes, sorted by name in byte order (Go
    * sort.Strings; Go json.Marshal sorts map keys the same way), a repeated
    * name keeping its last value (the Go map assignment in protoToSamples,
    * produce.go:187-204). Built by [[Labels.apply]].
    */
  final class Labels private (val names: Array[Array[Byte]],
      val values: Array[Array[Byte]], val size: Int)

  object Labels {
    /** The first `n` (name, value) pairs. Input already in strictly
      * ascending name order, which is what Prometheus sends, costs one
      * compare pass and is kept as given.
      */
    def apply(names: Array[Array[Byte]], values: Array[Array[Byte]], n: Int): Labels = {
      var i = 1
      while (i < n && compareBytes(names(i - 1), names(i)) < 0) i += 1
      if (i >= n) return new Labels(names, values, n)
      // stable sort, so equal names keep arrival order and the last one wins
      val idx = Array.tabulate[Integer](n)(Integer.valueOf)
      java.util.Arrays.sort(idx, new java.util.Comparator[Integer] {
        def compare(a: Integer, b: Integer): Int = compareBytes(names(a), names(b))
      })
      val ns = new Array[Array[Byte]](n)
      val vs = new Array[Array[Byte]](n)
      var out = 0
      i = 0
      while (i < n) {
        val k = idx(i).intValue
        if (out > 0 && java.util.Arrays.equals(ns(out - 1), names(k))) vs(out - 1) = values(k)
        else { ns(out) = names(k); vs(out) = values(k); out += 1 }
        i += 1
      }
      new Labels(ns, vs, out)
    }

    def ofStrings(names: Array[String], values: Array[String]): Labels =
      apply(names.map(utf8), values.map(utf8), names.length)
  }

  private def utf8(s: String): Array[Byte] =
    if (s == null) Array.emptyByteArray else s.getBytes(StandardCharsets.UTF_8)

  /** Unsigned byte-order comparison (== Go string compare on UTF-8). */
  def compareBytes(a: Array[Byte], b: Array[Byte]): Int =
    java.util.Arrays.compareUnsigned(a, b)

  /** `b[start, end)` as what `new String(_, UTF_8)` makes of it, re-encoded
    * (U+FFFD for each malformed sequence), so byte-level label work sees
    * what the String-level reference saw: ASCII is kept as is (no copy when
    * the range is all of `b`), anything else goes through `new String`.
    */
  def utf8Clean(b: Array[Byte], start: Int, end: Int): Array[Byte] = {
    var i = start
    while (i < end && b(i) >= 0) i += 1
    if (i < end) new String(b, start, end - start, StandardCharsets.UTF_8).getBytes(StandardCharsets.UTF_8)
    else if (start == 0 && end == b.length) b
    else java.util.Arrays.copyOfRange(b, start, end)
  }

  def utf8Clean(b: Array[Byte]): Array[Byte] = utf8Clean(b, 0, b.length)

  /** Produce-path wire formats (serializers.go). [[AvroFormat]] renders the
    * fields of an [[AvroJsonSchema.Parsed.spec]]; the built-in
    * avro-json-compat is [[AvroJsonSchema.DefaultSpec]].
    */
  final val JsonFormat = 0
  final val CompatFormat = 1
  final val AvroFormat = 2

  // hole kinds of a payload template
  private final val HoleSeconds = 1
  private final val HoleRfc3339 = 2
  private final val HoleValue = 3

  /** Payload bytes with holes. [[result]] lays it out as
    * `[holes][kind, position: int32 BE]*holes literal`, positions ascending
    * and relative to the literal.
    */
  private final class TemplateBuilder {
    private var buf = new Array[Byte](256)
    private var len = 0
    private val holes = new java.io.ByteArrayOutputStream(16)
    private var nHoles = 0

    private def ensure(extra: Int): Unit =
      if (len + extra > buf.length)
        buf = java.util.Arrays.copyOf(buf, math.max(buf.length * 2, len + extra))

    def byte(b: Int): Unit = { ensure(1); buf(len) = b.toByte; len += 1 }

    def ascii(s: String): Unit = {
      ensure(s.length)
      var i = 0
      while (i < s.length) { buf(len) = s.charAt(i).toByte; len += 1; i += 1 }
    }

    def hole(kind: Int): Unit = {
      holes.write(kind)
      holes.write(len >>> 24); holes.write(len >>> 16); holes.write(len >>> 8); holes.write(len)
      nHoles += 1
    }

    /** A quoted hole: every hole renders ASCII that JSON leaves unescaped. */
    def quotedHole(kind: Int): Unit = { byte('"'); hole(kind); byte('"') }

    /** Go `encoding/json` string escaping over UTF-8 bytes (incl. the
      * HTML-safe `<`, `>`, `&` and U+2028/U+2029), so payloads are
      * byte-identical to the reference's output.
      */
    def json(b: Array[Byte]): Unit = {
      ensure(b.length + 2)
      buf(len) = '"'; len += 1
      var i = 0
      while (i < b.length) {
        val c = b(i) & 0xff
        c match {
          case '"' => ascii("\\\"")
          case '\\' => ascii("\\\\")
          case '\n' => ascii("\\n")
          case '\r' => ascii("\\r")
          case '\t' => ascii("\\t")
          case '<' => ascii("\\u003c")
          case '>' => ascii("\\u003e")
          case '&' => ascii("\\u0026")
          case 0xe2 if i + 2 < b.length && b(i + 1) == 0x80.toByte &&
              (b(i + 2) == 0xa8.toByte || b(i + 2) == 0xa9.toByte) =>
            ascii(if (b(i + 2) == 0xa8.toByte) "\\u2028" else "\\u2029")
            i += 2
          case cc if cc < ' ' =>
            ascii("\\u00"); byte(Character.forDigit(cc >> 4, 16)); byte(Character.forDigit(cc & 0xf, 16))
          case _ => byte(c)
        }
        i += 1
      }
      byte('"')
    }

    def labelObject(l: Labels): Unit = {
      byte('{')
      var i = 0
      while (i < l.size) {
        if (i > 0) byte(',')
        json(l.names(i)); byte(':'); json(l.values(i))
        i += 1
      }
      byte('}')
    }

    def result(): Array[Byte] = {
      val out = new Array[Byte](1 + 5 * nHoles + len)
      out(0) = nHoles.toByte
      System.arraycopy(holes.toByteArray, 0, out, 1, 5 * nHoles)
      System.arraycopy(buf, 0, out, 1 + 5 * nHoles, len)
      out
    }
  }

  private val MetricName = utf8("__name__")

  /** The `__name__` value, "" when absent (serializers.go:69-80). */
  private def nameOf(l: Labels): Array[Byte] = {
    var i = 0
    while (i < l.size) {
      if (java.util.Arrays.equals(l.names(i), MetricName)) return l.values(i)
      i += 1
    }
    Array.emptyByteArray
  }

  /** Series stage of the serializer: the payload of every sample of the
    * series, with the timestamp and the value left as holes for
    * [[fillPayload]].
    *  - json (serializers.go:116-131): Go json.Marshal of Sample —
    *    `{"value":[<sec>,"<val>"],"metric":{...},"tenant_id":...}`, `metric`
    *    omitted when empty, `tenant_id` when "".
    *  - json-compat (serializers.go:69-80,137-147): the key-sorted compat map
    *    — labels, name, [tenant_id], timestamp, value; tenant_id only when
    *    non-empty.
    *  - avro-json-compat (serializers.go:183-222): the spec's fields in
    *    schema order; tenant_id "" takes the field's default, and a field
    *    with no default fails like goavro's validation.
    */
  def payloadTemplate(format: Int, avroSpec: String, l: Labels, tenant: Array[Byte]): Array[Byte] = {
    val t = new TemplateBuilder
    format match {
      case JsonFormat =>
        t.ascii("{\"value\":["); t.hole(HoleSeconds); t.byte(','); t.quotedHole(HoleValue); t.byte(']')
        if (l.size > 0) { t.ascii(",\"metric\":"); t.labelObject(l) }
        if (tenant.length > 0) { t.ascii(",\"tenant_id\":"); t.json(tenant) }
      case CompatFormat =>
        t.ascii("{\"labels\":"); t.labelObject(l)
        t.ascii(",\"name\":"); t.json(nameOf(l))
        if (tenant.length > 0) { t.ascii(",\"tenant_id\":"); t.json(tenant) }
        t.ascii(",\"timestamp\":"); t.quotedHole(HoleRfc3339)
        t.ascii(",\"value\":"); t.quotedHole(HoleValue)
      case AvroFormat =>
        t.byte('{')
        avroSpec.split(",", -1).iterator.zipWithIndex.foreach { case (f, i) =>
          val eq = f.indexOf('=')
          val name = if (eq >= 0) f.substring(0, eq) else f
          if (i > 0) t.byte(',')
          t.json(utf8(name)); t.byte(':')
          name match {
            case "timestamp" => t.quotedHole(HoleRfc3339)
            case "value" => t.quotedHole(HoleValue)
            case "name" => t.json(nameOf(l))
            case "labels" => t.labelObject(l)
            case "tenant_id" =>
              if (tenant.length > 0) t.json(tenant)
              else if (eq >= 0) t.json(utf8(f.substring(eq + 1)))
              else throw new IllegalStateException(
                "tenant_id absent and schema has no default (goavro would reject)")
          }
        }
    }
    t.byte('}')
    t.result()
  }

  /** Sample stage of the serializer: the template of the sample's series
    * ([[payloadTemplate]]) with the timestamp and the value rendered into
    * its holes.
    */
  def fillPayload(template: Array[Byte], timestampMs: Long, value: Double): Array[Byte] = {
    val holes = template(0).toInt
    val lit = 1 + 5 * holes
    val parts = Array.tabulate(holes) { h =>
      template(1 + 5 * h) match {
        case HoleSeconds => secondsString(timestampMs)
        case HoleRfc3339 => rfc3339Nano(timestampMs)
        case _ => valueString(value)
      }
    }
    val out = new Array[Byte](template.length - lit + parts.iterator.map(_.length).sum)
    var src = lit
    var dst = 0
    var h = 0
    while (h < holes) {
      val p = 2 + 5 * h
      val at = lit + (((template(p) & 0xff) << 24) | ((template(p + 1) & 0xff) << 16) |
        ((template(p + 2) & 0xff) << 8) | (template(p + 3) & 0xff))
      System.arraycopy(template, src, out, dst, at - src)
      dst += at - src
      src = at
      val s = parts(h)
      var i = 0
      while (i < s.length) { out(dst) = s.charAt(i).toByte; dst += 1; i += 1 }
      h += 1
    }
    System.arraycopy(template, src, out, dst, template.length - src)
    out
  }

  /** One sample through the series stage and the fill. */
  private def serializeSample(format: Int, avroSpec: String, timestampMs: Long, value: Double,
      labelKeys: Array[String], labelValues: Array[String], tenantId: String): String =
    new String(fillPayload(payloadTemplate(format, avroSpec,
      Labels.ofStrings(labelKeys, labelValues), utf8(tenantId)), timestampMs, value),
      StandardCharsets.UTF_8)

  /** Default `json` serializer over parallel label arrays. */
  def promJson(
      timestampMs: Long,
      value: Double,
      labelKeys: Array[String],
      labelValues: Array[String],
      tenantId: String): String =
    serializeSample(JsonFormat, null, timestampMs, value, labelKeys, labelValues, tenantId)

  /** `json-compat` serializer; `avroMode=true` is the built-in
    * avro-json-compat codec (schema field order, tenant_id always present).
    */
  def compatJson(
      timestampMs: Long,
      value: Double,
      labelKeys: Array[String],
      labelValues: Array[String],
      tenantId: String,
      avroMode: Boolean): String =
    serializeSample(if (avroMode) AvroFormat else CompatFormat, AvroJsonSchema.DefaultSpec,
      timestampMs, value, labelKeys, labelValues, tenantId)

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
      // Go's json.Unmarshal rejects anything after the value
      require(p.nextToken() == null)
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
      // Go's json.Unmarshal rejects anything after the value
      require(p.nextToken() == null)
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

  /** Byte-compat partition key: FNV-1 64 over (sorted non-replica label name
    * bytes ++ value bytes)* ++ tenant bytes, as the ASCII bytes of
    * `"hex %016x"`.
    */
  def keyOf(l: Labels, tenant: Array[Byte], replicaLabels: Array[Array[Byte]]): Array[Byte] = {
    var h = FnvOffset
    var i = 0
    while (i < l.size) {
      var replica = false
      var r = 0
      while (!replica && r < replicaLabels.length) {
        replica = java.util.Arrays.equals(l.names(i), replicaLabels(r))
        r += 1
      }
      if (!replica) h = fnvMix(fnvMix(h, l.names(i)), l.values(i))
      i += 1
    }
    h = fnvMix(h, tenant)
    val out = new Array[Byte](20)
    out(0) = 'h'; out(1) = 'e'; out(2) = 'x'; out(3) = ' '
    i = 0
    while (i < 16) {
      out(4 + i) = Character.forDigit(((h >>> (60 - 4 * i)) & 0xf).toInt, 16).toByte
      i += 1
    }
    out
  }

  /** [[keyOf]] over parallel String arrays. */
  def seriesKey(
      labelKeys: Array[String],
      labelValues: Array[String],
      tenantId: String,
      replicaLabels: Array[String]): String =
    new String(keyOf(Labels.ofStrings(labelKeys, labelValues), utf8(tenantId),
      replicaLabels.map(utf8)), StandardCharsets.US_ASCII)

  // ---------------------------------------------------------------------------
  // Snappy block codec (Go snappy.Encode/Decode == raw block format)
  // ---------------------------------------------------------------------------

  def snappyCompress(data: Array[Byte]): Array[Byte] =
    org.xerial.snappy.Snappy.compress(data)

  /** The largest decompressed body taken: the block header declares its
    * own length, and a 7-byte body can declare 2 GiB.
    */
  val MaxUncompressedBytes: Int = 64 << 20

  /** Returns null on corrupt input (produce.go:132-137 -> HTTP 400), and on
    * a declared length past [[MaxUncompressedBytes]], before allocating it.
    */
  def snappyUncompress(data: Array[Byte]): Array[Byte] =
    try {
      if (org.xerial.snappy.Snappy.uncompressedLength(data) > MaxUncompressedBytes) null
      else org.xerial.snappy.Snappy.uncompress(data)
    } catch { case _: Exception => null }

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
    * a single-sample TimeSeries (remote/write.go:269-284), labels sorted by
    * name in UTF-8 byte order; `values` parallel to `names`. A repeated
    * field concatenates, so a batch's entries joined ARE its WriteRequest.
    */
  def seriesEntry(names: Array[String], values: Array[String], value: Double,
      timestampMs: Long): Array[Byte] = {
    val keys = names.map(utf8)
    val order = names.indices.sortWith((a, b) => compareBytes(keys(a), keys(b)) < 0)
    encodeWriteRequest(PbWriteRequest(Seq(PbTimeSeries(
      order.map(i => PbLabel(names(i), values(i))),
      Seq(PbSample(value, timestampMs))))))
  }

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

  /** What a walk over a WriteRequest ([[walkWriteRequest]]) reports, in wire
    * order: each TimeSeries opens with `series`, then its labels (the byte
    * ranges of name and value in `buf`; an absent field is an empty range)
    * and samples as they appear, and closes with `endSeries`.
    */
  abstract class WriteRequestVisitor {
    def series(): Unit = ()
    def label(buf: Array[Byte], nameStart: Int, nameEnd: Int, valueStart: Int, valueEnd: Int): Unit = ()
    def sample(value: Double, timestampMs: Long): Unit = ()
    def endSeries(): Unit = ()
  }

  private object Malformed extends RuntimeException(null, null, false, false)

  /** One pass over a proto body; every read is bounded by the enclosing
    * message, so a length that overruns it, a truncated field, a varint
    * longer than 10 bytes or a group wire type is malformed (Go's
    * proto.Unmarshal rejects the same).
    */
  private final class Walker(buf: Array[Byte], v: WriteRequestVisitor) {
    private var pos = 0

    private def varint(end: Int): Long = {
      var shift = 0
      var r = 0L
      while (shift < 64) {
        if (pos >= end) throw Malformed
        val b = buf(pos); pos += 1
        r |= (b & 0x7fL) << shift
        if ((b & 0x80) == 0) return r
        shift += 7
      }
      throw Malformed
    }

    /** A length-delimited field's length, checked against `end`. */
    private def length(end: Int): Int = {
      val n = varint(end)
      if (n < 0 || n > end - pos) throw Malformed
      n.toInt
    }

    private def advance(n: Int, end: Int): Unit = {
      if (n > end - pos) throw Malformed
      pos += n
    }

    private def skip(wire: Int, end: Int): Unit = wire match {
      case 0 => varint(end)
      case 1 => advance(8, end)
      case 2 => advance(length(end), end)
      case 5 => advance(4, end)
      case _ => throw Malformed
    }

    def writeRequest(): Unit = {
      val end = buf.length
      while (pos < end) {
        val t = varint(end)
        if (t == 0x0aL) { val n = length(end); timeSeries(pos + n) }
        else skip((t & 7).toInt, end)
      }
    }

    private def timeSeries(end: Int): Unit = {
      v.series()
      while (pos < end) {
        val t = varint(end)
        if (t == 0x0aL) { val n = length(end); label(pos + n) }
        else if (t == 0x12L) { val n = length(end); sample(pos + n) }
        else skip((t & 7).toInt, end)
      }
      v.endSeries()
    }

    private def label(end: Int): Unit = {
      var ns = 0; var ne = 0; var vs = 0; var ve = 0
      while (pos < end) {
        val t = varint(end)
        if (t == 0x0aL) { val n = length(end); ns = pos; ne = pos + n; pos = ne }
        else if (t == 0x12L) { val n = length(end); vs = pos; ve = pos + n; pos = ve }
        else skip((t & 7).toInt, end)
      }
      v.label(buf, ns, ne, vs, ve)
    }

    private def sample(end: Int): Unit = {
      var value = 0.0d; var ts = 0L
      while (pos < end) {
        val t = varint(end)
        if (t == 0x09L) {
          if (end - pos < 8) throw Malformed
          var r = 0L; var i = 0
          while (i < 8) { r |= (buf(pos) & 0xffL) << (8 * i); pos += 1; i += 1 }
          value = java.lang.Double.longBitsToDouble(r)
        } else if (t == 0x10L) ts = varint(end)
        else skip((t & 7).toInt, end)
      }
      v.sample(value, ts)
    }
  }

  /** Walks a WriteRequest once, reporting it to `v`; false when malformed
    * (produce.go:139-144 -> HTTP 400). The receiver's validation
    * ([[validWriteRequest]]), [[decodeWriteRequest]] and the query's
    * Catalyst decoder all walk through here, so they cannot disagree on
    * what is malformed.
    */
  def walkWriteRequest(data: Array[Byte], v: WriteRequestVisitor): Boolean =
    try { new Walker(data, v).writeRequest(); true }
    catch { case Malformed => false }

  /** Whether `data` is a well-formed WriteRequest, building nothing. */
  def validWriteRequest(data: Array[Byte]): Boolean =
    walkWriteRequest(data, new WriteRequestVisitor {})

  /** Returns null on malformed input (produce.go:139-144 -> HTTP 400).
    * Strings decode like Go's: invalid UTF-8 becomes U+FFFD.
    */
  def decodeWriteRequest(data: Array[Byte]): PbWriteRequest = {
    val out = scala.collection.mutable.ArrayBuffer.empty[PbTimeSeries]
    var labels = scala.collection.mutable.ArrayBuffer.empty[PbLabel]
    var samples = scala.collection.mutable.ArrayBuffer.empty[PbSample]
    val ok = walkWriteRequest(data, new WriteRequestVisitor {
      override def series(): Unit = {
        labels = scala.collection.mutable.ArrayBuffer.empty
        samples = scala.collection.mutable.ArrayBuffer.empty
      }
      override def label(buf: Array[Byte], ns: Int, ne: Int, vs: Int, ve: Int): Unit =
        labels += PbLabel(new String(buf, ns, ne - ns, StandardCharsets.UTF_8),
          new String(buf, vs, ve - vs, StandardCharsets.UTF_8))
      override def sample(value: Double, timestampMs: Long): Unit =
        samples += PbSample(value, timestampMs)
      override def endSeries(): Unit = out += PbTimeSeries(labels.toSeq, samples.toSeq)
    })
    if (ok) PbWriteRequest(out.toSeq) else null
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
