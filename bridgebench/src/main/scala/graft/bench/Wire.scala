package graft.bench

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.UTF_8

import com.fasterxml.jackson.core.{JsonFactory, JsonToken}

/** The benchmark's own wire codecs: prompb encode/decode, the `json` topic
  * payload (Jackson) and the FNV-1 64 series key. They are written apart
  * from graft's codecs on purpose, so inputs are made and outputs are
  * checked without leaning on the code under test.
  */
object Wire {

  /** One sample with its series. `labels` is sorted by name. */
  final case class Sample(tenant: String, labels: Array[(String, String)],
      value: Double, ts: Long)

  final case class Series(labels: Array[(String, String)], points: Array[(Double, Long)])

  // ---- prompb (proto3: WriteRequest{1:TimeSeries}, TimeSeries{1:Label, 2:Sample}) ----

  private def varint(out: ByteArrayOutputStream, v0: Long): Unit = {
    var v = v0
    while ((v & ~0x7fL) != 0L) { out.write(((v & 0x7f) | 0x80).toInt); v >>>= 7 }
    out.write(v.toInt)
  }

  private def lenField(out: ByteArrayOutputStream, field: Int, b: Array[Byte]): Unit = {
    varint(out, (field << 3) | 2L); varint(out, b.length.toLong); out.write(b, 0, b.length)
  }

  private def fixed64(out: ByteArrayOutputStream, field: Int, v: Long): Unit = {
    varint(out, (field << 3) | 1L)
    var i = 0
    while (i < 8) { out.write(((v >>> (8 * i)) & 0xff).toInt); i += 1 }
  }

  def encodeWriteRequest(series: Seq[Series]): Array[Byte] = {
    val out = new ByteArrayOutputStream(series.size * 256)
    series.foreach { s =>
      val ts = new ByteArrayOutputStream(256)
      s.labels.foreach { case (k, v) =>
        val l = new ByteArrayOutputStream(k.length + v.length + 4)
        lenField(l, 1, k.getBytes(UTF_8)); lenField(l, 2, v.getBytes(UTF_8))
        lenField(ts, 1, l.toByteArray)
      }
      s.points.foreach { case (v, t) =>
        val p = new ByteArrayOutputStream(20)
        fixed64(p, 1, java.lang.Double.doubleToRawLongBits(v))
        varint(p, (2 << 3).toLong); varint(p, t)
        lenField(ts, 2, p.toByteArray)
      }
      lenField(out, 1, ts.toByteArray)
    }
    out.toByteArray
  }

  def snappy(raw: Array[Byte]): Array[Byte] = org.xerial.snappy.Snappy.compress(raw)
  def unsnappy(body: Array[Byte]): Array[Byte] = org.xerial.snappy.Snappy.uncompress(body)

  private final class Reader(buf: Array[Byte], var pos: Int, end: Int) {
    def more: Boolean = pos < end
    def varint(): Long = {
      var r = 0L; var shift = 0; var b = 0
      while ({ b = buf(pos) & 0xff; pos += 1; r |= (b & 0x7fL) << shift; shift += 7; b >= 0x80 }) ()
      r
    }
    def fixed64(): Long = {
      var r = 0L; var i = 0
      while (i < 8) { r |= (buf(pos + i) & 0xffL) << (8 * i); i += 1 }
      pos += 8; r
    }
    def sub(): Reader = { val n = varint().toInt; val r = new Reader(buf, pos, pos + n); pos += n; r }
    def string(): String = { val n = varint().toInt; val s = new String(buf, pos, n, UTF_8); pos += n; s }
    def skip(wire: Int): Unit = wire match {
      case 0 => varint()
      case 1 => pos += 8
      case 2 => pos += varint().toInt
      case 5 => pos += 4
      case w => throw new IllegalArgumentException(s"wire type $w")
    }
  }

  /** Decodes a WriteRequest; labels keep their wire order. */
  def decodeWriteRequest(raw: Array[Byte]): Vector[Series] = {
    val top = new Reader(raw, 0, raw.length)
    val out = Vector.newBuilder[Series]
    while (top.more) {
      val tag = top.varint().toInt
      if (tag >>> 3 == 1 && (tag & 7) == 2) {
        val ts = top.sub()
        val labels = Array.newBuilder[(String, String)]
        val points = Array.newBuilder[(Double, Long)]
        while (ts.more) {
          val t = ts.varint().toInt
          (t >>> 3, t & 7) match {
            case (1, 2) =>
              val l = ts.sub(); var k = ""; var v = ""
              while (l.more) {
                val lt = l.varint().toInt
                if (lt == ((1 << 3) | 2)) k = l.string()
                else if (lt == ((2 << 3) | 2)) v = l.string()
                else l.skip(lt & 7)
              }
              labels += (k -> v)
            case (2, 2) =>
              val p = ts.sub(); var v = 0.0; var time = 0L
              while (p.more) {
                val pt = p.varint().toInt
                if (pt == ((1 << 3) | 1)) v = java.lang.Double.longBitsToDouble(p.fixed64())
                else if (pt == (2 << 3)) time = p.varint()
                else p.skip(pt & 7)
              }
              points += (v -> time)
            case (_, w) => ts.skip(w)
          }
        }
        out += Series(labels.result(), points.result())
      } else top.skip(tag & 7)
    }
    out.result()
  }

  // ---- the `json` topic payload: {"value":[<sec>,"<val>"],"metric":{..},"tenant_id":".."} ----

  private val json = new JsonFactory()

  /** Go `strconv.FormatFloat(v, 'f', -1, 64)` as Prometheus prints values. */
  def goFloat(v: Double): String =
    if (v.isNaN) "NaN"
    else if (v == Double.PositiveInfinity) "+Inf"
    else if (v == Double.NegativeInfinity) "-Inf"
    else if (v == 0.0) { if (1.0 / v < 0) "-0" else "0" }
    else new java.math.BigDecimal(java.lang.Double.toString(v)).stripTrailingZeros().toPlainString

  def parseGoFloat(s: String): Double = s match {
    case "NaN" => Double.NaN
    case "+Inf" => Double.PositiveInfinity
    case "-Inf" => Double.NegativeInfinity
    case other => java.lang.Double.parseDouble(other)
  }

  def jsonPayload(s: Sample): Array[Byte] = {
    val out = new ByteArrayOutputStream(64 + s.labels.length * 32)
    val g = json.createGenerator(out)
    g.writeStartObject()
    g.writeArrayFieldStart("value")
    g.writeNumber(java.math.BigDecimal.valueOf(s.ts, 3).stripTrailingZeros().toPlainString)
    g.writeString(goFloat(s.value))
    g.writeEndArray()
    if (s.labels.nonEmpty) {
      g.writeObjectFieldStart("metric")
      s.labels.foreach { case (k, v) => g.writeStringField(k, v) }
      g.writeEndObject()
    }
    if (s.tenant.nonEmpty) g.writeStringField("tenant_id", s.tenant)
    g.writeEndObject()
    g.close()
    out.toByteArray
  }

  /** Parses a `json` payload; labels come back sorted by name. */
  def parseJsonPayload(b: Array[Byte]): Sample = {
    val p = json.createParser(b)
    var ts = Long.MinValue; var value = 0.0; var tenant = ""
    val labels = Array.newBuilder[(String, String)]
    require(p.nextToken() == JsonToken.START_OBJECT, "payload is not an object")
    while (p.nextToken() == JsonToken.FIELD_NAME) {
      p.currentName() match {
        case "value" =>
          require(p.nextToken() == JsonToken.START_ARRAY, "value is not an array")
          p.nextToken()
          ts = new java.math.BigDecimal(p.getText).movePointRight(3).longValueExact()
          require(p.nextToken() == JsonToken.VALUE_STRING, "value is not a string")
          value = parseGoFloat(p.getText)
          require(p.nextToken() == JsonToken.END_ARRAY, "value has extra fields")
        case "metric" =>
          require(p.nextToken() == JsonToken.START_OBJECT, "metric is not an object")
          while (p.nextToken() == JsonToken.FIELD_NAME) {
            val k = p.currentName(); p.nextToken(); labels += (k -> p.getText)
          }
        case "tenant_id" => p.nextToken(); tenant = p.getText
        case other => throw new IllegalArgumentException(s"unexpected field $other")
      }
    }
    p.close()
    require(ts != Long.MinValue, "payload has no value")
    Sample(tenant, labels.result().sortBy(_._1), value, ts)
  }

  // ---- FNV-1 64 series key over sorted non-replica labels ++ tenant ----

  def seriesKey(labels: Array[(String, String)], tenant: String, replica: String): String = {
    var h = 0xcbf29ce484222325L
    def mix(s: String): Unit = s.getBytes(UTF_8).foreach { b => h *= 0x100000001b3L; h ^= (b & 0xffL) }
    labels.filter(_._1 != replica).sortBy(_._1).foreach { case (k, v) => mix(k); mix(v) }
    mix(tenant)
    f"hex $h%016x"
  }
}
