package graft

import java.math.BigDecimal
import java.nio.charset.StandardCharsets

/** The produce path's serializer and decoder as they ran per sample before
  * the series stage existed, kept verbatim as the reference the series
  * stage + fill must reproduce byte for byte (SeriesTemplateSpec).
  * Labels arrive as a Scala map per sample — the sync writer path's
  * `.toMap`, so a repeated name keeps its last value — and are sorted
  * (String-level UTF-8 compare) for every use.
  */
object PerSampleReference {

  def valueString(d: Double): String = {
    if (java.lang.Double.isNaN(d)) "NaN"
    else if (d == java.lang.Double.POSITIVE_INFINITY) "+Inf"
    else if (d == java.lang.Double.NEGATIVE_INFINITY) "-Inf"
    else if (d == 0.0d) { if (1.0d / d < 0) "-0" else "0" }
    else new BigDecimal(java.lang.Double.toString(d)).stripTrailingZeros().toPlainString
  }

  def secondsString(ms: Long): String = BigDecimal.valueOf(ms, 3).stripTrailingZeros().toPlainString

  def rfc3339Nano(ms: Long): String = {
    val odt = java.time.OffsetDateTime.ofInstant(
      java.time.Instant.ofEpochMilli(ms), java.time.ZoneOffset.UTC)
    val sb = new java.lang.StringBuilder(30)
    def pad2(v: Int): Unit = { if (v < 10) sb.append('0'); sb.append(v) }
    val y = odt.getYear
    sb.append(if (y < 0) f"-${-y}%04d" else f"$y%04d") // Go: a sign before year 0
    sb.append('-'); pad2(odt.getMonthValue); sb.append('-'); pad2(odt.getDayOfMonth)
    sb.append('T'); pad2(odt.getHour); sb.append(':'); pad2(odt.getMinute)
    sb.append(':'); pad2(odt.getSecond)
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

  def appendJsonString(sb: java.lang.StringBuilder, s: String): Unit = {
    sb.append('"')
    var i = 0
    while (i < s.length) {
      s.charAt(i) match {
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

  /** The old `mapToSortedArrays`. */
  def sorted(labels: Map[String, String]): (Array[String], Array[String]) = {
    val keys = labels.keys.toArray.sortWith(compareUtf8(_, _) < 0)
    (keys, keys.map(labels))
  }

  private def labelObject(sb: java.lang.StringBuilder, keys: Array[String], values: Array[String]): Unit = {
    sb.append('{')
    var i = 0
    while (i < keys.length) {
      if (i > 0) sb.append(',')
      appendJsonString(sb, keys(i)); sb.append(':'); appendJsonString(sb, values(i))
      i += 1
    }
    sb.append('}')
  }

  private def nameOf(keys: Array[String], values: Array[String]): String = {
    var n = ""
    var i = 0
    while (i < keys.length) { if (keys(i) == "__name__") n = values(i); i += 1 }
    n
  }

  def promJson(ms: Long, value: Double, keys: Array[String], values: Array[String], tenant: String): String = {
    val sb = new java.lang.StringBuilder(64)
    sb.append("{\"value\":[").append(secondsString(ms)).append(',')
    appendJsonString(sb, valueString(value))
    sb.append(']')
    if (keys.length > 0) { sb.append(",\"metric\":"); labelObject(sb, keys, values) }
    if (tenant.nonEmpty) { sb.append(",\"tenant_id\":"); appendJsonString(sb, tenant) }
    sb.append('}')
    sb.toString
  }

  def compatJson(ms: Long, value: Double, keys: Array[String], values: Array[String],
      tenant: String, avroMode: Boolean): String = {
    val sb = new java.lang.StringBuilder(96)
    val name = nameOf(keys, values)
    if (avroMode) {
      sb.append("{\"timestamp\":"); appendJsonString(sb, rfc3339Nano(ms))
      sb.append(",\"value\":"); appendJsonString(sb, valueString(value))
      sb.append(",\"name\":"); appendJsonString(sb, name)
      sb.append(",\"labels\":"); labelObject(sb, keys, values)
      sb.append(",\"tenant_id\":"); appendJsonString(sb, tenant)
    } else {
      sb.append("{\"labels\":"); labelObject(sb, keys, values)
      sb.append(",\"name\":"); appendJsonString(sb, name)
      if (tenant.nonEmpty) { sb.append(",\"tenant_id\":"); appendJsonString(sb, tenant) }
      sb.append(",\"timestamp\":"); appendJsonString(sb, rfc3339Nano(ms))
      sb.append(",\"value\":"); appendJsonString(sb, valueString(value))
    }
    sb.append('}')
    sb.toString
  }

  /** The old `AvroJsonSchema.serialize` over a field spec. */
  def avroJson(spec: String, ms: Long, value: Double, keys: Array[String],
      values: Array[String], tenant: String): String = {
    val sb = new java.lang.StringBuilder(96)
    sb.append('{')
    var first = true
    spec.split(",", -1).foreach { f =>
      val eq = f.indexOf('=')
      val (name, default) = if (eq >= 0) (f.substring(0, eq), Some(f.substring(eq + 1))) else (f, None)
      if (!first) sb.append(',')
      first = false
      appendJsonString(sb, name)
      sb.append(':')
      name match {
        case "timestamp" => appendJsonString(sb, rfc3339Nano(ms))
        case "value" => appendJsonString(sb, valueString(value))
        case "name" => appendJsonString(sb, nameOf(keys, values))
        case "labels" => labelObject(sb, keys, values)
        case "tenant_id" =>
          if (tenant.nonEmpty) appendJsonString(sb, tenant)
          else appendJsonString(sb, default.getOrElse(throw new IllegalStateException("no default")))
      }
    }
    sb.append('}')
    sb.toString
  }

  /** serializer name (or avro spec) -> the old per-sample serializer. */
  def serialize(format: String, avroSpec: String, ms: Long, value: Double,
      labels: Map[String, String], tenant: String): String = {
    val (keys, values) = sorted(labels)
    format match {
      case "json" => promJson(ms, value, keys, values, tenant)
      case "json-compat" => compatJson(ms, value, keys, values, tenant, avroMode = false)
      case "avro-json-compat" => compatJson(ms, value, keys, values, tenant, avroMode = true)
      case _ => avroJson(avroSpec, ms, value, keys, values, tenant)
    }
  }

  def seriesKey(labels: Map[String, String], tenant: String, replicaLabels: Seq[String]): String = {
    val (keys, values) = sorted(labels)
    val FnvPrime = 0x100000001b3L
    def mix(h0: Long, bytes: Array[Byte]): Long = {
      var h = h0
      bytes.foreach { b => h = (h * FnvPrime) ^ (b & 0xffL) }
      h
    }
    var h = 0xcbf29ce484222325L
    keys.indices.filterNot(i => replicaLabels.contains(keys(i))).foreach { i =>
      h = mix(h, keys(i).getBytes(StandardCharsets.UTF_8))
      h = mix(h, values(i).getBytes(StandardCharsets.UTF_8))
    }
    h = mix(h, tenant.getBytes(StandardCharsets.UTF_8))
    String.format("hex %016x", java.lang.Long.valueOf(h))
  }

  /** The old decoder's view of a well-formed body: per series its label
    * pairs (`new String`, so invalid UTF-8 is U+FFFD) and (value, ts) pairs.
    */
  def decode(data: Array[Byte]): Seq[(Seq[(String, String)], Seq[(Double, Long)])] = {
    final class Reader(start: Int, val end: Int) {
      var pos = start
      def varint(): Long = {
        var shift = 0; var r = 0L
        while (true) {
          val b = data(pos); pos += 1
          r |= (b & 0x7fL) << shift
          if ((b & 0x80) == 0) return r
          shift += 7
        }
        r
      }
      def sub(): Reader = { val len = varint().toInt; val r = new Reader(pos, pos + len); pos += len; r }
      def skip(wire: Int): Unit = wire match {
        case 0 => varint()
        case 1 => pos += 8
        case 2 => sub()
        case 5 => pos += 4
      }
    }
    val top = new Reader(0, data.length)
    val out = Seq.newBuilder[(Seq[(String, String)], Seq[(Double, Long)])]
    while (top.pos < top.end) {
      val t = top.varint()
      if (t == 0x0a) {
        val r = top.sub()
        val labels = Seq.newBuilder[(String, String)]
        val samples = Seq.newBuilder[(Double, Long)]
        while (r.pos < r.end) {
          val ft = r.varint()
          if (ft == 0x0a) {
            val lr = r.sub()
            var name = ""; var value = ""
            while (lr.pos < lr.end) {
              val lt = lr.varint()
              if (lt == 0x0a || lt == 0x12) {
                val s = lr.sub()
                val str = new String(data, s.pos, s.end - s.pos, StandardCharsets.UTF_8)
                if (lt == 0x0a) name = str else value = str
              } else lr.skip((lt & 7).toInt)
            }
            labels += (name -> value)
          } else if (ft == 0x12) {
            val sr = r.sub()
            var v = 0.0d; var ts = 0L
            while (sr.pos < sr.end) {
              val st = sr.varint()
              if (st == 0x09) {
                var bits = 0L
                (0 until 8).foreach { i => bits |= (data(sr.pos + i) & 0xffL) << (8 * i) }
                sr.pos += 8
                v = java.lang.Double.longBitsToDouble(bits)
              } else if (st == 0x10) ts = sr.varint()
              else sr.skip((st & 7).toInt)
            }
            samples += (v -> ts)
          } else r.skip((ft & 7).toInt)
        }
        out += (labels.result() -> samples.result())
      } else top.skip((t & 7).toInt)
    }
    out.result()
  }
}
