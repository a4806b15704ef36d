package graft

import java.nio.charset.StandardCharsets.UTF_8

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{AvroJsonSchema, PromKernel}
import graft.operators.PromPipeline

/** The produce path renders each series once (labels sorted, key hashed,
  * payload template) and each sample into that template. These properties
  * pin its `(key, payload)` sequence byte for byte to the per-sample kernels
  * it replaced ([[PerSampleReference]]) for all four serializer variants,
  * over unsorted and repeated label names, non-ASCII and invalid UTF-8,
  * empty label sets, empty and non-empty tenants, replica labels, staleness
  * NaNs and infinities.
  */
class SeriesTemplateSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]").config("spark.ui.enabled", "false").getOrCreate()

  private def check(p: Prop, n: Int): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(n), p)
    assert(res.passed, res.status.toString)
  }

  private def utf8(s: String): Array[Byte] = s.getBytes(UTF_8)

  // ASCII, JSON-escaped characters, 2/3/4-byte UTF-8 (U+2028 included), and
  // byte strings that are not UTF-8 at all
  private val text: Gen[Array[Byte]] = Gen.resize(12, Gen.frequency(
    8 -> Gen.listOf(Gen.frequency(
      6 -> Gen.alphaNumChar.map(_.toString),
      2 -> Gen.oneOf("\"", "\\", "\n", "\r", "\t", "<", ">", "&", "\u0001", "\u001f", "\u007f"),
      2 -> Gen.oneOf("é", "ß", "日", "\u2028", "\u2029", "😀", "Ａ"))).map(p => utf8(p.mkString)),
    1 -> Gen.oneOf(Seq(0xff), Seq(0xc0, 0x80), Seq(0x80), Seq(0xe2, 0x82), Seq(0xed, 0xa0, 0x80),
      Seq(0xf4, 0x90, 0x80, 0x80), Seq(0x61, 0xe2, 0x80)).map(_.map(_.toByte).toArray),
    1 -> Gen.listOf(Gen.choose(Byte.MinValue, Byte.MaxValue)).map(_.toArray)))

  // a small name pool makes repeated names and replica labels common
  private val name: Gen[Array[Byte]] = Gen.frequency(
    3 -> Gen.oneOf("__name__", "job", "instance", "a", "b", "__replica__", "é", "Z").map(utf8),
    1 -> text)

  private val value: Gen[Double] = Gen.frequency(
    4 -> Gen.choose(-1e12, 1e12),
    2 -> Gen.choose(-1e4, 1e4).map(d => math.floor(d * 1e3) / 1e3),
    1 -> Gen.choose(-1e-2, 1e-2),
    2 -> Gen.oneOf(0.0, -0.0, 1.0, 100.0, 1e7, 9999999.5, 1e21, 1e-3, 9.999e-4, Double.MaxValue,
      Double.MinPositiveValue, Double.PositiveInfinity, Double.NegativeInfinity, Double.NaN,
      java.lang.Double.longBitsToDouble(0x7ff0000000000002L))) // Prometheus staleness marker

  private val timestamp: Gen[Long] = Gen.frequency(
    4 -> Gen.choose(0L, 4102444800000L),
    2 -> Gen.choose(-100000L, 100000L),
    1 -> Gen.oneOf(0L, -1L, 1L, 10L, 100L, 1000L, -1000L, -1001L, Long.MinValue, Long.MaxValue))

  final case class Series(labels: Seq[(Array[Byte], Array[Byte])], samples: Seq[(Double, Long)])
  final case class Request(series: Seq[Series], basicAuthUser: String, orgIdHeader: String) {
    def tenant: String = Option(basicAuthUser).orElse(Option(orgIdHeader)).getOrElse("")
  }

  private val series: Gen[Series] = for {
    nLabels <- Gen.frequency(1 -> Gen.const(0), 8 -> Gen.choose(1, 8))
    labels <- Gen.listOfN(nLabels, Gen.zip(name, text))
    nSamples <- Gen.frequency(1 -> Gen.const(0), 8 -> Gen.choose(1, 5))
    samples <- Gen.listOfN(nSamples, Gen.zip(value, timestamp))
  } yield Series(labels, samples)

  private val tenant: Gen[String] =
    Gen.oneOf("", "team-a", "ténant", "q\"uo\\te\n", "<&>")

  private val request: Gen[Request] = for {
    n <- Gen.choose(0, 6)
    s <- Gen.listOfN(n, series)
    auth <- Gen.option(tenant)
    org <- Gen.option(tenant)
  } yield Request(s, auth.orNull, org.orNull)

  /** prompb bytes with the labels' raw bytes (proto3 omits empty fields). */
  private def body(r: Request): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def varint(w: java.io.ByteArrayOutputStream, v0: Long): Unit = {
      var v = v0
      while ((v & ~0x7fL) != 0) { w.write(((v & 0x7f) | 0x80).toInt); v >>>= 7 }
      w.write(v.toInt)
    }
    def field(w: java.io.ByteArrayOutputStream, tag: Int, b: Array[Byte]): Unit =
      if (b.nonEmpty) { w.write(tag); varint(w, b.length); w.write(b) }
    r.series.foreach { s =>
      val ts = new java.io.ByteArrayOutputStream()
      s.labels.foreach { case (n, v) =>
        val l = new java.io.ByteArrayOutputStream()
        field(l, 0x0a, n); field(l, 0x12, v)
        ts.write(0x0a); varint(ts, l.size()); ts.write(l.toByteArray)
      }
      s.samples.foreach { case (v, t) =>
        val sm = new java.io.ByteArrayOutputStream()
        if (v != 0.0) {
          sm.write(0x09)
          var bits = java.lang.Double.doubleToRawLongBits(v)
          (0 until 8).foreach { _ => sm.write((bits & 0xff).toInt); bits >>>= 8 }
        }
        if (t != 0L) { sm.write(0x10); varint(sm, t) }
        ts.write(0x12); varint(ts, sm.size()); ts.write(sm.toByteArray)
      }
      out.write(0x0a); varint(out, ts.size()); out.write(ts.toByteArray)
    }
    out.toByteArray
  }

  // a user schema interleaving label and sample fields, tenant with a default
  private lazy val userSchema: String = {
    val f = java.nio.file.Files.createTempFile("graft-series-template", ".avsc")
    java.nio.file.Files.write(f, utf8(
      """{"type":"record","name":"M","fields":[
        |{"name":"labels","type":{"type":"map","values":"string"}},
        |{"name":"timestamp","type":"string"},
        |{"name":"tenant_id","type":"string","default":"anon"},
        |{"name":"value","type":"string"},
        |{"name":"name","type":"string"}]}""".stripMargin))
    f.toFile.deleteOnExit()
    s"avro-json-compat=$f"
  }

  private def formats: Seq[String] = Seq("json", "json-compat", "avro-json-compat", userSchema)

  private val replicaSets = Seq(Seq("__replica__"), Seq("__replica__", "a"), Nil)

  /** What the per-sample kernels publish for `requests`, in order. */
  private def reference(requests: Seq[Request], format: String,
      replicas: Seq[String]): Seq[(String, String)] = {
    val spec = AvroJsonSchema.payloadFormat(format)._2
    for {
      r <- requests
      (labels, samples) <- PerSampleReference.decode(body(r))
      m = labels.toMap // a repeated name keeps its last value
      (v, ts) <- samples
    } yield (PerSampleReference.seriesKey(m, r.tenant, replicas),
      PerSampleReference.serialize(format, spec, ts, v, m, r.tenant))
  }

  private def receiverRows(requests: Seq[Request]): DataFrame =
    spark.createDataFrame(
      requests.map(r => Row(PromKernel.snappyCompress(body(r)), r.basicAuthUser, r.orgIdHeader)).asJava,
      StructType(Seq(StructField("body", BinaryType), StructField("basicAuthUser", StringType),
        StructField("orgIdHeader", StringType))))

  test("kernels: series stage + fill == per-sample serializer and key, all formats") {
    val spec = AvroJsonSchema.payloadFormat(userSchema)._2
    check(Prop.forAll(series, tenant, Gen.oneOf(replicaSets)) { (s, t, replicas) =>
      // the decoder hands the kernels what `new String` makes of the bytes
      val pairs = s.labels.map { case (n, v) => (new String(n, UTF_8), new String(v, UTF_8)) }
      val m = pairs.toMap
      val names = pairs.map(_._1).toArray
      val values = pairs.map(_._2).toArray
      val labels = PromKernel.Labels.ofStrings(names, values)
      val key = new String(PromKernel.keyOf(labels, utf8(t), replicas.map(utf8).toArray), UTF_8)
      key == PerSampleReference.seriesKey(m, t, replicas) &&
        Seq((PromKernel.JsonFormat, "json"), (PromKernel.CompatFormat, "json-compat"),
          (PromKernel.AvroFormat, "avro-json-compat"), (PromKernel.AvroFormat, "user")).forall {
          case (id, f) =>
            val sp = if (f == "user") spec else AvroJsonSchema.DefaultSpec
            val template = PromKernel.payloadTemplate(id, sp, labels, utf8(t))
            s.samples.forall { case (v, ts) =>
              new String(PromKernel.fillPayload(template, ts, v), UTF_8) ==
                PerSampleReference.serialize(f, sp, ts, v, m, t)
            }
        }
    }, 2000)
  }

  test("formatting fast paths == BigDecimal and f-string reference") {
    check(Prop.forAll(value, timestamp) { (v, ts) =>
      PromKernel.valueString(v) == PerSampleReference.valueString(v) &&
        PromKernel.secondsString(ts) == PerSampleReference.secondsString(ts) &&
        PromKernel.rfc3339Nano(ts) == PerSampleReference.rfc3339Nano(ts)
    }, 5000)
    check(Prop.forAll(Gen.choose(Long.MinValue, Long.MaxValue).map(java.lang.Double.longBitsToDouble)) { v =>
      PromKernel.valueString(v) == PerSampleReference.valueString(v)
    }, 5000)
  }

  test("utf8Clean == what new String makes of the bytes") {
    check(Prop.forAll(text) { b =>
      val (start, end) = (b.length / 3, b.length - b.length / 4)
      java.util.Arrays.equals(PromKernel.utf8Clean(b), new String(b, UTF_8).getBytes(UTF_8)) &&
        java.util.Arrays.equals(PromKernel.utf8Clean(b, start, end),
          new String(b, start, end - start, UTF_8).getBytes(UTF_8))
    }, 3000)
  }

  test("produce query: (key, payload) sequence == per-sample kernels, all four formats") {
    val gen = Gen.listOfN(40, request)
    check(Prop.forAll(gen, Gen.oneOf(replicaSets)) { (requests, replicas) =>
      val rows = receiverRows(requests)
      formats.forall { f =>
        val got = PromPipeline.produce(rows, f, replicas).collect()
          .map(r => (r.getString(0), new String(r.getAs[Array[Byte]](1), UTF_8))).toSeq
        val want = reference(requests, f, replicas)
        if (got != want) println(s"$f:\n  got  ${got.take(3)}\n  want ${want.take(3)}")
        got == want
      }
    }, 6)
  }

  test("sample-level serialize runs the same pair: same sequence as the produce query") {
    val requests = Gen.listOfN(40, request).apply(Gen.Parameters.default, org.scalacheck.rng.Seed(11L)).get
    val samples = PromPipeline.attachTenant(
      PromPipeline.explodeWriteRequest(
        PromPipeline.decodeBody(receiverRows(requests), col("body")).filter(col("timeseries").isNotNull),
        col("timeseries")),
      col("basicAuthUser"), col("orgIdHeader"))
    formats.foreach { f =>
      val got = PromPipeline.serialize(samples, f).select("key", "payload").collect()
        .map(r => (r.getString(0), r.getString(1))).toSeq
      assert(got == reference(requests, f, Seq("__replica__")), f)
    }
  }
}
