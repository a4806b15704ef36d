package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{PromCatalyst, PromKernel}
import graft.functions.PromKernel._
import graft.operators.PromPipeline

/** One proto walker serves the receiver's validation, the sync decoder and
  * the query's Catalyst decoder. Byte-mutation fuzz: whatever the receiver
  * accepts decodes, in the query, to the series the sync path sees; what it
  * rejects the query rejects too; nothing throws or spins.
  */
class DecoderFuzzSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]").config("spark.ui.enabled", "false").getOrCreate()

  // label strings as their UTF-8 bytes, so a decoder that kept invalid
  // UTF-8 instead of U+FFFD shows
  private type Decoded = Seq[(Seq[(Seq[Byte], Seq[Byte])], Seq[(Long, Long)])]

  private def utf8(s: String): Seq[Byte] = s.getBytes("UTF-8").toSeq

  private val text: Gen[String] = Gen.resize(8, Gen.listOf(Gen.frequency(
    6 -> Gen.alphaNumChar.map(_.toString),
    1 -> Gen.oneOf("é", "日", "😀", "\"")))).map(_.mkString)

  private val request: Gen[PbWriteRequest] = for {
    n <- Gen.choose(0, 4)
    series <- Gen.listOfN(n, for {
      nl <- Gen.choose(0, 5)
      labels <- Gen.listOfN(nl, Gen.zip(text, text))
      ns <- Gen.choose(0, 3)
      samples <- Gen.listOfN(ns, Gen.zip(Gen.choose(-1e6, 1e6), Gen.choose(-1L, 1L << 42)))
    } yield PbTimeSeries(labels.map { case (k, v) => PbLabel(k, v) },
      samples.map { case (v, t) => PbSample(v, t) }))
  } yield PbWriteRequest(series)

  /** A valid body with bytes flipped, dropped, inserted or cut off. */
  private val mutated: Gen[Array[Byte]] = for {
    req <- request
    raw = encodeWriteRequest(req)
    edits <- Gen.choose(1, 4)
    out <- (0 until edits).foldLeft(Gen.const(raw)) { (g, _) =>
      g.flatMap { b =>
        if (b.isEmpty) Gen.listOfN(3, Gen.choose(Byte.MinValue, Byte.MaxValue)).map(_.toArray)
        else Gen.choose(0, b.length - 1).flatMap { at =>
          Gen.oneOf(
            Gen.choose(Byte.MinValue, Byte.MaxValue).map(x => b.updated(at, x)),
            Gen.const(b.patch(at, Nil, 1)),
            Gen.choose(Byte.MinValue, Byte.MaxValue).map(x => b.patch(at, Seq(x), 0)),
            Gen.const(b.take(at)),
            Gen.oneOf(0x80, 0xff, 0x0a, 0x12, 0x7f).map(x => b.updated(at, x.toByte)))
        }
      }
    }
  } yield out

  private def ofSync(r: PbWriteRequest): Decoded =
    r.timeseries.map(ts => (ts.labels.map(l => (utf8(l.name), utf8(l.value))),
      ts.samples.map(s => (java.lang.Double.doubleToRawLongBits(s.value), s.timestamp))))

  private def ofCatalyst(a: ArrayData): Decoded =
    (0 until a.numElements()).map { i =>
      val ts = a.getStruct(i, 2)
      val labels = ts.getArray(0)
      val samples = ts.getArray(1)
      ((0 until labels.numElements()).map { j =>
        val l = labels.getStruct(j, 2)
        (l.getUTF8String(0).getBytes.toSeq, l.getUTF8String(1).getBytes.toSeq)
      }, (0 until samples.numElements()).map { j =>
        val s = samples.getStruct(j, 2)
        (java.lang.Double.doubleToRawLongBits(s.getDouble(0)), s.getLong(1))
      })
    }

  test("byte-mutation fuzz: validation, sync decoder and Catalyst decoder agree") {
    var accepted = 0
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(5000),
      Prop.forAll(mutated) { raw =>
        val ok = validWriteRequest(raw)
        val sync = decodeWriteRequest(raw)
        val cat = PromCatalyst.pbDecode(raw)
        if (ok) accepted += 1
        (sync != null) == ok && (cat != null) == ok && (!ok || ofCatalyst(cat) == ofSync(sync))
      })
    assert(res.passed, res.status.toString)
    assert(accepted > 100, s"only $accepted mutants were well-formed")
  }

  test("round trip: encoded requests decode to themselves through both decoders") {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(500),
      Prop.forAll(request) { req =>
        val raw = encodeWriteRequest(req)
        validWriteRequest(raw) && ofSync(decodeWriteRequest(raw)) == ofSync(req) &&
          ofCatalyst(PromCatalyst.pbDecode(raw)) == ofSync(req)
      })
    assert(res.passed, res.status.toString)
  }

  test("a length that points back into the body is malformed, not a loop") {
    // field 3, wire type 2, then a length that would rewind the cursor onto
    // its own tag forever: 0xFFFFFFFA read as an Int (-6), and -11 as a
    // 10-byte varint
    val rewinds = Seq(Seq(0x1a, 0xfa, 0xff, 0xff, 0xff, 0x0f),
      Seq(0x1a, 0xf5, 0xff, 0xff, 0xff, 0xff, 0xff, 0xff, 0xff, 0xff, 0x01))
    rewinds.map(_.map(_.toByte).toArray).foreach { raw =>
      val done = new java.util.concurrent.atomic.AtomicReference[Option[Boolean]](None)
      val t = new Thread(() => done.set(Some(validWriteRequest(raw))))
      t.setDaemon(true)
      t.start()
      t.join(5000L)
      assert(done.get == Some(false))
      assert(decodeWriteRequest(raw) == null && PromCatalyst.pbDecode(raw) == null)
    }
    // a label whose length overruns its series, and a truncated double
    assert(!validWriteRequest(Array(0x0a, 0x04, 0x0a, 0x05, 0x0a, 0x01).map(_.toByte)))
    assert(!validWriteRequest(Array(0x0a, 0x04, 0x12, 0x02, 0x09, 0x00).map(_.toByte)))
  }

  test("a body declaring 2 GiB decompressed gets 400 without the handler allocating it") {
    // a 7-byte snappy block whose header declares 2,147,483,632 bytes
    val bomb = Array(0xF0, 0xFF, 0xFF, 0xFF, 0x07, 0x00, 0x41).map(_.toByte)
    assert(snappyUncompress(bomb) == null)
    val port = { val s = new java.net.ServerSocket(0); try s.getLocalPort finally s.close() }
    graft.sources.HttpRemoteWriteSource.receiver(graft.sources.HttpRemoteWriteSource.Config
      .from(Flags()).copy(port = port, handlerThreads = 1))
    val http = java.net.http.HttpClient.newHttpClient()
    def post(b: Array[Byte]): Int =
      http.send(java.net.http.HttpRequest.newBuilder(java.net.URI.create(s"http://127.0.0.1:$port/write"))
        .timeout(java.time.Duration.ofSeconds(30))
        .POST(java.net.http.HttpRequest.BodyPublishers.ofByteArray(b)).build(),
        java.net.http.HttpResponse.BodyHandlers.discarding()).statusCode()
    try {
      assert(post("junk".getBytes) == 400) // starts the one handler thread
      val handler = Thread.getAllStackTraces.keySet.asScala
        .find(_.getName.startsWith(s"graft-receiver-$port-")).get
      val mx = java.lang.management.ManagementFactory.getThreadMXBean
        .asInstanceOf[com.sun.management.ThreadMXBean]
      val before = mx.getThreadAllocatedBytes(handler.getId)
      assert(post(bomb) == 400)
      val allocated = mx.getThreadAllocatedBytes(handler.getId) - before
      assert(allocated < (1L << 20), s"the handler allocated $allocated bytes")
    } finally graft.sources.HttpRemoteWriteSource.shutdown(port)
  }

  test("what the receiver answers 200 to, the produce query decodes to the sync path's series") {
    val port = { val s = new java.net.ServerSocket(0); try s.getLocalPort finally s.close() }
    val r = graft.sources.HttpRemoteWriteSource.receiver(port, "/write", validate = true)
    val http = java.net.http.HttpClient.newHttpClient()
    try {
      val bodies = Gen.listOfN(200, mutated).apply(Gen.Parameters.default, org.scalacheck.rng.Seed(7L)).get
      val codes = bodies.map { raw =>
        http.send(java.net.http.HttpRequest.newBuilder(java.net.URI.create(s"http://127.0.0.1:$port/write"))
          .POST(java.net.http.HttpRequest.BodyPublishers.ofByteArray(snappyCompress(raw))).build(),
          java.net.http.HttpResponse.BodyHandlers.discarding()).statusCode()
      }
      assert(codes.zip(bodies).forall { case (c, raw) => (c == 200) == validWriteRequest(raw) })
      val got = r.range(0L, r.latest)
      assert(got.length == codes.count(_ == 200) && got.length > 10)
      val rows = spark.createDataFrame(got.map(g => Row(g.body)).toSeq.asJava,
        StructType(Seq(StructField("body", BinaryType))))
      val decoded = PromPipeline.decodeBody(rows, col("body")).select("timeseries").collect()
      decoded.zip(got).foreach { case (row, g) =>
        val sync = decodeWriteRequest(snappyUncompress(g.body))
        val series = row.getSeq[Row](0).map { ts =>
          (ts.getSeq[Row](0).map(l => (utf8(l.getString(0)), utf8(l.getString(1)))),
            ts.getSeq[Row](1).map(s => (java.lang.Double.doubleToRawLongBits(s.getDouble(0)), s.getLong(1))))
        }
        assert(series == ofSync(sync))
      }
    } finally graft.sources.HttpRemoteWriteSource.shutdown(port)
  }
}
