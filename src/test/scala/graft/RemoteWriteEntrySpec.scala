package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.util.ArrayBasedMapData
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{PromCatalyst, PromKernel}
import graft.model.Model.Sample
import graft.operators.PromPipeline
import graft.streaming.RemoteWriteSink

/** The consume path encodes each sample into its remote_write entry before
  * the batcher; a batch's POST body is its entries joined and
  * snappy-compressed. These properties pin that body byte for byte to the
  * whole-request encoding the sink used before (one single-sample series per
  * sample, labels sorted by UTF-8 bytes — remote/write.go:251-284), and the
  * Catalyst kernel to the Scala entry.
  */
class RemoteWriteEntrySpec extends AnyFunSuite {

  private def check(p: Prop): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(300), p)
    assert(res.passed, res.status.toString)
  }

  // ASCII mixed with 2-, 3- and 4-byte UTF-8, so byte order and UTF-16 order
  // disagree; empty strings too (proto3 omits them)
  private val text: Gen[String] = Gen.listOf(Gen.frequency(
    6 -> Gen.alphaNumChar.map(_.toString),
    1 -> Gen.oneOf("_", "é", "ß", "日", "本", "Ａ", "😀", "\u0000"))).map(_.mkString)

  // pairs in generated order: maps of up to 4 keep it, so labels arrive
  // unsorted; larger maps iterate in hash order
  private val labels: Gen[Map[String, String]] =
    Gen.listOf(Gen.zip(text, text)).map(_.toMap)

  private val value: Gen[Double] = Gen.frequency(
    4 -> Gen.choose(-1e12, 1e12),
    1 -> Gen.oneOf(0.0, -0.0, Double.PositiveInfinity, Double.NegativeInfinity, Double.MinPositiveValue,
      Double.NaN,
      java.lang.Double.longBitsToDouble(0x7ff0000000000002L), // Prometheus staleness marker
      java.lang.Double.longBitsToDouble(0xfff8000000000001L)))

  private val timestamp: Gen[Long] =
    Gen.frequency(4 -> Gen.choose(0L, 4102444800000L), 1 -> Gen.oneOf(0L, -1L, Long.MinValue, Long.MaxValue))

  private val sample: Gen[Sample] = for {
    l <- labels; v <- value; ts <- timestamp; t <- text
  } yield Sample(ts, v, l, t)

  /** The sink's body before entries: one WriteRequest built whole. */
  private def wholeRequestBody(samples: Seq[Sample]): Array[Byte] = {
    val series = samples.map { s =>
      val sorted = s.labels.toSeq.sortWith((a, b) => PromKernel.compareUtf8(a._1, b._1) < 0)
      PromKernel.PbTimeSeries(
        sorted.map { case (k, v) => PromKernel.PbLabel(k, v) },
        Seq(PromKernel.PbSample(s.value, s.timestampMs)))
    }
    PromKernel.snappyCompress(PromKernel.encodeWriteRequest(PromKernel.PbWriteRequest(series)))
  }

  test("joined entries, snappy-compressed, are the whole-request body byte for byte") {
    check(Prop.forAll(Gen.listOf(sample)) { samples =>
      val expected = wholeRequestBody(samples)
      RemoteWriteSink.body(samples.map(RemoteWriteSink.entry)).sameElements(expected) &&
        RemoteWriteSink.encodeBody(samples).sameElements(expected)
    })
  }

  test("the Catalyst entry kernel matches the Scala entry for any label order") {
    check(Prop.forAll(sample) { s =>
      val keys = s.labels.keys.toArray
      val map = ArrayBasedMapData(keys.map(UTF8String.fromString),
        keys.map(k => UTF8String.fromString(s.labels(k))))
      PromCatalyst.seriesEntry(map, s.timestampMs, s.value).sameElements(RemoteWriteSink.entry(s))
    })
  }

  test("remoteWriteEntries over a DataFrame gives each sample's entry and its tenant") {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false").getOrCreate()
    import spark.implicits._
    val samples = Gen.listOfN(200, sample).sample.get :+ Sample(5L, 1.5, null, null)
    val rows = PromPipeline.remoteWriteEntries(samples.toDF())
      .as[(String, Array[Byte])].collect().toSeq
    assert(rows.size == samples.size)
    rows.zip(samples).foreach { case ((tenant, entry), s) =>
      assert(tenant == Option(s.tenantId).getOrElse(""))
      val expected = RemoteWriteSink.entry(s.copy(labels = Option(s.labels).getOrElse(Map.empty)))
      assert(entry.sameElements(expected), s.toString)
    }
  }
}
