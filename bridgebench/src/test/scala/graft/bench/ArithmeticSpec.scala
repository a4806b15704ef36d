package graft.bench

import org.scalatest.funsuite.AnyFunSuite

import Wire.{Sample, Series}

class ArithmeticSpec extends AnyFunSuite {

  private def xs(n: Int) = (1 to n).map(_.toDouble)

  test("a percentile is reported only with at least ten samples beyond it") {
    assert(Stats.percentile(xs(1000), 0.99).contains(990.0))
    assert(Stats.percentile(xs(999), 0.99).isEmpty)
    assert(Stats.percentile(xs(20), 0.5).contains(10.0))
    assert(Stats.percentile(xs(19), 0.5).isEmpty)
    assert(Stats.percentile(Nil, 0.5).isEmpty)
    assert(Stats.percentile(xs(200), 0.95).contains(190.0))
    // the per-layer p75 of roundtrip_wal's 40 timed POSTs leaves 10 beyond
    assert(Stats.percentile(xs(40), 0.75).contains(30.0))
    assert(Stats.percentile(xs(39), 0.75).isEmpty)
  }

  test("a size flush is late from its newest sample's due time") {
    assert(Stats.freshMs(25.0, Seq(0.0, 20.0, 10.0), batchSize = 3, maxDelayMs = 1000L) == 5.0)
  }

  test("a deadline flush is late from its oldest sample's due time plus the max delay") {
    assert(Stats.freshMs(1200.0, Seq(150.0, 100.0), batchSize = 3, maxDelayMs = 1000L) == 100.0)
    // on time: the window the contract grants is not counted
    assert(Stats.freshMs(1100.0, Seq(100.0), batchSize = 3, maxDelayMs = 1000L) == 0.0)
  }

  test("error_ratio divides failed operations by attempted ones") {
    assert(Stats.errorRatio(0L, 10L) == 0.0)
    assert(Stats.errorRatio(1L, 4L) == 0.25)
    assertThrows[IllegalArgumentException](Stats.errorRatio(0L, 0L))
    assertThrows[IllegalArgumentException](Stats.errorRatio(5L, 4L))
  }

  private val labels = Array("__name__" -> "up", "job" -> "node")
  private val sent = Seq(
    Sample("t1", labels, 1.5, 1000L), Sample("t1", labels, Gen.StaleNaN, 2000L),
    Sample("t2", labels, Double.PositiveInfinity, 1000L))
  private def fps(ss: Seq[Sample]) = ss.map(Check.fingerprint).toArray

  test("the checker accepts the same multiset in any order, NaN by canonical bits") {
    val back = Seq(sent(2), sent(0), sent(1).copy(value = Double.NaN))
    assert(Check.diff(fps(sent), fps(back)) == Check.Diff(0, 0, 0))
    assert(Check.fingerprint(sent(0).copy(value = -0.0)) != Check.fingerprint(sent(0).copy(value = 0.0)))
  }

  test("the checker flags a dropped sample") {
    assert(Check.diff(fps(sent), fps(sent.drop(1))) == Check.Diff(1, 0, 0))
  }

  test("the checker flags an altered sample") {
    val altered = sent.updated(0, sent(0).copy(value = 1.25))
    assert(Check.diff(fps(sent), fps(altered)) == Check.Diff(1, 0, 1))
    val retagged = sent.updated(0, sent(0).copy(tenant = "t2"))
    assert(Check.diff(fps(sent), fps(retagged)) == Check.Diff(1, 0, 1))
    val relabelled = sent.updated(0, sent(0).copy(labels = Array("__name__" -> "up", "job" -> "nodes")))
    assert(Check.diff(fps(sent), fps(relabelled)) == Check.Diff(1, 0, 1))
  }

  test("the checker counts a replayed sample as a duplicate, not a loss") {
    assert(Check.diff(fps(sent), fps(sent :+ sent(1))) == Check.Diff(0, 1, 0))
  }

  test("the checker flags a series whose replica copy lands on another key") {
    val twin = Sample("t1", (labels :+ (Gen.Replica -> "prom-1")).sortBy(_._1), 1.5, 3000L)
    val key = Wire.seriesKey(labels, "t1", Gen.Replica)
    assert(key == Wire.seriesKey(twin.labels, "t1", Gen.Replica))
    assert(Check.replicaSplits(Iterator(key -> sent(0), key -> twin), Gen.Replica) == 0)
    assert(Check.replicaSplits(Iterator(key -> sent(0), "hex 0000000000000001" -> twin), Gen.Replica) == 1)
  }

  test("downstream POSTs must be single-tenant, within the batch size, labels sorted") {
    val ok = Seq(Series(labels, Array(1.0 -> 1L)))
    assert(Check.postViolations("t1", ok, batchSize = 1).isEmpty)
    assert(Check.postViolations(null, ok, batchSize = 1).nonEmpty)
    assert(Check.postViolations("t1", ok ++ ok, batchSize = 1).nonEmpty)
    assert(Check.postViolations("t1", Seq(Series(labels.reverse, Array(1.0 -> 1L))), batchSize = 1).nonEmpty)
  }

  test("the benchmark's codecs round-trip and read graft's json payload") {
    val series = Seq(Series(labels, Array(1.5 -> 1000L, Gen.StaleNaN -> 2000L)))
    val back = Wire.decodeWriteRequest(Wire.unsnappy(Wire.snappy(Wire.encodeWriteRequest(series))))
    assert(back.map(_.labels.toSeq) == series.map(_.labels.toSeq))
    assert(back.head.points.map(p => (java.lang.Double.doubleToRawLongBits(p._1), p._2)).toSeq ==
      series.head.points.map(p => (java.lang.Double.doubleToRawLongBits(p._1), p._2)).toSeq)
    sent.foreach { s =>
      assert(Check.fingerprint(Wire.parseJsonPayload(Wire.jsonPayload(s))) == Check.fingerprint(s))
      assert(Check.fingerprint(Wire.parseJsonPayload(graftJson(s))) == Check.fingerprint(s))
    }
  }

  private def graftJson(s: Sample): Array[Byte] =
    graft.functions.PromKernel.promJson(s.ts, s.value, s.labels.map(_._1), s.labels.map(_._2), s.tenant)
      .getBytes("UTF-8")
}
