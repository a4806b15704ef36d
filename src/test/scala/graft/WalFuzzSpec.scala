package graft

import java.nio.file.{Files, Path, Paths, StandardOpenOption}

import scala.jdk.CollectionConverters._

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.HttpRemoteWriteSource.{Config, Received, Receiver}

/** The receiver's WAL replay under damage: accept records into small
  * segments, stop, then cut a segment short, flip one of its bytes or
  * append junk to it. A new receiver on the same dir must start, replay
  * only records that were accepted (same seq, same fields) in seq order,
  * keep every record the damage did not reach, and then accept and
  * replay a new record.
  */
class WalFuzzSpec extends AnyFunSuite {

  private sealed trait Damage
  /** Cut the segment at `at` × its size. */
  private final case class Truncate(at: Double) extends Damage
  /** XOR the byte at `at` × its size with `mask` (never 0). */
  private final case class Flip(at: Double, mask: Int) extends Damage
  private final case class Junk(bytes: Array[Byte]) extends Damage

  private final case class Case(records: List[Received], segment: Int, damage: Damage)

  private val field: Gen[String] = Gen.frequency(
    1 -> Gen.const(null),
    4 -> Gen.choose(0, 12).flatMap(n => Gen.listOfN(n, Gen.alphaNumChar).map(_.mkString)))

  private val bytes: Gen[Array[Byte]] = Gen.choose(0, 300).flatMap(n =>
    Gen.listOfN(n, Gen.choose(Byte.MinValue, Byte.MaxValue)).map(_.toArray))

  private val record: Gen[Received] = for {
    body <- bytes
    user <- field
    org <- field
    ts <- Gen.choose(0L, 1L << 42)
  } yield Received(body, user, org, ts)

  private val damage: Gen[Damage] = Gen.oneOf(
    Gen.choose(0.0, 1.0).map(Truncate(_)),
    Gen.zip(Gen.choose(0.0, 1.0), Gen.choose(1, 255)).map { case (at, m) => Flip(at, m) },
    Gen.choose(1, 64).flatMap(n =>
      Gen.listOfN(n, Gen.choose(Byte.MinValue, Byte.MaxValue)).map(b => Junk(b.toArray))))

  private val cases: Gen[Case] = for {
    k <- Gen.choose(1, 30)
    records <- Gen.listOfN(k, record)
    segment <- Gen.choose(0, 1000)
    d <- damage
  } yield Case(records, segment, d)

  private def receiver(dir: Path): Receiver =
    new Receiver(Config.from(Flags()).copy(walDir = dir.toString))

  /** A record's frame: seq, receivedAtMs, three length-prefixed fields, CRC. */
  private def frameBytes(r: Received): Long = {
    def len(s: String) = if (s == null) 0 else s.getBytes("UTF-8").length
    16L + 4 + len(r.basicAuthUser) + 4 + len(r.orgIdHeader) + 4 + r.body.length + 4
  }

  private def key(r: Received): (Seq[Byte], String, String, Long) =
    (r.body.toSeq, r.basicAuthUser, r.orgIdHeader, r.receivedAtMs)

  /** What a receiver on `dir` replays: (seq, record) in seq order. */
  private def replayed(r: Receiver): Seq[(Long, Received)] =
    (0L until r.latest).flatMap(s => r.range(s, s + 1).map(s -> _))

  private def segments(dir: Path): Seq[Path] = {
    val s = Files.list(dir)
    try s.iterator().asScala.filter(_.getFileName.toString.endsWith(".wal"))
      .toSeq.sortBy(_.getFileName.toString)
    finally s.close()
  }

  private def deleteAll(dir: Path): Unit = {
    val s = Files.list(dir)
    try s.iterator().asScala.foreach(Files.delete) finally s.close()
    Files.delete(dir)
  }

  /** Damages one segment; returns the seqs it may have cost. */
  private def damageSegment(seg: Path, accepted: Map[Long, Received], d: Damage): Set[Long] = {
    val first = seg.getFileName.toString.stripPrefix("seg-").stripSuffix(".wal").toLong
    val size = Files.size(seg)
    // each record's frame ends where the next begins: seqs are dense in a segment
    val ends = Iterator.iterate(first)(_ + 1).takeWhile(accepted.contains)
      .scanLeft((first - 1, 0L)) { case ((_, end), s) => (s, end + frameBytes(accepted(s))) }
      .drop(1).takeWhile(_._2 <= size).toSeq
    assert(ends.last._2 == size, s"segment $seg: frames end at ${ends.last._2}, file holds $size")
    def from(pos: Long): Set[Long] = ends.collect { case (s, end) if end > pos => s }.toSet
    d match {
      case Truncate(at) =>
        val cut = math.min((at * size).toLong, size - 1)
        val ch = java.nio.channels.FileChannel.open(seg, StandardOpenOption.WRITE)
        try ch.truncate(cut) finally ch.close()
        from(cut)
      case Flip(at, mask) =>
        val pos = math.min((at * size).toLong, size - 1)
        val b = Files.readAllBytes(seg)
        b(pos.toInt) = (b(pos.toInt) ^ mask).toByte
        Files.write(seg, b)
        from(pos) // the frame holding the flip and every later one
      case Junk(junk) =>
        Files.write(seg, junk, StandardOpenOption.APPEND)
        Set.empty
    }
  }

  test("WAL replay after a truncated, flipped or junk-tailed segment keeps what the damage did not reach") {
    sys.props("graft.wal.segMaxBytes") = "1024"
    try {
      val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(60),
        Prop.forAll(cases) { c =>
          val dir = Files.createTempDirectory("graft-wal-fuzz")
          try {
            val r1 = receiver(dir)
            val seqs = c.records.map { rec =>
              val s = r1.latest
              assert(r1.accept(rec) == 200)
              s
            }
            r1.stop()
            val accepted = seqs.zip(c.records).toMap
            val segs = segments(dir)
            val lost = damageSegment(segs(c.segment % segs.size), accepted, c.damage)

            val r2 = receiver(dir) // must not throw
            val got = replayed(r2)
            assert(got.map(_._1) == got.map(_._1).sorted, "replay out of seq order")
            got.foreach { case (s, rec) =>
              assert(accepted.get(s).map(key).contains(key(rec)), s"seq $s replayed a record never accepted")
            }
            val kept = accepted.keySet -- lost
            assert(kept.subsetOf(got.map(_._1).toSet),
              s"${c.damage}: lost ${(kept -- got.map(_._1)).toSeq.sorted}")

            // the damaged log still takes, and replays, a new record
            val fresh = Received("fresh".getBytes("UTF-8"), "u", null, 7L)
            val freshSeq = r2.latest
            assert(r2.accept(fresh) == 200)
            r2.stop()
            val r3 = receiver(dir)
            try assert(replayed(r3).map { case (s, r) => s -> key(r) } ==
              (got :+ (freshSeq -> fresh)).map { case (s, r) => s -> key(r) })
            finally r3.stop()
            true
          } finally deleteAll(dir)
        })
      assert(res.passed, res.status.toString)
    } finally sys.props.remove("graft.wal.segMaxBytes")
  }
}
