package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.HttpRemoteWriteSource
import graft.sources.HttpRemoteWriteSource.Received

/** The receiver's publish floor and the WAL's group-commit fsync.
  *
  * Seqno assignment and buffer insertion are two steps (with a WAL fsync
  * between them in WAL mode), so `latest` must never expose a seqno whose
  * record is still in flight: the planner would fence the micro-batch past
  * it, commit the offset, and the acknowledged payload would never be read.
  * These tests pin the floor ordering directly through the package-private
  * begin/endPublish seams, and drive the WAL's group-commit append path
  * from many concurrent threads to prove every acknowledged record is
  * durable (a fresh receiver over the same walDir replays all of them,
  * byte-identical).
  */
class PublishFloorSpec extends AnyFunSuite {

  private def rcv(walDir: String = "") =
    new HttpRemoteWriteSource.Receiver(HttpRemoteWriteSource.Config.from(
      Flags("web.listen-port" -> "0", "wal-dir" -> walDir)))

  test("latest holds at the smallest in-flight seqno, not the assign counter") {
    val r = rcv()
    assert(r.latest == 0L)
    val s1 = r.beginPublish()
    val s2 = r.beginPublish()
    assert(s1 == 0L && s2 == 1L)
    // the LATER record finishes publishing first — the floor must hold at
    // s1 (exposing s2+1 here is exactly the lost-200 race: a micro-batch
    // planned at [0,2) would miss record 0, then commit past it)
    r.endPublish(s2)
    assert(r.latest == s1, "floor must hold at the oldest in-flight record")
    r.endPublish(s1)
    assert(r.latest == s2 + 1, "with nothing in flight, latest = next seqno")
  }

  test("accept publishes before retiring: latest never skips an accepted record") {
    val r = rcv()
    assert(r.accept(Received("a".getBytes, null, "t1", 1L)) == 200)
    assert(r.accept(Received("b".getBytes, "u", null, 2L)) == 200)
    assert(r.latest == 2L)
    val got = r.range(0L, 2L)
    assert(got.map(_.body.toSeq).toSeq == Seq("a".getBytes.toSeq, "b".getBytes.toSeq))
    assert(got.map(_.orgIdHeader).toSeq == Seq("t1", null))
    assert(got.map(_.basicAuthUser).toSeq == Seq(null, "u"))
  }

  test("latest never throws while publishes race it") {
    // the planner thread polls latest concurrently with handler publishes;
    // the isEmpty-then-first read must be atomic against removal or an
    // emptied set throws NoSuchElementException out of latestOffset,
    // killing the query (reproduced pre-fix in under a second)
    val r = rcv()
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val failed = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      (0 until 2).foreach { _ =>
        pool.execute { () =>
          try while (!stop.get()) r.endPublish(r.beginPublish())
          catch { case t: Throwable => failed.set(t); stop.set(true) }
        }
      }
      val deadline = System.currentTimeMillis() + 1500
      var last = -1L
      while (System.currentTimeMillis() < deadline && failed.get() == null) {
        val l = r.latest // must never throw, must never go backwards
        assert(l >= last, s"latest went backwards: $last -> $l")
        last = l
      }
      stop.set(true)
      assert(failed.get() == null, s"publisher thread died: ${failed.get()}")
    } finally pool.shutdownNow()
  }

  test("concurrent WAL accepts across segment rolls: every 200 replays") {
    // small segments (test seam) so the log rolls dozens of times
    // mid-flight: a roll SEALS the old channel without forcing (the owed
    // fsync moves to the next group-commit leader, outside the append
    // lock — this test originally froze the receiver for minutes on a
    // throttled disk because the roll forced 4 MB under the lock), and
    // the leader must cover sealed segments before advancing the synced
    // floor, or a 200'd record in a rolled segment could miss its fsync
    // sized for ~50 rolls with ~150 total fsyncs: this host's shared disk
    // throttles fsync in bursts (observed 1-2 s/fsync windows after heavy
    // suite IO), so the fsync COUNT — not the byte volume — bounds the
    // worst-case runtime
    sys.props("graft.wal.segMaxBytes") = (16 * 1024).toString
    try {
      val wal = java.nio.file.Files.createTempDirectory("graft-wal-roll").toString
      val r1 = rcv(walDir = wal)
      val threads = 4
      val per = 25
      val body = new Array[Byte](8 * 1024) // ~800 KB total -> ~50 rolls
      val bad = new java.util.concurrent.atomic.AtomicLong(0L)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
      try {
        val done = new java.util.concurrent.CountDownLatch(threads)
        (0 until threads).foreach { t =>
          pool.execute { () =>
            var i = 0
            while (i < per) {
              val b = body.clone(); b(0) = t.toByte; b(1) = i.toByte
              if (r1.accept(Received(b, null, null, 0L)) != 200) bad.incrementAndGet()
              i += 1
            }
            done.countDown()
          }
        }
        assert(done.await(180, java.util.concurrent.TimeUnit.SECONDS))
      } finally pool.shutdownNow()
      assert(bad.get() == 0L, s"${bad.get()} accepts failed under rolling")
      val n = threads * per
      val segs = new java.io.File(wal).listFiles().count(_.getName.endsWith(".wal"))
      assert(segs > 1, s"expected multiple segments, got $segs — roll never happened")
      // CRASH semantics: r1 is NOT stopped before the replay check — a
      // graceful close force-drains, which would mask a leader that never
      // covered its records; replay must succeed off the crashed state
      val r2 = rcv(walDir = wal)
      try {
        val replayed = r2.range(0L, n.toLong)
        assert(replayed.length == n, s"all $n acknowledged records must replay")
        assert(replayed.map(m => (m.body(0), m.body(1))).toSet ==
          (for { t <- 0 until threads; i <- 0 until per } yield (t.toByte, i.toByte)).toSet)
      } finally {
        // then drain both (r1's close exercises the per-channel sealed
        // force path under the small-segment seam; no fd leak in-suite)
        r1.stop(); r2.stop()
      }
    } finally sys.props.remove("graft.wal.segMaxBytes")
  }

  test("concurrent WAL accepts: every 200 is durable under group commit") {
    val wal = java.nio.file.Files.createTempDirectory("graft-wal-group").toString
    val r1 = rcv(walDir = wal)
    val threads = 8
    val per = 200
    val codes = new java.util.concurrent.ConcurrentLinkedQueue[Integer]()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      val latch = new java.util.concurrent.CountDownLatch(1)
      val done = new java.util.concurrent.CountDownLatch(threads)
      (0 until threads).foreach { t =>
        pool.execute { () =>
          latch.await()
          var i = 0
          while (i < per) {
            codes.add(r1.accept(Received(s"t$t-i$i".getBytes("UTF-8"),
              null, s"tenant-$t", (t * per + i).toLong)))
            i += 1
          }
          done.countDown()
        }
      }
      latch.countDown()
      // generous: this host's shared disk throttles fsync in bursts
      assert(done.await(180, java.util.concurrent.TimeUnit.SECONDS))
    } finally pool.shutdownNow()
    val n = threads * per
    assert(codes.size == n)
    import scala.jdk.CollectionConverters._
    assert(codes.asScala.forall(_ == 200), "every accept must return 200")
    assert(r1.latest == n.toLong)
    // CRASH: the in-memory buffer dies with r1 (deliberately NOT stopped
    // first — close() force-drains and would mask a missing pre-200
    // force); a fresh receiver over the same walDir must replay every
    // acknowledged record byte-identically, which is only possible if the
    // group-commit leader's force covered each record BEFORE its accept
    // returned
    val r2 = rcv(walDir = wal)
    assert(r2.latest == n.toLong, "seq counter must resume past the replayed max")
    val replayed = r2.range(0L, n.toLong)
    assert(replayed.length == n, s"all $n acknowledged records must replay")
    val want = (for { t <- 0 until threads; i <- 0 until per }
      yield s"t$t-i$i").toSet
    assert(replayed.map(m => new String(m.body, "UTF-8")).toSet == want)
    assert(replayed.map(_.orgIdHeader).toSet ==
      (0 until threads).map(t => s"tenant-$t").toSet)
    r1.stop(); r2.stop()
  }
}
