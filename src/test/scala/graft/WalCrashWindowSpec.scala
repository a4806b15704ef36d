package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.PromKernel
import graft.sources.HttpRemoteWriteSource

/** The r17 verdict's WAL crash windows, driven through fault-injection
  * seams (`graft.wal.failpoint`):
  *
  *   - commit ordering: the committed floor persists BEFORE segment
  *     deletes, so a crash mid-commit can only cause harmless extra
  *     replay — `latest` never regresses below a checkpointed offset and
  *     a query resuming from its checkpoint still plans new accepts
  *     (the old delete-then-persist order silently skipped them);
  *   - torn mid-segment frames: a failed append truncates back to the
  *     pre-record offset (or seals the segment when even that fails), so
  *     later acknowledged records never sit behind a torn frame where
  *     replay's corrupt-record stop would drop them;
  *   - the closed flag: an accept racing close() gets its honest 500
  *     instead of re-opening a segment under a stopping receiver;
  *   - concurrent seqno/append atomicity: seqnos are assigned inside the
  *     append critical section, so a multi-threaded burst with forced
  *     segment rolls replays every acknowledged record after a crash.
  */
class WalCrashWindowSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def tmpDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-walcw-$tag").toString

  private def body(v: Double, ts: Long): Array[Byte] =
    PromKernel.snappyCompress(PromKernel.encodeWriteRequest(
      PromKernel.PbWriteRequest(Seq(PromKernel.PbTimeSeries(
        Seq(PromKernel.PbLabel("__name__", "walcw_metric")),
        Seq(PromKernel.PbSample(v, ts)))))))

  private def post(port: Int, b: Array[Byte]): Int = {
    val http = java.net.http.HttpClient.newHttpClient()
    http.send(java.net.http.HttpRequest.newBuilder(
        java.net.URI.create(s"http://localhost:$port/write"))
      .POST(java.net.http.HttpRequest.BodyPublishers.ofByteArray(b)).build(),
      java.net.http.HttpResponse.BodyHandlers.discarding()).statusCode()
  }

  private def withFailpoint[T](fp: String)(f: => T): T = {
    sys.props("graft.wal.failpoint") = fp
    try f finally sys.props.remove("graft.wal.failpoint")
  }

  test("a platform refusing directory opens degrades dir fsync; accepts stay 200 and replay") {
    // ADVICE r18: on Windows/odd filesystems FileChannel.open(dir) throws —
    // the directory fsync is a power-loss refinement, so the WAL must
    // degrade to the process-crash model instead of turning every accept
    // into a 500. The failpoint simulates the refusing platform.
    val port = 19507
    val wal = tmpDir("dirunsup")
    val r1 = HttpRemoteWriteSource.receiver(port, "/write", validate = true,
      walDir = wal)
    try {
      withFailpoint("dir-open-unsupported") {
        assert(post(port, body(1.0, 100L)) == 200,
          "accept must not 500 over a refused directory fsync")
        assert(post(port, body(2.0, 200L)) == 200)
      }
      // the degrade is sticky for this wal; records were still fsync'd
      assert(r1.walDirSyncDegraded == Some(true),
        "a platform refusal must latch the degrade")
      assert(post(port, body(3.0, 300L)) == 200)
      assert(r1.latest == 3L)
    } finally HttpRemoteWriteSource.shutdown(port)
    // process-crash durability is unaffected: a fresh receiver replays all
    val r2 = HttpRemoteWriteSource.receiver(port, "/write", validate = true,
      walDir = wal)
    try assert(r2.range(0L, 3L).length == 3)
    finally HttpRemoteWriteSource.shutdown(port)
  }

  test("a TRANSIENT directory-open failure refuses the ack and does not latch the degrade") {
    // ADVICE r19 + r20: a transient open failure (EMFILE under load, a
    // momentary EIO) must not permanently weaken the power-loss model —
    // the latch is reserved for platform INCAPABILITY. And because the
    // WAL's invariant is entry-durable-before-200, a record landing in a
    // segment whose directory entry could not be forced gets an HONEST
    // 500 (ADVICE r20: acking it would open a power-loss window until the
    // next group commit), exactly like a failed channel force. Once the
    // transient failure clears, the owed directory epoch is re-forced by
    // the next accept's group commit and ingestion resumes.
    val port = 19508
    val wal = tmpDir("dirtransient")
    val r1 = HttpRemoteWriteSource.receiver(port, "/write", validate = true,
      walDir = wal)
    try {
      withFailpoint("dir-open-transient") {
        assert(post(port, body(1.0, 100L)) == 500,
          "a record in a segment with an un-forced directory entry must " +
            "not be acknowledged (entry-durable-before-200)")
      }
      assert(r1.walDirSyncDegraded == Some(false),
        "a transient failure must NOT latch the platform-incapability degrade")
      // failpoint cleared: the owed directory epoch retries and succeeds
      assert(post(port, body(2.0, 200L)) == 200)
      assert(r1.latest == 2L)
      assert(r1.walDirSyncDegraded == Some(false))
    } finally HttpRemoteWriteSource.shutdown(port)
    val r2 = HttpRemoteWriteSource.receiver(port, "/write", validate = true,
      walDir = wal)
    // both records replay: the refused seq-1 record is already in the
    // segment (its append succeeded; only the ack was withheld), and an
    // un-acked record replaying is the harmless at-least-once extra
    try assert(r2.range(0L, 2L).length == 2)
    finally HttpRemoteWriteSource.shutdown(port)
  }

  test("crash between floor persist and deletes: latest never regresses, new accepts are planned") {
    val port = 19501
    val wal = tmpDir("midcommit")
    val r1 = HttpRemoteWriteSource.receiver(port, "/write", validate = true,
      walDir = wal)
    assert(post(port, body(1.0, 100L)) == 200)
    assert(post(port, body(2.0, 200L)) == 200)
    // the micro-batch engine checkpoints offset 2, then commit(2) CRASHES
    // after the floor persisted but before any segment was deleted
    val e = intercept[IllegalStateException] {
      withFailpoint("commit-after-floor") { r1.commit(2L) }
    }
    assert(e.getMessage.contains("failpoint"))
    val segsLeft = new java.io.File(wal).listFiles()
      .filter(_.getName.endsWith(".wal"))
    assert(segsLeft.nonEmpty, "the crash happened before any delete")
    HttpRemoteWriteSource.shutdown(port)
    val r2 = HttpRemoteWriteSource.receiver(port, "/write", validate = true,
      walDir = wal)
    try {
      // the floor won: seqnos resume AT the checkpoint, never below it —
      // under the old delete-first order a fully-drained commit that
      // crashed before the rename resumed at the STALE floor and
      // acknowledged payloads below the checkpoint were never planned
      assert(r2.latest == 2L,
        s"latest must not regress below the checkpointed offset, got ${r2.latest}")
      assert(post(port, body(3.0, 300L)) == 200)
      assert(r2.latest == 3L)
      assert(r2.range(2L, 3L).length == 1,
        "the new accept must be visible to a query resuming from offset 2")
      // the resurrected pre-checkpoint records replay BELOW the
      // checkpoint (harmless extra the resumed query skips)
      assert(r2.range(0L, 2L).length == 2)
    } finally HttpRemoteWriteSource.shutdown(port)
  }

  test("a streaming query resuming from its checkpoint delivers accepts made after a mid-commit crash") {
    val port = 19502
    val wal = tmpDir("midcommit-q")
    val ckpt = tmpDir("midcommit-ckpt")
    val out = tmpDir("midcommit-out")
    HttpRemoteWriteSource.receiver(port, "/write", validate = true, walDir = wal)
    val b1 = body(1.0, 1000L); val b2 = body(2.0, 2000L); val b3 = body(3.0, 3000L)
    assert(post(port, b1) == 200)
    assert(post(port, b2) == 200)
    // batch 0 executes (rows land in parquet), then the source commit
    // crashes mid-commit with the floor persisted and deletes skipped
    val floorFile = java.nio.file.Paths.get(wal, "committed")
    def floorNow: String =
      if (!java.nio.file.Files.exists(floorFile)) ""
      else new String(java.nio.file.Files.readAllBytes(floorFile), "UTF-8").trim
    withFailpoint("commit-after-floor") {
      val src = spark.readStream.format("graft.sources.HttpRemoteWriteProvider")
        .option("web.listen-port", port.toString).option("wal-dir", wal).load()
      val q = src.writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .outputMode("append").start()
      try {
        try q.processAllAvailable() catch { case _: Exception => () }
        // the engine only calls source.commit when the NEXT batch plans:
        // a third acknowledged post triggers batch 1, whose planning
        // commits batch 0's offset — and crashes at the failpoint with
        // the floor persisted and the deletes skipped
        assert(post(port, b3) == 200)
        val deadline = System.currentTimeMillis() + 180000
        while (floorNow != "2" && System.currentTimeMillis() < deadline)
          Thread.sleep(50)
      } finally { try q.stop() catch { case _: Exception => () } }
    }
    assert(floorNow == "2", s"the floor must persist before the crash, got '$floorNow'")
    val segsLeft = new java.io.File(wal).listFiles().filter(_.getName.endsWith(".wal"))
    assert(segsLeft.nonEmpty, "the crash fired before any segment delete")
    // process restart: fresh receiver on the same walDir — the
    // acknowledged b3 must replay from the WAL above the floor
    HttpRemoteWriteSource.shutdown(port)
    HttpRemoteWriteSource.receiver(port, "/write", validate = true, walDir = wal)
    val q2 = spark.readStream.format("graft.sources.HttpRemoteWriteProvider")
      .option("web.listen-port", port.toString).option("wal-dir", wal).load()
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .outputMode("append").start()
    try {
      q2.processAllAvailable()
      val bodies = spark.read.parquet(out).select("body").collect()
        .map(_.getAs[Array[Byte]](0).toSeq).toSet
      assert(bodies.contains(b3.toSeq),
        "the acknowledged post-crash payload must be delivered by the resumed query")
      assert(bodies == Set(b1.toSeq, b2.toSeq, b3.toSeq))
    } finally {
      q2.stop()
      HttpRemoteWriteSource.shutdown(port)
    }
  }

  test("torn mid-segment frame heals by truncation: later acknowledged records replay") {
    val port = 19503
    val wal = tmpDir("torn-heal")
    HttpRemoteWriteSource.receiver(port, "/write", validate = true, walDir = wal)
    val b1 = body(1.0, 100L); val b3 = body(3.0, 300L)
    assert(post(port, b1) == 200)
    withFailpoint("append-torn") {
      assert(post(port, body(2.0, 200L)) == 500,
        "a torn append must refuse the 200")
    }
    assert(post(port, b3) == 200,
      "appends after the healed tear must succeed in the SAME segment")
    val segs = new java.io.File(wal).listFiles().filter(_.getName.endsWith(".wal"))
    assert(segs.length == 1, s"truncation healed in place: ${segs.mkString(",")}")
    HttpRemoteWriteSource.shutdown(port)
    val r2 = HttpRemoteWriteSource.receiver(port, "/write", validate = true,
      walDir = wal)
    try {
      // seq 1 is a hole (the 500); both acknowledged records replay
      assert(r2.latest == 3L)
      val replayed = r2.range(0L, 3L).map(_.body.toSeq)
      assert(replayed.toSeq == Seq(b1.toSeq, b3.toSeq),
        "the record AFTER the torn frame must not be lost to replay's corrupt-record stop")
    } finally HttpRemoteWriteSource.shutdown(port)
  }

  test("torn frame with a failing truncate seals the segment; later records start fresh") {
    val port = 19504
    val wal = tmpDir("torn-seal")
    HttpRemoteWriteSource.receiver(port, "/write", validate = true, walDir = wal)
    val b1 = body(1.0, 100L); val b3 = body(3.0, 300L)
    assert(post(port, b1) == 200)
    withFailpoint("append-torn-seal") {
      assert(post(port, body(2.0, 200L)) == 500)
    }
    assert(post(port, b3) == 200)
    val segs = new java.io.File(wal).listFiles().filter(_.getName.endsWith(".wal"))
    assert(segs.length == 2,
      s"the sealed segment keeps the tear at its tail; a fresh one takes b3: ${segs.mkString(",")}")
    HttpRemoteWriteSource.shutdown(port)
    val r2 = HttpRemoteWriteSource.receiver(port, "/write", validate = true,
      walDir = wal)
    try {
      assert(r2.latest == 3L)
      assert(r2.range(0L, 3L).map(_.body.toSeq).toSeq == Seq(b1.toSeq, b3.toSeq))
    } finally HttpRemoteWriteSource.shutdown(port)
  }

  test("torn FIRST record of a fresh wal drops the file; the next accept starts clean") {
    val port = 19505
    val wal = tmpDir("torn-first")
    HttpRemoteWriteSource.receiver(port, "/write", validate = true, walDir = wal)
    val b2 = body(2.0, 200L)
    withFailpoint("append-torn-seal") {
      assert(post(port, body(1.0, 100L)) == 500)
    }
    assert(post(port, b2) == 200)
    HttpRemoteWriteSource.shutdown(port)
    val r2 = HttpRemoteWriteSource.receiver(port, "/write", validate = true,
      walDir = wal)
    try {
      assert(r2.latest == 2L)
      assert(r2.range(0L, 2L).map(_.body.toSeq).toSeq == Seq(b2.toSeq))
    } finally HttpRemoteWriteSource.shutdown(port)
  }

  test("accept racing close(): the closed wal refuses with a 500, no orphan segment") {
    val port = 19506
    val wal = tmpDir("closed")
    val r = HttpRemoteWriteSource.receiver(port, "/write", validate = true,
      walDir = wal)
    assert(post(port, body(1.0, 100L)) == 200)
    r.commit(1L) // drain so the dir holds no segment
    HttpRemoteWriteSource.shutdown(port) // closes the wal
    // an in-flight handler that slipped past server.stop(0) — drive the
    // shared accept path directly, as the handler would
    val code = r.accept(HttpRemoteWriteSource.Received(
      body(2.0, 200L), null, null, 200L))
    assert(code == 500, "a closed wal must refuse, not silently buffer")
    val segs = new java.io.File(wal).listFiles().filter(_.getName.endsWith(".wal"))
    assert(segs.isEmpty, s"no segment may be re-opened after close: ${segs.mkString(",")}")
  }

  test("concurrent accepts with forced rolls: every acknowledged record replays exactly once") {
    val port = 19507
    val wal = tmpDir("hammer")
    sys.props("graft.wal.segMaxBytes") = "2048" // many rolls
    val threads = 8; val perThread = 40
    try {
      val r = HttpRemoteWriteSource.receiver(HttpRemoteWriteSource.Config.from(Flags(
        "web.listen-port" -> port.toString, "wal-dir" -> wal,
        "web.handler-threads" -> threads.toString)))
      val acked = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
      val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
      val futs = (0 until threads).map { t =>
        pool.submit(new Runnable {
          override def run(): Unit = (0 until perThread).foreach { i =>
            val tag = s"t$t-r$i"
            val code = r.accept(HttpRemoteWriteSource.Received(
              tag.getBytes("UTF-8"), null, null, i.toLong))
            if (code == 200) acked.add(tag)
          }
        })
      }
      futs.foreach(_.get(180, java.util.concurrent.TimeUnit.SECONDS))
      pool.shutdown()
      assert(acked.size == threads * perThread, "every accept should 200")
      HttpRemoteWriteSource.shutdown(port) // crash before any commit
      val r2 = HttpRemoteWriteSource.receiver(HttpRemoteWriteSource.Config.from(Flags(
        "web.listen-port" -> port.toString, "wal-dir" -> wal,
        "web.handler-threads" -> threads.toString)))
      try {
        val replayed = r2.range(0L, r2.latest).map(m => new String(m.body, "UTF-8"))
        assert(replayed.length == acked.size,
          s"replayed ${replayed.length} of ${acked.size} acknowledged records")
        val ackedSet = {
          import scala.jdk.CollectionConverters._; acked.asScala.toSet
        }
        assert(replayed.toSet == ackedSet,
          "replay must be exactly the acknowledged set")
        assert(replayed.distinct.length == replayed.length, "no duplicates")
      } finally HttpRemoteWriteSource.shutdown(port)
    } finally sys.props.remove("graft.wal.segMaxBytes")
  }
}
