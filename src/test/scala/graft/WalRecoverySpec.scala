package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.PromKernel
import graft.sources.HttpRemoteWriteSource

/** The HTTP receiver's WAL-then-200 durability mode (the r16 verdict's #1):
  * the reference's 200 means pulsar-flushed (produce.go:164-181 +
  * pulsar.go:261-262); with `walDir` set ours means fsync'd to a local
  * segment log BEFORE the response. These tests kill the receiver between
  * the 200 and the micro-batch commit and prove the acknowledged payloads
  * are still delivered after restart — plus the truncation, seq-floor, and
  * torn-tail edges that make the log safe to trust.
  */
class WalRecoverySpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def tmpDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-wal-$tag").toString

  private def body(v: Double, ts: Long): Array[Byte] =
    PromKernel.snappyCompress(PromKernel.encodeWriteRequest(
      PromKernel.PbWriteRequest(Seq(PromKernel.PbTimeSeries(
        Seq(PromKernel.PbLabel("__name__", "wal_metric")),
        Seq(PromKernel.PbSample(v, ts)))))))

  private def post(port: Int, b: Array[Byte], org: String = null): Int = {
    val http = java.net.http.HttpClient.newHttpClient()
    val rb = java.net.http.HttpRequest.newBuilder(
        java.net.URI.create(s"http://localhost:$port/write"))
      .POST(java.net.http.HttpRequest.BodyPublishers.ofByteArray(b))
    if (org != null) rb.header(graft.model.Model.TenantHeader, org)
    http.send(rb.build(),
      java.net.http.HttpResponse.BodyHandlers.discarding()).statusCode()
  }

  test("200-acknowledged payloads survive a crash and replay with original seqnos") {
    val port = 19401
    val wal = tmpDir("replay")
    val r1 = HttpRemoteWriteSource.receiver(port, "/write", validate = true,
      walDir = wal)
    assert(post(port, body(1.0, 100L), org = "tenant-a") == 200)
    assert(post(port, body(2.0, 200L), org = "tenant-b") == 200)
    assert(post(port, body(3.0, 300L)) == 200)
    assert(r1.latest == 3L)
    val before = r1.range(0L, 3L).map(m => (m.orgIdHeader, m.body.toSeq))
    // CRASH between the 200s and any micro-batch commit: the in-memory
    // buffer dies with the instance; only the WAL survives
    HttpRemoteWriteSource.shutdown(port)
    val r2 = HttpRemoteWriteSource.receiver(port, "/write", validate = true,
      walDir = wal)
    try {
      assert(r2.latest == 3L, "seq counter must resume past the replayed max")
      val after = r2.range(0L, 3L).map(m => (m.orgIdHeader, m.body.toSeq))
      assert(after.toSeq == before.toSeq,
        "replayed payloads must match the acknowledged ones byte-for-byte")
      assert(after.map(_._1).toSeq == Seq("tenant-a", "tenant-b", null))
    } finally HttpRemoteWriteSource.shutdown(port)
  }

  test("a body past the bound gets 413 and no record; one at the bound replays whole") {
    val port = { val s = new java.net.ServerSocket(0); try s.getLocalPort finally s.close() }
    val wal = tmpDir("cap")
    def segments = {
      val s = java.nio.file.Files.list(java.nio.file.Paths.get(wal))
      try s.iterator().asScala.count(_.getFileName.toString.endsWith(".wal")) finally s.close()
    }
    val r1 = HttpRemoteWriteSource.receiver(port, "/write", validate = false, walDir = wal)
    try {
      assert(post(port, new Array[Byte](HttpRemoteWriteSource.MaxBodyBytes + 1)) == 413)
      assert(r1.latest == 0L && segments == 0)
      assert(post(port, new Array[Byte](HttpRemoteWriteSource.MaxBodyBytes)) == 200)
    } finally HttpRemoteWriteSource.shutdown(port)
    val r2 = HttpRemoteWriteSource.receiver(port, "/write", validate = false, walDir = wal)
    try assert(r2.range(0L, r2.latest).map(_.body.length).toSeq == Seq(HttpRemoteWriteSource.MaxBodyBytes))
    finally {
      HttpRemoteWriteSource.shutdown(port)
      new java.io.File(wal).listFiles().foreach(_.delete()) // a 64 MiB segment
    }
  }

  test("commit truncates segments; the committed floor keeps seqnos monotonic") {
    val port = 19402
    val wal = tmpDir("truncate")
    val r1 = HttpRemoteWriteSource.receiver(port, "/write", validate = true,
      walDir = wal)
    assert(post(port, body(1.0, 100L)) == 200)
    assert(post(port, body(2.0, 200L)) == 200)
    r1.commit(2L) // micro-batch committed: segments fully below 2 are gone
    val segs = new java.io.File(wal).listFiles().filter(_.getName.endsWith(".wal"))
    assert(segs.isEmpty, s"fully-committed segments must be deleted: ${segs.mkString(",")}")
    HttpRemoteWriteSource.shutdown(port)
    val r2 = HttpRemoteWriteSource.receiver(port, "/write", validate = true,
      walDir = wal)
    try {
      // nothing to replay, but the NEXT seqno must not restart at 0 — a
      // checkpointed query would otherwise see latest < committed forever
      assert(r2.latest == 2L, "seq must resume from the persisted committed floor")
      assert(r2.range(0L, 2L).isEmpty)
      assert(post(port, body(3.0, 300L)) == 200)
      assert(r2.latest == 3L && r2.range(2L, 3L).length == 1)
    } finally HttpRemoteWriteSource.shutdown(port)
  }

  test("torn tail: replay stops at the last complete record, losing only un-acked bytes") {
    val port = 19403
    val wal = tmpDir("torn")
    HttpRemoteWriteSource.receiver(port, "/write", validate = true, walDir = wal)
    assert(post(port, body(1.0, 100L)) == 200)
    assert(post(port, body(2.0, 200L)) == 200)
    assert(post(port, body(3.0, 300L)) == 200)
    HttpRemoteWriteSource.shutdown(port)
    // simulate a crash mid-append: chop bytes off the segment tail
    val seg = new java.io.File(wal).listFiles()
      .filter(_.getName.endsWith(".wal")).maxBy(_.getName)
    val ch = java.nio.channels.FileChannel.open(seg.toPath,
      java.nio.file.StandardOpenOption.WRITE)
    try ch.truncate(ch.size() - 5) finally ch.close()
    val r2 = HttpRemoteWriteSource.receiver(port, "/write", validate = true,
      walDir = wal)
    try {
      assert(r2.latest == 2L, "the torn third record must be dropped cleanly")
      assert(r2.range(0L, 2L).length == 2)
    } finally HttpRemoteWriteSource.shutdown(port)
  }

  test("kill between the 200 and the micro-batch commit: a restarted query still delivers") {
    val port = 19404
    val wal = tmpDir("deliver")
    // phase 1: receiver ACKs two payloads (200 after fsync), then CRASHES
    // before any streaming query ever ran a commit
    HttpRemoteWriteSource.receiver(port, "/write", validate = true, walDir = wal)
    val b1 = body(42.0, 1000L); val b2 = body(43.0, 2000L)
    assert(post(port, b1, org = "t-wal") == 200)
    assert(post(port, b2, org = "t-wal") == 200)
    HttpRemoteWriteSource.shutdown(port)
    // phase 2: a fresh query on the same walDir must deliver both payloads
    val src = spark.readStream.format("graft.sources.HttpRemoteWriteProvider")
      .option("web.listen-port", port.toString).option("wal-dir", wal).load()
    val q = src.writeStream.format("memory").queryName("wal_deliver")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val rows = spark.table("wal_deliver")
        .select("body", "orgIdHeader").collect()
      assert(rows.length == 2, rows.mkString(","))
      assert(rows.map(_.getAs[Array[Byte]](0).toSeq).toSet ==
        Set(b1.toSeq, b2.toSeq))
      assert(rows.forall(_.getString(1) == "t-wal"))
    } finally {
      q.stop()
      HttpRemoteWriteSource.shutdown(port)
    }
  }

  test("same-port rebind with a different walDir fails fast") {
    val port = 19405
    val wal = tmpDir("cfg")
    HttpRemoteWriteSource.receiver(port, "/write", validate = true, walDir = wal)
    try {
      val e = intercept[IllegalStateException] {
        HttpRemoteWriteSource.receiver(port, "/write", validate = true,
          walDir = tmpDir("cfg2"))
      }
      assert(e.getMessage.contains("different settings"))
    } finally HttpRemoteWriteSource.shutdown(port)
  }
}
