package graft

import java.util.concurrent.TimeUnit

import scala.collection.mutable

import org.apache.spark.sql.connector.read.PartitionReader
import org.apache.spark.sql.catalyst.InternalRow
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{BrokerSource, FileRangePartition, SeqOffset, SeqStream}
import graft.streaming.{FileTopic, PulsarSink}

/** Cursor-level guarantees of the consume source:
  *   - the file topic never materializes payload bytes on the driver
  *     (names-only buffer; executors open the segment files);
  *   - the real-broker cursor acks only messages actually served to a
  *     batch, surviving a restart whose checkpointed offsets came from a
  *     previous incarnation's numbering.
  */
class BrokerCursorSpec extends AnyFunSuite {

  private def tmpDir(): String =
    java.nio.file.Files.createTempDirectory("graft-broker-cursor").toString

  private def produce(dir: String, n: Int): Unit = {
    val p = new FileTopic.Factory(dir).create(0L)
    (0 until n).foreach(i => p.sendAsync(s"k$i", s"payload-$i".getBytes("UTF-8")))
    p.flush(); p.close()
  }

  /** A file-topic stream; one partition per batch unless `width` says more. */
  private def fileStream(dir: String, subscription: String, width: Int = 1): SeqStream =
    new SeqStream(BrokerSource.cursor(BrokerSource.Config.from(Flags("topic" -> "t",
      "topic-dir" -> dir, "pulsar.subscription" -> subscription))), width)

  private def readAll(r: PartitionReader[InternalRow]): Seq[(String, String)] = {
    val out = mutable.Buffer.empty[(String, String)]
    while (r.next()) {
      val row = r.get()
      out += ((row.getUTF8String(0).toString, new String(row.getBinary(1), "UTF-8")))
    }
    r.close()
    out.toSeq
  }

  test("file topic: driver plans name ranges; executors read the payload bytes") {
    val dir = tmpDir()
    produce(dir, 5)
    val stream = fileStream(dir, "cursor-spec-1")
    val end = stream.latestOffset().asInstanceOf[SeqOffset].seq
    assert(end == 5)
    val parts = stream.planInputPartitions(SeqOffset(0), SeqOffset(end))
    assert(parts.length == 1)
    // the partition the driver ships carries NO payload bytes — names only
    val fp = parts.head match {
      case f: FileRangePartition => f
      case other => fail(s"expected FileRangePartition, got ${other.getClass}")
    }
    assert(fp.names.length == 5 && fp.names.forall(_.endsWith(".msg")))
    // the reader (executor side) materializes payloads from the segment files
    val rows = readAll(stream.createReaderFactory().createReader(fp))
    assert(rows.map(_._1) == (0 until 5).map(i => s"k$i") &&
      rows.map(_._2) == (0 until 5).map(i => s"payload-$i"))
    // commit drops the committed prefix; later offsets still plan
    stream.commit(SeqOffset(3))
    val rest = stream.planInputPartitions(SeqOffset(3), SeqOffset(5))
    val restRows = readAll(stream.createReaderFactory().createReader(rest.head))
    assert(restRows.map(_._2) == Seq("payload-3", "payload-4"))
  }

  test("readers knob splits a batch by key hash, preserving per-key order") {
    val dir = tmpDir()
    // 20 messages over 5 keys, several per key, in one arrival order
    val p = new FileTopic.Factory(dir).create(0L)
    (0 until 20).foreach(i => p.sendAsync(s"k${i % 5}", s"m-$i".getBytes("UTF-8")))
    p.flush(); p.close()
    val stream = fileStream(dir, "cursor-spec-readers", width = 3)
    val end = stream.latestOffset().asInstanceOf[SeqOffset].seq
    val parts = stream.planInputPartitions(SeqOffset(0), SeqOffset(end))
    assert(parts.length > 1 && parts.length <= 3, s"${parts.length} partitions")
    val factory = stream.createReaderFactory()
    val byPart = parts.map(pt => readAll(factory.createReader(pt)))
    // union covers everything exactly once
    assert(byPart.flatten.map(_._2).sorted.toSeq ==
      (0 until 20).map(i => s"m-$i").sorted)
    // a key never spans partitions...
    val keyToParts = byPart.zipWithIndex
      .flatMap { case (rows, pi) => rows.map(r => r._1 -> pi) }
      .groupBy(_._1).view.mapValues(_.map(_._2).distinct.length)
    assert(keyToParts.values.forall(_ == 1), keyToParts.toMap.toString)
    // ...and its messages stay in arrival order inside its partition
    byPart.foreach { rows =>
      rows.groupBy(_._1).foreach { case (k, ms) =>
        val idx = ms.map(_._2.stripPrefix("m-").toInt)
        assert(idx == idx.sorted, s"key $k out of order: $idx")
      }
    }
  }

  test("a legacy name without the key-hash suffix forces a single partition") {
    val dir = tmpDir()
    produce(dir, 6) // 6 distinct keys -> would split 3 ways
    // simulate a message from a pre-suffix producer: same payload layout,
    // name without -kh — its key is only knowable by opening the file
    val legacy = FileTopic.listNamesAfter(dir, "").head
    val legacyName = legacy.replaceAll("-kh[0-9a-f]{8}\\.msg$", ".msg")
    java.nio.file.Files.move(
      java.nio.file.Paths.get(dir).resolve(legacy),
      java.nio.file.Paths.get(dir).resolve(legacyName))
    val stream = fileStream(dir, "cursor-spec-legacy", width = 3)
    val end = stream.latestOffset().asInstanceOf[SeqOffset].seq
    val parts = stream.planInputPartitions(SeqOffset(0), SeqOffset(end))
    // splitting would have to guess the legacy message's key and could
    // separate it from its siblings: the whole batch stays one partition
    assert(parts.length == 1)
    val rows = readAll(stream.createReaderFactory().createReader(parts.head))
    assert(rows.length == 6 && rows.map(_._2).sorted ==
      (0 until 6).map(i => s"payload-$i"))
  }

  test("a consume stream splits across the session's default parallelism") {
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    val width = spark.sparkContext.defaultParallelism
    val dir = tmpDir()
    produce(dir, 12) // 12 distinct keys
    val df = spark.readStream.format("graft.sources.BrokerSourceProvider")
      .option("topic-dir", dir).option("pulsar.subscription", "cursor-spec-stream").load()
      .select(org.apache.spark.sql.functions.col("key"),
        org.apache.spark.sql.functions.spark_partition_id().as("pid"))
    val q = df.writeStream.format("memory").queryName("split_out")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(100L))
      .start()
    try {
      q.processAllAvailable()
      val rows = spark.table("split_out").collect()
        .map(r => r.getString(0) -> r.getInt(1))
      assert(rows.length == 12, s"${rows.length} rows")
      // the batch spread across more than one source partition, and no
      // wider than the session's default parallelism
      val pids = rows.map(_._2).distinct
      assert(pids.length > 1 && pids.length <= width, s"width $width: ${rows.mkString(",")}")
      // progress names the source by its cursor; listeners tell produce
      // from consume by it
      assert(q.lastProgress.sources.head.description.contains("BrokerSource$FileCursor"),
        q.lastProgress.sources.head.description)
    } finally q.stop()
  }

  test("the stream's description names the receiver as its source") {
    val r = new graft.sources.HttpRemoteWriteSource.Receiver(
      graft.sources.HttpRemoteWriteSource.Config.from(Flags()))
    try assert(new SeqStream(r, 1).toString.contains("HttpRemoteWriteSource$Receiver"))
    finally r.stop()
  }

  // --- fake pulsar-client consumer (duck-typed for the reflection seam) ----

  class FakeMessageId(val n: Int)
  class FakeMsg(k: String, d: Array[Byte], val id: FakeMessageId) {
    def getKey: String = k
    def getData: Array[Byte] = d
    def getMessageId: AnyRef = id
  }
  class FakeConsumer {
    val pending = mutable.Queue.empty[FakeMsg]
    val acked = mutable.Buffer.empty[FakeMessageId]
    def receive(t: Int, u: TimeUnit): AnyRef =
      if (pending.isEmpty) null else pending.dequeue()
    def acknowledge(id: FakeMessageId): Unit = acked += id
  }

  private def cursorOver(fake: FakeConsumer): BrokerSource.PulsarCursor =
    new BrokerSource.PulsarCursor(
      PulsarSink.Config.from(Flags("pulsar.url" -> "pulsar://fake:6650")), "sub") {
      override protected def newConsumer(): AnyRef = fake
    }

  test("PulsarCursor acks exactly the committed, served messages") {
    val fake = new FakeConsumer
    (0 until 4).foreach(i =>
      fake.pending += new FakeMsg(s"k$i", Array[Byte](i.toByte), new FakeMessageId(i)))
    val c = cursorOver(fake)
    assert(c.poll() == 4)
    assert(c.range(0, 2).map(_.key).toSeq == Seq("k0", "k1"))
    c.commit(2)
    assert(fake.acked.map(_.n).toSeq == Seq(0, 1))
    // remaining messages stay buffered and un-acked until their commit
    assert(c.range(2, 4).length == 2 && fake.acked.length == 2)
    c.commit(4)
    assert(fake.acked.map(_.n).toSeq == Seq(0, 1, 2, 3))
  }

  test("restart rebase: redeliveries line up with checkpointed offsets; no blind acks") {
    // previous incarnation committed through offset 5 and crashed with 2
    // unacked messages in flight; the broker redelivers them to the new
    // incarnation, whose fresh cursor would otherwise number them 0,1
    val fake = new FakeConsumer
    fake.pending += new FakeMsg("k5", Array[Byte](5), new FakeMessageId(5))
    fake.pending += new FakeMsg("k6", Array[Byte](6), new FakeMessageId(6))
    val c = cursorOver(fake)
    c.ensureBase(5) // SeqStream calls this with the restored start offset
    assert(c.poll() == 7)
    // the redelivered messages are SERVED to the [5,7) batch...
    assert(c.range(5, 7).map(_.key).toSeq == Seq("k5", "k6"))
    c.commit(7)
    // ...and exactly they are acked; nothing below the start was touched
    assert(fake.acked.map(_.n).toSeq == Seq(5, 6))
    // rebase is one-shot: once messages flowed, ensureBase is a no-op
    fake.pending += new FakeMsg("k7", Array[Byte](7), new FakeMessageId(7))
    c.ensureBase(100)
    assert(c.poll() == 8 && c.range(7, 8).head.key == "k7")
  }

  test("replayed batch planned before redelivery: late redeliveries renumber past the window, never blind-acked") {
    // previous incarnation committed through 5, crashed with batch [5, 7)
    // in the WAL; on restart Spark REPLAYS that batch — planInputPartitions
    // runs before any scheduled poll, and the broker's ack-timeout
    // redelivery hasn't fired yet
    val fake = new FakeConsumer
    val c = cursorOver(fake)
    c.ensureBase(5)
    val parts = c.plan(5, 7, 1)
    assert(parts.map { case graft.sources.BrokerInputPartition(ms) => ms.length }.sum == 0)
    // redeliveries arrive AFTER the window was planned; progress reporting
    // polls before the batch commits
    fake.pending += new FakeMsg("k5", Array[Byte](5), new FakeMessageId(5))
    fake.pending += new FakeMsg("k6", Array[Byte](6), new FakeMessageId(6))
    c.poll()
    c.commit(7)
    // the never-served redeliveries must NOT be acked by the replay commit
    assert(fake.acked.isEmpty, fake.acked.map(_.n).toSeq.toString)
    // they were fenced past the window and are served by the next batch
    assert(c.poll() == 9)
    assert(c.range(7, 9).map(_.key).toSeq == Seq("k5", "k6"))
    c.commit(9)
    assert(fake.acked.map(_.n).toSeq == Seq(5, 6))
  }

  test("replayed batch serves redeliveries that arrived before planning") {
    // same replay, but the broker already redelivered by the time the
    // batch is planned: planning polls, so the replayed window serves them
    // and the commit acks exactly them
    val fake = new FakeConsumer
    fake.pending += new FakeMsg("k5", Array[Byte](5), new FakeMessageId(5))
    fake.pending += new FakeMsg("k6", Array[Byte](6), new FakeMessageId(6))
    val c = cursorOver(fake)
    c.ensureBase(5)
    val parts = c.plan(5, 7, 1)
    val served = parts.flatMap { case graft.sources.BrokerInputPartition(ms) => ms }
    assert(served.map(_.key).toSeq == Seq("k5", "k6"))
    c.commit(7)
    assert(fake.acked.map(_.n).toSeq == Seq(5, 6))
  }

  test("file topic: replayed in-flight batch planned before any poll serves the right files") {
    val dir = tmpDir()
    produce(dir, 5)
    // incarnation 1 committed [0,3) and crashed with [3,5) in the WAL;
    // incarnation 2's first call is the replay's planInputPartitions —
    // before any latestOffset/poll
    val stream = fileStream(dir, "cursor-spec-replay")
    val parts = stream.planInputPartitions(SeqOffset(3), SeqOffset(5))
    assert(parts.length == 1)
    val rows = readAll(stream.createReaderFactory().createReader(parts.head))
    assert(rows.map(_._2) == Seq("payload-3", "payload-4"), rows.toString)
  }

  test("rebase shifts entries polled before the restored start was known") {
    // a poll made BEFORE the restored start offset reaches the cursor:
    // the redelivery lands at seqno 0; the later ensureBase(5) must shift
    // it so the restored batch [5, 6) serves it and the ack covers the
    // right message
    val fake = new FakeConsumer
    fake.pending += new FakeMsg("k5", Array[Byte](5), new FakeMessageId(5))
    val c = cursorOver(fake)
    assert(c.poll() == 1) // early poll, pre-rebase numbering
    c.ensureBase(5)
    assert(c.poll() == 6)
    assert(c.range(5, 6).map(_.key).toSeq == Seq("k5"))
    c.commit(6)
    assert(fake.acked.map(_.n).toSeq == Seq(5))
  }
}
