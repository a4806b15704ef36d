package graft

import java.util.concurrent.TimeUnit

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.PartitionReader
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{BrokerOffset, BrokerSource, BrokerStream, ExecutorPull, ExecutorPullPartition}

/** Executor-pull consume mode: per-executor KeyShared consumers over sticky
  * hash ranges, epoch offsets, ack-on-next-epoch. The consumer seam injects
  * fakes per range (local mode keeps everything in one JVM), so the spec
  * observes exactly what a broker would: receives, acks, and their order.
  */
class ExecutorPullSpec extends AnyFunSuite {

  class FakeMessageId(val n: Int)
  class FakeMsg(k: String, d: Array[Byte], val id: FakeMessageId) {
    def getKey: String = k
    def getData: Array[Byte] = d
    def getMessageId: AnyRef = id
  }
  class FakeConsumer {
    val pending = mutable.Queue.empty[FakeMsg]
    val acked = mutable.Buffer.empty[FakeMessageId]
    val nacked = mutable.Buffer.empty[FakeMessageId]
    var closed = false
    def receive(t: Int, u: TimeUnit): AnyRef =
      if (pending.isEmpty) null else pending.dequeue()
    def acknowledge(id: FakeMessageId): Unit = acked += id
    def negativeAcknowledge(id: FakeMessageId): Unit = nacked += id
    def close(): Unit = closed = true
  }

  /** An executor-pull config over the fake broker, built from the consume
    * flags: subscription "ep-spec", one reader, 5 ms polls unless `flags`
    * say otherwise.
    */
  private def conf(flags: (String, String)*): BrokerSource.Config =
    BrokerSource.Config.from(Flags((Seq("pulsar.url" -> "pulsar://fake:6650",
      "topic" -> "t", "pulsar.subscription" -> "ep-spec",
      "pulsar.executor-consumers" -> "true", "readers" -> "1",
      "pollTimeoutMs" -> "5") ++ flags): _*))

  private val cfg = conf()

  /** Install fakes (one per slot) and reset the registry. A task of an
    * earlier test's stopped query can still be running (stop() does not
    * wait for the tasks it kills); its run is stopped, so it pulls nothing
    * from these fakes.
    */
  private def withFakes[A](n: Int)(body: IndexedSeq[FakeConsumer] => A): A = {
    val fakes = IndexedSeq.fill(n)(new FakeConsumer)
    ExecutorPull.reset()
    val old = ExecutorPull.consumerFactory
    ExecutorPull.consumerFactory = (_, slot) => fakes(slot)
    try body(fakes)
    finally { ExecutorPull.consumerFactory = old; ExecutorPull.reset() }
  }

  /** Slot 0's pull token at `epoch`, under a fresh (live) run. */
  private def part(c: BrokerSource.Config, epoch: Long) =
    ExecutorPullPartition(c, ExecutorPull.newRun(), 0, epoch)

  private def msg(n: Int, key: String = null) =
    new FakeMsg(if (key == null) s"k$n" else key, Array[Byte](n.toByte), new FakeMessageId(n))

  private def readAll(r: PartitionReader[InternalRow]): Seq[String] = {
    val out = mutable.Buffer.empty[String]
    while (r.next()) out += r.get().getUTF8String(0).toString
    r.close()
    out.toSeq
  }

  private def stream(readers: Int, maxRecords: Long = 0L) =
    new BrokerStream(conf("readers" -> readers.toString,
      "maxRecordsPerTrigger" -> maxRecords.toString))

  test("epoch batches pull per range; acks ride the next epoch") {
    withFakes(2) { fakes =>
      fakes(0).pending += msg(0)
      fakes(0).pending += msg(1)
      fakes(1).pending += msg(2)
      val st = stream(readers = 2)
      // driver: offsets are epochs — every trigger advances one
      val e1 = st.latestOffset(BrokerOffset(0),
        org.apache.spark.sql.connector.read.streaming.ReadLimit.allAvailable())
      assert(e1.asInstanceOf[BrokerOffset].seq == 1)
      val parts = st.planInputPartitions(BrokerOffset(0), e1)
      assert(parts.length == 2)
      val factory = st.createReaderFactory()
      val byRange = parts.map(p => readAll(factory.createReader(p)))
      assert(byRange(0) == Seq("k0", "k1") && byRange(1) == Seq("k2"))
      // nothing is acked while the batch is in flight...
      assert(fakes(0).acked.isEmpty && fakes(1).acked.isEmpty)
      // ...and the commit acks exactly the served batch (same-JVM entries
      // hear the commit promptly via ackThrough)
      st.commit(e1)
      assert(fakes(0).acked.map(_.n).toSeq == Seq(0, 1))
      assert(fakes(1).acked.map(_.n).toSeq == Seq(2))
      // epoch 2 serves new data; the earlier acks are not repeated
      fakes(1).pending += msg(3)
      val e2 = st.latestOffset(e1,
        org.apache.spark.sql.connector.read.streaming.ReadLimit.allAvailable())
      val parts2 = st.planInputPartitions(e1, e2)
      val byRange2 = parts2.map(p => readAll(factory.createReader(p)))
      assert(byRange2(0).isEmpty && byRange2(1) == Seq("k3"))
      assert(fakes(0).acked.map(_.n).toSeq == Seq(0, 1))
      assert(fakes(1).acked.map(_.n).toSeq == Seq(2))
    }
  }

  test("a same-epoch rerun re-serves the FROZEN buffer: no new drains, no acks") {
    withFakes(1) { fakes =>
      fakes(0).pending += msg(0)
      fakes(0).pending += msg(1)
      val p = part(cfg, epoch = 1L)
      val st = stream(readers = 1)
      val factory = st.createReaderFactory()
      assert(readAll(factory.createReader(p)) == Seq("k0", "k1"))
      // task retry / batch replay at the SAME epoch: the broker does not
      // redeliver to a live consumer, so the buffered messages are the
      // only copy — they must serve again, unacked
      assert(readAll(factory.createReader(p)) == Seq("k0", "k1"))
      assert(fakes(0).acked.isEmpty)
      // the epoch's buffer is FROZEN on the first attempt: a rerun (e.g. a
      // speculative attempt whose output Spark discards) must not drain a
      // newly-arrived message into it — the commit's served set would not
      // contain it, yet the next epoch's ack would cover it
      fakes(0).pending += msg(2)
      assert(readAll(factory.createReader(p)) == Seq("k0", "k1"))
      assert(fakes(0).pending.map(_.id.n).toSeq == Seq(2), "k2 must remain queued")
      // the next epoch serves it
      assert(readAll(factory.createReader(p.copy(epoch = 2L))) == Seq("k2"))
      assert(fakes(0).acked.map(_.n).toSeq == Seq(0, 1))
    }
  }

  test("maxRecords bounds each reader's pull; the rest waits for later epochs") {
    withFakes(1) { fakes =>
      (0 until 5).foreach(i => fakes(0).pending += msg(i))
      val st = stream(readers = 1, maxRecords = 2L)
      val factory = st.createReaderFactory()
      val p1 = part(conf("maxRecordsPerTrigger" -> "2"), epoch = 1L)
      assert(readAll(factory.createReader(p1)) == Seq("k0", "k1"))
      val p2 = p1.copy(epoch = 2L)
      assert(readAll(factory.createReader(p2)) == Seq("k2", "k3"))
      assert(fakes(0).acked.map(_.n).toSeq == Seq(0, 1))
    }
  }

  test("a rerun with a full maxRecords buffer must not dequeue (and drop) a message") {
    withFakes(1) { fakes =>
      (0 until 3).foreach(i => fakes(0).pending += msg(i))
      val factory = stream(readers = 1, maxRecords = 2L).createReaderFactory()
      val p1 = part(conf("maxRecordsPerTrigger" -> "2"), epoch = 1L)
      assert(readAll(factory.createReader(p1)) == Seq("k0", "k1"))
      // same-epoch rerun with the buffer already at the cap: receiving
      // would dequeue k2 past the budget — never served, never acked, and
      // a live consumer gets no redelivery. It must stay at the broker.
      assert(readAll(factory.createReader(p1)) == Seq("k0", "k1"))
      assert(fakes(0).pending.map(_.id.n).toSeq == Seq(2), "k2 must remain queued")
      // the next epoch serves it
      assert(readAll(factory.createReader(p1.copy(epoch = 2L))) == Seq("k2"))
      assert(fakes(0).acked.map(_.n).toSeq == Seq(0, 1))
    }
  }

  test("restart: a fresh incarnation serves broker redeliveries under resumed epochs") {
    withFakes(1) { fakes =>
      // incarnation 1 pulled two messages under epoch 5 and crashed before
      // epoch 6 ran: its consumer closed with the JVM, nothing was acked,
      // and the broker redelivers both to the new incarnation's consumer.
      // Spark resumes from the checkpoint: batch 5 replays first.
      fakes(0).pending += msg(0)
      fakes(0).pending += msg(1)
      val factory = stream(readers = 1).createReaderFactory()
      val p5 = part(cfg, epoch = 5L)
      // the replayed batch serves the redeliveries (at-least-once: content
      // equivalence, not byte-identical batch replay — see ExecutorPull doc)
      assert(readAll(factory.createReader(p5)) == Seq("k0", "k1"))
      assert(fakes(0).acked.isEmpty)
      // the next epoch acks them — exactly the once-served messages
      assert(readAll(factory.createReader(p5.copy(epoch = 6L))).isEmpty)
      assert(fakes(0).acked.map(_.n).toSeq == Seq(0, 1))
    }
  }

  test("stop() closes this JVM's consumers; partitions carry a host affinity hint") {
    withFakes(1) { fakes =>
      fakes(0).pending += msg(0)
      val spark = org.apache.spark.sql.SparkSession.builder()
        .master("local[2]").config("spark.ui.enabled", "false").getOrCreate()
      val st = stream(readers = 1)
      val parts = st.planInputPartitions(BrokerOffset(0), BrokerOffset(1))
      // consumer-cache affinity: each slot prefers a stable host (in local
      // mode, the driver host)
      assert(parts.forall(_.preferredLocations().nonEmpty), "affinity hint expected")
      assert(readAll(st.createReaderFactory().createReader(parts.head)) == Seq("k0"))
      st.stop()
      assert(fakes(0).closed, "stop() must close the cached consumer in this JVM")
    }
  }

  test("a pull after stop() builds no consumer and takes nothing; a successor run still pulls") {
    withFakes(2) { fakes =>
      val built = mutable.Buffer.empty[Int]
      val fake = ExecutorPull.consumerFactory
      ExecutorPull.consumerFactory = (c, slot) => { built += slot; fake(c, slot) }
      fakes(0).pending += msg(0)
      fakes(1).pending += msg(1)
      val st = stream(readers = 2)
      val factory = st.createReaderFactory()
      val parts = st.planInputPartitions(BrokerOffset(0), BrokerOffset(1))
      // slot 0 pulled before the stop; slot 1's task had not started
      assert(readAll(factory.createReader(parts(0))) == Seq("k0"))
      st.stop()
      fakes(0).pending += msg(2)
      // tasks of the stopped query still running (stop() does not wait for
      // the tasks it kills): slot 0 at the next epoch, slot 1 at this one
      val late = st.planInputPartitions(BrokerOffset(1), BrokerOffset(2))
      assert(readAll(factory.createReader(late(0))).isEmpty)
      assert(readAll(factory.createReader(parts(1))).isEmpty)
      assert(built.toSeq == Seq(0), s"a consumer was built after stop: slots $built")
      assert(fakes(0).pending.map(_.id.n).toSeq == Seq(2), "k2 must remain queued")
      assert(fakes(1).pending.map(_.id.n).toSeq == Seq(1), "k1 must remain queued")
      // a successor query on the subscription is a new run: it pulls what
      // the stopped run left queued...
      val next = stream(readers = 2)
      val nextFactory = next.createReaderFactory()
      assert(next.planInputPartitions(BrokerOffset(0), BrokerOffset(1)).toSeq
        .map(p => readAll(nextFactory.createReader(p))) == Seq(Seq("k2"), Seq("k1")))
      // ...and a straggler of the stopped run cannot drain the successor's entry
      fakes(0).pending += msg(3)
      assert(readAll(factory.createReader(late(0))).isEmpty)
      assert(fakes(0).pending.map(_.id.n).toSeq == Seq(3), "k3 must remain queued")
      next.stop()
    }
  }

  test("sticky-range and ack-timeout options reach the consumer factory") {
    ExecutorPull.reset()
    val old = ExecutorPull.consumerFactory
    val seen = mutable.Buffer.empty[(Int, Int, Boolean, Long)]
    ExecutorPull.consumerFactory = (c, slot) => {
      seen += ((slot, c.readers, c.stickyRanges, c.ackTimeoutMs)); new FakeConsumer
    }
    try {
      val st = new BrokerStream(conf("pulsar.subscription" -> "ep-spec-opts",
        "readers" -> "2", "pulsar.sticky-ranges" -> "true",
        "pulsar.ack-timeout-ms" -> "30000"))
      val factory = st.createReaderFactory()
      st.planInputPartitions(BrokerOffset(0), BrokerOffset(1))
        .foreach(p => readAll(factory.createReader(p)))
      assert(seen.sortBy(_._1) ==
        Seq((0, 2, true, 30000L), (1, 2, true, 30000L)), seen.toString)
    } finally { ExecutorPull.consumerFactory = old; ExecutorPull.reset() }
  }

  test("checkpointed restart: committed epoch's buffer acked by the resumed query, nothing lost") {
    withFakes(1) { fakes =>
      val spark = org.apache.spark.sql.SparkSession.builder()
        .master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      val ckpt = java.nio.file.Files.createTempDirectory("ep-ckpt").toString
      val out = java.nio.file.Files.createTempDirectory("ep-out").toString
      (0 until 6).foreach(i => fakes(0).pending += msg(i))
      def runOnce(): Long = {
        val df = spark.readStream.format("graft.sources.BrokerSourceProvider")
          .option("topic", "t").option("pulsar.subscription", "ep-spec-restart")
          .option("pulsar.url", cfg.pulsar.url)
          .option("pulsar.executor-consumers", "true")
          .option("readers", "1").option("pollTimeoutMs", "5").load()
        // the memory sink cannot recover from a checkpoint; the file sink can
        val q = df.selectExpr("key").writeStream.format("parquet")
          .option("path", out).option("checkpointLocation", ckpt)
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.processAllAvailable(); q.stop()
        spark.read.parquet(out).count()
      }
      // incarnation 1: one AvailableNow epoch pulls all six; the commit
      // acks them promptly (same-JVM ackThrough), so even a one-shot drain
      // run leaves nothing pending at the broker
      assert(runOnce() == 6)
      assert(fakes(0).acked.map(_.n).sorted.toSeq == (0 until 6))
      // incarnation 2 resumes from the checkpoint: nothing is re-served,
      // nothing is re-acked — no loss, no duplicates
      assert(runOnce() == 6)
      assert(fakes(0).acked.map(_.n).sorted.toSeq == (0 until 6))
    }
  }

  test("a stale lower-epoch straggler serves nothing and cannot rewind the entry") {
    withFakes(1) { fakes =>
      fakes(0).pending += msg(0)
      val factory = stream(readers = 1).createReaderFactory()
      val p2 = part(cfg, epoch = 2L)
      assert(readAll(factory.createReader(p2)) == Seq("k0"))
      // a zombie retry of epoch 1 (its sibling already succeeded) arrives
      // AFTER epoch 2's task froze its buffer. Spark discards its output —
      // it must neither drain new broker messages (the next epoch would ack
      // them unserved) nor rewind pendingEpoch
      fakes(0).pending += msg(1)
      val p1 = p2.copy(epoch = 1L)
      assert(readAll(factory.createReader(p1)).isEmpty)
      assert(fakes(0).pending.map(_.id.n).toSeq == Seq(1), "k1 must remain queued")
      assert(fakes(0).acked.isEmpty)
      // epoch 3 acks exactly epoch 2's frozen buffer and serves k1
      assert(readAll(factory.createReader(p2.copy(epoch = 3L))) == Seq("k1"))
      assert(fakes(0).acked.map(_.n).toSeq == Seq(0))
    }
  }

  test("a failed task attempt's buffer is nacked and dropped, never acked by the next epoch") {
    withFakes(1) { fakes =>
      val spark = org.apache.spark.sql.SparkSession.builder()
        .master("local[2]").config("spark.ui.enabled", "false").getOrCreate()
      fakes(0).pending += msg(0)
      fakes(0).pending += msg(1)
      val c = conf("pulsar.ack-timeout-ms" -> "0")
      // the pulling attempt fails AFTER filling epoch 1's buffer; its retry
      // may land on another executor (here: maxFailures=1, the job just
      // fails), so the buffer may never reach a committed batch. The
      // task-failure listener must drop it unacked + negative-ack.
      val run = ExecutorPull.newRun()
      intercept[org.apache.spark.SparkException] {
        spark.sparkContext.parallelize(Seq(0), 1).foreach { _ =>
          ExecutorPull.pull(c, run, 0, epoch = 1L)
          throw new RuntimeException("downstream failure after pull")
        }
      }
      assert(fakes(0).nacked.map(_.n).sorted.toSeq == Seq(0, 1))
      assert(fakes(0).acked.isEmpty)
      // the next epoch's task finds nothing to ack — the dropped messages
      // are the broker's to redeliver (simulated), arriving as a fresh pull
      val factory = stream(readers = 1).createReaderFactory()
      val p2 = part(cfg, epoch = 2L)
      assert(readAll(factory.createReader(p2)).isEmpty)
      assert(fakes(0).acked.isEmpty)
      fakes(0).pending += msg(0)
      fakes(0).pending += msg(1)
      assert(readAll(factory.createReader(p2.copy(epoch = 3L))) == Seq("k0", "k1"))
      assert(readAll(factory.createReader(p2.copy(epoch = 4L))).isEmpty)
      assert(fakes(0).acked.map(_.n).sorted.toSeq == Seq(0, 1))
    }
  }

  test("idle subscriptions stop ticking epochs; a new message wakes the next trigger") {
    withFakes(1) { fakes =>
      // the served-count accumulator needs an active session
      org.apache.spark.sql.SparkSession.builder()
        .master("local[2]").config("spark.ui.enabled", "false").getOrCreate()
      val st = new BrokerStream(conf("pulsar.subscription" -> "ep-idle",
        "pulsar.idle-suppress-after" -> "2", "pulsar.idle-probe-every" -> "1000"))
      val factory = st.createReaderFactory()
      val limit = org.apache.spark.sql.connector.read.streaming.ReadLimit.allAvailable()
      var cur = BrokerOffset(0L)
      // one trigger: None = suppressed (no epoch planned), Some(rows) = the
      // planned epoch's served keys
      def trigger(): Option[Seq[String]] = {
        val next = st.latestOffset(cur, limit).asInstanceOf[BrokerOffset]
        if (next.seq == cur.seq) None
        else {
          val rows = st.planInputPartitions(cur, next)
            .flatMap(p => readAll(factory.createReader(p))).toSeq
          st.commit(next)
          cur = next
          Some(rows)
        }
      }
      // the idle allowance ticks (2 empty epochs), then epochs STOP
      assert(trigger().contains(Seq()) && trigger().contains(Seq()))
      assert(trigger().isEmpty && trigger().isEmpty && trigger().isEmpty,
        "an idle subscription must stop ticking epochs")
      // a newly arrived message wakes the query on the VERY NEXT trigger —
      // the suppressed-state peek stages it and the woken epoch serves it
      fakes(0).pending += msg(7)
      assert(trigger().contains(Seq("k7")),
        "a waiting message must wake the query within one trigger")
      assert(fakes(0).acked.map(_.n).toSeq == Seq(7),
        "the commit must ack the staged-then-served message")
      // the cycle repeats: served-count reset, allowance, suppression again
      assert(trigger().nonEmpty && trigger().nonEmpty && trigger().nonEmpty)
      assert(trigger().isEmpty, "suppression must re-engage after the wake")
    }
  }

  test("idle suppression disabled (<= 0): every trigger advances an epoch") {
    withFakes(1) { _ =>
      val st = new BrokerStream(conf("pulsar.subscription" -> "ep-idle-off",
        "pulsar.idle-suppress-after" -> "0"))
      val limit = org.apache.spark.sql.connector.read.streaming.ReadLimit.allAvailable()
      var cur = 0L
      (1 to 6).foreach { i =>
        cur = st.latestOffset(BrokerOffset(cur), limit).asInstanceOf[BrokerOffset].seq
        assert(cur == i, s"with suppression off, epoch must advance every trigger (got $cur at $i)")
      }
    }
  }

  test("real streaming engine: suppression engages while idle, a late message still arrives") {
    withFakes(1) { fakes =>
      val spark = org.apache.spark.sql.SparkSession.builder()
        .master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      // nothing queued at start: after the allowance the stream must stop
      // planning epochs (no-data triggers), yet a message arriving later
      // must still be served and acked by the RUNNING query
      val df = spark.readStream.format("graft.sources.BrokerSourceProvider")
        .option("topic", "t").option("pulsar.subscription", "ep-idle-live")
        .option("pulsar.url", cfg.pulsar.url)
        .option("pulsar.executor-consumers", "true")
        .option("readers", "1").option("pollTimeoutMs", "5")
        .option("pulsar.idle-suppress-after", "2")
        .option("pulsar.idle-probe-every", "1000")
        .load()
      val q = df.writeStream.format("memory").queryName("ep_idle_out")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(50))
        .start()
      try {
        // let the allowance pass and suppression engage
        Thread.sleep(1500)
        val sq = q.asInstanceOf[org.apache.spark.sql.streaming.StreamingQuery]
        val idleBatch = sq.lastProgress match {
          case null => -1L
          case p => p.batchId
        }
        Thread.sleep(1000)
        val idleBatch2 = sq.lastProgress match {
          case null => -1L
          case p => p.batchId
        }
        // suppressed: over a second of 50ms triggers, at most one more
        // batch may have slipped in on the boundary
        assert(idleBatch2 - idleBatch <= 1,
          s"epochs must stop while idle (batch $idleBatch -> $idleBatch2)")
        // a late message wakes the query and is delivered + acked
        fakes(0).pending += msg(42)
        val deadline = System.currentTimeMillis() + 15000
        def delivered = spark.table("ep_idle_out").count()
        while ((delivered < 1 || fakes(0).acked.isEmpty) &&
               System.currentTimeMillis() < deadline)
          Thread.sleep(100)
        assert(delivered == 1, s"late message not delivered")
        assert(fakes(0).acked.map(_.n).toSeq == Seq(42), "late message not acked")
      } finally q.stop()
    }
  }

  test("AvailableNow drains a backlog larger than one epoch's pull, then stops") {
    withFakes(1) { fakes =>
      val spark = org.apache.spark.sql.SparkSession.builder()
        .master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      // 6 queued, 2 per epoch (maxRecords): a fixed two-epoch one-shot
      // would strand 4 at the broker — the drain must keep planning
      // epochs until one comes back empty, acking everything served
      (0 until 6).foreach(i => fakes(0).pending += msg(i))
      val out = java.nio.file.Files.createTempDirectory("ep-drain-out").toString
      val ckpt = java.nio.file.Files.createTempDirectory("ep-drain-ckpt").toString
      val df = spark.readStream.format("graft.sources.BrokerSourceProvider")
        .option("topic", "t").option("pulsar.subscription", "ep-drain")
        .option("pulsar.url", cfg.pulsar.url)
        .option("pulsar.executor-consumers", "true")
        .option("readers", "1").option("pollTimeoutMs", "5")
        .option("maxRecordsPerTrigger", "2")
        .load()
      val q = df.selectExpr("key").writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.processAllAvailable(); q.stop()
      assert(spark.read.parquet(out).count() == 6,
        "the one-shot drain must serve the whole backlog")
      assert(fakes(0).acked.map(_.n).sorted.toSeq == (0 until 6),
        "everything served must be acked before the query stops")
    }
  }

  test("one RUNNING query per subscription: a concurrent second stream fails fast") {
    withFakes(1) { _ =>
      val first = stream(readers = 1)
      // a second pull-mode stream on the same (url, topic, subscription)
      // while the first is running would interleave epochs on the shared
      // consumer entries — it must fail at construction, not corrupt acks
      val ex = intercept[IllegalStateException](stream(readers = 1))
      assert(ex.getMessage.contains("subscription 'ep-spec'"))
      // a DIFFERENT subscription is an independent pipeline — allowed
      val other = new BrokerStream(conf("pulsar.subscription" -> "ep-spec-2"))
      other.stop()
      // once the first stops, a successor query may take the subscription
      first.stop()
      stream(readers = 1).stop()
    }
  }

  test("streaming query end-to-end: all payloads delivered, acked after the following epoch") {
    withFakes(2) { fakes =>
      val spark = org.apache.spark.sql.SparkSession.builder()
        .master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      (0 until 6).foreach(i => fakes(i % 2).pending += msg(i))
      val df = spark.readStream.format("graft.sources.BrokerSourceProvider")
        .option("topic", "t").option("pulsar.subscription", "ep-spec-live")
        .option("pulsar.url", cfg.pulsar.url)
        .option("pulsar.executor-consumers", "true")
        .option("readers", "2").option("pollTimeoutMs", "5").load()
      val q = df.writeStream.format("memory").queryName("ep_out")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(50))
        .start()
      try {
        val deadline = System.currentTimeMillis() + 20000
        def delivered = spark.table("ep_out").count()
        def ackedN = fakes.map(_.acked.length).sum
        while ((delivered < 6 || ackedN < 6) && System.currentTimeMillis() < deadline)
          Thread.sleep(100)
        assert(delivered == 6, s"delivered $delivered")
        // epochs kept ticking after the data, so every message was acked
        assert(ackedN == 6, s"acked $ackedN")
        assert(fakes.flatMap(_.acked.map(_.n)).sorted == (0 until 6).toSeq)
      } finally q.stop()
    }
  }
}
