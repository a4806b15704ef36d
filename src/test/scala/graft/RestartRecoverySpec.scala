package graft

import java.sql.Timestamp

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.model.Model.Sample
import graft.streaming.{RemoteWriteSink, StreamOps, TenantBatcher}

/** Restart RECOVERY of stateful streaming state (the r14 ordered item): a
  * checkpointed query is stopped mid-stream and a fresh query object
  * resumes from the same `checkpointLocation` under the RocksDB provider,
  * writing through the fault-tolerant file sink (the memory sink does not
  * support recovery — the same combination a production ingest runs). The
  * post-restart batches can only be correct if the keyed state (funnel
  * stages / dedup keys) was restored from the checkpoint — within-run
  * statefulness is covered by StreamOpsSpec/RocksDbStateSpec; THIS is the
  * crash-recovery claim a long-lived 100 TB ingest actually relies on.
  */
class RestartRecoverySpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val RocksProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  private def withRocksDb[T](body: => T): T = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, RocksProvider)
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  private def tempDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix)
    d.toFile.deleteOnExit()
    d.toString
  }

  test("funnel GroupState survives stop + resume from checkpointLocation (RocksDB)") {
    val s = spark
    import s.implicits._
    import StreamOps.FunnelEvent
    withRocksDb {
      val ckpt = tempDir("graft-funnel-ckpt-")
      val out = tempDir("graft-funnel-out-")
      val ms = MemoryStream[FunnelEvent](spark)
      def start() =
        StreamOps.funnelState(ms.toDS(), Seq("view", "click", "purchase"))
          .writeStream.format("parquet")
          .option("path", out).option("checkpointLocation", ckpt)
          .outputMode("append").start()
      def rows() = spark.read.parquet(out).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getLong(3))).toSet

      // run 1: users advance partway through the funnel, then the query stops
      val q1 = start()
      ms.addData(
        FunnelEvent(1L, "view", 10L), FunnelEvent(1L, "click", 20L),
        FunnelEvent(2L, "view", 15L))
      q1.processAllAvailable()
      q1.stop()
      val out1 = rows()
      assert(out1 == Set(
        (1L, 1, "view", 10L), (1L, 2, "click", 20L), (2L, 1, "view", 15L)), out1)

      // run 2: a NEW query object resumes from the checkpoint. The purchase
      // can only emit stage 3 (and the click stage 2) if each user's stage
      // state was RECOVERED — a fresh state store would treat purchase/click
      // as non-first stages (emitting nothing) and re-admit the duplicate view
      ms.addData(
        FunnelEvent(1L, "purchase", 30L), FunnelEvent(2L, "click", 25L),
        FunnelEvent(2L, "view", 26L)) // duplicate stage: must NOT re-emit
      val q2 = start()
      try {
        q2.processAllAvailable()
        val metrics = q2.lastProgress.stateOperators.head.customMetrics
        assert(metrics.keySet().toString.contains("rocksdb"),
          s"expected rocksdb state metrics, got $metrics")
        assert(rows() -- out1 == Set(
          (1L, 3, "purchase", 30L), (2L, 2, "click", 25L)), (rows() -- out1))
      } finally q2.stop()
    }
  }

  test("watermark dedup state survives stop + resume: post-restart duplicates still drop") {
    val s = spark
    import s.implicits._
    withRocksDb {
      val ckpt = tempDir("graft-dedup-ckpt-")
      val out = tempDir("graft-dedup-out-")
      val ms = MemoryStream[(Timestamp, Long)](spark)
      def start() =
        StreamOps.dedupWithinWatermark(
            ms.toDF().toDF("ts", "id"), "ts", "1 hour", Seq("id"))
          .writeStream.format("parquet")
          .option("path", out).option("checkpointLocation", ckpt)
          .outputMode("append").start()
      def ids() = spark.read.parquet(out).collect().map(_.getLong(1)).toSet

      val q1 = start()
      ms.addData((new Timestamp(10_000L), 1L), (new Timestamp(11_000L), 2L))
      q1.processAllAvailable()
      q1.stop()
      assert(ids() == Set(1L, 2L))

      // ids 1 and 2 re-delivered AFTER the restart (the at-least-once
      // redelivery case): they drop only if the dedup key state recovered
      ms.addData((new Timestamp(12_000L), 1L), (new Timestamp(13_000L), 3L),
        (new Timestamp(14_000L), 2L))
      val q2 = start()
      try {
        q2.processAllAvailable()
        assert(ids() == Set(1L, 2L, 3L),
          s"recovered dedup state must drop re-delivered ids 1 and 2; got ${ids()}")
      } finally q2.stop()
    }
  }

  test("composed liveYield ledger is batch-identical across stop + resume (RocksDB)") {
    val s = spark
    import s.implicits._
    withRocksDb {
      val ckpt = tempDir("graft-yield-ckpt-")
      val out = tempDir("graft-yield-out-")
      def ts(sec: Long) = new Timestamp(sec * 1000L)
      val passText = (1 to 60).map(i => s"word$i").mkString(" ") + " the of and"
      val shortText = "too short the of"
      val freshText = (1 to 60).map(i => s"fresh$i").mkString(" ") + " the of and"
      val reference = Seq(passText).toDF("text") // known duplicate
      val ms = MemoryStream[(Timestamp, String)](spark)
      def start() =
        StreamOps.liveYield(ms.toDF().toDF("et", "text"), "text", "et",
            "5 seconds", "10 seconds", reference)
          .writeStream.format("parquet")
          .option("path", out).option("checkpointLocation", ckpt)
          .outputMode("append").start()

      // run 1: two docs land in window [0, 10s); the watermark never
      // reaches the window end, so NOTHING is emitted — every count the
      // ledger owes lives only in the windowed-aggregation state
      val q1 = start()
      ms.addData((ts(1), passText), (ts(2), shortText))
      q1.processAllAvailable()
      q1.stop()

      // run 2: a fresh query object resumes from the checkpoint; a third
      // doc joins the SAME window (its sums must MERGE into recovered
      // partials — a fresh store would ledger only the post-restart doc),
      // then a late marker advances the watermark and closes the window
      val q2 = start()
      try {
        ms.addData((ts(3), freshText))
        q2.processAllAvailable()
        ms.addData((ts(30), shortText))
        q2.processAllAvailable()
        val metrics = q2.lastProgress.stateOperators.head.customMetrics
        assert(metrics.keySet().toString.contains("rocksdb"),
          s"expected rocksdb state metrics, got $metrics")
      } finally q2.stop()

      // the closed-window ledger row must equal the BATCH twin computed
      // over the union of all pre- and post-restart events (liveYield's
      // watermark is a no-op in batch, so the same code is the oracle)
      def tup(r: org.apache.spark.sql.Row) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      val got = spark.read.parquet(out).collect()
        .filter(_.getTimestamp(0).getTime == 0L).map(tup).toSeq
      val expect = StreamOps.liveYield(
          Seq((ts(1), passText), (ts(2), shortText), (ts(3), freshText),
            (ts(30), shortText)).toDF("et", "text"),
          "text", "et", "5 seconds", "10 seconds", reference)
        .collect().filter(_.getTimestamp(0).getTime == 0L).map(tup).toSeq
      assert(got.length == 1 && got == expect,
        s"restart ledger $got must equal batch ledger $expect")
    }
  }

  test("per-window HLL registers merge across stop + resume (RocksDB)") {
    val s = spark
    import s.implicits._
    withRocksDb {
      def ts(sec: Long) = new Timestamp(sec * 1000L)
      val ckpt = tempDir("graft-hll-ckpt-")
      val out = tempDir("graft-hll-out-")
      val ms = MemoryStream[(Timestamp, Long)](spark)
      def start() =
        StreamOps.hllSketch(ms.toDF().toDF("et", "uid"),
            "et", "5 seconds", "10 seconds", "uid")
          .writeStream.format("parquet")
          .option("path", out).option("checkpointLocation", ckpt)
          .outputMode("append").start()

      // run 1: users 0-39 land in window [0,10); the watermark never
      // reaches the window end, so the registers live ONLY in state
      val q1 = start()
      ms.addData((0L until 40L).map(u => (ts(1), u)): _*)
      q1.processAllAvailable()
      q1.stop()

      // run 2: resume; users 20-59 join the SAME window (their rhos must
      // MAX-merge into the recovered registers — a fresh store would hold
      // only the post-restart half), then a late row closes the window
      val q2 = start()
      try {
        ms.addData((20L until 60L).map(u => (ts(7), u)): _*)
        q2.processAllAvailable()
        ms.addData((ts(30), 999L))
        q2.processAllAvailable()
      } finally q2.stop()
      val got = spark.read.parquet(out).collect()
        .filter(_.getTimestamp(0).getTime == 0L)
        .map(r => (r.getLong(1), r.getLong(2))).toSet
      val expect = graft.functions.Hll.registers((0L until 60L).toDF("uid"), "uid")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == expect && got.nonEmpty,
        s"recovered registers must equal the batch build of ALL 60 users")
    }
  }

  test("per-window quantile-sketch buckets sum across stop + resume (RocksDB)") {
    val s = spark
    import s.implicits._
    withRocksDb {
      def ts(sec: Long) = new Timestamp(sec * 1000L)
      val ckpt = tempDir("graft-qsk-ckpt-")
      val out = tempDir("graft-qsk-out-")
      val ms = MemoryStream[(Timestamp, Long)](spark)
      def start() =
        StreamOps.qsketch(ms.toDF().toDF("et", "v"),
            "et", "5 seconds", "10 seconds", "v")
          .writeStream.format("parquet")
          .option("path", out).option("checkpointLocation", ckpt)
          .outputMode("append").start()

      // run 1: values 1-300 land in window [0,10); the watermark never
      // reaches the window end, so the bucket counts live ONLY in state
      val q1 = start()
      ms.addData((1L to 300L).map(v => (ts(1), v)): _*)
      q1.processAllAvailable()
      q1.stop()

      // run 2: resume; values 301-500 join the SAME window (their counts
      // must SUM into the recovered buckets — a fresh store would hold
      // only the post-restart half), then a late row closes the window
      val q2 = start()
      try {
        ms.addData((301L to 500L).map(v => (ts(7), v)): _*)
        q2.processAllAvailable()
        ms.addData((ts(30), 999L))
        q2.processAllAvailable()
      } finally q2.stop()
      val got = spark.read.parquet(out).collect()
        .filter(_.getTimestamp(0).getTime == 0L)
        .map(r => (r.getLong(1), r.getLong(2))).toSet
      val expect = graft.functions.QSketch.sketch((1L to 500L).toDF("v"), "v")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == expect && got.nonEmpty,
        s"recovered buckets must equal the batch build of ALL 500 values")
    }
  }

  test("noised release replays identical noise across stop + resume (RocksDB)") {
    val s = spark
    import s.implicits._
    withRocksDb {
      def ts(sec: Long) = new Timestamp(sec * 1000L)
      val ckpt = tempDir("graft-noise-ckpt-")
      val out = tempDir("graft-noise-out-")
      val ms = MemoryStream[(Timestamp, String)](spark)
      def start() =
        StreamOps.noisedRelease(ms.toDF().toDF("et", "g"),
            "et", "5 seconds", "10 seconds",
            Seq(org.apache.spark.sql.functions.col("g")), "rr", 1L, 2L)
          .writeStream.format("parquet")
          .option("path", out).option("checkpointLocation", ckpt)
          .outputMode("append").start()

      // counts split across the restart: A x2 + B x1 before, A x1 + B x1
      // after — the released cells are right only if the windowed counts
      // recovered, and the noise is right only if the draw is a pure
      // function of (tag, window, class), not of run lifetime
      val q1 = start()
      ms.addData((ts(1), "A"), (ts(2), "A"), (ts(3), "B"))
      q1.processAllAvailable()
      q1.stop()
      val q2 = start()
      try {
        ms.addData((ts(4), "A"), (ts(6), "B"))
        q2.processAllAvailable()
        ms.addData((ts(30), "Z"))
        q2.processAllAvailable()
      } finally q2.stop()
      val got = spark.read.parquet(out).collect()
        .filter(_.getLong(2) == 0L) // w_start 0
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(3), r.getLong(4))).toSet
      import org.apache.spark.sql.functions.{col, count, lit, window}
      val batch = graft.operators.Privacy.noisedCounts(
          Seq((ts(1), "A"), (ts(2), "A"), (ts(3), "B"), (ts(4), "A"), (ts(6), "B"))
            .toDF("et", "g")
            .groupBy(window(col("et"), "10 seconds").as("w"), col("g"))
            .agg(count(lit(1)).as("cnt"))
            .withColumn("w_start", col("w.start").cast("long")).drop("w"),
          Seq("w_start", "g"), "cnt", "rr", 1L, 2L)
        .filter(col("w_start") === lit(0L))
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(3), r.getLong(4))).toSet
      assert(got == batch && got.map(_._1) == Set("A", "B"),
        s"restarted release $got must equal the batch replay $batch")
    }
  }

  test("TenantBatcher remainders survive stop + resume: sent once, deadline kept (default provider)") {
    val s = spark
    import s.implicits._
    val ckpt = tempDir("graft-batcher-ckpt-")
    val ms = MemoryStream[Sample](spark)
    val delayMs = 5000L
    val sent = new java.util.concurrent.ConcurrentLinkedQueue[(TenantBatcher.Batch, Long)]()
    def start() =
      TenantBatcher(ms.toDS(), TenantBatcher.Config(batchSize = 100, batchMaxDelayMs = delayMs))
        .writeStream
        .foreachBatch { (ds: org.apache.spark.sql.Dataset[TenantBatcher.Batch], _: Long) =>
          val at = System.currentTimeMillis()
          ds.collect().foreach(b => sent.add((b, at)))
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("100 milliseconds"))
        .start()
    def sample(tenant: String, ts: Long) = Sample(ts, ts.toDouble, Map("__name__" -> "up"), tenant)

    // run 1 buffers a remainder for each tenant, below the batch size and
    // before the deadline, then stops
    val t0 = System.currentTimeMillis()
    val q1 = start()
    ms.addData(sample("a", 1), sample("a", 2), sample("a", 3), sample("b", 1), sample("b", 2))
    // the timeouts keep a no-data batch running each trigger, so
    // processAllAvailable never returns: wait for the committed progress
    val started = System.currentTimeMillis()
    while (!q1.recentProgress.exists(_.numInputRows == 5) &&
      System.currentTimeMillis() - started < 60000L) Thread.sleep(50)
    q1.stop()
    assert(q1.recentProgress.exists(_.numInputRows == 5))
    assert(sent.isEmpty)
    Thread.sleep(2000L)

    // run 2 resumes from the checkpoint; a new sample for tenant a must join
    // the recovered remainder, not re-anchor its deadline
    val q2 = start()
    val resumed = System.currentTimeMillis()
    ms.addData(sample("a", 4))
    try {
      val deadline = resumed + 30000L
      while (sent.size < 2 && System.currentTimeMillis() < deadline) Thread.sleep(50)
      Thread.sleep(1000L) // nothing more may follow
    } finally q2.stop()

    import scala.jdk.CollectionConverters._
    val got = sent.asScala.toSeq
    assert(got.map(b => (b._1.tenantId, b._1.reason)).sorted == Seq(("a", "deadline"), ("b", "deadline")),
      got.map(_._1.tenantId))
    val byTenant = got.map { case (b, at) => b.tenantId -> ((b.entries.map(_.toSeq), at)) }.toMap
    assert(byTenant("a")._1 == (1 to 4).map(i => RemoteWriteSink.entry(sample("a", i)).toSeq))
    assert(byTenant("b")._1 == (1 to 2).map(i => RemoteWriteSink.entry(sample("b", i)).toSeq))
    // anchored at run 1's arrival: due before a deadline counted from the
    // resume, and never before the first sample's own deadline
    byTenant.values.foreach { case (_, at) =>
      assert(at >= t0 + delayMs, s"flushed ${at - t0} ms after the first arrival")
      assert(at < resumed + delayMs, s"flushed ${at - resumed} ms after the resume")
    }
  }
}
