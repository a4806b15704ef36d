package graft

import java.sql.Timestamp

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamOps

/** Streaming twins of the batch operators: dedup-within-watermark and
  * event-time tumbling aggregation, driven through MemoryStream.
  */
class StreamOpsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def ts(sec: Long) = new Timestamp(sec * 1000L)

  test("streaming dedup drops repeats within the watermark horizon") {
    val s = spark
    import s.implicits._
    val ms = MemoryStream[(Timestamp, String, Double)](spark)
    val deduped = StreamOps.dedupWithinWatermark(
      ms.toDF().toDF("et", "key", "v"), "et", "10 seconds", Seq("key"))
    val q = deduped.writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      // same-batch duplicate + cross-batch duplicate within the horizon
      ms.addData((ts(1), "a", 1.0), (ts(1), "a", 2.0), (ts(2), "b", 3.0))
      q.processAllAvailable()
      ms.addData((ts(3), "a", 4.0)) // still within 10s of first "a"
      q.processAllAvailable()
      val rows = spark.table("dedup_out").collect()
      assert(rows.map(_.getString(1)).sorted.toSeq == Seq("a", "b"),
        rows.mkString(","))
    } finally q.stop()
  }

  test("tumbling agg emits closed windows once the watermark passes") {
    val s = spark
    import s.implicits._
    val ms = MemoryStream[(Timestamp, String, Double)](spark)
    val agg = StreamOps.tumblingAgg(
      ms.toDF().toDF("et", "key", "v"), "et", "5 seconds", "10 seconds", "key", "v")
    val q = agg.writeStream.format("memory").queryName("tumbling_out")
      .outputMode("append").start()
    try {
      ms.addData((ts(1), "a", 1.0), (ts(4), "a", 2.0), (ts(12), "b", 5.0))
      q.processAllAvailable()
      // watermark = max(et) - 5s = 7s < window[0,10) end => nothing final yet;
      // push an event far enough to close the first window
      ms.addData((ts(30), "c", 1.0))
      q.processAllAvailable()
      val rows = spark.table("tumbling_out")
        .collect().map(r => (r.getTimestamp(0).getTime / 1000, r.getString(1), r.getLong(2), r.getDouble(3)))
      assert(rows.contains((0L, "a", 2L, 3.0)), rows.mkString(","))
      assert(rows.contains((10L, "b", 1L, 5.0)), rows.mkString(","))
    } finally q.stop()
  }

  test("session windows merge gap-close events and emit after watermark") {
    val s = spark
    import s.implicits._
    val ms = MemoryStream[(Timestamp, String, Double)](spark)
    val agg = StreamOps.sessionAgg(
      ms.toDF().toDF("et", "key", "v"), "et", "5 seconds", "10 seconds", "key")
    val q = agg.writeStream.format("memory").queryName("session_out")
      .outputMode("append").start()
    try {
      // two events 8s apart (< 10s gap) merge; a third 30s later is separate
      ms.addData((ts(1), "a", 1.0), (ts(9), "a", 1.0))
      q.processAllAvailable()
      ms.addData((ts(60), "a", 1.0)) // watermark 55s closes the first session
      q.processAllAvailable()
      val rows = spark.table("session_out")
        .collect().map(r => (r.getTimestamp(0).getTime / 1000, r.getString(2), r.getLong(3)))
      assert(rows.contains((1L, "a", 2L)), rows.mkString(","))
    } finally q.stop()
  }

  test("stream-static join enriches against a broadcast dimension") {
    val s = spark
    import s.implicits._
    val dim = Seq(("a", "alpha"), ("b", "beta")).toDF("key", "label")
    val ms = MemoryStream[(Timestamp, String)](spark)
    val q = ms.toDF().toDF("et", "key")
      .join(org.apache.spark.sql.functions.broadcast(dim), "key")
      .writeStream.format("memory").queryName("enrich_out").outputMode("append").start()
    try {
      ms.addData((ts(1), "a"), (ts(2), "b"), (ts(3), "zzz"))
      q.processAllAvailable()
      val rows = spark.table("enrich_out").collect().map(r => (r.getString(0), r.getString(2)))
      assert(rows.toSet == Set(("a", "alpha"), ("b", "beta")), rows.mkString(","))
    } finally q.stop()
  }

  test("streaming redaction matches the batch expression on the same rows") {
    val s = spark
    import s.implicits._
    val patterns = Seq("[0-9]+" -> "<num>", "\\b(the|a)\\b" -> "<stop>")
    val rows = Seq((1L, "call 555 0100 the a x"), (2L, "no digits here"))
    val ms = MemoryStream[(Long, String)](spark)
    val q = StreamOps.redact(ms.toDF().toDF("id", "text"), "text", patterns)
      .writeStream.format("memory").queryName("redact_out").outputMode("append").start()
    try {
      ms.addData(rows: _*)
      q.processAllAvailable()
      val got = spark.table("redact_out").collect()
        .map(r => (r.getAs[Long]("id"), r.getAs[String]("text_red"))).toMap
      val expect = StreamOps.redact(rows.toDF("id", "text"), "text", patterns)
        .collect().map(r => (r.getAs[Long]("id"), r.getAs[String]("text_red"))).toMap
      assert(got == expect)
      assert(got(1L) == "call <num> <num> <stop> <stop> x")
    } finally q.stop()
  }

  test("streaming mix filter keeps exactly the batch-selected ids") {
    val s = spark
    import s.implicits._
    val docs = (0L until 200L).map(i => (i, if (i % 4 == 0) "de" else "en"))
    // rate table as d30 builds it: per-stratum count + global min count
    val counts = docs.groupBy(_._2).map { case (l, xs) => (l, xs.size.toLong) }
    val m = counts.values.min
    val rates = counts.toSeq.map { case (l, c) => (l, c, m) }.toDF("lang", "c", "m")
    val ms = MemoryStream[(Long, String)](spark)
    val q = StreamOps.mixFilter(ms.toDF().toDF("doc_id", "lang"), rates, "lang", "doc_id")
      .writeStream.format("memory").queryName("mix_out").outputMode("append").start()
    try {
      ms.addData(docs: _*)
      q.processAllAvailable()
      val got = spark.table("mix_out").collect().map(_.getAs[Long]("doc_id")).toSet
      val expect = StreamOps.mixFilter(docs.toDF("doc_id", "lang"), rates, "lang", "doc_id")
        .collect().map(_.getAs[Long]("doc_id")).toSet
      assert(got == expect && got.nonEmpty)
      // replay determinism: a second identical stream keeps the same ids
      val ms2 = MemoryStream[(Long, String)](spark)
      val q2 = StreamOps.mixFilter(ms2.toDF().toDF("doc_id", "lang"), rates, "lang", "doc_id")
        .writeStream.format("memory").queryName("mix_out2").outputMode("append").start()
      try {
        ms2.addData(docs: _*)
        q2.processAllAvailable()
        assert(spark.table("mix_out2").collect().map(_.getAs[Long]("doc_id")).toSet == got)
      } finally q2.stop()
    } finally q.stop()
  }

  test("streaming chunking emits the batch chunks exactly") {
    val s = spark
    import s.implicits._
    val rows = Seq((1L, "a" * 30), (2L, "b" * 500), (3L, ""))
    val ms = MemoryStream[(Long, String)](spark)
    val q = graft.operators.TextChunking.chunkFixed(ms.toDF().toDF("doc_id", "text"), "doc_id", "text", 64, 48)
      .writeStream.format("memory").queryName("chunk_out").outputMode("append").start()
    try {
      ms.addData(rows: _*)
      q.processAllAvailable()
      val got = spark.table("chunk_out").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(4))).toSet
      val expect = graft.operators.TextChunking.chunkFixed(rows.toDF("doc_id", "text"), "doc_id", "text", 64, 48)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(4))).toSet
      assert(got == expect && got.nonEmpty)
    } finally q.stop()
  }

  test("watermarked stream-stream join matches within the time bound") {
    val s = spark
    import s.implicits._
    val left = MemoryStream[(Timestamp, String, Double)](spark)
    val right = MemoryStream[(Timestamp, String, String)](spark)
    val l = left.toDF().toDF("l_et", "key", "v").withWatermark("l_et", "10 seconds")
    val r = right.toDF().toDF("r_et", "key", "tag").withWatermark("r_et", "10 seconds")
    import org.apache.spark.sql.functions.col
    val q = l.as("l").join(r.as("r"),
        org.apache.spark.sql.functions.expr(
          "l.key = r.key AND r_et BETWEEN l_et - INTERVAL 5 SECONDS AND l_et + INTERVAL 5 SECONDS"))
      .select(col("l.key"), col("v"), col("tag"))
      .writeStream.format("memory").queryName("ss_join_out").outputMode("append").start()
    try {
      left.addData((ts(10), "a", 1.0), (ts(100), "b", 2.0))
      right.addData((ts(12), "a", "near"), (ts(50), "a", "far"), (ts(102), "b", "near"))
      q.processAllAvailable()
      val rows = spark.table("ss_join_out").collect()
        .map(x => (x.getString(0), x.getDouble(1), x.getString(2))).toSet
      // only the within-5s pairs join; ("a", 50s) is outside the bound
      assert(rows == Set(("a", 1.0, "near"), ("b", 2.0, "near")), rows.mkString(","))
    } finally q.stop()
  }

  test("broker source rate limit: maxRecordsPerTrigger bounds each micro-batch") {
    import graft.streaming.InMemoryBroker
    val topic = "rate-limit-t"
    InMemoryBroker.clear(topic)
    (1 to 10).foreach(i =>
      InMemoryBroker.topic(topic).add(InMemoryBroker.Message(s"k$i", s"p$i".getBytes)))
    val src = spark.readStream.format("graft.sources.BrokerSourceProvider")
      .option("topic", topic).option("maxRecordsPerTrigger", "3").load()
    val q = src.writeStream.format("memory").queryName("rate_out")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(100L))
      .start()
    try {
      q.processAllAvailable()
      assert(spark.table("rate_out").count() == 10)
      val sizes = q.recentProgress.map(_.numInputRows).filter(_ > 0)
      assert(sizes.nonEmpty && sizes.forall(_ <= 3), sizes.mkString(","))
      assert(sizes.length >= 4, sizes.mkString(",")) // 10 rows / 3-cap => >= 4 batches
    } finally q.stop()
  }

  test("streaming quality filter keeps only rule-passing docs (d39 twin)") {
    val s = spark
    import s.implicits._
    val ms = MemoryStream[(Long, String)](spark)
    val good = (1 to 60).map(i => s"word$i of the and").mkString(" ") // 240 words, stopwords, mean len in band
    val short = "too short the of" // under min words
    val filtered = StreamOps.qualityFilter(ms.toDF().toDF("id", "text"), "text")
    val q = filtered.writeStream.format("memory").queryName("quality_out")
      .outputMode("append").start()
    try {
      ms.addData((1L, good), (2L, short))
      q.processAllAvailable()
      val rows = spark.table("quality_out").collect()
      assert(rows.map(_.getLong(0)).toSeq == Seq(1L), rows.mkString(","))
    } finally q.stop()
  }

  test("streaming cross-shard dedup matches the batch decisions (d41 twin)") {
    val s = spark
    import s.implicits._
    val reference = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "a reference paragraph about spark engines and shuffles here")
    ).toDF("id", "text")
    val dump = Seq(
      (10L, "the quick brown fox jumps over the lazy dog tonight"), // exact dup
      (11L, "the quick brown fox jumps over the lazy cat tonight"), // near dup
      (12L, "a genuinely new document mentioning parquet files and columns")
    )
    val ms = MemoryStream[(Long, String)](spark)
    val out = graft.operators.TextDedup.dedupAgainstStream(
      ms.toDF().toDF("id", "text"), reference, "id", "text")
    val q = out.writeStream.format("memory").queryName("xdedup_out")
      .outputMode("append").start()
    try {
      ms.addData(dump: _*)
      q.processAllAvailable()
      val got = spark.table("xdedup_out").collect().map(_.getLong(0)).toSet
      val batch = graft.operators.TextDedup.dedupAgainst(
        dump.toDF("id", "text"), reference, "id", "text")
        .collect().map(_.getLong(0)).toSet
      assert(got == batch && got == Set(12L), s"$got vs $batch")
      // replay determinism: the same rows arriving again make the same keeps
      ms.addData(dump: _*)
      q.processAllAvailable()
      val again = spark.table("xdedup_out").collect().map(_.getLong(0)).toSeq
      assert(again.sorted == Seq(12L, 12L), again.mkString(","))
    } finally q.stop()
  }

  test("streaming repetition stats computes dup fractions (d38 twin)") {
    val s = spark
    import s.implicits._
    val ms = MemoryStream[(Long, String)](spark)
    val out = graft.operators.TextQuality.withRepetitionStats(ms.toDF().toDF("id", "text"), "text")
    val q = out.writeStream.format("memory").queryName("rep_out")
      .outputMode("append").start()
    try {
      ms.addData((1L, "a b a b"), (2L, "x y z w"))
      q.processAllAvailable()
      val rows = spark.table("rep_out").collect().map(r =>
        r.getLong(r.fieldIndex("id")) -> (r.getDouble(r.fieldIndex("dup_word_frac")),
          r.getDouble(r.fieldIndex("dup_bigram_frac")))).toMap
      // 4 words 2 distinct -> 0.5; bigrams ab,ba,ab: 3 total 2 distinct -> 1/3
      assert(rows(1L) == ((0.5, 1.0 / 3.0)), rows.toString)
      assert(rows(2L) == ((0.0, 0.0)), rows.toString)
    } finally q.stop()
  }

  test("funnel state: stages advance in order across triggers, never retroactively") {
    val s = spark
    import s.implicits._
    import graft.streaming.StreamOps.FunnelEvent
    val ms = MemoryStream[FunnelEvent](spark)
    val q = StreamOps.funnelState(ms.toDS(), Seq("view", "click", "purchase"))
      .writeStream.format("memory").queryName("funnel_out")
      .outputMode("append").start()
    try {
      // user 1: full path in one trigger, out of order within the batch
      // (sorted by ts before processing); user 2: click before any view —
      // must NOT advance
      ms.addData(
        FunnelEvent(1L, "purchase", 30L), FunnelEvent(1L, "view", 10L),
        FunnelEvent(1L, "click", 20L),
        FunnelEvent(2L, "click", 10L))
      q.processAllAvailable()
      // next trigger: user 2 views at t=20, then clicks at t=30 (advances);
      // a late view at t=5 for user 1 changes nothing (already past stage 1)
      ms.addData(FunnelEvent(2L, "view", 20L), FunnelEvent(2L, "click", 30L),
        FunnelEvent(1L, "view", 5L))
      q.processAllAvailable()
      val rows = spark.table("funnel_out").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getLong(3))).toSet
      assert(rows == Set(
        (1L, 1, "view", 10L), (1L, 2, "click", 20L), (1L, 3, "purchase", 30L),
        (2L, 1, "view", 20L), (2L, 2, "click", 30L)), rows.mkString(","))
    } finally q.stop()
  }

  test("clip route: the live per-user cap holds across triggers (d193's streaming half)") {
    val s = spark
    import s.implicits._
    import graft.streaming.StreamOps.ContribEvent
    val ms = MemoryStream[ContribEvent](spark)
    val q = StreamOps.clipRoute(ms.toDS(), c = 3)
      .writeStream.format("memory").queryName("clip_out")
      .outputMode("append").start()
    try {
      // trigger 1: user 1 sends two events (out of ts order — processed
      // event-time-ordered within the trigger), user 2 sends one
      ms.addData(ContribEvent(1L, 102L, 20L), ContribEvent(1L, 101L, 10L),
        ContribEvent(2L, 201L, 10L))
      q.processAllAvailable()
      // trigger 2: user 1 sends three more — only ONE may pass (state
      // carries the count 2 across triggers; a fresh store would leak
      // two extra rows and break the sensitivity bound)
      ms.addData(ContribEvent(1L, 103L, 30L), ContribEvent(1L, 104L, 40L),
        ContribEvent(1L, 105L, 50L))
      q.processAllAvailable()
      val rows = spark.table("clip_out").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
      assert(rows == Set(
        (1L, 101L, 1), (1L, 102L, 2), (1L, 103L, 3), (2L, 201L, 1)),
        rows.mkString(","))
      // the DP-relevant invariant: no user exceeds c kept rows — the
      // user-level sensitivity a live noisedRelease over these survivors
      // charges (the kept SET may differ from the batch md5-order clip;
      // the BOUND may not)
      val perUser = rows.groupBy(_._1).view.mapValues(_.size).toMap
      assert(perUser.values.forall(_ <= 3), perUser.toString)
    } finally q.stop()
  }

  test("histogram sketch: per-window bin counts merge across triggers and clamp the top bin") {
    val s = spark
    import s.implicits._
    val ms = MemoryStream[(Timestamp, Long)](spark)
    val sk = StreamOps.histogramSketch(
      ms.toDF().toDF("et", "len"), "et", "5 seconds", "10 seconds", "len",
      binWidth = 16L, nBins = 4)
    val q = sk.writeStream.format("memory").queryName("hist_out")
      .outputMode("append").start()
    try {
      // window [0,10): bins 0 (3, 15), 1 (17) across TWO triggers — the
      // windowed agg must merge them into single per-bin rows on emission
      ms.addData((ts(1), 3L), (ts(2), 17L))
      q.processAllAvailable()
      ms.addData((ts(3), 15L), (ts(4), 999L)) // 999 clamps into top bin 3
      q.processAllAvailable()
      ms.addData((ts(30), 1L)) // advance watermark past window end
      q.processAllAvailable()
      val rows = spark.table("hist_out").collect()
        .filter(_.getTimestamp(0).getTime == 0L)
        .map(r => (r.getLong(1), r.getLong(2))).toMap
      assert(rows == Map(0L -> 2L, 1L -> 1L, 3L -> 1L), rows.toString)
    } finally q.stop()
  }

  test("count-min sketch: cells merge across triggers and match a batch replay") {
    val s = spark
    import s.implicits._
    val ms = MemoryStream[(Timestamp, Long)](spark)
    val sk = StreamOps.countMinSketch(
      ms.toDF().toDF("et", "uid"), "et", "5 seconds", "10 seconds", "uid")
    val q = sk.writeStream.format("memory").queryName("cms_out")
      .outputMode("append").start()
    try {
      // window [0,10): user 7 three times across TWO triggers, user 12 once
      ms.addData((ts(1), 7L), (ts(2), 12L))
      q.processAllAvailable()
      ms.addData((ts(3), 7L), (ts(4), 7L))
      q.processAllAvailable()
      ms.addData((ts(30), 99L)) // advance watermark past window end
      q.processAllAvailable()
      val live = spark.table("cms_out").collect()
        .filter(_.getTimestamp(0).getTime == 0L)
        .map(r => ((r.getInt(1), r.getLong(2)), r.getLong(3))).toMap
      // batch replay of the same four rows through the SAME hashing: the
      // live cell table must be identical (counts merged across triggers
      // exactly like the batch partial-agg merge)
      val batch = graft.functions.CountMin
        .build(Seq(7L, 12L, 7L, 7L).toDF("uid"), "uid")
        .collect().map(r => ((r.getInt(0), r.getLong(1)), r.getLong(2))).toMap
      assert(live == batch, s"live=$live batch=$batch")
      // 4 hash rows; user 7 appears 3x, user 12 1x -> every row's cells sum to 4
      assert(live.keys.map(_._1).toSet == Set(0, 1, 2, 3))
      (0 to 3).foreach { j =>
        assert(live.collect { case ((`j`, _), c) => c }.sum == 4L)
      }
      // the read side: point estimates off the cell table never
      // underestimate (here collision-free, so exactly the true counts),
      // and an unseen key with an empty cell reads 0 — the left join's
      // absent-cell-as-zero, not the colliding cells' counts (key 99's
      // cells do not all collide with 7/12's, checked by construction)
      val est = graft.functions.CountMin.estimate(
        graft.functions.CountMin.build(Seq(7L, 12L, 7L, 7L).toDF("uid"), "uid"),
        Seq(7L, 12L, 99L).toDF("uid"), "uid")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(est(7L) >= 3L && est(12L) >= 1L)
      assert(est(99L) == 0L, s"unseen key must estimate 0, got ${est(99L)}")
      // negative keys (e.g. signed 64-bit hashes): bucket() reduces via
      // pmod, so every cell lands in [0, Width) and the estimate keeps
      // the never-underestimate guarantee — a sign-following % would
      // scatter them into NEGATIVE buckets outside the sketch's width
      val negSketch = graft.functions.CountMin
        .build(Seq(-7L, -7L, Long.MinValue, 5L).toDF("uid"), "uid")
      val negCells = negSketch.collect()
      assert(negCells.forall { r =>
        r.getLong(1) >= 0L && r.getLong(1) < graft.functions.CountMin.Width
      }, s"all buckets in [0, Width): ${negCells.mkString(",")}")
      val negEst = graft.functions.CountMin.estimate(negSketch,
        Seq(-7L, Long.MinValue, 5L, -99L).toDF("uid"), "uid")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(negEst(-7L) >= 2L && negEst(Long.MinValue) >= 1L && negEst(5L) >= 1L)
      assert(negEst(-99L) <= 4L, "a bounded overestimate, never a join miss")
    } finally q.stop()
  }

  test("live t-closeness cells merge across triggers; the from-cells read matches batch") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    val ms = MemoryStream[(Timestamp, String, Int)](spark)
    val cellsQ = StreamOps.tClosenessCells(
      ms.toDF().toDF("et", "g", "sens"), "et", "5 seconds", "10 seconds",
      Seq(col("g")), col("sens"))
    val q = cellsQ.writeStream.format("memory").queryName("tcells_out")
      .outputMode("append").start()
    try {
      // window [0,10): class A rows split ACROSS two triggers, class B one
      ms.addData((ts(1), "A", 0), (ts(2), "A", 1))
      q.processAllAvailable()
      ms.addData((ts(3), "A", 2), (ts(4), "B", 0))
      q.processAllAvailable()
      ms.addData((ts(30), "Z", 9)) // advance watermark past window end
      q.processAllAvailable()
      val live = spark.table("tcells_out")
        .filter(col("w_start") === lit(new Timestamp(0L)))
      val liveCells = live.collect()
        .map(r => ((r.getString(0), r.getInt(1)), r.getLong(2))).toMap
      // counts merged across the two triggers, exactly the batch groupBy
      assert(liveCells == Map(("A", 0) -> 1L, ("A", 1) -> 1L, ("A", 2) -> 1L,
        ("B", 0) -> 1L), liveCells.toString)
      // the distance read over the EMITTED cells (w_start as one more QI
      // column) equals the batch audit of the same window's raw rows
      val windowRows = Seq(("A", 0), ("A", 1), ("A", 2), ("B", 0)).toDF("g", "sens")
      val ofCells = graft.operators.Privacy.tClosenessOfCells(
          live, Seq("w_start", "g"), "sens", "cv", tNum = 1L, tDen = 4L,
          reference = windowRows, sensitive = col("sens"))
        .collect().map(r => (r.getString(1),
          (r.getLong(2), r.getLong(3), r.getBoolean(4)))).toMap
      val batch = graft.operators.Privacy.tCloseness(
          windowRows, Seq(col("g")), col("sens"), 1L, 4L)
        .collect().map(r => (r.getString(0),
          (r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
      assert(ofCells == batch && batch.nonEmpty,
        s"ofCells=$ofCells batch=$batch")
      // hand check: A (n=3) tv_num 4 passes t=1/4, B (n=1) tv_num 4 leaks
      assert(batch("A") == ((3L, 4L, true)) && batch("B") == ((1L, 4L, false)))
    } finally q.stop()
  }

  test("live HLL registers merge across triggers; the estimate read matches batch (q49/q50 twin)") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    val ms = MemoryStream[(Timestamp, Long)](spark)
    val q = StreamOps.hllSketch(ms.toDF().toDF("et", "uid"),
        "et", "5 seconds", "10 seconds", "uid")
      .writeStream.format("memory").queryName("hll_out")
      .outputMode("append").start()
    try {
      // 60 distinct users in window [0,10), split across two triggers with
      // overlap (u20-u39 arrive twice — registers must dedupe via max)
      ms.addData((0L until 40L).map(u => (ts(1), u)): _*)
      q.processAllAvailable()
      ms.addData((20L until 60L).map(u => (ts(7), u)): _*)
      q.processAllAvailable()
      ms.addData((ts(30), 999L)) // advance watermark past window end
      q.processAllAvailable()
      val live = spark.table("hll_out")
        .filter(col("w_start") === lit(new Timestamp(0L)))
        .select("register", "rho")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val batch = graft.functions.Hll.registers(
          (0L until 60L).toDF("uid"), "uid")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(live == batch && live.nonEmpty, s"live=$live batch=$batch")
      // the estimate read over the emitted window cells equals the batch
      // estimate of the same keys (floats only in the read)
      val liveEst = graft.functions.Hll.estimate(
        spark.table("hll_out").filter(col("w_start") === lit(new Timestamp(0L)))
          .select("register", "rho")).collect().head
      val batchEst = graft.functions.Hll.estimate(
        graft.functions.Hll.registers((0L until 60L).toDF("uid"), "uid"))
        .collect().head
      assert(liveEst.getDouble(0) == batchEst.getDouble(0) &&
        liveEst.getString(2) == batchEst.getString(2),
        s"live=$liveEst batch=$batchEst")
    } finally q.stop()
  }

  test("live quantile-sketch buckets merge across triggers; the read matches batch (q53/q54 twin)") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    val ms = MemoryStream[(Timestamp, Long)](spark)
    val q = StreamOps.qsketch(ms.toDF().toDF("et", "v"),
        "et", "5 seconds", "10 seconds", "v")
      .writeStream.format("memory").queryName("qsk_out")
      .outputMode("append").start()
    try {
      // values 1..500 in window [0,10), split across two triggers —
      // bucket counts must ADD across triggers (the sum merge law)
      ms.addData((1L to 300L).map(v => (ts(1), v)): _*)
      q.processAllAvailable()
      ms.addData((301L to 500L).map(v => (ts(7), v)): _*)
      q.processAllAvailable()
      ms.addData((ts(30), 999L)) // advance watermark past window end
      q.processAllAvailable()
      val liveCells = spark.table("qsk_out")
        .filter(col("w_start") === lit(new Timestamp(0L)))
        .select("bucket_lo", "cnt")
      val live = liveCells.collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val batch = graft.functions.QSketch.sketch((1L to 500L).toDF("v"), "v")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(live == batch && live.nonEmpty, s"live=$live batch=$batch")
      // the quantile read over the emitted window cells equals the batch
      // read of the same values (bounded-table algebra only)
      val liveRead = graft.functions.QSketch.quantileReads(liveCells, Seq(0.5, 0.9))
        .collect().map(r => r.getDouble(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
      val batchRead = graft.functions.QSketch.quantileReads(
          graft.functions.QSketch.sketch((1L to 500L).toDF("v"), "v"), Seq(0.5, 0.9))
        .collect().map(r => r.getDouble(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
      assert(liveRead == batchRead && liveRead.nonEmpty,
        s"live=$liveRead batch=$batchRead")
      // containment sanity on the known population: the exact median 250
      // and the exact p90 450 sit inside their buckets
      assert(liveRead(0.5)._1 <= 250L && 250L <= liveRead(0.5)._2)
      assert(liveRead(0.9)._1 <= 450L && 450L <= liveRead(0.9)._2)
    } finally q.stop()
  }

  test("live SIGNED quantile sketch matches a batch replay (q56 twin)") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    val ms = MemoryStream[(Timestamp, Long)](spark)
    val q = StreamOps.qsketchSigned(ms.toDF().toDF("et", "v"),
        "et", "5 seconds", "10 seconds", "v")
      .writeStream.format("memory").queryName("qsks_out")
      .outputMode("append").start()
    try {
      val vals = (-200L to 200L)
      ms.addData(vals.map(v => (ts(1), v)): _*)
      q.processAllAvailable()
      ms.addData((ts(30), 0L))
      q.processAllAvailable()
      val liveCells = spark.table("qsks_out")
        .filter(col("w_start") === lit(new Timestamp(0L)))
        .select("bucket_key", "cnt")
      val live = liveCells.collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val batch = graft.functions.QSketch.sketchSigned(vals.toDF("v"), "v")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(live == batch && live.nonEmpty, s"live=$live batch=$batch")
      // the signed read over the window cells: q=0.1 lands negative and
      // contains the exact ranked value
      val read = graft.functions.QSketch.quantileReadsSigned(liveCells, Seq(0.1))
        .collect().head
      val (lo, hi, target) = (read.getLong(1), read.getLong(2), read.getLong(3))
      val exact = vals.sorted.apply((target - 1).toInt)
      assert(lo <= exact && exact <= hi && hi < 0L,
        s"q=0.1 exact $exact outside [$lo, $hi]")
    } finally q.stop()
  }

  test("live noised release: per-window noised counts equal a batch replay (d188 twin)") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.{col, count, lit, window}
    val ms = MemoryStream[(Timestamp, String)](spark)
    val rel = StreamOps.noisedRelease(ms.toDF().toDF("et", "g"),
      "et", "5 seconds", "10 seconds", Seq(col("g")), "live", 1L, 2L)
    val q = rel.writeStream.format("memory").queryName("noised_out")
      .outputMode("append").start()
    try {
      // class counts split across two triggers; window [0,10) closes on
      // the watermark-advancing third trigger
      ms.addData((ts(1), "A"), (ts(2), "A"), (ts(3), "B"))
      q.processAllAvailable()
      ms.addData((ts(4), "A"), (ts(6), "B"))
      q.processAllAvailable()
      ms.addData((ts(30), "Z"))
      q.processAllAvailable()
      val live = spark.table("noised_out")
        .filter(col("w_start") === lit(0L))
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(3), r.getLong(4)))
        .toMap
      // batch replay of the same rows through the same windowed agg + the
      // same tag: identical cells, identical noise (never re-randomized)
      val batch = graft.operators.Privacy.noisedCounts(
          Seq((ts(1), "A"), (ts(2), "A"), (ts(3), "B"), (ts(4), "A"), (ts(6), "B"))
            .toDF("et", "g")
            .groupBy(window(col("et"), "10 seconds").as("w"), col("g"))
            .agg(count(lit(1)).as("cnt"))
            .withColumn("w_start", col("w.start").cast("long")).drop("w"),
          Seq("w_start", "g"), "cnt", "live", 1L, 2L)
        .filter(col("w_start") === lit(0L))
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(3), r.getLong(4)))
        .toMap
      assert(live == batch && live.keySet == Set("A", "B"),
        s"live=$live batch=$batch")
      assert(live("A")._1 == 3L && live("B")._1 == 2L, live.toString)
      assert(live.values.forall(_._3 >= 0L), "released counts must clamp at 0")
    } finally q.stop()
  }

  test("live langid confusion counts (lang, pred) per window via the shared map") {
    val s = spark
    import s.implicits._
    val ms = MemoryStream[(Timestamp, String, String)](spark)
    val out = StreamOps.langidConfusion(
      ms.toDF().toDF("et", "lang", "text"), "et", "5 seconds", "10 seconds",
      "lang", "text")
    val q = out.writeStream.format("memory").queryName("langid_out")
      .outputMode("append").start()
    try {
      ms.addData(
        (ts(1), "en", "the cat and the dog of a to"),
        (ts(2), "en", "der hund und die katze ist"), // mislabeled-ish: German text
        (ts(3), "de", "der die das und ist hier"))
      q.processAllAvailable()
      ms.addData((ts(30), "en", "the end")) // close the first window
      q.processAllAvailable()
      val rows = spark.table("langid_out").collect()
        .filter(_.getStruct(0).getTimestamp(0).getTime == 0L)
        .map(r => ((r.getString(1), r.getString(2)), r.getLong(3))).toMap
      assert(rows == Map(("en", "en") -> 1L, ("en", "de") -> 1L, ("de", "de") -> 1L),
        rows.toString)
    } finally q.stop()
  }

  test("live yield ledger: filter + static-dedup funnel counts per window, merged across triggers") {
    val s = spark
    import s.implicits._
    // pass = >= 50 words, word-len band, >= 2 distinct stopwords, low rep
    val passText = (1 to 60).map(i => s"word$i").mkString(" ") + " the of and"
    val shortText = "too short the of"
    val reference = Seq(passText).toDF("text") // known duplicate
    val ms = MemoryStream[(Timestamp, String)](spark)
    val out = StreamOps.liveYield(
      ms.toDF().toDF("et", "text"), "text", "et", "5 seconds", "10 seconds",
      reference)
    val q = out.writeStream.format("memory").queryName("yield_out")
      .outputMode("append").start()
    try {
      val freshText = (1 to 60).map(i => s"fresh$i").mkString(" ") + " the of and"
      ms.addData((ts(1), passText), (ts(2), shortText))
      q.processAllAvailable()
      ms.addData((ts(3), freshText)) // same window, second trigger — must merge
      q.processAllAvailable()
      ms.addData((ts(30), shortText)) // advance watermark past the window
      q.processAllAvailable()
      val r = spark.table("yield_out").collect()
        .filter(_.getTimestamp(0).getTime == 0L)
      assert(r.length == 1, "one merged row per closed window")
      val row = r.head
      assert(row.getAs[Long]("n_docs") == 3)
      // passText and freshText pass the cascade; only freshText is new
      assert(row.getAs[Long]("n_pass") == 2)
      assert(row.getAs[Long]("n_new") == 1)
      assert(row.getAs[Long]("kept_tokens") == 63L)
      assert(row.getAs[Long]("raw_tokens") ==
        63L + 63L + shortText.split(" ").length)
    } finally q.stop()
  }
}
