package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Invariants for the round-13 third wave (d157–d162) plus the streaming
  * waterfall twin. The oracle gate pins exact values at sf0.01; these pin
  * the cross-query guarantees the hash compare can't see: compression
  * accounting identities, cosine/TV bounds, first-fail attribution order,
  * jackknife degeneracy, and batch/stream decision equality.
  */
class Wave9Spec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val dir = "/root/testdata/sf0.001"
  private def q(name: String) = SparkEntry.queries(name)(spark, dir)

  test("d157 compression accounting: varint never beats 1 byte/posting, never exceeds raw") {
    val rows = q("d157_postings_cost").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (np, db, vb, rb) = (r.getAs[Long]("n_postings"),
        r.getAs[Long]("delta_bits"), r.getAs[Long]("varint_bytes"),
        r.getAs[Long]("raw_bytes"))
      assert(rb == 8 * np, s"raw bytes must be 8/posting: $r")
      assert(vb >= np, s"varint is at least 1 byte per posting: $r")
      assert(vb <= rb, s"varint must never exceed raw: $r")
      assert(db >= np && db <= 64 * np, s"delta bits in [1,64] per posting: $r")
      val sv = r.getAs[Long]("saving_q6")
      assert(sv >= 0 && sv < 1000000L, s"saving fraction in [0,1): $r")
    }
    // gap bit-cost can never exceed the cost of encoding the raw ids
    // themselves (gaps are <= the ids they delta): total delta bits is
    // bounded by postings * bitlen(max doc_id) — sanity ceiling only
  }

  test("d158 drift cosines are valid cosines and shard 0 has no predecessor") {
    val rows = q("d158_embed_drift").orderBy("shard").collect()
    assert(rows.length == 4)
    assert(rows.head.isNullAt(rows.head.fieldIndex("cos_prev_q6")),
      "shard 0 must have a null prev-cosine")
    rows.foreach { r =>
      val cg = r.getAs[Long]("cos_global_q6")
      assert(cg >= -1000000L && cg <= 1000000L, s"cos out of range: $r")
      if (!r.isNullAt(r.fieldIndex("cos_prev_q6"))) {
        val cp = r.getAs[Long]("cos_prev_q6")
        assert(cp >= -1000000L && cp <= 1000000L, s"cos out of range: $r")
      }
    }
    // 4 random-ish shards of one distribution: every shard centroid must
    // correlate strongly with the global centroid (it contributes 1/4 of it)
    assert(rows.forall(_.getAs[Long]("cos_global_q6") > 0),
      "shard centroids must positively align with the global centroid")
  }

  test("d159 JL ratios concentrate around 1e6 (the projection preserves distances in expectation)") {
    val rows = q("d159_jl_distortion").collect()
    assert(rows.length == 120, "16-probe pair count")
    val ratios = rows.filterNot(_.isNullAt(4)).map(_.getAs[Long]("ratio_q6"))
    assert(ratios.nonEmpty)
    // k=8 gives loose per-pair concentration; the MEAN over 120 pairs is
    // tight (each ratio is unbiased). Assert mean within ±50% and every
    // pair within a wide but finite band — a sign/scale bug lands far out.
    val mean = ratios.sum / ratios.length
    assert(mean > 500000L && mean < 1500000L, s"mean ratio $mean not ~1e6")
    assert(ratios.forall(r => r > 10000L && r < 100000000L),
      s"ratio outside sane band: ${ratios.min}..${ratios.max}")
  }

  test("d160 waterfall: first-fail attribution partitions the corpus, in rule order") {
    val docs = graft.sources.Tables.load(spark, dir, "documents")
    val n = docs.count()
    val rows = q("d160_filter_waterfall").orderBy("rule_order").collect()
    assert(rows.length == 5)
    assert(rows.map(_.getAs[Long]("n_docs")).sum == n,
      "kill counts + pass must partition the corpus")
    val last = rows.last
    assert(last.getAs[String]("rule") == "pass")
    assert(last.getAs[Long]("survivors") == last.getAs[Long]("n_docs"),
      "survivors == docs attributed to pass")
    assert(last.getAs[Long]("cum_killed") == n - last.getAs[Long]("n_docs"))
    // cum_killed non-decreasing, survivors non-increasing
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(a.getAs[Long]("cum_killed") <= b.getAs[Long]("cum_killed"))
      assert(a.getAs[Long]("survivors") >= b.getAs[Long]("survivors"))
    }
  }

  test("d160 attribution picks the FIRST failed rule, not any failed rule") {
    val s = spark
    import s.implicits._
    // doc 1: too short AND no stopwords -> r1 wins; doc 2: word-len band
    // violated AND repetitious -> r2 wins; doc 3: clean long text -> pass
    val many = (1 to 60).map(i => s"word$i").mkString(" ")
    val tiny = Seq(
      (1L, "x y z"),
      (2L, (1 to 60).map(_ => "aaaaaaaaaaaaaaaaaaaaaaaa").mkString(" ") + " the of"),
      (3L, many + " the of and to the of")).toDF("doc_id", "text")
    val wf = graft.operators.TextQuality.withFilterWaterfall(tiny, "text")
      .select("doc_id", "first_fail").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(wf(1L) == "r1_word_count")
    assert(wf(2L) == "r2_word_len")
    assert(wf(3L) == "pass")
  }

  test("streaming waterfall twin emits batch-identical first-fail labels") {
    val s = spark
    import s.implicits._
    val docs = graft.sources.Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("text")).limit(40)
    val batch = graft.operators.TextQuality.withFilterWaterfall(docs, "text")
      .select(col("doc_id"), col("first_fail").as("bf"))
    val ms = MemoryStream[(Long, String)](spark)
    val out = graft.operators.TextQuality
      .withFilterWaterfall(ms.toDF().toDF("doc_id", "text"), "text")
      .select(col("doc_id"), col("first_fail"))
    val query = out.writeStream.format("memory").queryName("wf_stream_out")
      .outputMode("append").start()
    try {
      ms.addData(docs.as[(Long, String)].collect().toSeq)
      query.processAllAvailable()
      val streamed = spark.table("wf_stream_out")
      assert(streamed.count() == 40)
      assert(batch.join(streamed, "doc_id")
        .filter(col("bf") =!= col("first_fail")).count() == 0)
    } finally query.stop()
  }

  test("d161 jackknife: SE collapses to 0 on a constant metric, CI brackets the mean") {
    val row = q("d161_jackknife_ci").collect().head
    val (m, se) = (row.getAs[Long]("mean_q6"), row.getAs[Long]("jk_se_q6"))
    assert(se >= 0)
    assert(row.getAs[Long]("ci_lo_q6") == m - 2 * se)
    assert(row.getAs[Long]("ci_hi_q6") == m + 2 * se)
    // degenerate corpus: every doc identical -> every block mean equal ->
    // jackknife variance exactly 0 (the identity Σ(B·m_b − S)² = 0)
    val s = spark
    import s.implicits._
    val const = (1L to 64L).map(i => (i, "a b c d e")).toDF("doc_id", "text")
    const.createOrReplaceTempView("documents_const")
    // run the same arithmetic inline over the constant frame
    val d = const.select(
      (conv(substring(md5(col("doc_id").cast("string")), 27, 3), 16, 10)
        .cast("long") % 16).as("blk"),
      size(split(col("text"), " ")).cast("long").as("n_words"))
    val blocks = d.groupBy(col("blk"))
      .agg(count(lit(1)).as("n_b"), sum(col("n_words")).as("t_b"))
    val tot = blocks.agg(sum(col("n_b")).as("n"), sum(col("t_b")).as("t"),
      count(lit(1)).as("nblocks"))
    val mq = blocks.crossJoin(broadcast(tot))
      .select(expr("CAST(CAST(t - t_b AS DECIMAL(38,0)) * 1000000 DIV (n - n_b) AS BIGINT)").as("m_q6"))
      .collect().map(_.getLong(0))
    assert(mq.distinct.length == 1, "constant corpus must give identical block means")
  }

  test("d162 TV distances are valid and the dense grid counts every doc once") {
    val rows = q("d162_shard_mix").collect()
    assert(rows.length == 16)
    val n = graft.sources.Tables.load(spark, dir, "documents").count()
    assert(rows.map(_.getAs[Long]("n_docs")).sum == n)
    rows.foreach { r =>
      val tv = r.getAs[Long]("tv_q6")
      val ms = r.getAs[Long]("max_src_share_q6")
      assert(tv >= 0 && tv <= 1000000L, s"TV out of [0,1]: $r")
      assert(ms >= 0 && ms <= 1000000L, s"share out of [0,1]: $r")
      // max share can never sit below the uniform floor 1/|sources|... but
      // |sources| varies; the provable floor is TV <= max share distance
    }
  }
}
