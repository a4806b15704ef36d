package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Invariants for the round-13 second wave (d138–d144, m06) plus the
  * streaming BPE-encode twin. The oracle gate pins exact values at
  * sf0.01; these pin the cross-query guarantees the hash compare can't
  * see: probability bounds, budget-exactness, admission accounting, and
  * batch/stream decision equality.
  */
class Wave8Spec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val dir = "/root/testdata/sf0.001"
  private def q(name: String) = SparkEntry.queries(name)(spark, dir)

  test("d138 Kneser-Ney estimates are proper probabilities with live smoothing") {
    val rows = q("d138_kneser_ney")
      .select("c12", "c1", "n1f", "n1r", "p_kn_q9").collect()
    assert(rows.length == 20)
    rows.foreach { r =>
      val p = r.getLong(4)
      assert(p > 0L && p <= 1000000000L, s"p_kn out of (0, 1]: $r")
      // discounted term alone is < c12/c1; the continuation term must
      // strictly add mass (n1f, n1r, ntot are all positive by construction)
      assert(r.getLong(2) > 0 && r.getLong(3) > 0)
    }
  }

  test("d139 reweight: quantized shares renormalize and excess upweights") {
    val rows = q("d139_doremi_reweight")
      .select("excess_q6", "old_share_q6", "w_q6", "new_share_q6").collect()
    val nsSum = rows.map(_.getLong(3)).sum
    // integer-division shares can each lose < 1 unit
    assert(math.abs(nsSum - 1000000L) <= rows.length,
      s"new shares must renormalize to ~1e6, got $nsSum")
    rows.foreach { r =>
      val (ex, old, w) = (r.getLong(0), r.getLong(1), r.getLong(2))
      // w = old_frac * exp(excess): sign of excess decides the direction
      // (floor can lose at most one quantum)
      if (ex > 0) assert(w >= old - 1, s"positive excess must not downweight: $r")
      if (ex < 0) assert(w <= old + 1, s"negative excess must not upweight: $r")
    }
  }

  test("d140 calibration bins partition the corpus") {
    val rows = q("d140_calibration").select("n", "n_keep", "keep_rate_q6").collect()
    val total = rows.map(_.getLong(0)).sum
    val docs = graft.sources.Tables.load(spark, dir, "documents").count()
    assert(total == docs, s"bin counts must partition the corpus: $total vs $docs")
    rows.foreach { r =>
      assert(r.getLong(1) <= r.getLong(0))
      assert(r.getLong(2) >= 0L && r.getLong(2) <= 1000000L)
    }
  }

  test("d141 admission accounting: admitted = distinct hashes, novelty sums to the gram universe") {
    val d = graft.sources.Tables.load(spark, dir, "documents")
    val rows = q("d141_shard_admission")
      .select("n_docs", "n_admitted", "n_new_gram_types", "cum_new_types")
      .collect()
    assert(rows.map(_.getLong(0)).sum == d.count())
    val distinctTexts = d.select(md5(col("text"))).distinct().count()
    assert(rows.map(_.getLong(1)).sum == distinctTexts,
      "every distinct content hash is admitted exactly once")
    val gramUniverse = d
      .select(explode(graft.functions.prom.shingle_g(col("text"), 5)).as("g"))
      .distinct().count()
    assert(rows.map(_.getLong(3)).max == gramUniverse,
      "cumulative novelty must end at the distinct 5-gram universe")
  }

  test("d142 robust outliers: brute-force median/MAD agreement on one source") {
    val d = graft.sources.Tables.load(spark, dir, "documents")
      .filter(col("source") === "src0")
      .select(col("n_chars").cast("long")).collect().map(_.getLong(0)).sorted
    def med2(xs: Array[Long]): Long =
      xs((xs.length - 1) / 2) + xs(xs.length / 2)
    val m2 = med2(d)
    val a = d.map(x => math.abs(2 * x - m2)).sorted
    val mad4 = med2(a)
    val nOut = d.count(x => 2 * math.abs(2 * x - m2) > 3 * mad4)
    val row = q("d142_mad_outliers").filter(col("source") === "src0")
      .select("n", "med2", "mad4", "n_out").collect().head
    assert(row.getLong(0) == d.length && row.getLong(1) == m2 &&
      row.getLong(2) == mad4 && row.getLong(3) == nOut,
      s"rank-arithmetic vs brute force: $row vs (${d.length}, $m2, $mad4, $nOut)")
  }

  test("d143 epoch plan: both allocations are budget-exact and cap-feasible") {
    val rows = q("d143_epoch_plan")
      .select("tokens", "alloc_prop", "alloc_wf").collect()
    val budget = rows.map(_.getLong(0)).sum * 17L / 10L
    assert(rows.map(_.getLong(1)).sum == budget, "apportionment must sum to the budget")
    assert(rows.map(_.getLong(2)).sum == budget, "water-filling must sum to the budget")
    rows.foreach(r => assert(r.getLong(2) <= 2 * r.getLong(0),
      s"waterfill exceeds the 2-epoch cap: $r"))
  }

  test("d144 island arithmetic is internally consistent") {
    val rows = q("d144_intradoc_runs")
      .select("n_grams", "n_rep_pos", "n_islands", "max_run").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (ng, np, ni, mr) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      assert(np <= ng && mr <= np)
      assert((np == 0 && ni == 0 && mr == 0) || (ni >= 1 && mr >= 1))
      assert(ni == 0 || mr * ni >= np, "islands must cover the repeated mass")
    }
  }

  test("m06 trim plan bounds: kept span covers every non-silent frame") {
    val rows = q("m06_audio_trim")
      .select("n_frames", "n_silent", "first_keep", "last_keep", "kept_frames")
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (nf, ns, fk, lk, kept) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(ns <= nf)
      if (fk < 0) assert(ns == nf && kept == 0)
      else {
        assert(fk <= lk && lk < nf)
        assert(kept == lk - fk + 1)
        assert(kept >= nf - ns, "the kept span must cover all non-silent frames")
      }
    }
  }

  test("wordpiece kernel replays greedy longest-match incl. the char fallback") {
    val s = spark
    import s.implicits._
    val lex = Seq("a", "b", "c", "ab", "abc", "bc") // note: no "d" — fallback path
    val corpus = Seq((1L, "abcab dabc b"), (2L, "abab")).toDF("id", "text")
    val got = graft.operators.BpeTokenizer
      .wordpieceEncode(corpus, "id", "text", lex)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getSeq[String](1).toList))
    // abcab -> abc, ab; dabc -> d (fallback), abc; b -> b; abab -> ab, ab
    assert(got.toList == List(
      (1L, List("abc", "ab", "d", "abc", "b")),
      (2L, List("ab", "ab"))))
  }

  test("d146 KN doc scores cover exactly the val split with positive mass") {
    val spl = graft.operators.Sampling.withTrainValSplit(
      graft.sources.Tables.load(spark, dir, "documents"), "doc_id")
    val nVal = spl.filter(col("split") === "val").count()
    val rows = q("d146_kn_docscore")
      .select("nbg", "nll_q6", "mean_nll_q6").collect()
    assert(rows.length == nVal, "every val doc must be scored")
    rows.foreach { r =>
      assert(r.getLong(0) > 0 && r.getLong(1) > 0)
      assert(r.getLong(2) == r.getLong(1) / r.getLong(0))
    }
  }

  test("d148 rendezvous property: growing 8->9 moves docs ONLY to the new shard") {
    // recompute both assignments and pin consistent hashing's defining
    // minimal-disruption guarantee (a doc moves iff shard 8 wins its argmax)
    def shardOf(m: Int) = expr(
      s"""array_max(transform(sequence(0, ${m - 1}), s -> struct(
         |  CAST(conv(substring(md5(concat(CAST(doc_id AS STRING), ':', CAST(s AS STRING))), 1, 15), 16, 10) AS BIGINT) AS h,
         |  CAST(s AS BIGINT) AS s))).s""".stripMargin)
    val a = graft.sources.Tables.load(spark, dir, "documents")
      .select(col("doc_id"), shardOf(8).as("s8"), shardOf(9).as("s9"))
    assert(a.filter(col("s8") =!= col("s9") && col("s9") =!= 8).count() == 0,
      "every moved doc must land on the NEW shard")
    val moved = a.filter(col("s8") =!= col("s9")).count()
    val total = a.count()
    // expected 1/9 of the corpus; allow a generous band for a 500-doc sample
    assert(moved > 0 && moved < total / 4, s"moved $moved of $total")
    // and the query's aggregate must match the per-doc recompute
    val q148 = q("d148_rendezvous_reshard")
      .agg(sum(col("n_moved")), sum(col("n_docs"))).collect().head
    assert(q148.getLong(0) == moved && q148.getLong(1) == total)
  }

  test("d149 hard negatives never share the probe's label") {
    val s = spark
    import s.implicits._
    val lbl = graft.sources.Tables.load(spark, dir, "embeddings")
      .select(col("vec_id").as("qid"), col("label").cast("long").as("qlabel"))
    val bad = q("d149_hard_negatives").join(lbl, "qid")
      .filter(col("neg_label") === col("qlabel")).count()
    assert(bad == 0)
    val perQ = q("d149_hard_negatives").groupBy("qid").count().collect()
    assert(perQ.length == 8 && perQ.forall(_.getLong(1) == 3L))
  }

  test("d150 suspects disagree with their own label by a real majority") {
    val rows = q("d150_label_noise").select("label", "pred", "votes").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(0) != r.getLong(1))
      assert(r.getLong(2) >= 1L && r.getLong(2) <= 3L)
    }
  }

  test("d151 histogram partitions the corpus; single-doc sequences cross-attend nothing") {
    val rows = q("d151_pack_xdoc")
      .select("docs_per_seq", "n_seqs", "n_tokens", "xattn_pairs").collect()
    val d = graft.sources.Tables.load(spark, dir, "documents")
      .select(size(split(col("text"), " ")).cast("long").as("n")).agg(sum(col("n")))
      .collect().head.getLong(0)
    assert(rows.map(_.getLong(2)).sum == d, "token mass must partition the corpus")
    rows.foreach { r =>
      if (r.getLong(0) == 1L) assert(r.getLong(3) == 0L,
        "a single-doc sequence has no cross-doc pairs")
      else assert(r.getLong(3) > 0L)
    }
  }

  test("d152: span cutting measurably reduces the cross-doc repeated-gram density") {
    val r = q("d152_cut_effect")
      .select("rep_frac_before_q6", "rep_frac_after_q6").collect().head
    assert(r.getLong(1) < r.getLong(0),
      s"cutDupSpans must reduce the d54 signal: $r")
  }

  test("d153 farthest-point picks have non-increasing coverage radius") {
    val rows = q("d153_kcenter_coreset").orderBy("round")
      .select("round", "vec_id", "d2_to_set").collect()
    assert(rows.length == 4 && rows.map(_.getLong(1)).distinct.length == 4)
    val radii = rows.drop(1).map(_.getLong(2))
    assert(radii.forall(_ > 0L))
    assert(radii.sliding(2).forall(p => p(0) >= p(1)),
      s"greedy farthest-point radii must be non-increasing: ${radii.toList}")
  }

  test("d154 AUC is a proper probability with exact tie accounting") {
    val r = q("d154_classifier_auc").collect().head
    val (np, nn, u2, auc) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    assert(np > 0 && nn > 0)
    assert(u2 >= 0 && u2 <= 2 * np * nn, "2U is bounded by twice the pair count")
    assert(auc >= 0L && auc <= 1000000L)
  }

  test("d155 Spearman rho lies in [-1, 1]") {
    val r = q("d155_score_spearman").collect().head
    assert(r.getLong(0) > 0)
    assert(math.abs(r.getLong(2)) <= 1000000L)
  }

  test("d156 peel monotonicity: surviving sets shrink and round 3 certifies the 2-core") {
    val rows = q("d156_kcore_peel").orderBy("round")
      .select("round", "n_nodes", "n_edges", "n_dropped").collect()
    assert(rows.length == 3)
    rows.sliding(2).foreach { p =>
      assert(p(1).getLong(1) <= p(0).getLong(1) && p(1).getLong(2) <= p(0).getLong(2),
        "peeling can only shrink the graph")
    }
    rows.foreach { r =>
      // every survivor has degree >= 2, so edges >= nodes (handshake bound)
      assert(r.getLong(2) >= r.getLong(1) || r.getLong(1) == 0L)
    }
  }

  test("streaming rendezvous router emits batch-identical shards") {
    val s = spark
    import s.implicits._
    val docs = graft.sources.Tables.load(spark, dir, "documents")
      .select(col("doc_id")).limit(50)
    val batch = graft.streaming.StreamOps
      .rendezvousRoute(docs, "doc_id", 8)
      .select(col("doc_id"), col("shard").as("bshard"))
    val ms = MemoryStream[Long](spark)
    val out = graft.streaming.StreamOps
      .rendezvousRoute(ms.toDF().toDF("doc_id"), "doc_id", 8)
    val query = out.writeStream.format("memory").queryName("hrw_stream_out")
      .outputMode("append").start()
    try {
      ms.addData(docs.as[Long].collect().toSeq)
      query.processAllAvailable()
      val streamed = spark.table("hrw_stream_out")
      val mismatch = batch.join(streamed, "doc_id")
        .filter(col("bshard") =!= col("shard")).count()
      assert(streamed.count() == 50 && mismatch == 0)
      assert(streamed.agg(min(col("shard")), max(col("shard"))).collect()
        .forall(r => r.getLong(0) >= 0 && r.getLong(1) <= 7))
    } finally query.stop()
  }

  test("streaming WordPiece encode emits batch-identical tokens") {
    val s = spark
    import s.implicits._
    val docs = graft.sources.Tables.load(spark, dir, "documents").limit(20)
    val lex = graft.operators.BpeTokenizer.wordpieceLexicon(docs, "text", 16, 4)
    val batch = graft.operators.BpeTokenizer
      .wordpieceEncode(docs, "doc_id", "text", lex)
      .select(col("doc_id"), col("n_tok"), col("tokens"))
    val ms = MemoryStream[(Long, String)](spark)
    val out = graft.operators.BpeTokenizer.wordpieceEncode(
      ms.toDF().toDF("doc_id", "text"), "doc_id", "text", lex)
    val query = out.writeStream.format("memory").queryName("wp_stream_out")
      .outputMode("append").start()
    try {
      ms.addData(docs.select("doc_id", "text").as[(Long, String)].collect().toSeq)
      query.processAllAvailable()
      val streamed = spark.table("wp_stream_out")
      val mismatch = batch.as("b").join(streamed.as("s"), Seq("doc_id"))
        .filter(col("b.n_tok") =!= col("s.n_tok") ||
          col("b.tokens") =!= col("s.tokens")).count()
      assert(streamed.count() == batch.count() && mismatch == 0)
    } finally query.stop()
  }

  test("streaming BPE encode emits batch-identical ids") {
    val s = spark
    import s.implicits._
    val merges = graft.queries.DataQueries9.bpeRun(spark, dir)._1.map(_._2)
    val docs = graft.sources.Tables.load(spark, dir, "documents").limit(50)
    val enc = graft.operators.BpeTokenizer.encode(docs, "doc_id", "text", merges)
    val vocabDf = graft.operators.BpeTokenizer.vocabulary(enc)
    val batch = graft.operators.BpeTokenizer
      .withTokenIds(enc, "doc_id", vocabDf)
      .select(col("doc_id"), col("n_tok"), col("ids"))
    val vocab = graft.operators.BpeTokenizer.vocabularyMap(vocabDf)
    val ms = MemoryStream[(Long, String)](spark)
    val out = graft.streaming.StreamOps.encodeBpe(
      ms.toDF().toDF("doc_id", "text"), "doc_id", "text", merges, vocab)
    val query = out.writeStream.format("memory").queryName("bpe_stream_out")
      .outputMode("append").start()
    try {
      ms.addData(docs.select("doc_id", "text").as[(Long, String)].collect().toSeq)
      query.processAllAvailable()
      val streamed = spark.table("bpe_stream_out")
      assert(streamed.count() == batch.count())
      val mismatch = batch.as("b").join(streamed.as("s"), Seq("doc_id"))
        .filter(col("b.n_tok") =!= col("s.n_tok") ||
          col("b.ids") =!= col("s.ids"))
        .count()
      assert(mismatch == 0, "stream ids must be batch-identical")
    } finally query.stop()
  }
}
