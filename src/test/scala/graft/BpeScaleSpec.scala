package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Production-scale-shape tokenizer training (the r14 ordered item): the
  * batched trainer past 1,000 merges with rounds ≪ merges, the encode
  * kernel over the full 1k merge list reproducing the trained state, and
  * the WordPiece lexicon prune at 1k+ pieces.
  *
  * The sf0.01 documents corpus has a 31-word vocabulary (~100 possible
  * char-level merges TOTAL), so the 1k-merge demonstration runs the same
  * unit-agnostic machinery at the PHRASE level — symbols start as words,
  * merges build n-gram phrases (the SentencePiece-style shape) — where the
  * corpus supports thousands of merges. The trainer, fold, and kernel are
  * identical code paths either way.
  */
class BpeScaleSpec extends AnyFunSuite {

  // the opt-in scale curve overrides corpus + parallelism via env so the
  // 16k+ targets can run on the sf0.1 phrase corpus (10x the symbols —
  // big enough not to exhaust candidates); CI defaults are unchanged
  private val cpus = sys.env.getOrElse("SPARK_GRAFT_BPE_CPUS", "8")

  lazy val spark: SparkSession = SparkSession.builder()
    .master(s"local[$cpus]")
    .config("spark.sql.shuffle.partitions", cpus)
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val dir = sys.env.getOrElse("SPARK_GRAFT_BPE_DIR", "/root/testdata/sf0.01")

  private lazy val trained = {
    val base = graft.sources.Tables.load(spark, dir, "documents")
      .groupBy(col("text")).agg(count(lit(1)).as("wc"))
      .select(expr("filter(split(text, ' '), x -> length(x) >= 1)").as("syms"),
        col("wc"))
    graft.queries.DataQueries9.bpeBatchTrain(base,
      batchK = 4096, batchM = 48, maxRounds = 70, targetMerges = 1000)
  }

  test("batched trainer reaches 1,000+ merges in <= 70 corpus rollups (rounds << merges)") {
    // the trainer must not retain ANY checkpoint blocks after it returns:
    // Dataset.unpersist is a no-op for localCheckpoint'ed frames, so the
    // loop unpersists superseded rounds at the RDD level — a leak here is
    // O(rounds x corpus) block-manager growth on a production run
    val rddsBefore = spark.sparkContext.getPersistentRDDs.size
    val (merges, totals) = trained
    assert(spark.sparkContext.getPersistentRDDs.size == rddsBefore,
      "bpeBatchTrain leaked checkpoint blocks (RDD-level unpersist regressed)")
    val rounds = merges.map(_._1).max
    assert(merges.size >= 1000, s"expected >= 1000 merges, got ${merges.size}")
    assert(rounds <= 70, s"expected <= 70 rounds, took $rounds")
    assert(merges.size >= 14 * rounds,
      s"batching must amortize: ${merges.size} merges over $rounds rollups")
    // within-round selections stay pairwise symbol-disjoint at production
    // batch size (a self-pair like "the the" is one merge touching one
    // symbol — disjointness is across DIFFERENT merges)
    merges.groupBy(_._1).foreach { case (r, ms) =>
      val sets = ms.map(_._3.split(' ').toSet).toVector
      for (i <- sets.indices; k <- i + 1 until sets.size)
        assert((sets(i) & sets(k)).isEmpty,
          s"round $r merges ${sets(i)} and ${sets(k)} share a symbol")
    }
    // every round compresses the corpus strictly
    totals.map(_._2).sliding(2).foreach { case Seq(a, b) => assert(b < a) }
    info(s"trained ${merges.size} merges in $rounds rounds " +
      s"(corpus ${totals.head._2} -> ${totals.last._2} symbols)")
  }

  test("apply_merges_words over the full 1k list reproduces the trained state, O(text) per row") {
    val (merges, totals) = trained
    val mergeArr = array(merges.map(m => lit(m._3)): _*)
    def encodeTotal(): Long = graft.sources.Tables.load(spark, dir, "documents")
      .select(size(graft.functions.prom.apply_merges_words(col("text"), mergeArr))
        .cast("long").as("n"))
      .agg(sum(col("n"))).collect()(0).getLong(0)
    val t0 = System.nanoTime()
    val total = encodeTotal()
    val wall = (System.nanoTime() - t0) / 1e9
    assert(total == totals.last._2,
      s"kernel encode total $total != trained final total ${totals.last._2}")
    info(f"1k-merge corpus encode: $wall%.2f s (${merges.size} merges, 500 docs)")
  }

  test("opt-in: measured rounds/wall curve at 2k/4k/8k merges (SPARK_GRAFT_BPE_TARGETS)") {
    // the full-production-vocab measurement (minutes, not CI material):
    // SPARK_GRAFT_BPE_TARGETS=2048,4096,8192 sbt "testOnly graft.BpeScaleSpec"
    // Converts the r15 "rounds << merges extrapolated from 1k" into a
    // measurement: at each target the batch width scales with the vocab
    // (batchM = target/64, the production lever) while the ROUND count —
    // the number of corpus rollups, the thing that prices a 100 TB run —
    // stays bounded by target/batchM plus a small exhaustion tail, and the
    // encode kernel reproduces the trained state at the largest vocab.
    // Measured 2026-08-15 (local[8], sf0.01 phrase corpus; committed curve
    // in tools/bpe-scale.md): 2,069 merges / 45 rounds / 113 s,
    // 4,104 / 67 / 185 s, 8,218 / 71 / 337 s — rounds tracks
    // ceil(target/batchM) with a <= 7-round exhaustion tail, and the 8k
    // encode reproduces the trained total in 1.55 s.
    assume(sys.env.contains("SPARK_GRAFT_BPE_TARGETS"),
      "set SPARK_GRAFT_BPE_TARGETS=2048,4096,8192 to run the scale curve")
    val targets = sys.env("SPARK_GRAFT_BPE_TARGETS").split(",").map(_.trim.toInt)
    val base = graft.sources.Tables.load(spark, dir, "documents")
      .groupBy(col("text")).agg(count(lit(1)).as("wc"))
      .select(expr("filter(split(text, ' '), x -> length(x) >= 1)").as("syms"),
        col("wc"))
    val curve = targets.map { target =>
      val batchM = math.max(48, target / 64)
      val t0 = System.nanoTime()
      val (merges, totals) = graft.queries.DataQueries9.bpeBatchTrain(base,
        batchK = 8192, batchM = batchM, maxRounds = 200, targetMerges = target)
      val wall = (System.nanoTime() - t0) / 1e9
      val rounds = merges.map(_._1).max
      // report before asserting, so a run that stops at the maxRounds cap
      // (the 16k sf0.1 run in tools/bpe-scale.md) still prints its curve
      info(f"target $target%5d: ${merges.size}%5d merges, $rounds%3d rounds, " +
        f"batchM=$batchM%3d, ceil=${(target + batchM - 1) / batchM}%3d, " +
        f"$wall%6.1f s, corpus ${totals.head._2} -> ${totals.last._2}")
      // per-round acceptance profile (round:merges accepted): whether rounds
      // track target/batchM or the corpus's disjoint-merge width
      info(s"BPE_ACCEPT target=$target " + merges.groupBy(_._1).toSeq.sortBy(_._1)
        .map { case (r, ms) => s"$r:${ms.size}" }.mkString(","))
      assert(merges.size >= target,
        s"target $target: only ${merges.size} merges before exhaustion")
      // near-full acceptance per round on the DEFAULT sf0.01 corpus: the
      // disjointness sweep must not degrade as the vocabulary grows
      // (rounds stays ~target/batchM). On other corpora (SPARK_GRAFT_BPE_DIR
      // set) acceptance is pool-diversity-bound and can trough mid-training
      // — measured at sf0.1 in tools/bpe-scale.md — so the tight bound only
      // applies to the corpus it was calibrated on.
      if (!sys.env.contains("SPARK_GRAFT_BPE_DIR"))
        assert(rounds <= (target + batchM - 1) / batchM + 8,
          s"target $target: $rounds rounds at batchM=$batchM — acceptance degraded")
      totals.map(_._2).sliding(2).foreach { case Seq(a, b) => assert(b < a) }
      (target, merges, totals)
    }
    // encode parity at the LARGEST trained vocab: the d137 kernel over the
    // full merge list must reproduce the final trained symbol total
    val (bigT, bigMerges, bigTotals) = curve.last
    val mergeArr = array(bigMerges.map(m => lit(m._3)): _*)
    val t0 = System.nanoTime()
    val total = graft.sources.Tables.load(spark, dir, "documents")
      .select(size(graft.functions.prom.apply_merges_words(col("text"), mergeArr))
        .cast("long").as("n"))
      .agg(sum(col("n"))).collect()(0).getLong(0)
    val encWall = (System.nanoTime() - t0) / 1e9
    info(f"$bigT-merge corpus encode: $encWall%.2f s, total $total, " +
      s"trained ${bigTotals.last._2}")
    assert(total == bigTotals.last._2,
      s"kernel encode total $total != trained final total ${bigTotals.last._2}")
  }

  test("wordpiece lexicon prunes at 1k+ pieces and the kernel encodes losslessly against it") {
    val s = spark
    import s.implicits._
    // vocab-rich synthetic corpus: the real documents corpus's 31-word
    // vocabulary cannot yield 1k distinct multi-char pieces, so the 1k
    // demonstration seeds its own (deterministic) 3,000-word vocabulary
    val rnd = new scala.util.Random(17)
    val vocab = Vector.fill(3000)(
      (0 until (6 + rnd.nextInt(5))).map(_ => ('a' + rnd.nextInt(8)).toChar).mkString)
    val docsDf = (0 until 600)
      .map(i => (i.toLong, Vector.fill(40)(vocab(rnd.nextInt(vocab.size))).mkString(" ")))
      .toDF("doc_id", "text")
      .cache()
    val lex = graft.operators.BpeTokenizer
      .wordpieceLexicon(docsDf, "text", topK = 1024, maxPieceLen = 6)
    assert(lex.count(_.length >= 2) >= 1024,
      s"expected >= 1024 multi-char pieces, got ${lex.count(_.length >= 2)}")
    val enc = graft.operators.BpeTokenizer
      .wordpieceEncode(docsDf, "doc_id", "text", lex)
    // greedy longest-match must cover every position: concatenated tokens
    // reassemble the text exactly (single chars are all in the lexicon)
    val bad = enc.join(docsDf, "doc_id")
      .filter(concat_ws("", col("tokens")) =!= regexp_replace(col("text"), " ", ""))
      .count()
    assert(bad == 0, s"$bad docs failed lossless reassembly")
    // and the 1k multi-char pieces must actually compress: far fewer
    // tokens than characters
    val Row = enc.agg(sum(col("n_tok"))).collect()(0)
    val nTok = Row.getLong(0)
    val nChar = docsDf.agg(sum(length(regexp_replace(col("text"), " ", ""))))
      .collect()(0).getLong(0)
    assert(nTok < nChar / 2,
      s"lexicon should halve the token count: $nTok tokens vs $nChar chars")
    docsDf.unpersist(blocking = false)
  }
}
