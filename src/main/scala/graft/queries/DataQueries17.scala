package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.prom.vec_dot
import graft.sources.Caches

/** Wave 14 (round 13) — the language-model estimation and ingest-planning
  * reads that sit between the counting layer (d14/d28/d70) and the
  * allocation layer (d107/d108): a real smoothed LM estimate
  * (Kneser-Ney), the DoReMi-style mixture reweight it feeds, classifier
  * calibration against the deployed rule filter, the incremental-ingest
  * admission curve, and robust (median/MAD) outlier rates.
  *
  * Numeric discipline as established: integer counts everywhere, products
  * routed through DECIMAL(38,0) where token-mass magnitudes would wrap
  * Long (the Allocation precedent), per-row doubles only where d53's
  * precedent applies (pow/exp on a bounded per-key table, quantized q6
  * before anything crosses rows).
  */
object DataQueries17 extends QueryModule {

  /** Non-empty word array of `text` (d79's tokenization). */
  private val wordsExpr = "filter(split(text, ' '), x -> length(x) >= 1)"

  /** One memoized WordPiece lexicon per (session, dir) — the bpeRun memo
    * discipline: d145 and d147 read the same trained lexicon, the result
    * is ~60 driver-side strings (no cached RDDs), and stopped sessions
    * purge on access.
    */
  private val lexMemo = Caches.memo[Seq[String]]()

  private def wpLexicon(s: SparkSession, dir: String): Seq[String] =
    lexMemo((s, dir))(graft.operators.BpeTokenizer.wordpieceLexicon(docs(s, dir), "text", 32, 4))

  val queries: Map[String, Q] = Map[String, Q](
    // interpolated Kneser-Ney bigram probabilities (Kneser & Ney 1995;
    // Chen & Goodman 1998) for the top-20 bigrams — the real smoothed-LM
    // estimate behind perplexity-style filtering (d28/d117 score raw
    // counts; KN is what an actual n-gram LM ships). With discount
    // D = 3/4, P(w2|w1) = [max(4*c12-3, 0)*Ntot + 3*N1f(w1)*N1r(w2)]
    // / (4*c1(w1)*Ntot) — a single rational, so the q9 quantization is
    // one integer floor-division, exact on any engine. The continuation
    // count N1r (distinct LEFT contexts of w2) is KN's signature: "how
    // many contexts does this word complete", not "how often does it
    // occur". Scale: the pair stream is a narrow per-doc zip (no window,
    // no shuffle until the count rollup); the c12 table is vocab²-bounded
    // and persisted once for its four marginal consumers; the top-20 is a
    // bounded TakeOrdered and every marginal join happens AFTER it (20-row
    // broadcast side). The q9 numerator reaches ~c12·Ntot·1e9 — Long
    // wraps at web scale, so the arithmetic runs in DECIMAL(38,0)
    // (the Allocation precedent).
    "d138_kneser_ney" -> ((s, dir) => {
      val bg = docs(s, dir)
        .select(expr(wordsExpr).as("ws"))
        .filter(size(col("ws")) >= 2)
        .select(explode(expr(
          "transform(sequence(1, size(ws) - 1), i -> struct(ws[i-1] AS w1, ws[i] AS w2))"))
          .as("p"))
        .select(col("p.w1"), col("p.w2"))
      val c12 = bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
        .transform(graft.sources.Caches.ephemeral)
      val c1 = c12.groupBy(col("w1")).agg(sum(col("c12")).as("c1"))
      val n1f = c12.groupBy(col("w1")).agg(count(lit(1)).as("n1f"))
      val n1r = c12.groupBy(col("w2")).agg(count(lit(1)).as("n1r"))
      val nt = c12.agg(count(lit(1)).as("ntot"))
      c12.orderBy(col("c12").desc, col("w1"), col("w2")).limit(20)
        .join(c1, "w1").join(n1f, "w1").join(n1r, "w2")
        .crossJoin(broadcast(nt))
        .select(col("w1"), col("w2"), col("c12"), col("c1"), col("n1f"),
          col("n1r"), col("ntot"),
          expr("""CAST((CAST(GREATEST(4 * c12 - 3, 0) AS DECIMAL(38,0)) * ntot * 1000000000
                 |  + CAST(3 AS DECIMAL(38,0)) * n1f * n1r * 1000000000)
                 |  DIV (CAST(4 AS DECIMAL(38,0)) * c1 * ntot) AS BIGINT)""".stripMargin)
            .as("p_kn_q9"))
        .orderBy(col("c12").desc, col("w1"), col("w2"))
    }),

    // classifier calibration against the deployed rule filter: the d79
    // hashed-linear score binned into fixed-width score bands (floor
    // division via pmod so negative scores bin identically across
    // engines — never ntile, which would sort the corpus), each band
    // scored by how often the d39 Gopher-rule filter agrees (keep rate).
    // The reliability read behind replacing rules with a model at 100 TB:
    // a well-calibrated score is monotone in keep rate and the crossover
    // band locates the operating threshold. Two narrow corpus passes
    // (score fold, rule arithmetic), one equi-join on doc_id, one bounded
    // per-band rollup; keep_rate_q6 is an exact integer division.
    "d140_calibration" -> ((s, dir) => {
      val scored = docs(s, dir)
        .select(col("doc_id"), expr(wordsExpr).as("ws"))
        .select(col("doc_id"),
          expr(
            """aggregate(ws, CAST(0 AS BIGINT), (acc, w) -> acc +
              |  ((CAST(conv(substring(md5(w), 1, 15), 16, 10) AS BIGINT) % 64)
              |    * 2654435761 % 1000 - 500))""".stripMargin).as("score"))
      val rules = graft.operators.TextQuality.withQualityRules(docs(s, dir), "text")
        .select(col("doc_id"), col("keep"))
      scored.join(rules, "doc_id")
        .withColumn("bin", expr("(score - pmod(score, 2000)) DIV 2000"))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("keep"), 1L).otherwise(0L)).as("n_keep"),
          min(col("score")).as("min_score"), max(col("score")).as("max_score"))
        .withColumn("keep_rate_q6", expr("n_keep * 1000000 DIV n"))
        .orderBy("bin")
    }),

    // incremental-ingest admission curve: docs arrive in 4 deterministic
    // shards (doc_id mod 4 as the arrival clock), and a doc is ADMITTED
    // iff it is the globally-first occurrence of its exact content hash
    // (min (shard, doc_id) struct per hash — one two-phase rollup, the
    // d77 keeper-election shape). Beside it, marginal NOVELTY: how many
    // 5-gram types see their first occurrence in each shard — the
    // "what does the next crawl day actually add" read behind continuing
    // vs stopping a crawl (appendToIndex is the mechanism; this is the
    // analytic curve that prices it). Grams cross the rollup as 60-bit
    // kernel hashes; every post-rollup table is 4 rows.
    "d141_shard_admission" -> ((s, dir) => {
      val d = docs(s, dir).select(col("doc_id"),
        (col("doc_id") % 4).as("shard"), md5(col("text")).as("h"))
      val first = d.groupBy(col("h"))
        .agg(min(struct(col("shard"), col("doc_id"))).as("f"))
        .select(col("h"), col("f.shard").as("fs"), col("f.doc_id").as("fd"))
      val adm = d.join(first, "h")
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("doc_id") === col("fd"), 1L).otherwise(0L)).as("n_admitted"))
      val novel = docs(s, dir)
        .select((col("doc_id") % 4).as("shard"), col("doc_id"),
          explode(array_distinct(graft.functions.prom.shingle_g(col("text"), 5))).as("g"))
        .groupBy(col("g"))
        .agg(min(struct(col("shard"), col("doc_id"))).as("f"))
        .select(col("f.shard").as("shard"))
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_new_gram_types"))
      val w = Window.orderBy(col("shard")).rowsBetween(Window.unboundedPreceding, 0)
      adm.join(novel, Seq("shard"), "left")
        .select(col("shard"), col("n_docs"), col("n_admitted"),
          (col("n_docs") - col("n_admitted")).as("n_dup"),
          coalesce(col("n_new_gram_types"), lit(0L)).as("n_new_gram_types"))
        .withColumn("cum_new_types", sum(col("n_new_gram_types")).over(w))
        .orderBy("shard")
    }),

    // robust per-source outlier rate on document length (n_chars): exact
    // median and MAD via rank arithmetic on the DISTINCT-length count
    // table (the d26/q20 discipline — windows only ever run over the
    // |sources| × |distinct lengths| table, never the corpus), both
    // doubled so even-count medians stay integers (med2 = 2·median,
    // mad4 = 4·MAD), and the 3-sigma-equivalent rule |len − med| > 3·MAD
    // becomes the integer predicate 2·|2·len − med2| > 3·mad4. The
    // length-quality read that a mean/stddev z-score gets wrong on
    // heavy-tailed web text (one giant page drags the mean; the median
    // doesn't move).
    "d142_mad_outliers" -> ((s, dir) => {
      val lc = docs(s, dir).select(col("source"), col("n_chars").as("len"))
        .groupBy(col("source"), col("len"))
        .agg(count(lit(1)).as("cnt"))
        .transform(graft.sources.Caches.ephemeral)
      def med2Of(t: DataFrame, valCol: String): DataFrame = {
        val wc = Window.partitionBy(col("source")).orderBy(col(valCol))
          .rowsBetween(Window.unboundedPreceding, 0)
        val wn = Window.partitionBy(col("source"))
        t.withColumn("cum", sum(col("cnt")).over(wc))
          .withColumn("nn", sum(col("cnt")).over(wn))
          .groupBy(col("source"))
          .agg(max(col("nn")).as("n"),
            (min(when(col("cum") >= expr("(nn + 1) DIV 2"), col(valCol))) +
              min(when(col("cum") >= expr("(nn + 2) DIV 2"), col(valCol))))
              .as("m2"))
      }
      val med = med2Of(lc, "len").withColumnRenamed("m2", "med2")
        .select(col("source"), col("n"), col("med2"))
      val aTab = lc.join(med, "source")
        .select(col("source"), abs(lit(2) * col("len") - col("med2")).as("a"), col("cnt"))
        .groupBy(col("source"), col("a"))
        .agg(sum(col("cnt")).as("cnt"))
      val mad = med2Of(aTab, "a").withColumnRenamed("m2", "mad4")
        .select(col("source"), col("mad4"))
      val out = lc.join(med, "source").join(mad, "source")
        .groupBy(col("source"))
        .agg(sum(when(lit(2) * abs(lit(2) * col("len") - col("med2")) >
          lit(3) * col("mad4"), col("cnt")).otherwise(0L)).as("n_out"))
      med.join(mad, "source").join(out, "source")
        .select(col("source"), col("n"), col("med2"), col("mad4"), col("n_out"),
          expr("n_out * 1000000 DIV n").as("out_rate_q6"))
        .orderBy("source")
    })
  ) ++ Map[String, Q](
    // DoReMi-style one-round mixture reweight (Xie et al. 2023, the
    // multiplicative-weights shape): each source's "excess loss" proxy is
    // the corpus-mean bigram familiarity minus its own (d28's integer
    // score — sources whose text the corpus LM finds LESS familiar carry
    // more headroom and get UPWEIGHTED), and the token-mass prior is
    // multiplied by exp(excess). Per-row doubles appear ONLY on the
    // |sources|-row table (d53's pow precedent: the q6 floor absorbs
    // last-ulp exp skew); the renormalization runs on the ALREADY
    // QUANTIZED integer weights, so the final shares are exact integer
    // divisions. The bigram join is d28's hash shuffle; the *1e6
    // products route through DECIMAL(38,0) (token-mass magnitudes wrap
    // Long — the Allocation precedent).
    "d139_doremi_reweight" -> ((s, dir) => {
      val bg = docs(s, dir).select(col("source"),
          explode(graft.functions.prom.ngram_g(col("text"), 2)).as("bg"))
        .transform(graft.sources.Caches.ephemeral)
      val counts = bg.groupBy(col("bg")).agg(count(lit(1)).as("n"))
      val perSrc = bg.join(counts, "bg").groupBy(col("source"))
        .agg(count(lit(1)).as("nbg"), sum(col("n")).as("ssum"))
      val tok = docs(s, dir)
        .select(col("source"), size(split(col("text"), " ")).cast("long").as("nt"))
        .groupBy(col("source")).agg(sum(col("nt")).as("tokens"))
      val all = Window.partitionBy(lit(0))
      perSrc.join(tok, "source")
        .withColumn("score_q6",
          expr("CAST(CAST(ssum AS DECIMAL(38,0)) * 1000000 DIV nbg AS BIGINT)"))
        .withColumn("ssum_tot", sum(col("ssum")).over(all))
        .withColumn("nbg_tot", sum(col("nbg")).over(all))
        .withColumn("tok_tot", sum(col("tokens")).over(all))
        .withColumn("corp_q6",
          expr("CAST(CAST(ssum_tot AS DECIMAL(38,0)) * 1000000 DIV nbg_tot AS BIGINT)"))
        .withColumn("excess_q6", col("corp_q6") - col("score_q6"))
        .withColumn("w_q6",
          floor(col("tokens").cast("double") / col("tok_tot").cast("double")
            * exp(col("excess_q6").cast("double") / lit(1000000.0))
            * lit(1000000.0)).cast("long"))
        .withColumn("old_share_q6",
          expr("CAST(CAST(tokens AS DECIMAL(38,0)) * 1000000 DIV tok_tot AS BIGINT)"))
        .withColumn("w_tot", sum(col("w_q6")).over(all))
        .withColumn("new_share_q6",
          expr("CAST(CAST(w_q6 AS DECIMAL(38,0)) * 1000000 DIV w_tot AS BIGINT)"))
        .select(col("source"), col("tokens"), col("score_q6"), col("excess_q6"),
          col("old_share_q6"), col("w_q6"), col("new_share_q6"))
        .orderBy("source")
    }),

    // token-budget epoch plan — the two public Allocation rules composed
    // into the read a training run actually consumes: a 1.7×-corpus token
    // budget is (a) apportioned by DOC mass (Hamilton — so epochs vary
    // with a source's average doc length) and (b) water-filled under
    // 2-epoch caps (cap = 2·tokens — the "upsample small sources to at
    // most 2 epochs" rule), each converted to per-source epochs as an
    // exact q6 integer division. One corpus rollup to the |sources|-row
    // table; the budget scalar is a one-row collect (the d108 precedent);
    // everything else runs on bounded tables inside the Allocation APIs.
    "d143_epoch_plan" -> ((s, dir) => {
      val t = docs(s, dir).groupBy(col("source"))
        .agg(sum(size(split(col("text"), " ")).cast("long")).as("tok"),
          count(lit(1)).as("n_docs"))
        .transform(graft.sources.Caches.ephemeral)
      val budget = t.agg(sum(col("tok"))).first().getLong(0) * 17L / 10L
      val prop = graft.operators.Allocation
        .apportion(t.select(col("source"), col("n_docs")), "source", "n_docs", budget)
        .select(col("source"), col("alloc").as("alloc_prop"))
      val wf = graft.operators.Allocation
        .waterfill(t.select(col("source"), (col("tok") * 2).as("cap")),
          "source", "cap", budget)
        .select(col("source"), col("alloc").as("alloc_wf"))
      t.join(prop, "source").join(wf, "source")
        .select(col("source"), col("tok").as("tokens"), col("n_docs"),
          col("alloc_prop"),
          expr("CAST(CAST(alloc_prop AS DECIMAL(38,0)) * 1000000 DIV tok AS BIGINT)")
            .as("epochs_prop_q6"),
          col("alloc_wf"),
          expr("CAST(CAST(alloc_wf AS DECIMAL(38,0)) * 1000000 DIV tok AS BIGINT)")
            .as("epochs_wf_q6"))
        .orderBy("source")
    }),

    // within-document repetition runs — the positional complement of d38's
    // duplicate-word fractions and d60's entropy: 5-gram positions whose
    // gram recurs IN THE SAME document, grouped into maximal consecutive
    // runs (gaps-and-islands on p − row_number) — the degenerate-loop
    // detector for generation artifacts and boilerplate scaffolds
    // (a doc with max_run ≈ n_grams is one long repeated block; scattered
    // singleton islands are natural phrase reuse). Every window is
    // partitioned by doc (doc-bounded, the d81 discipline); nothing
    // crosses documents at all — the whole query is embarrassingly
    // parallel over docs at any corpus size.
    "d144_intradoc_runs" -> ((s, dir) => {
      val pg = docs(s, dir)
        .select(col("doc_id"), split(col("text"), " ").as("ws"))
        .filter(size(col("ws")) >= 5)
        .select(col("doc_id"), posexplode(expr(
          "transform(sequence(0, size(ws) - 5), i -> concat_ws(' ', slice(ws, i + 1, 5)))"))
          .as(Seq("p", "g")))
        .transform(graft.sources.Caches.ephemeral)
      val wc = Window.partitionBy(col("doc_id"), col("g"))
      val wd = Window.partitionBy(col("doc_id")).orderBy(col("p"))
      val isl = pg.withColumn("cnt", count(lit(1)).over(wc))
        .filter(col("cnt") >= 2)
        .withColumn("isl", col("p") - row_number().over(wd))
      val perIsl = isl.groupBy(col("doc_id"), col("isl"))
        .agg(count(lit(1)).as("run"))
      val repAgg = perIsl.groupBy(col("doc_id"))
        .agg(sum(col("run")).as("n_rep_pos"), count(lit(1)).as("n_islands"),
          max(col("run")).as("max_run"))
      pg.groupBy(col("doc_id")).agg(count(lit(1)).as("n_grams"))
        .join(repAgg, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_grams"),
          coalesce(col("n_rep_pos"), lit(0L)).as("n_rep_pos"),
          coalesce(col("n_islands"), lit(0L)).as("n_islands"),
          coalesce(col("max_run"), lit(0L)).as("max_run"))
        .orderBy("doc_id")
    }),

    // WordPiece-style greedy longest-match tokenization — the third
    // tokenizer-family member (d76 trains BPE merges, d137 applies them;
    // this is the maximal-munch alternative real vocabularies ship):
    // lexicon = every corpus character + the top-32 most frequent 2..4
    // char substrings (bounded TakeOrdered prune, d70's count-argmax
    // frame), applied by ONE codegen'd kernel pass per document
    // (`prom.wordpiece` — O(|word|·maxPieceLen), no joins, no per-piece
    // corpus scans). The lexicon is a vocab-bounded collect broadcast as
    // a literal (the d76 merge-list discipline). The oracle re-trains the
    // identical lexicon and replays the greedy rule as a recursive CTE.
    "d145_wordpiece" -> ((s, dir) => {
      val lex = wpLexicon(s, dir)
      graft.operators.BpeTokenizer
        .wordpieceEncode(docs(s, dir), "doc_id", "text", lex)
        .select(col("doc_id"), col("n_tok"),
          md5(concat_ws(",", col("tokens"))).as("toks_md5"))
        .orderBy("doc_id")
    }),

    // held-out Kneser-Ney document scoring — the read d138 exists to
    // serve: train-split KN statistics (d33's hash-window split, so the
    // model never sees a val doc) score VAL documents as negative
    // log-likelihoods — the REAL perplexity filter (d28/d117 rank by raw
    // counts; this is calibrated probability mass, with KN's backoff
    // doing actual work on unseen events: unseen pair → discounted +
    // continuation mass, unseen left context → pure continuation
    // P(w2) = N1r/Ntot, probability floored at 1e-9). Each bigram's
    // ln(p) is floor-quantized to q6 PER ROW before the per-doc sum
    // (d57/d90's ln-ulp argument), so the document score is an exact
    // integer. Joins run against vocab²-bounded count tables on word
    // keys (AQE broadcasts them when they fit); the val side is 1/20 of
    // the corpus by construction.
    "d146_kn_docscore" -> ((s, dir) => {
      val spl = graft.operators.Sampling.withTrainValSplit(docs(s, dir), "doc_id")
      val bg = spl
        .select(col("doc_id"), col("split"), expr(wordsExpr).as("ws"))
        .filter(size(col("ws")) >= 2)
        .select(col("doc_id"), col("split"), explode(expr(
          "transform(sequence(1, size(ws) - 1), i -> struct(ws[i-1] AS w1, ws[i] AS w2))"))
          .as("p"))
        .select(col("doc_id"), col("split"), col("p.w1"), col("p.w2"))
        .transform(graft.sources.Caches.ephemeral)
      val c12 = bg.filter(col("split") === "train")
        .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
        .transform(graft.sources.Caches.ephemeral)
      val c1 = c12.groupBy(col("w1"))
        .agg(sum(col("c12")).as("c1"), count(lit(1)).as("n1f"))
      val n1r = c12.groupBy(col("w2")).agg(count(lit(1)).as("n1r"))
      val nt = c12.agg(count(lit(1)).as("ntot"))
      bg.filter(col("split") === "val")
        .join(c12, Seq("w1", "w2"), "left")
        .join(c1, Seq("w1"), "left")
        .join(n1r, Seq("w2"), "left")
        .crossJoin(broadcast(nt))
        .withColumn("p_q9", greatest(lit(1L), expr(
          """CASE WHEN c1 IS NULL
            |  THEN CAST(CAST(COALESCE(n1r, 0) AS DECIMAL(38,0)) * 1000000000 DIV ntot AS BIGINT)
            |  ELSE CAST((CAST(GREATEST(4 * COALESCE(c12, 0) - 3, 0) AS DECIMAL(38,0)) * ntot * 1000000000
            |    + CAST(3 AS DECIMAL(38,0)) * n1f * COALESCE(n1r, 0) * 1000000000)
            |    DIV (CAST(4 AS DECIMAL(38,0)) * c1 * ntot) AS BIGINT) END""".stripMargin)))
        .withColumn("t_q6",
          floor(log(col("p_q9").cast("double") / lit(1000000000.0)) * lit(1000000.0))
            .cast("long"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("nbg"), (-sum(col("t_q6"))).as("nll_q6"))
        .withColumn("mean_nll_q6", expr("nll_q6 DIV nbg"))
        .orderBy("doc_id")
    }),

    // tokenizer fertility head-to-head — the evaluation that closes the
    // tokenizer trio (d76 BPE train, d137/d145 the two apply algorithms,
    // d128 whitespace fertility): per language, characters-per-token for
    // the 5-merge BPE vocabulary vs the 32-piece WordPiece lexicon, from
    // ONE narrow corpus pass (both kernels run side by side in the same
    // projection — no joins, no second scan) + one |langs|-row rollup.
    // The read that picks a tokenizer family for a multilingual budget:
    // higher chars/token = cheaper sequences for that language.
    "d147_tokenizer_fertility" -> ((s, dir) => {
      val merges = DataQueries9.bpeRun(s, dir)._1.map(_._2)
      val mlit = array(merges.map(lit): _*)
      val llit = array(wpLexicon(s, dir).map(lit): _*)
      docs(s, dir).select(col("lang"), col("n_chars"),
          size(expr(wordsExpr)).cast("long").as("nw"),
          size(graft.functions.prom.apply_merges(col("text"), mlit)).cast("long").as("nb"),
          size(graft.functions.prom.wordpiece(col("text"), llit)).cast("long").as("nwp"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("chars"),
          sum(col("nw")).as("n_words"), sum(col("nb")).as("n_bpe"),
          sum(col("nwp")).as("n_wp"))
        .withColumn("chars_per_bpe_q6",
          expr("CAST(CAST(chars AS DECIMAL(38,0)) * 1000000 DIV n_bpe AS BIGINT)"))
        .withColumn("chars_per_wp_q6",
          expr("CAST(CAST(chars AS DECIMAL(38,0)) * 1000000 DIV n_wp AS BIGINT)"))
        .orderBy("lang")
    }),

    // rendezvous (highest-random-weight) hashing reshard audit — the
    // elastic-scaling complement of d99's static shard balance: every doc
    // picks argmax_s h(doc, s) over the shard set, and growing 8 → 9
    // shards provably moves ONLY docs whose new shard WINS the argmax
    // (expected 1/9 of the corpus, each moving TO the new shard — the
    // minimal-disruption property consistent hashing exists for, vs mod-N
    // resharding which moves ~8/9). Entirely narrow: the per-doc argmax
    // is an array_max over a 9-element literal-range transform (h = the
    // repo-wide 60-bit md5 window on doc:shard), then one |shards|-row
    // rollup; zero joins, zero extra shuffles at any corpus size.
    "d148_rendezvous_reshard" -> ((s, dir) => {
      def shardOf(m: Int) = expr(
        s"""array_max(transform(sequence(0, ${m - 1}), s -> struct(
           |  CAST(conv(substring(md5(concat(CAST(doc_id AS STRING), ':', CAST(s AS STRING))), 1, 15), 16, 10) AS BIGINT) AS h,
           |  CAST(s AS BIGINT) AS s))).s""".stripMargin)
      docs(s, dir)
        .select(col("doc_id"), shardOf(8).as("shard8"), shardOf(9).as("shard9"))
        .groupBy(col("shard8"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("shard9") =!= col("shard8"), 1L).otherwise(0L)).as("n_moved"))
        .select(col("shard8").as("shard"), col("n_docs"), col("n_moved"),
          expr("n_moved * 1000000 DIV n_docs").as("moved_rate_q6"))
        .orderBy("shard")
    }),

    // hard-negative mining for contrastive training (the in-batch-negatives
    // upgrade every embedding-model pipeline runs): per probe query, the 3
    // highest-cosine vectors with a DIFFERENT ground-truth label — near the
    // query but semantically wrong, exactly the negatives that sharpen a
    // contrastive loss. The bounded probe set is the broadcast side (the
    // d125/d126 discipline); at 100 TB the corpus side routes through the
    // IVF cells first (d55's chain) and this exact pass is the recall
    // baseline. Cosines are the bit-identical fold kernel, ranks tie-break
    // on vec_id.
    "d149_hard_negatives" -> ((s, dir) => {
      val e = embs(s, dir)
        .select(col("vec_id"), toDouble(col("embedding")).as("v"), col("label"))
        .withColumn("nrm", sqrt(vec_dot(col("v"), col("v"))))
      val q = e.filter(col("vec_id") >= 8 && col("vec_id") < 16)
        .select(col("vec_id").as("qid"), col("v").as("qv"), col("nrm").as("qn"),
          col("label").as("qlabel"))
      val scored = e.join(broadcast(q),
          col("vec_id") =!= col("qid") && col("label") =!= col("qlabel"))
        .select(col("qid"), col("vec_id"), col("label"),
          floor(vec_dot(col("qv"), col("v")) / (col("qn") * col("nrm")) * lit(1000000.0))
            .cast("long").as("cos_q6"))
      val w = Window.partitionBy(col("qid")).orderBy(col("cos_q6").desc, col("vec_id"))
      scored.withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 3)
        .select(col("qid"), col("rank"), col("vec_id").as("neg_id"),
          col("label").cast("long").as("neg_label"), col("cos_q6"))
        .orderBy("qid", "rank")
    }),

    // label-noise suspects by kNN disagreement (the confident-learning
    // read): a vector whose 3 nearest same-cell neighbors majority-vote a
    // DIFFERENT label than its own is flagged — mislabeled points sit in
    // the wrong neighborhood. Neighborhoods come from the shared persisted
    // IVF assignment (d10/d55's cells), so candidate pairs are the cell
    // EQUIJOIN — Σ|cell|² work, never corpus², and never a broadcast of
    // anything corpus-sized (the d56 SemDeDup discipline). Votes tie-break
    // to the smallest label; output is the suspect list only.
    "d150_label_noise" -> ((s, dir) => {
      val a = DataQueries2.ivfAssigned(s, dir)
        .join(embs(s, dir).select(col("vec_id").as("id"), col("label")), "id")
      val pairs = a.as("x").join(a.as("y"),
          col("x.cell") === col("y.cell") && col("x.id") =!= col("y.id"))
        .select(col("x.id").as("vid"), col("x.label").as("own"),
          col("y.id").as("nid"), col("y.label").as("nlabel"),
          (vec_dot(col("x.v"), col("y.v")) / (col("x.nrm") * col("y.nrm"))).as("cos"))
      val w = Window.partitionBy(col("vid")).orderBy(col("cos").desc, col("nid"))
      val top3 = pairs.withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
      val votes = top3.groupBy(col("vid"), col("own"), col("nlabel"))
        .agg(count(lit(1)).as("votes"))
      val wv = Window.partitionBy(col("vid")).orderBy(col("votes").desc, col("nlabel"))
      votes.withColumn("vr", row_number().over(wv))
        .filter(col("vr") === 1 && col("nlabel") =!= col("own"))
        .select(col("vid").as("vec_id"), col("own").cast("long").as("label"),
          col("nlabel").cast("long").as("pred"), col("votes"))
        .orderBy("vec_id")
    }),

    // packing attention-contamination histogram — the cost side of the
    // d43 packing choice d44's efficiency report doesn't show: without
    // per-doc attention masking, every token pair that shares a sequence
    // but not a document cross-attends. Per docs-per-sequence band:
    // sequence count, token mass, and the exact cross-document attention
    // pair count Σ(S² − Σdᵢ²)/2 — the number that decides whether the
    // packer needs a block-diagonal mask. Rides the same packGreedy
    // output as d43 (one per-seq rollup + one bounded histogram rollup;
    // S ≤ seqLen so the squares never overflow).
    "d151_pack_xdoc" -> ((s, dir) => {
      val packed = graft.operators.SequencePacking
        .packGreedy(docs(s, dir)
          .select(col("doc_id"),
            size(split(col("text"), " ")).cast("long").as("n_tok")),
          "doc_id", "n_tok", 256, 8)
      packed.groupBy(col("seq"))
        .agg(count(lit(1)).as("nd"), sum(col("n_tok")).as("st"),
          sum(col("n_tok") * col("n_tok")).as("s2"))
        .groupBy(col("nd").as("docs_per_seq"))
        .agg(count(lit(1)).as("n_seqs"), sum(col("st")).as("n_tokens"),
          sum((col("st") * col("st") - col("s2")) / lit(2)).cast("long")
            .as("xattn_pairs"))
        .orderBy("docs_per_seq")
    }),

    // does span-level dedup actually kill the signal it targets? The
    // before/after audit of d136's cut: cross-document repeated distinct
    // 5-gram density (d54's read) measured on the original corpus and on
    // the cutDupSpans-rebuilt corpus, side by side in one row. Honest by
    // construction: cutting can CREATE new grams (words across a cut
    // become adjacent), so the drop is measured, not assumed (Wave8Spec
    // pins rep_after < rep_before). Two gram passes + two df rollups —
    // the d54 shape twice, priced like any gram audit.
    "d152_cut_effect" -> ((s, dir) => {
      def repStats(d: DataFrame, grams: String, rep: String): DataFrame = {
        val dg = d.select(col("doc_id"),
          explode(graft.functions.prom.shingle_g(col("text"), 5)).as("g"))
        val df = dg.groupBy(col("g")).agg(count(lit(1)).as("__df"))
        dg.join(df, "g")
          .agg(count(lit(1)).as(grams),
            sum(when(col("__df") >= 2, 1L).otherwise(0L)).as(rep))
      }
      val before = repStats(docs(s, dir), "grams_before", "rep_before")
      // repStats consumes its input twice (the df rollup + the join side);
      // for `before` that is a cheap parquet re-scan, but the `after` side
      // re-ran the ENTIRE cutDupSpans pipeline (df rollup, positional
      // fan-out, anti-join, per-doc reassembly) per consumer — persist the
      // rebuilt corpus once (r22, guide §5: join/agg output, expensive to
      // recompute, corpus-text-sized for exactly this query's lifetime)
      val after = repStats(
        graft.sources.Caches.ephemeral(
          graft.operators.TextDedup.cutDupSpans(docs(s, dir), "doc_id", "text", 5, 2)
            .select(col("doc_id"), col("text"))),
        "grams_after", "rep_after")
      before.crossJoin(after)
        .select(col("grams_before"), col("rep_before"),
          col("grams_after"), col("rep_after"),
          expr("rep_before * 1000000 DIV grams_before").as("rep_frac_before_q6"),
          expr("rep_after * 1000000 DIV grams_after").as("rep_frac_after_q6"))
    }),

    // k-center coreset seeds by greedy farthest-point traversal (Gonzalez
    // 1985 — the 2-approximation every diverse-subset/eval-set selection
    // uses, and k-means++'s deterministic cousin): start from the
    // smallest id, then 3 rounds of "the vector farthest from the
    // selected set joins it". The d76/d89 bounded-driver-loop discipline:
    // per round one narrow min-distance pass against the ≤4-center
    // broadcast and ONE one-row argmax collect; distances are exact
    // integers on q6 components (the d89 kernel), so the unrolled oracle
    // vouches for every round. Output: selection order with each pick's
    // distance-to-set (the coverage-radius curve).
    "d153_kcenter_coreset" -> ((s, dir) => {
      import s.implicits._
      val e = DataQueries10.kmQuant(s, dir).transform(graft.sources.Caches.ephemeral)
      val d2 = (a: Column, b: Column) => graft.functions.prom.vec_sqdist_q(a, b)
      val first = e.agg(min(col("vec_id"))).first().getLong(0)
      var picks = Vector((0L, first, 0L))
      while (picks.length < 4) {
        val cents = e.filter(col("vec_id").isin(picks.map(_._2): _*))
          .select(col("vec_id").as("cid"), col("xq").as("cq"))
        val far = e.join(broadcast(cents))
          .select(col("vec_id"), d2(col("xq"), col("cq")).as("dd"))
          .groupBy(col("vec_id")).agg(min(col("dd")).as("dmin"))
          .agg(max(struct(col("dmin"), (-col("vec_id")).as("neg"))).as("m"))
          .select((-col("m.neg")).as("vec_id"), col("m.dmin").as("dmin"))
          .first()
        picks = picks :+ ((picks.length.toLong, far.getLong(0), far.getLong(1)))
      }
      picks.toDF("round", "vec_id", "d2_to_set").orderBy("round")
    }),

    // exact ROC-AUC of the d79 hashed classifier against the deployed d39
    // rule label — the standard threshold-free eval behind d140's binned
    // calibration: AUC = P(score_pos > score_neg) with the tie convention
    // counted EXACTLY as 2U = 2·#{pos>neg} + #{pos=neg} (so no float
    // midranks exist at all), via one groupBy(score) rollup and the
    // banded below-count (ScaleWindows.bandedBelow — the distinct-score
    // table grows with the corpus, so its cumulation is two-level: the
    // only global window runs over the range-bounded band table). The
    // np·nn denominator runs in DECIMAL(38,0) (corpus-squared wraps
    // Long). d177 publishes the binned estimate beside this exact value.
    "d154_classifier_auc" -> ((s, dir) => {
      val scored = docs(s, dir)
        .select(col("doc_id"), expr(wordsExpr).as("ws"))
        .select(col("doc_id"),
          expr(
            """aggregate(ws, CAST(0 AS BIGINT), (acc, w) -> acc +
              |  ((CAST(conv(substring(md5(w), 1, 15), 16, 10) AS BIGINT) % 64)
              |    * 2654435761 % 1000 - 500))""".stripMargin).as("score"))
      val rules = graft.operators.TextQuality.withQualityRules(docs(s, dir), "text")
        .select(col("doc_id"), col("keep"))
      val byScore = scored.join(rules, "doc_id")
        .groupBy(col("score"))
        .agg(sum(when(col("keep"), 1L).otherwise(0L)).as("nps"),
          sum(when(col("keep"), 0L).otherwise(1L)).as("nns"))
        .transform(graft.sources.Caches.ephemeral)
      val nnBelow = graft.operators.ScaleWindows
        .bandedBelow(byScore.select(col("score"), col("nns")), "score", "nns", 2000L)
        .withColumnRenamed("below", "nn_below")
      byScore.join(nnBelow, "score")
        .agg(sum(col("nps")).as("np"), sum(col("nns")).as("nn"),
          sum(col("nps") * (lit(2) * col("nn_below") + col("nns"))).as("u2"))
        .select(col("np"), col("nn"), col("u2"),
          expr("CAST(CAST(u2 AS DECIMAL(38,0)) * 1000000 DIV (2 * CAST(np AS DECIMAL(38,0)) * nn) AS BIGINT)")
            .as("auc_q6"))
    }),

    // Spearman rank correlation between the two deployed quality signals
    // (d79's hashed-classifier score and d28's bigram-familiarity score)
    // — the "do my filters agree or am I double-counting one signal"
    // read behind composing filters at 100 TB. Ranks are deterministic
    // integers (tie-break on doc_id, both engines), Σd² is an exact
    // integer, and ρ is published as 1e6 − 6e6·Σd²/(n(n²−1)) with the
    // subtrahend a POSITIVE floor division (so no negative-division
    // truncation skew can cross engines); n(n²−1) runs in DECIMAL.
    // Rank discipline (the q20/d142 shape, two-level because the bigram
    // score is near-unique per doc): rank(score, doc_id) =
    // band_below(band) + within_band_below(score) + tiebreak, where the
    // only GLOBAL cumulative window runs over the fixed-width BAND table
    // (bounded by the score range / width, d140's argument — never the
    // corpus), the within-band cumulative window is PARTITIONED by band,
    // and the doc_id tiebreak row_number is PARTITIONED by score. No
    // window ever orders a corpus-sized input in a single partition.
    "d155_score_spearman" -> ((s, dir) => {
      val a = docs(s, dir)
        .select(col("doc_id"), expr(wordsExpr).as("ws"))
        .select(col("doc_id"),
          expr(
            """aggregate(ws, CAST(0 AS BIGINT), (acc, w) -> acc +
              |  ((CAST(conv(substring(md5(w), 1, 15), 16, 10) AS BIGINT) % 64)
              |    * 2654435761 % 1000 - 500))""".stripMargin).as("sa"))
      val bg = docs(s, dir).select(col("doc_id"),
        explode(graft.functions.prom.ngram_g(col("text"), 2)).as("bg"))
      val counts = bg.groupBy(col("bg")).agg(count(lit(1)).as("n"))
      val b = bg.join(counts, "bg").groupBy(col("doc_id"))
        .agg(expr("CAST(CAST(sum(n) AS DECIMAL(38,0)) * 1000000 DIV count(*) AS BIGINT)").as("sb"))
      // rank = banded below-count (ScaleWindows.bandedBelow over the
      // distinct-score rollup) + partitioned tiebreak; bandWidth sizes the
      // bounded global table per score scale
      def ranked(df: DataFrame, score: String, out: String,
          bandWidth: Long, levels: Int): DataFrame = {
        val cnts = df.groupBy(col(score)).agg(count(lit(1)).as("__c"))
        val below = graft.operators.ScaleWindows
          .bandedBelow(cnts, score, "__c", bandWidth, levels)
          .withColumnRenamed("below", "__below")
        val wtie = Window.partitionBy(col(score)).orderBy(col("doc_id"))
        df.join(below, score)
          .withColumn(out, col("__below") + row_number().over(wtie).cast("long"))
          .drop("__below")
      }
      val j = graft.sources.Caches.ephemeral(a.join(b, "doc_id"))
      // band widths: sa is the d140 2000-wide score scale (range-bounded, one
      // level); sb is q6-scaled mean bigram frequency, whose range tracks the
      // LARGEST bigram count — no fixed bound — so its band table is banded
      // again (levels=2: only the doubly-contracted table, <= maxfreq/1e14
      // rows, ever sees a global window or a forced broadcast)
      val ra = ranked(j.select(col("doc_id"), col("sa")), "sa", "ra", 2000L, 1)
        .select(col("doc_id"), col("ra"))
      val rb = ranked(j.select(col("doc_id"), col("sb")), "sb", "rb", 10000000L, 2)
        .select(col("doc_id"), col("rb"))
      ra.join(rb, "doc_id")
        .agg(count(lit(1)).as("n"),
          sum((col("ra") - col("rb")) * (col("ra") - col("rb"))).as("sum_d2"))
        .select(col("n"), col("sum_d2"),
          (lit(1000000L) - expr(
            """CAST(CAST(6 AS DECIMAL(38,0)) * sum_d2 * 1000000
              |  DIV (CAST(n AS DECIMAL(38,0)) * (CAST(n AS DECIMAL(38,0)) * n - 1)) AS BIGINT)""".stripMargin))
            .as("rho_q6"))
    }),

    // k-core peel of the near-dup candidate graph — the graph family's
    // fourth member (d15 components = membership, d93 PageRank =
    // authority, d130 LPA = communities; the 2-core separates DENSE
    // duplicate cliques from chance chains and stringy false-positive
    // paths, which is what decides whether cluster-level dedup can trust
    // min-id representatives). Three synchronous peel rounds in ONE
    // composed plan (the d93 Pregel shape — per round a degree rollup, a
    // deg>=2 filter, two semi-joins; per-round edge tables persisted
    // once; only the three 1-row stat aggregates ever reach the output),
    // reporting nodes/edges surviving and nodes dropped per round —
    // n_dropped hitting 0 certifies convergence to the true 2-core.
    "d156_kcore_peel" -> ((s, dir) => {
      // The peeled graph is tiny (the LSH near-clique candidates), so the
      // cost driver here is plan DEPTH, not data: left as one composed
      // tree, round r+1's logical plan embeds every prior round's joins
      // and Catalyst re-optimizes the whole thing for each action (~7 s/run
      // measured at sf0.1 for 33 edges). localCheckpoint — the d15
      // connected-components discipline — truncates lineage each round, so
      // every round plans against a materialized edge table. On a cluster
      // the checkpoint is executor-local storage of a candidate-graph-sized
      // table (orders below the corpus), the same footprint d15 already
      // commits to.
      var cur = DataQueries.minhashPairs(s, dir).select(col("a"), col("b"))
        .transform(graft.sources.Caches.checkpointed)
      var out: DataFrame = null
      for (r <- 1 to 3) {
        val deg = cur.select(col("a").as("n")).unionAll(cur.select(col("b").as("n")))
          .groupBy(col("n")).agg(count(lit(1)).as("d"))
          .transform(graft.sources.Caches.checkpointed)
        val keep = deg.filter(col("d") >= 2).select(col("n"))
        val nxt = cur
          .join(keep.select(col("n").as("a")), Seq("a"), "left_semi")
          .join(keep.select(col("n").as("b")), Seq("b"), "left_semi")
          .transform(graft.sources.Caches.checkpointed)
        val row = keep.agg(count(lit(1)).as("n_nodes"))
          .crossJoin(nxt.agg(count(lit(1)).as("n_edges")))
          .crossJoin(deg.agg(count(lit(1)).as("__tot")))
          .select(lit(r.toLong).as("round"), col("n_nodes"), col("n_edges"),
            (col("__tot") - col("n_nodes")).as("n_dropped"))
        out = if (out == null) row else out.unionAll(row)
        cur = nxt
      }
      out.orderBy("round")
    }),

    // audio silence-trim plan through the multimodal stub-codec path:
    // frames of 64 payload bytes, exact integer energies, threshold
    // trim — the typed mapPartitions plumbing (one codec per partition)
    // with the STUB byte-sum standing in for decoded PCM RMS.
    "m06_audio_trim" -> ((s, dir) =>
      graft.operators.Multimodal.audioTrimPlan(
        graft.operators.Multimodal.mediaFromDocuments(docs(s, dir)))
        .toDF()
        .orderBy("doc_id"))
  )

  /** d147's oracle: the d76 unrolled BPE CTEs + d137's per-word encode
    * chain for BPE token counts, the d145 lexicon + recursive greedy walk
    * (counting only — no token lists) for WordPiece counts, rolled up per
    * language with the same integer fertility divisions.
    */
  private def fertilityOracle: String = {
    val rounds = (1 to DataQueries9.BpeRounds).map { r =>
      s"""e$r AS (SELECT doc_id, wpos, list_reduce([[x] FOR x IN syms],
         |    (acc, xs) -> CASE WHEN acc[-1] = t.a AND xs[1] = t.b
         |      THEN list_append(acc[1:len(acc)-1], t.a || t.b)
         |      ELSE list_append(acc, xs[1]) END) AS syms
         |  FROM e${r - 1}, t$r t)""".stripMargin
    }
    "WITH RECURSIVE " + DataQueries9.bpeCtes.stripPrefix("WITH ") + ",\n" +
      """wpx AS (SELECT doc_id, w, unnest(generate_series(1, len(w))) AS i
        |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)),
        |wpw AS (SELECT doc_id, i AS wpos, w[i] AS word FROM wpx WHERE length(w[i]) >= 1),
        |e0 AS (SELECT doc_id, wpos, [substr(word, j, 1) FOR j IN generate_series(1, length(word))] AS syms FROM wpw),
        |""".stripMargin +
      rounds.mkString(",\n") + ",\n" +
      s"""bp AS (SELECT doc_id, CAST(sum(len(syms)) AS BIGINT) AS nb FROM e${DataQueries9.BpeRounds} GROUP BY doc_id),
         |ch AS (SELECT DISTINCT unnest([substr(word, j, 1) FOR j IN generate_series(1, length(word))]) AS p FROM wpw),
         |mpx AS (SELECT unnest([substr(word, i2, l) FOR i2 IN generate_series(1, length(word) - l + 1)]) AS p
         |  FROM wpw CROSS JOIN (SELECT unnest([2, 3, 4]) AS l) WHERE length(word) >= l),
         |topp AS (SELECT p FROM (SELECT p, count(*) AS n FROM mpx GROUP BY p ORDER BY n DESC, p LIMIT 32)),
         |lex AS (SELECT DISTINCT p FROM (SELECT p FROM ch UNION ALL SELECT p FROM topp)),
         |walk(doc_id, wpos, word, pos, ntk) AS (
         |  SELECT doc_id, wpos, word, 1, 0 FROM wpw
         |  UNION ALL
         |  SELECT doc_id, wpos, word,
         |    pos + COALESCE((SELECT max(length(p)) FROM lex WHERE p = substr(word, pos, length(p))), 1),
         |    ntk + 1
         |  FROM walk WHERE pos <= length(word)),
         |wt AS (SELECT doc_id, CAST(sum(ntk) AS BIGINT) AS nwp FROM walk WHERE pos > length(word) GROUP BY doc_id),
         |base AS (SELECT doc_id, lang, n_chars,
         |    CAST(len(list_filter(string_split(text, ' '), x -> length(x) >= 1)) AS BIGINT) AS nw
         |  FROM documents),
         |j AS (SELECT b.lang, b.n_chars, b.nw, bp.nb, wt.nwp
         |  FROM base b JOIN bp USING (doc_id) JOIN wt USING (doc_id))
         |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS chars,
         |  CAST(sum(nw) AS BIGINT) AS n_words, CAST(sum(nb) AS BIGINT) AS n_bpe, CAST(sum(nwp) AS BIGINT) AS n_wp,
         |  CAST(CAST(sum(n_chars) AS HUGEINT) * 1000000 // sum(nb) AS BIGINT) AS chars_per_bpe_q6,
         |  CAST(CAST(sum(n_chars) AS HUGEINT) * 1000000 // sum(nwp) AS BIGINT) AS chars_per_wp_q6
         |FROM j GROUP BY lang ORDER BY lang""".stripMargin
  }

  /** Exact integer squared distance fold for the oracle SQL (the
    * DataQueries16 helper, repeated here for the d153 unroll).
    */
  private def sqlD2(a: String, b: String): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), [($a[i] - $b[i]) * ($a[i] - $b[i]) FOR i IN generate_series(1, len($a))]), (acc, el) -> acc + el)"

  /** d153's oracle: the greedy farthest-point loop unrolled — round r's
    * running min-distance table feeds round r+1's argmax, each argmax a
    * row_number pick with the (dmin DESC, vec_id) tie-break the Spark
    * max-struct uses.
    */
  private def kcenterOracle: String = {
    val rounds = (1 to 3).map { r =>
      val prev = if (r == 1) s"m1" else s"m$r"
      s"""p$r AS (SELECT vec_id, dmin FROM (
         |    SELECT *, row_number() OVER (ORDER BY dmin DESC, vec_id) AS rn FROM m$r) WHERE rn = 1),
         |c$r AS (SELECT e.vec_id AS id, e.xq FROM e JOIN p$r ON e.vec_id = p$r.vec_id)""".stripMargin +
        (if (r < 3)
          s""",
             |m${r + 1} AS (SELECT m$r.vec_id, least(m$r.dmin, ${sqlD2("e.xq", "c.xq")}) AS dmin
             |  FROM m$r JOIN e ON e.vec_id = m$r.vec_id, c$r c)""".stripMargin
         else "")
    }
    s"""WITH e AS (SELECT vec_id, [CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT) FOR x IN embedding] AS xq FROM embeddings),
       |c0 AS (SELECT vec_id AS id, xq FROM e WHERE vec_id = (SELECT min(vec_id) FROM e)),
       |m1 AS (SELECT e.vec_id, ${sqlD2("e.xq", "c.xq")} AS dmin FROM e, c0 c),
       |${rounds.mkString(",\n")}
       |SELECT CAST(0 AS BIGINT) AS round, (SELECT id FROM c0) AS vec_id, CAST(0 AS BIGINT) AS d2_to_set
       |UNION ALL SELECT CAST(1 AS BIGINT), vec_id, CAST(dmin AS BIGINT) FROM p1
       |UNION ALL SELECT CAST(2 AS BIGINT), vec_id, CAST(dmin AS BIGINT) FROM p2
       |UNION ALL SELECT CAST(3 AS BIGINT), vec_id, CAST(dmin AS BIGINT) FROM p3
       |ORDER BY round""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "d147_tokenizer_fertility" -> fertilityOracle,
    "d153_kcenter_coreset" -> kcenterOracle,

    "d156_kcore_peel" ->
      ("WITH " + DataQueries.minhashPairsCte + """,
        |e0 AS (SELECT a, b FROM pairs),
        |d1 AS (SELECT n, count(*) AS d FROM (SELECT a AS n FROM e0 UNION ALL SELECT b FROM e0) GROUP BY n),
        |k1 AS (SELECT n FROM d1 WHERE d >= 2),
        |e1 AS (SELECT e0.a, e0.b FROM e0 JOIN k1 x ON e0.a = x.n JOIN k1 y ON e0.b = y.n),
        |d2 AS (SELECT n, count(*) AS d FROM (SELECT a AS n FROM e1 UNION ALL SELECT b FROM e1) GROUP BY n),
        |k2 AS (SELECT n FROM d2 WHERE d >= 2),
        |e2 AS (SELECT e1.a, e1.b FROM e1 JOIN k2 x ON e1.a = x.n JOIN k2 y ON e1.b = y.n),
        |d3 AS (SELECT n, count(*) AS d FROM (SELECT a AS n FROM e2 UNION ALL SELECT b FROM e2) GROUP BY n),
        |k3 AS (SELECT n FROM d3 WHERE d >= 2),
        |e3 AS (SELECT e2.a, e2.b FROM e2 JOIN k3 x ON e2.a = x.n JOIN k3 y ON e2.b = y.n)
        |SELECT CAST(1 AS BIGINT) AS round, (SELECT CAST(count(*) AS BIGINT) FROM k1) AS n_nodes,
        |  (SELECT CAST(count(*) AS BIGINT) FROM e1) AS n_edges,
        |  (SELECT CAST(count(*) AS BIGINT) FROM d1) - (SELECT count(*) FROM k1) AS n_dropped
        |UNION ALL SELECT 2, (SELECT count(*) FROM k2), (SELECT count(*) FROM e2),
        |  (SELECT count(*) FROM d2) - (SELECT count(*) FROM k2)
        |UNION ALL SELECT 3, (SELECT count(*) FROM k3), (SELECT count(*) FROM e3),
        |  (SELECT count(*) FROM d3) - (SELECT count(*) FROM k3)
        |ORDER BY round""".stripMargin),

    "d154_classifier_auc" ->
      """WITH sc AS (SELECT doc_id,
        |    CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      [ (CAST(('0x' || substr(md5(x), 1, 15)) AS BIGINT) % 64) * 2654435761 % 1000 - 500
        |        FOR x IN list_filter(string_split(text, ' '), x -> length(x) >= 1) ]),
        |      (acc, v) -> acc + v) AS BIGINT) AS score
        |  FROM documents),
        |w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |b AS (SELECT doc_id, len(w) AS n_words,
        |  list_reduce(list_prepend(0, [length(x) FOR x IN w]), (acc, el) -> acc + el) AS sum_wlen,
        |  len(list_intersect(list_distinct(w), ['the','a','of','and','to'])) AS stop_hits
        |FROM w),
        |rk AS (SELECT doc_id, (n_words >= 50 AND n_words <= 100000
        |    AND 3 * n_words <= sum_wlen AND sum_wlen <= 10 * n_words
        |    AND stop_hits >= 2) AS keep FROM b),
        |j AS (SELECT sc.score, rk.keep FROM sc JOIN rk USING (doc_id)),
        |bys AS (SELECT score, CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS nps,
        |    CAST(sum(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT) AS nns FROM j GROUP BY score),
        |cw AS (SELECT *, COALESCE(sum(nns) OVER (ORDER BY score ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS nn_below FROM bys)
        |SELECT CAST(sum(nps) AS BIGINT) AS np, CAST(sum(nns) AS BIGINT) AS nn,
        |  CAST(sum(nps * (2 * nn_below + nns)) AS BIGINT) AS u2,
        |  CAST(CAST(sum(nps * (2 * nn_below + nns)) AS HUGEINT) * 1000000
        |    // (2 * CAST(sum(nps) AS HUGEINT) * sum(nns)) AS BIGINT) AS auc_q6
        |FROM cw""".stripMargin,

    "d155_score_spearman" ->
      """WITH sa AS (SELECT doc_id,
        |    CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      [ (CAST(('0x' || substr(md5(x), 1, 15)) AS BIGINT) % 64) * 2654435761 % 1000 - 500
        |        FOR x IN list_filter(string_split(text, ' '), x -> length(x) >= 1) ]),
        |      (acc, v) -> acc + v) AS BIGINT) AS sa
        |  FROM documents),
        |w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents WHERE len(string_split(text, ' ')) >= 2),
        |bg AS (SELECT doc_id, unnest([w[i] || ' ' || w[i+1] FOR i IN generate_series(1, len(w) - 1)]) AS bg FROM w),
        |c AS (SELECT bg, CAST(count(*) AS BIGINT) AS n FROM bg GROUP BY bg),
        |sb AS (SELECT doc_id, CAST(CAST(sum(n) AS HUGEINT) * 1000000 // count(*) AS BIGINT) AS sb
        |  FROM bg JOIN c USING (bg) GROUP BY doc_id),
        |r AS (SELECT sa.doc_id,
        |    CAST(row_number() OVER (ORDER BY sa.sa, sa.doc_id) AS BIGINT) AS ra,
        |    CAST(row_number() OVER (ORDER BY sb.sb, sa.doc_id) AS BIGINT) AS rb
        |  FROM sa JOIN sb USING (doc_id))
        |SELECT CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum((ra - rb) * (ra - rb)) AS BIGINT) AS sum_d2,
        |  CAST(1000000 - CAST(CAST(6 AS HUGEINT) * sum((ra - rb) * (ra - rb)) * 1000000
        |    // (CAST(count(*) AS HUGEINT) * (CAST(count(*) AS HUGEINT) * count(*) - 1)) AS BIGINT) AS BIGINT) AS rho_q6
        |FROM r""".stripMargin,

    "d148_rendezvous_reshard" ->
      """WITH s9 AS (SELECT doc_id, s,
        |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || CAST(s AS VARCHAR)), 1, 15)) AS BIGINT) AS h
        |  FROM documents CROSS JOIN (SELECT unnest(generate_series(0, 8)) AS s)),
        |a8 AS (SELECT doc_id, CAST(s AS BIGINT) AS shard8 FROM (
        |    SELECT doc_id, s, row_number() OVER (PARTITION BY doc_id ORDER BY h DESC, s DESC) AS rn
        |    FROM s9 WHERE s < 8) WHERE rn = 1),
        |a9 AS (SELECT doc_id, CAST(s AS BIGINT) AS shard9 FROM (
        |    SELECT doc_id, s, row_number() OVER (PARTITION BY doc_id ORDER BY h DESC, s DESC) AS rn
        |    FROM s9) WHERE rn = 1)
        |SELECT a8.shard8 AS shard, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN a9.shard9 <> a8.shard8 THEN 1 ELSE 0 END) AS BIGINT) AS n_moved,
        |  CAST(sum(CASE WHEN a9.shard9 <> a8.shard8 THEN 1 ELSE 0 END) * 1000000 // count(*) AS BIGINT) AS moved_rate_q6
        |FROM a8 JOIN a9 USING (doc_id) GROUP BY a8.shard8 ORDER BY shard""".stripMargin,

    "d151_pack_xdoc" ->
      """WITH RECURSIVE b AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok, doc_id % 8 AS shard FROM documents),
        |n AS (SELECT doc_id, n_tok, shard, row_number() OVER (PARTITION BY shard ORDER BY doc_id) AS rn FROM b),
        |r AS (
        |  SELECT shard, rn, doc_id, n_tok, n_tok AS fill, CAST(0 AS BIGINT) AS bin FROM n WHERE rn = 1
        |  UNION ALL
        |  SELECT n.shard, n.rn, n.doc_id, n.n_tok,
        |    CASE WHEN r.fill + n.n_tok <= 256 THEN r.fill + n.n_tok ELSE n.n_tok END AS fill,
        |    CASE WHEN r.fill + n.n_tok <= 256 THEN r.bin ELSE r.bin + 1 END AS bin
        |  FROM r JOIN n ON n.shard = r.shard AND n.rn = r.rn + 1
        |),
        |t AS (SELECT shard, max(bin) + 1 AS nseq FROM r GROUP BY shard),
        |bs AS (SELECT shard, COALESCE(sum(nseq) OVER (ORDER BY shard ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS base FROM t),
        |ps AS (SELECT bs.base + r.bin AS seq, r.doc_id, r.n_tok FROM r JOIN bs USING (shard)),
        |agg AS (SELECT seq, CAST(count(*) AS BIGINT) AS nd, CAST(sum(n_tok) AS BIGINT) AS st,
        |    CAST(sum(n_tok * n_tok) AS BIGINT) AS s2 FROM ps GROUP BY seq)
        |SELECT nd AS docs_per_seq, CAST(count(*) AS BIGINT) AS n_seqs,
        |  CAST(sum(st) AS BIGINT) AS n_tokens,
        |  CAST(sum((st * st - s2) // 2) AS BIGINT) AS xattn_pairs
        |FROM agg GROUP BY nd ORDER BY docs_per_seq""".stripMargin,

    "d152_cut_effect" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |ix AS (SELECT doc_id, w, unnest(generate_series(1, len(w) - 4)) AS i FROM d WHERE len(w) >= 5),
        |shg AS (SELECT doc_id, i, w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4] AS g FROM ix),
        |bdg AS (SELECT DISTINCT doc_id, g FROM shg),
        |bdf AS (SELECT g, count(*) AS df FROM bdg GROUP BY g),
        |bst AS (SELECT CAST(count(*) AS BIGINT) AS grams_before,
        |    CAST(sum(CASE WHEN bdf.df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS rep_before
        |  FROM bdg JOIN bdf USING (g)),
        |cdf AS (SELECT g FROM bdf WHERE df >= 2),
        |hit AS (SELECT DISTINCT doc_id, p FROM (
        |    SELECT shg.doc_id, unnest(generate_series(shg.i, shg.i + 4)) AS p FROM shg JOIN cdf USING (g))),
        |wt AS (SELECT doc_id, p, w[p] AS wd FROM (
        |    SELECT doc_id, w, unnest(generate_series(1, len(w))) AS p FROM d)),
        |kept AS (SELECT wt.doc_id, string_agg(wt.wd, ' ' ORDER BY wt.p) AS kt
        |  FROM wt LEFT JOIN hit ON wt.doc_id = hit.doc_id AND wt.p = hit.p
        |  WHERE hit.p IS NULL GROUP BY wt.doc_id),
        |ka AS (SELECT doc_id, string_split(kt, ' ') AS w FROM kept),
        |aix AS (SELECT doc_id, w, unnest(generate_series(1, len(w) - 4)) AS i FROM ka WHERE len(w) >= 5),
        |adg AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4] AS g FROM aix),
        |adf AS (SELECT g, count(*) AS df FROM adg GROUP BY g),
        |ast AS (SELECT CAST(count(*) AS BIGINT) AS grams_after,
        |    CAST(sum(CASE WHEN adf.df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS rep_after
        |  FROM adg JOIN adf USING (g))
        |SELECT bst.grams_before, bst.rep_before, ast.grams_after, ast.rep_after,
        |  CAST(bst.rep_before * 1000000 // bst.grams_before AS BIGINT) AS rep_frac_before_q6,
        |  CAST(ast.rep_after * 1000000 // ast.grams_after AS BIGINT) AS rep_frac_after_q6
        |FROM bst CROSS JOIN ast""".stripMargin,

    "d149_hard_negatives" ->
      """WITH e AS (SELECT vec_id, [CAST(x AS DOUBLE) FOR x IN embedding] AS v, label,
        |    sqrt(list_reduce(list_prepend(0.0::DOUBLE, [CAST(x AS DOUBLE) * CAST(x AS DOUBLE) FOR x IN embedding]), (a, b) -> a + b)) AS nrm
        |  FROM embeddings),
        |q AS (SELECT vec_id AS qid, v AS qv, nrm AS qn, label AS qlabel FROM e WHERE vec_id >= 8 AND vec_id < 16),
        |sc AS (SELECT q.qid, e.vec_id, e.label,
        |    CAST(floor(list_reduce(list_prepend(0.0::DOUBLE, [q.qv[i] * e.v[i] FOR i IN generate_series(1, len(e.v))]), (a, b) -> a + b) / (q.qn * e.nrm) * 1000000.0) AS BIGINT) AS cos_q6
        |  FROM q JOIN e ON e.vec_id <> q.qid AND e.label <> q.qlabel)
        |SELECT qid, CAST(rn AS BIGINT) AS rank, vec_id AS neg_id,
        |  CAST(label AS BIGINT) AS neg_label, cos_q6
        |FROM (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos_q6 DESC, vec_id) AS rn FROM sc)
        |WHERE rn <= 3 ORDER BY qid, rank""".stripMargin,

    "d150_label_noise" ->
      """WITH e AS (SELECT vec_id, [CAST(x AS DOUBLE) FOR x IN embedding] AS v, label,
        |    sqrt(list_reduce(list_prepend(0.0::DOUBLE, [CAST(x AS DOUBLE) * CAST(x AS DOUBLE) FOR x IN embedding]), (a, b) -> a + b)) AS nrm
        |  FROM embeddings),
        |cents AS (SELECT vec_id AS cid, v AS cv, nrm AS cn FROM e WHERE vec_id < 4),
        |scoredcells AS (SELECT e.vec_id, e.v, e.nrm, e.label, c.cid,
        |    list_reduce(list_prepend(0.0::DOUBLE, [e.v[i] * c.cv[i] FOR i IN generate_series(1, len(e.v))]), (a, b) -> a + b) / (e.nrm * c.cn) AS ccos
        |  FROM e CROSS JOIN cents c),
        |assigned AS (SELECT vec_id, v, nrm, label, cid AS cell FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS rn FROM scoredcells)
        |  WHERE rn = 1),
        |pr AS (SELECT x.vec_id AS vid, x.label AS own, y.vec_id AS nid, y.label AS nlabel,
        |    list_reduce(list_prepend(0.0::DOUBLE, [x.v[i] * y.v[i] FOR i IN generate_series(1, len(x.v))]), (a, b) -> a + b) / (x.nrm * y.nrm) AS cos
        |  FROM assigned x JOIN assigned y ON x.cell = y.cell AND x.vec_id <> y.vec_id),
        |top3 AS (SELECT vid, own, nlabel FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vid ORDER BY cos DESC, nid) AS rn FROM pr)
        |  WHERE rn <= 3),
        |votes AS (SELECT vid, own, nlabel, CAST(count(*) AS BIGINT) AS votes FROM top3 GROUP BY vid, own, nlabel)
        |SELECT vid AS vec_id, CAST(own AS BIGINT) AS label, CAST(nlabel AS BIGINT) AS pred, votes
        |FROM (SELECT *, row_number() OVER (PARTITION BY vid ORDER BY votes DESC, nlabel) AS vr FROM votes)
        |WHERE vr = 1 AND nlabel <> own ORDER BY vec_id""".stripMargin,
    "d138_kneser_ney" ->
      """WITH w AS (SELECT list_filter(string_split(text, ' '), x -> length(x) >= 1) AS w FROM documents),
        |u AS (SELECT w, unnest(generate_series(1, len(w) - 1)) AS i FROM w WHERE len(w) >= 2),
        |bg AS (SELECT w[i] AS w1, w[i+1] AS w2 FROM u),
        |c12 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12 FROM bg GROUP BY w1, w2),
        |c1 AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM c12 GROUP BY w1),
        |n1f AS (SELECT w1, CAST(count(*) AS BIGINT) AS n1f FROM c12 GROUP BY w1),
        |n1r AS (SELECT w2, CAST(count(*) AS BIGINT) AS n1r FROM c12 GROUP BY w2),
        |nt AS (SELECT CAST(count(*) AS BIGINT) AS ntot FROM c12),
        |top AS (SELECT * FROM c12 ORDER BY c12 DESC, w1, w2 LIMIT 20)
        |SELECT t.w1, t.w2, t.c12, c1.c1, n1f.n1f, n1r.n1r, nt.ntot,
        |  CAST((CAST(greatest(4 * t.c12 - 3, 0) AS HUGEINT) * nt.ntot * 1000000000
        |    + CAST(3 AS HUGEINT) * n1f.n1f * n1r.n1r * 1000000000)
        |    // (CAST(4 AS HUGEINT) * c1.c1 * nt.ntot) AS BIGINT) AS p_kn_q9
        |FROM top t JOIN c1 USING (w1) JOIN n1f USING (w1) JOIN n1r USING (w2) CROSS JOIN nt
        |ORDER BY t.c12 DESC, t.w1, t.w2""".stripMargin,

    "d140_calibration" ->
      """WITH sc AS (SELECT doc_id,
        |    CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      [ (CAST(('0x' || substr(md5(x), 1, 15)) AS BIGINT) % 64) * 2654435761 % 1000 - 500
        |        FOR x IN list_filter(string_split(text, ' '), x -> length(x) >= 1) ]),
        |      (acc, v) -> acc + v) AS BIGINT) AS score
        |  FROM documents),
        |w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |b AS (SELECT doc_id, len(w) AS n_words,
        |  list_reduce(list_prepend(0, [length(x) FOR x IN w]), (acc, el) -> acc + el) AS sum_wlen,
        |  len(list_intersect(list_distinct(w), ['the','a','of','and','to'])) AS stop_hits
        |FROM w),
        |rk AS (SELECT doc_id, (n_words >= 50 AND n_words <= 100000
        |    AND 3 * n_words <= sum_wlen AND sum_wlen <= 10 * n_words
        |    AND stop_hits >= 2) AS keep FROM b),
        |j AS (SELECT sc.doc_id, sc.score, rk.keep,
        |    CAST((sc.score - (((sc.score % 2000) + 2000) % 2000)) // 2000 AS BIGINT) AS bin
        |  FROM sc JOIN rk ON sc.doc_id = rk.doc_id)
        |SELECT bin, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
        |  CAST(min(score) AS BIGINT) AS min_score, CAST(max(score) AS BIGINT) AS max_score,
        |  CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) * 1000000 // count(*) AS BIGINT) AS keep_rate_q6
        |FROM j GROUP BY bin ORDER BY bin""".stripMargin,

    "d141_shard_admission" ->
      """WITH d AS (SELECT doc_id, doc_id % 4 AS shard, md5(text) AS h, text FROM documents),
        |f AS (SELECT h, min(shard * 4294967296 + doc_id) AS fk FROM d GROUP BY h),
        |adm AS (SELECT d.shard, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(CASE WHEN d.shard * 4294967296 + d.doc_id = f.fk THEN 1 ELSE 0 END) AS BIGINT) AS n_admitted
        |  FROM d JOIN f USING (h) GROUP BY d.shard),
        |w AS (SELECT doc_id, shard, string_split(text, ' ') AS w FROM d WHERE len(string_split(text, ' ')) >= 5),
        |g AS (SELECT DISTINCT doc_id, shard,
        |    CAST(('0x' || substr(md5(w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4]), 1, 15)) AS BIGINT) AS g
        |  FROM (SELECT doc_id, shard, w, unnest(generate_series(1, len(w) - 4)) AS i FROM w)),
        |gf AS (SELECT g, min(shard * 4294967296 + doc_id) AS fk FROM g GROUP BY g),
        |nv AS (SELECT CAST(fk // 4294967296 AS BIGINT) AS shard, CAST(count(*) AS BIGINT) AS n_new_gram_types
        |  FROM gf GROUP BY 1)
        |SELECT adm.shard, adm.n_docs, adm.n_admitted,
        |  adm.n_docs - adm.n_admitted AS n_dup,
        |  COALESCE(nv.n_new_gram_types, 0) AS n_new_gram_types,
        |  CAST(sum(COALESCE(nv.n_new_gram_types, 0)) OVER (ORDER BY adm.shard) AS BIGINT) AS cum_new_types
        |FROM adm LEFT JOIN nv USING (shard) ORDER BY adm.shard""".stripMargin,

    "d142_mad_outliers" ->
      """WITH lc AS (SELECT source, n_chars AS len, CAST(count(*) AS BIGINT) AS cnt FROM documents GROUP BY source, n_chars),
        |cm AS (SELECT source, len, cnt,
        |    sum(cnt) OVER (PARTITION BY source ORDER BY len ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    sum(cnt) OVER (PARTITION BY source) AS nn
        |  FROM lc),
        |med AS (SELECT source, CAST(max(nn) AS BIGINT) AS n,
        |    CAST(min(CASE WHEN cum >= (nn + 1) // 2 THEN len END)
        |      + min(CASE WHEN cum >= (nn + 2) // 2 THEN len END) AS BIGINT) AS med2
        |  FROM cm GROUP BY source),
        |at AS (SELECT lc.source, abs(2 * lc.len - med.med2) AS a, CAST(sum(lc.cnt) AS BIGINT) AS cnt
        |  FROM lc JOIN med USING (source) GROUP BY lc.source, abs(2 * lc.len - med.med2)),
        |ac AS (SELECT source, a, cnt,
        |    sum(cnt) OVER (PARTITION BY source ORDER BY a ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    sum(cnt) OVER (PARTITION BY source) AS nn
        |  FROM at),
        |mad AS (SELECT source,
        |    CAST(min(CASE WHEN cum >= (nn + 1) // 2 THEN a END)
        |      + min(CASE WHEN cum >= (nn + 2) // 2 THEN a END) AS BIGINT) AS mad4
        |  FROM ac GROUP BY source),
        |outc AS (SELECT lc.source,
        |    CAST(sum(CASE WHEN 2 * abs(2 * lc.len - med.med2) > 3 * mad.mad4 THEN lc.cnt ELSE 0 END) AS BIGINT) AS n_out
        |  FROM lc JOIN med USING (source) JOIN mad USING (source) GROUP BY lc.source)
        |SELECT med.source, med.n, med.med2, mad.mad4, outc.n_out,
        |  CAST(outc.n_out * 1000000 // med.n AS BIGINT) AS out_rate_q6
        |FROM med JOIN mad USING (source) JOIN outc USING (source)
        |ORDER BY med.source""".stripMargin,

    "d139_doremi_reweight" ->
      """WITH w AS (SELECT doc_id, source, string_split(text, ' ') AS w FROM documents),
        |bg AS (SELECT source, unnest([w[i] || ' ' || w[i+1] FOR i IN generate_series(1, len(w) - 1)]) AS bg FROM w WHERE len(w) >= 2),
        |c AS (SELECT bg, CAST(count(*) AS BIGINT) AS n FROM bg GROUP BY bg),
        |ps AS (SELECT source, CAST(count(*) AS BIGINT) AS nbg, CAST(sum(n) AS BIGINT) AS ssum
        |  FROM bg JOIN c USING (bg) GROUP BY source),
        |tk AS (SELECT source, CAST(sum(len(w)) AS BIGINT) AS tokens FROM w GROUP BY source),
        |j AS (SELECT ps.source, ps.nbg, ps.ssum, tk.tokens,
        |    CAST(CAST(ps.ssum AS HUGEINT) * 1000000 // ps.nbg AS BIGINT) AS score_q6,
        |    sum(ps.ssum) OVER () AS ssum_tot, sum(ps.nbg) OVER () AS nbg_tot,
        |    sum(tk.tokens) OVER () AS tok_tot
        |  FROM ps JOIN tk USING (source)),
        |x AS (SELECT *,
        |    CAST(CAST(ssum_tot AS HUGEINT) * 1000000 // nbg_tot AS BIGINT) AS corp_q6
        |  FROM j),
        |y AS (SELECT *, corp_q6 - score_q6 AS excess_q6,
        |    CAST(floor(CAST(tokens AS DOUBLE) / CAST(tok_tot AS DOUBLE)
        |      * exp(CAST(corp_q6 - score_q6 AS DOUBLE) / 1000000.0) * 1000000.0) AS BIGINT) AS w_q6,
        |    CAST(CAST(tokens AS HUGEINT) * 1000000 // tok_tot AS BIGINT) AS old_share_q6
        |  FROM x),
        |z AS (SELECT *, sum(w_q6) OVER () AS w_tot FROM y)
        |SELECT source, tokens, score_q6, excess_q6, old_share_q6, w_q6,
        |  CAST(CAST(w_q6 AS HUGEINT) * 1000000 // w_tot AS BIGINT) AS new_share_q6
        |FROM z ORDER BY source""".stripMargin,

    "d143_epoch_plan" ->
      """WITH t AS (SELECT source, CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS tok,
        |    CAST(count(*) AS BIGINT) AS n_docs FROM documents GROUP BY source),
        |tt AS (SELECT sum(tok) AS T, sum(n_docs) AS D, count(*) AS m FROM t),
        |bu AS (SELECT T * 17 // 10 AS B, D, m FROM tt),
        |base AS (SELECT source, tok, n_docs, (B * n_docs) // D AS basea, (B * n_docs) % D AS rem
        |  FROM t CROSS JOIN bu),
        |lr AS (SELECT *, row_number() OVER (ORDER BY rem DESC, source) AS rr,
        |    (SELECT (SELECT B FROM bu) - sum(basea) FROM base) AS leftover FROM base),
        |prop AS (SELECT source, basea + CASE WHEN rr <= leftover THEN 1 ELSE 0 END AS alloc_prop FROM lr),
        |c AS (SELECT source, 2 * tok AS cap FROM t),
        |o AS (SELECT source, cap, row_number() OVER (ORDER BY cap, source) AS k,
        |    sum(cap) OVER (ORDER BY cap, source ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pk
        |  FROM c),
        |sst AS (SELECT o.*, bu.m, bu.B, (cap * (bu.m - k + 1) + (pk - cap)) <= bu.B AS sat
        |  FROM o CROSS JOIN bu),
        |agg AS (SELECT max(CASE WHEN sat THEN k ELSE 0 END) AS kstar,
        |    max(CASE WHEN sat THEN pk ELSE 0 END) AS psat FROM sst),
        |lvl AS (SELECT kstar, psat,
        |    ((SELECT B FROM bu) - psat) // ((SELECT m FROM bu) - kstar) AS baseb,
        |    ((SELECT B FROM bu) - psat) % ((SELECT m FROM bu) - kstar) AS extra FROM agg),
        |wf AS (SELECT sst.source,
        |    CASE WHEN sst.sat THEN sst.cap
        |         ELSE lvl.baseb + CASE WHEN sst.k - lvl.kstar <= lvl.extra THEN 1 ELSE 0 END END AS alloc_wf
        |  FROM sst CROSS JOIN lvl)
        |SELECT t.source, t.tok AS tokens, t.n_docs,
        |  CAST(prop.alloc_prop AS BIGINT) AS alloc_prop,
        |  CAST(CAST(prop.alloc_prop AS HUGEINT) * 1000000 // t.tok AS BIGINT) AS epochs_prop_q6,
        |  CAST(wf.alloc_wf AS BIGINT) AS alloc_wf,
        |  CAST(CAST(wf.alloc_wf AS HUGEINT) * 1000000 // t.tok AS BIGINT) AS epochs_wf_q6
        |FROM t JOIN prop USING (source) JOIN wf USING (source)
        |ORDER BY t.source""".stripMargin,

    "d144_intradoc_runs" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents WHERE len(string_split(text, ' ')) >= 5),
        |pg AS (SELECT doc_id, i - 1 AS p,
        |    w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4] AS g
        |  FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 4)) AS i FROM d)),
        |rep AS (SELECT doc_id, p, count(*) OVER (PARTITION BY doc_id, g) AS cnt FROM pg),
        |r2 AS (SELECT doc_id, p, p - row_number() OVER (PARTITION BY doc_id ORDER BY p) AS isl
        |  FROM rep WHERE cnt >= 2),
        |pi AS (SELECT doc_id, isl, CAST(count(*) AS BIGINT) AS run FROM r2 GROUP BY doc_id, isl),
        |ra AS (SELECT doc_id, CAST(sum(run) AS BIGINT) AS n_rep_pos,
        |    CAST(count(*) AS BIGINT) AS n_islands, CAST(max(run) AS BIGINT) AS max_run
        |  FROM pi GROUP BY doc_id),
        |tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams FROM pg GROUP BY doc_id)
        |SELECT tot.doc_id, tot.n_grams, COALESCE(ra.n_rep_pos, 0) AS n_rep_pos,
        |  COALESCE(ra.n_islands, 0) AS n_islands, COALESCE(ra.max_run, 0) AS max_run
        |FROM tot LEFT JOIN ra USING (doc_id) ORDER BY tot.doc_id""".stripMargin,

    "d145_wordpiece" ->
      """WITH RECURSIVE w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |wp AS (SELECT doc_id, i AS wpos, w[i] AS word
        |  FROM (SELECT doc_id, w, unnest(generate_series(1, len(w))) AS i FROM w)
        |  WHERE length(w[i]) >= 1),
        |ch AS (SELECT DISTINCT unnest([substr(word, j, 1) FOR j IN generate_series(1, length(word))]) AS p FROM wp),
        |mp AS (SELECT unnest([substr(word, i, l) FOR i IN generate_series(1, length(word) - l + 1)]) AS p
        |  FROM wp CROSS JOIN (SELECT unnest([2, 3, 4]) AS l) WHERE length(word) >= l),
        |top AS (SELECT p FROM (SELECT p, count(*) AS n FROM mp GROUP BY p ORDER BY n DESC, p LIMIT 32)),
        |lex AS (SELECT DISTINCT p FROM (SELECT p FROM ch UNION ALL SELECT p FROM top)),
        |walk(doc_id, wpos, word, pos, toks) AS (
        |  SELECT doc_id, wpos, word, 1, CAST([] AS VARCHAR[]) FROM wp
        |  UNION ALL
        |  SELECT doc_id, wpos, word,
        |    pos + COALESCE((SELECT max(length(p)) FROM lex WHERE p = substr(word, pos, length(p))), 1),
        |    list_append(toks, COALESCE((SELECT max_by(p, length(p)) FROM lex WHERE p = substr(word, pos, length(p))), substr(word, pos, 1)))
        |  FROM walk WHERE pos <= length(word))
        |SELECT doc_id, CAST(sum(len(toks)) AS BIGINT) AS n_tok,
        |  md5(string_agg(array_to_string(toks, ','), ',' ORDER BY wpos)) AS toks_md5
        |FROM walk WHERE pos > length(word)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "d146_kn_docscore" ->
      """WITH spl AS (SELECT doc_id, text,
        |    CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 9, 5)) AS BIGINT) % 20 = 0
        |      THEN 'val' ELSE 'train' END AS split
        |  FROM documents),
        |w AS (SELECT doc_id, split, list_filter(string_split(text, ' '), x -> length(x) >= 1) AS w FROM spl),
        |u AS (SELECT doc_id, split, w, unnest(generate_series(1, len(w) - 1)) AS i FROM w WHERE len(w) >= 2),
        |bg AS (SELECT doc_id, split, w[i] AS w1, w[i+1] AS w2 FROM u),
        |c12 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12 FROM bg WHERE split = 'train' GROUP BY w1, w2),
        |c1 AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1, CAST(count(*) AS BIGINT) AS n1f FROM c12 GROUP BY w1),
        |n1r AS (SELECT w2, CAST(count(*) AS BIGINT) AS n1r FROM c12 GROUP BY w2),
        |nt AS (SELECT CAST(count(*) AS BIGINT) AS ntot FROM c12),
        |sc AS (SELECT v.doc_id,
        |    greatest(1, CASE WHEN c1.c1 IS NULL
        |      THEN CAST(CAST(COALESCE(n1r.n1r, 0) AS HUGEINT) * 1000000000 // nt.ntot AS BIGINT)
        |      ELSE CAST((CAST(greatest(4 * COALESCE(c12.c12, 0) - 3, 0) AS HUGEINT) * nt.ntot * 1000000000
        |        + CAST(3 AS HUGEINT) * c1.n1f * COALESCE(n1r.n1r, 0) * 1000000000)
        |        // (CAST(4 AS HUGEINT) * c1.c1 * nt.ntot) AS BIGINT) END) AS p_q9
        |  FROM bg v
        |  LEFT JOIN c12 ON v.w1 = c12.w1 AND v.w2 = c12.w2
        |  LEFT JOIN c1 ON v.w1 = c1.w1
        |  LEFT JOIN n1r ON v.w2 = n1r.w2
        |  CROSS JOIN nt
        |  WHERE v.split = 'val'),
        |t AS (SELECT doc_id,
        |    CAST(floor(ln(CAST(p_q9 AS DOUBLE) / 1000000000.0) * 1000000.0) AS BIGINT) AS t_q6
        |  FROM sc)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS nbg,
        |  CAST(-sum(t_q6) AS BIGINT) AS nll_q6,
        |  CAST((-sum(t_q6)) // count(*) AS BIGINT) AS mean_nll_q6
        |FROM t GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // frame energies over UTF-8 BYTE values (hex-pair walk over
    // encode(text)), matching the Spark side's binary frames for any text,
    // not only the ASCII fixture corpus (per-character ord() would diverge)
    "m06_audio_trim" ->
      """WITH m0 AS (SELECT doc_id, strlen(text) AS n, hex(encode(text)) AS hx FROM documents),
        |m AS (SELECT doc_id, n,
        |    [CAST(('0x' || substr(hx, 2 * i - 1, 2)) AS BIGINT) FOR i IN generate_series(1, n)] AS codes
        |  FROM m0),
        |fr AS (SELECT doc_id, n, codes, unnest(generate_series(0, (n + 63) // 64 - 1)) AS f FROM m),
        |en AS (SELECT doc_id, f,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      codes[CAST(f * 64 + 1 AS INTEGER):CAST(least(f * 64 + 64, n) AS INTEGER)]),
        |      (a, b) -> a + b) AS e
        |  FROM fr),
        |st AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_frames,
        |    CAST(sum(CASE WHEN e < 6000 THEN 1 ELSE 0 END) AS BIGINT) AS n_silent,
        |    CAST(COALESCE(min(CASE WHEN e >= 6000 THEN f END), -1) AS BIGINT) AS first_keep,
        |    CAST(COALESCE(max(CASE WHEN e >= 6000 THEN f END), -1) AS BIGINT) AS last_keep
        |  FROM en GROUP BY doc_id)
        |SELECT doc_id, n_frames, n_silent, first_keep, last_keep,
        |  CAST(CASE WHEN first_keep < 0 THEN 0 ELSE last_keep - first_keep + 1 END AS BIGINT) AS kept_frames
        |FROM st ORDER BY doc_id""".stripMargin
  )
}
