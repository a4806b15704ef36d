package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Wave 16 (round 13) — the evaluation tail: an honest retrieval eval
  * (query and target halves disjoint, unlike echo-style self-retrieval),
  * inter-signal agreement (Cohen's kappa between the two deployed quality
  * filters), and language-purity / code-switch profiling on the router's
  * own evidence.
  */
object DataQueries19 extends QueryModule {

  private def dec(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    c.cast("decimal(38,0)")

  val queries: Map[String, Q] = Map[String, Q](
    // half-doc retrieval headroom: every doc is INDEXED by its first
    // half, QUERIED by its second half (16 probes), scored by
    // idf-weighted term overlap — retrieval with query ≠ target text,
    // the honest framing (scoring a doc against its own words is an echo
    // test). The published number is each probe's SELF-RANK among the
    // candidates, which measures whether the corpus retains enough
    // intra-document coherence for attribution at all: on this
    // boilerplate-heavy corpus self-rank is ~uniform (38..422 of 500 at
    // sf0.001) — the duplication that d54/d165 quantify is exactly what
    // destroys attribution, and THIS query is the eval that would catch
    // it on a real corpus before shipping a retrieval index. idf is
    // ln-quantized q6 per TERM before any cross-row sum (the d57 ulp
    // discipline); self-rank is computed by comparing each candidate
    // score against the probe's own score (a bounded 16-row broadcast) —
    // never a window over the corpus-sized candidate set.
    "d167_retrieval_eval" -> ((s, dir) => {
      val d = docs(s, dir)
        .select(col("doc_id"), split(col("text"), " ").as("w"))
        .filter(size(col("w")) >= 2)
      val idx = d.select(col("doc_id"),
          explode(array_distinct(expr("slice(w, 1, size(w) div 2)"))).as("term"))
        .transform(graft.sources.Caches.ephemeral)
      val nt = d.agg(count(lit(1)).as("n"))
      val idf = idx.groupBy(col("term")).agg(count(lit(1)).as("df"))
        .crossJoin(broadcast(nt))
        .select(col("term"),
          floor(log((col("n") + lit(1.0)) / (col("df") + lit(1.0))) * lit(1000000.0))
            .cast("long").as("idf_q6"))
      val q = d.filter(col("doc_id") < 16)
        .select(col("doc_id").as("qid"),
          explode(array_distinct(
            expr("slice(w, size(w) div 2 + 1, size(w) - size(w) div 2)"))).as("term"))
      val scored = broadcast(q).join(idf, "term").join(idx, "term")
        .groupBy(col("qid"), col("doc_id"))
        .agg(sum(col("idf_q6")).as("score"))
        .transform(graft.sources.Caches.ephemeral)
      val self = scored.filter(col("qid") === col("doc_id"))
        .select(col("qid"), col("score").as("self_score"))
      scored.join(broadcast(self), "qid")
        .groupBy(col("qid"))
        .agg(count(lit(1)).as("n_cands"),
          (sum(when(col("score") > col("self_score") ||
            (col("score") === col("self_score") && col("doc_id") < col("qid")), 1L)
            .otherwise(0L)) + 1L).as("self_rank"),
          max(col("self_score")).as("self_score"))
        .withColumn("hit", col("self_rank") === 1L)
        .orderBy("qid")
    }),

    // Cohen's kappa between the two deployed quality signals — the d39
    // rule filter and the d79 hashed classifier (keep = score >= 0):
    // chance-corrected agreement from the exact 2×2 contingency table,
    // kappa = (N·(a+d) − [(a+b)(a+c) + (c+d)(b+d)]) / (N² − [...]).
    // d140 calibrates the classifier AGAINST the rules and d154 ranks it;
    // kappa answers the orthogonal question "are these two filters even
    // measuring the same thing" — the gate before letting one replace the
    // other. One narrow two-signal pass, a one-row rollup, exact integer
    // num/den published beside the floor-quantized ratio. The n² and
    // marginal products route through DECIMAL(38,0) (corpus² wraps Long
    // past ~3e9 docs — the d157/d162 discipline), and the quantization is
    // an exact integer FLOOR division split by sign (num can be negative;
    // DIV truncates toward zero, so the negative branch is the
    // ceil-of-positive identity ⌊−p/q⌋ = −⌈p/q⌉ = −((p+q−1) DIV q) —
    // engine-agnostic, unlike floor-vs-truncate `//` semantics).
    "d168_kappa_agreement" -> ((s, dir) => {
      val two = graft.operators.TextQuality.withQualityRules(docs(s, dir), "text")
        .select(col("doc_id"), col("keep").as("rk"))
        .join(docs(s, dir)
          .select(col("doc_id"),
            (expr(
              """aggregate(filter(split(text, ' '), w -> length(w) >= 1), CAST(0 AS BIGINT), (acc, w) -> acc +
                |  ((CAST(conv(substring(md5(w), 1, 15), 16, 10) AS BIGINT) % 64)
                |    * 2654435761 % 1000 - 500))""".stripMargin) >= 0L).as("ck")),
          "doc_id")
      two.agg(
          sum(when(col("rk") && col("ck"), 1L).otherwise(0L)).as("n_both_keep"),
          sum(when(col("rk") && !col("ck"), 1L).otherwise(0L)).as("n_rule_only"),
          sum(when(!col("rk") && col("ck"), 1L).otherwise(0L)).as("n_clf_only"),
          sum(when(!col("rk") && !col("ck"), 1L).otherwise(0L)).as("n_both_drop"),
          count(lit(1)).as("n"))
        .withColumn("__e", expr(
          """CAST(n_both_keep + n_rule_only AS DECIMAL(38,0)) * (n_both_keep + n_clf_only)
            |  + CAST(n_clf_only + n_both_drop AS DECIMAL(38,0)) * (n_rule_only + n_both_drop)""".stripMargin))
        .withColumn("__num", expr(
          "CAST(n AS DECIMAL(38,0)) * (n_both_keep + n_both_drop) - __e"))
        .withColumn("__den", expr("CAST(n AS DECIMAL(38,0)) * n - __e"))
        .withColumn("kappa_q6", expr(
          """CASE WHEN __den = 0 THEN NULL
            |  WHEN __num >= 0 THEN CAST(__num * 1000000 DIV __den AS BIGINT)
            |  ELSE -CAST(((-__num) * 1000000 + __den - 1) DIV __den AS BIGINT) END""".stripMargin))
        .drop("__e", "__num", "__den")
    }),

    // weak-supervision distillation probe: TRAIN a multinomial Naive
    // Bayes quality classifier from the d39 rule labels (the standard
    // bootstrap: rules label, a cheap model generalizes) and measure it
    // against the UNTRAINED d79 hash baseline on the training labels
    // (sf0.001: NB 65.4% vs hash 51.6%). Features are the same 64 md5
    // token buckets d79 hashes into (x_j = doc's tokens in bucket j);
    // training is ONE (bucket × class) rollup — 64 rows, the bounded-
    // rollup discipline — with add-1 smoothed log-likelihood ratios
    // ln((c⁺+1)/(T⁺+64)) − ln((c⁻+1)/(T⁻+64)) floor-quantized q6 per
    // BUCKET (the d57 ulp discipline: doubles only on the bounded table,
    // integers across rows), plus a one-row class prior. Scoring is a
    // broadcast-w pass: sign(Σ x_j·w_j + prior). x·w needs DECIMAL at
    // corpus scale.
    "d170_linear_probe" -> ((s, dir) => {
      val base = graft.operators.TextQuality.withQualityRules(docs(s, dir), "text")
        .select(col("doc_id"),
          when(col("keep"), 1L).otherwise(-1L).as("y"),
          expr("filter(split(text, ' '), w -> length(w) >= 1)").as("ws"))
        .transform(graft.sources.Caches.ephemeral)
      val xb = base.select(col("doc_id"), col("y"),
          explode(col("ws")).as("w"))
        .select(col("doc_id"), col("y"),
          expr("CAST(conv(substring(md5(w), 1, 15), 16, 10) AS BIGINT) % 64").as("j"))
        .groupBy(col("doc_id"), col("y"), col("j"))
        .agg(count(lit(1)).as("x"))
        .transform(graft.sources.Caches.ephemeral)
      val cls = xb.groupBy(col("j"))
        .agg(sum(when(col("y") === 1L, col("x")).otherwise(0L)).as("cp"),
          sum(when(col("y") === -1L, col("x")).otherwise(0L)).as("cn"))
      val tot = cls.agg(sum(col("cp")).as("tp"), sum(col("cn")).as("tn"))
      val wTab = cls.crossJoin(broadcast(tot))
        .select(col("j"),
          floor((log(col("cp") + 1) - log(col("tp") + 64)
            - log(col("cn") + 1) + log(col("tn") + 64)) * lit(1000000.0))
            .cast("long").as("wj"))
      val prior = base.agg(
          sum(when(col("y") === 1L, 1L).otherwise(0L)).as("np"),
          sum(when(col("y") === -1L, 1L).otherwise(0L)).as("nn"))
        .select(floor((log(col("np")) - log(col("nn"))) * lit(1000000.0))
          .cast("long").as("b0"))
      val dots = xb.join(broadcast(wTab), "j")
        .groupBy(col("doc_id"))
        .agg(sum(dec(col("x")) * col("wj")).as("dot"))
      // left join so token-less docs still score (dot = 0 -> prior side)
      val scored = base.select(col("doc_id"), col("y"))
        .join(dots, Seq("doc_id"), "left")
        .crossJoin(broadcast(prior))
        .select(col("doc_id"), col("y"),
          when(coalesce(col("dot"), lit(0L).cast("decimal(38,0)"))
            + col("b0") >= 0, 1L).otherwise(-1L).as("probe_pred"))
      val hash = docs(s, dir).select(col("doc_id"),
        when(expr(
          """aggregate(filter(split(text, ' '), w -> length(w) >= 1), CAST(0 AS BIGINT), (acc, w) -> acc +
            |  ((CAST(conv(substring(md5(w), 1, 15), 16, 10) AS BIGINT) % 64)
            |    * 2654435761 % 1000 - 500))""".stripMargin) >= 0L, 1L).otherwise(-1L)
          .as("hash_pred"))
      scored.join(hash, "doc_id")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("probe_pred") === col("y"), 1L).otherwise(0L)).as("n_probe_correct"),
          sum(when(col("hash_pred") === col("y"), 1L).otherwise(0L)).as("n_hash_correct"))
        .withColumn("acc_probe_q6", expr("n_probe_correct * 1000000 DIV n_docs"))
        .withColumn("acc_hash_q6", expr("n_hash_correct * 1000000 DIV n_docs"))
    }),

    // cross-source duplication matrix: near-dup candidate pairs rolled up
    // by unordered source pair, with the per-cell rate normalized by the
    // number of possible cross pairs (n_a·n_b; n·(n−1)/2 on the
    // diagonal) — the syndication/mirror detector behind "dedup these two
    // crawls against each other first". d36 reads gram-level overlap and
    // d131 the same-source fraction; this is the doc-level WHO-duplicates-
    // WHOM matrix. Pair work is |candidates| (the d02 bucket shuffle paid
    // once, shared via the pairs subtree), the source join is two hash
    // equi-joins, and the matrix is |sources|²-bounded. Possible-pair
    // products run in DECIMAL (corpus² wraps Long).
    "d172_source_dup_matrix" -> ((s, dir) => {
      val src = docs(s, dir).select(col("doc_id"), col("source"))
      val pairs = DataQueries.minhashPairs(s, dir)
        .join(src.select(col("doc_id").as("a"), col("source").as("sa")), "a")
        .join(src.select(col("doc_id").as("b"), col("source").as("sb")), "b")
        .select(least(col("sa"), col("sb")).as("src_a"),
          greatest(col("sa"), col("sb")).as("src_b"))
        .groupBy(col("src_a"), col("src_b")).agg(count(lit(1)).as("n_pairs"))
      val n = src.groupBy(col("source")).agg(count(lit(1)).as("n"))
      pairs
        .join(n.select(col("source").as("src_a"), col("n").as("n_a")), "src_a")
        .join(n.select(col("source").as("src_b"), col("n").as("n_b")), "src_b")
        .withColumn("possible", expr(
          """CASE WHEN src_a = src_b
            |  THEN CAST(n_a AS DECIMAL(38,0)) * (n_a - 1) / 2
            |  ELSE CAST(n_a AS DECIMAL(38,0)) * n_b END""".stripMargin))
        .select(col("src_a"), col("src_b"), col("n_pairs"), col("n_a"), col("n_b"),
          expr("CAST(CAST(n_pairs AS DECIMAL(38,0)) * 1000000000 DIV possible AS BIGINT)")
            .as("rate_q9"))
        .orderBy("src_a", "src_b")
    }),

    // over-deletion audit — cluster on RAW LSH candidates (what d15/d17
    // deploy) vs on VERIFIED edges only (the d32 Levenshtein gate,
    // 5·dist ≤ maxlen), and count the docs each policy would remove.
    // Raw-candidate clustering can chain false-positive edges into
    // super-clusters and delete docs no verified edge touches; this
    // publishes exactly that over-deletion. Verification prices on
    // |candidates| (never corpus²); both clusterings run the same public
    // TextDedup.clusters min-label loop; the summary is a one-row
    // accounting join.
    "d173_overdeletion" -> ((s, dir) => {
      val t = docs(s, dir).select(col("doc_id"), col("text"))
      val verified = DataQueries.minhashPairs(s, dir)
        .join(t.select(col("doc_id").as("a"), col("text").as("ta")), "a")
        .join(t.select(col("doc_id").as("b"), col("text").as("tb")), "b")
        .withColumn("dup",
          levenshtein(col("ta"), col("tb")).cast("long") * 5 <=
            greatest(length(col("ta")), length(col("tb"))).cast("long"))
        .transform(graft.sources.Caches.ephemeral)
      val rawRemoved = DataQueries3.dedupClusters(s, dir)
        .filter(col("doc_id") =!= col("cluster"))
        .agg(count(lit(1)).as("removals_raw"))
      val verRemoved = graft.operators.TextDedup
        .clusters(verified.filter(col("dup")).select(col("a"), col("b")))
        .filter(col("id") =!= col("cluster"))
        .agg(count(lit(1)).as("removals_verified"))
      verified.agg(count(lit(1)).as("n_candidates"),
          sum(when(col("dup"), 1L).otherwise(0L)).as("n_verified"))
        .crossJoin(broadcast(rawRemoved))
        .crossJoin(broadcast(verRemoved))
        .withColumn("overdeletion", col("removals_raw") - col("removals_verified"))
    }),

    // rule kill-set overlap matrix — the third leg of the filter-analysis
    // triptych: d112 measures what each rule UNIQUELY removes (leave-one-
    // out), d163 prices evaluation ORDER, and this publishes pairwise
    // Jaccard between the rules' unconditional kill sets — the "are two
    // rules the same rule" redundancy read that decides which gate to
    // retire. All ten numbers (4 kill counts + 6 intersections) come from
    // ONE conditional-aggregation corpus pass (the d112/d163 join-free
    // shape); the 6-row matrix is a stack over the one-row aggregate.
    "d175_rule_overlap" -> ((s, dir) => {
      // flags come FROM the waterfall (one source of truth for thresholds)
      val f = graft.operators.TextQuality.withFilterWaterfall(docs(s, dir), "text")
        .select(col("f1"), col("f2"), col("f3"), col("f4"))
      def k(c: org.apache.spark.sql.Column) = sum(when(c, 1L).otherwise(0L))
      val a = f.agg(
        k(col("f1")).as("n1"), k(col("f2")).as("n2"),
        k(col("f3")).as("n3"), k(col("f4")).as("n4"),
        k(col("f1") && col("f2")).as("b12"), k(col("f1") && col("f3")).as("b13"),
        k(col("f1") && col("f4")).as("b14"), k(col("f2") && col("f3")).as("b23"),
        k(col("f2") && col("f4")).as("b24"), k(col("f3") && col("f4")).as("b34"))
      a.select(expr(
          """stack(6,
            |  'r1_word_count', 'r2_word_len',    n1, n2, b12,
            |  'r1_word_count', 'r3_stopword',    n1, n3, b13,
            |  'r1_word_count', 'r4_repetition',  n1, n4, b14,
            |  'r2_word_len',   'r3_stopword',    n2, n3, b23,
            |  'r2_word_len',   'r4_repetition',  n2, n4, b24,
            |  'r3_stopword',   'r4_repetition',  n3, n4, b34)
            |  AS (rule_a, rule_b, n_a, n_b, n_both)""".stripMargin))
        .withColumn("jaccard_q6", expr(
          """CASE WHEN n_a + n_b - n_both = 0 THEN NULL
            |  ELSE n_both * 1000000 DIV (n_a + n_b - n_both) END""".stripMargin))
        .orderBy("rule_a", "rule_b")
    }),

    // data-driven truncation-cap solver — d110 prices FIXED caps; this
    // CHOOSES one: the largest max-seq-len whose post-truncation token
    // total fits an 80%-of-raw budget, solved in closed form from the
    // distinct-length histogram (total(c) = Σ_{len≤c} len·cnt +
    // c·N_{>c}, both cumulative sums over the bounded length table — the
    // d26/q20 rank-arithmetic discipline, windows never touch the
    // corpus), then refined to the exact integer cap between two
    // distinct lengths (cap* = c + (B − total(c)) DIV N_{>c}). The
    // "pick max-seq-len from data, not folklore" decision every training
    // config hard-codes.
    "d171_cap_solver" -> ((s, dir) => {
      val n = docs(s, dir)
        .select(size(split(col("text"), " ")).cast("long").as("len"))
      val hist = n.groupBy(col("len")).agg(count(lit(1)).as("cnt"))
      val wCum = Window.orderBy(col("len"))
        .rowsBetween(Window.unboundedPreceding, 0)
      val wAll = Window.orderBy(col("len"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val t = hist
        .withColumn("s_below", sum(col("len") * col("cnt")).over(wCum))
        .withColumn("n_upto", sum(col("cnt")).over(wCum))
        .withColumn("raw_tokens", sum(col("len") * col("cnt")).over(wAll))
        .withColumn("n_docs", sum(col("cnt")).over(wAll))
        .withColumn("n_above", col("n_docs") - col("n_upto"))
        .withColumn("budget", expr("(8 * raw_tokens) DIV 10"))
        .withColumn("total_at",
          col("s_below") + col("len") * col("n_above"))
      val best = t.filter(col("total_at") <= col("budget"))
        .groupBy(col("n_docs"), col("raw_tokens"), col("budget"))
        .agg(max(struct(col("len").as("c"), col("total_at").as("ta"),
          col("n_above").as("na"))).as("m"))
        .select(col("n_docs"), col("raw_tokens"), col("budget"),
          col("m.c").as("base_cap"), col("m.ta").as("total_at_base"),
          col("m.na").as("n_above_base"))
      best.select(col("n_docs"), col("raw_tokens"), col("budget"),
        col("base_cap"),
        expr("""CASE WHEN n_above_base > 0
               |  THEN base_cap + (budget - total_at_base) DIV n_above_base
               |  ELSE base_cap END""".stripMargin).as("cap"),
        expr("""CASE WHEN n_above_base > 0
               |  THEN total_at_base + ((budget - total_at_base) DIV n_above_base) * n_above_base
               |  ELSE total_at_base END""".stripMargin).as("total_at_cap"),
        col("n_above_base").as("docs_clipped"))
    }),

    // domain-transfer eval for the d170 probe: TRAIN the same multinomial
    // NB on only the even-md5 half of the sources, then report per-source
    // train accuracy — held-out domains answer "does the distilled probe
    // transfer, or did it memorize its training domains' vocabulary". The
    // split is by SOURCE (domain shift), not by doc (which d33 covers and
    // which overstates transfer when domains share boilerplate). Same
    // bounded shapes as d170: one (bucket × class) training rollup over
    // the train half, q6 log-ratios on the 64-row table, a broadcast-w
    // scoring pass, and a |sources|-row accuracy rollup.
    "d174_probe_transfer" -> ((s, dir) => {
      val base = graft.operators.TextQuality.withQualityRules(docs(s, dir), "text")
        .select(col("doc_id"), col("source"),
          (conv(substring(md5(col("source")), 1, 2), 16, 10).cast("long") % 2 === 0)
            .as("is_train_domain"),
          when(col("keep"), 1L).otherwise(-1L).as("y"),
          expr("filter(split(text, ' '), w -> length(w) >= 1)").as("ws"))
        .transform(graft.sources.Caches.ephemeral)
      val xb = base.select(col("doc_id"), col("is_train_domain"), col("y"),
          explode(col("ws")).as("w"))
        .select(col("doc_id"), col("is_train_domain"), col("y"),
          expr("CAST(conv(substring(md5(w), 1, 15), 16, 10) AS BIGINT) % 64").as("j"))
        .groupBy(col("doc_id"), col("is_train_domain"), col("y"), col("j"))
        .agg(count(lit(1)).as("x"))
        .transform(graft.sources.Caches.ephemeral)
      val tr = xb.filter(col("is_train_domain"))
      val cls = tr.groupBy(col("j"))
        .agg(sum(when(col("y") === 1L, col("x")).otherwise(0L)).as("cp"),
          sum(when(col("y") === -1L, col("x")).otherwise(0L)).as("cn"))
      val tot = cls.agg(sum(col("cp")).as("tp"), sum(col("cn")).as("tn"))
      val wTab = cls.crossJoin(broadcast(tot))
        .select(col("j"),
          floor((log(col("cp") + 1) - log(col("tp") + 64)
            - log(col("cn") + 1) + log(col("tn") + 64)) * lit(1000000.0))
            .cast("long").as("wj"))
      val prior = base.filter(col("is_train_domain")).agg(
          sum(when(col("y") === 1L, 1L).otherwise(0L)).as("np"),
          sum(when(col("y") === -1L, 1L).otherwise(0L)).as("nn"))
        .select(floor((log(col("np")) - log(col("nn"))) * lit(1000000.0))
          .cast("long").as("b0"))
      val dots = xb.join(broadcast(wTab), "j")
        .groupBy(col("doc_id"))
        .agg(sum(dec(col("x")) * col("wj")).as("dot"))
      base.select(col("doc_id"), col("source"), col("is_train_domain"), col("y"))
        .join(dots, Seq("doc_id"), "left")
        .crossJoin(broadcast(prior))
        .withColumn("pred",
          when(coalesce(col("dot"), lit(0L).cast("decimal(38,0)"))
            + col("b0") >= 0, 1L).otherwise(-1L))
        .groupBy(col("source"), col("is_train_domain"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("pred") === col("y"), 1L).otherwise(0L)).as("n_correct"))
        .withColumn("acc_q6", expr("n_correct * 1000000 DIV n_docs"))
        .orderBy("source")
    }),

    // language purity / code-switch profile on the router's own evidence:
    // per predicted language, how many docs hit ONLY that language's
    // stopword lexicon (pure), how many hit several (mixed — the
    // code-switch suspects a per-doc router mislabels half of), and how
    // many hit none (the router's blind spot, where `pred` is just the
    // tie order). mean purity = h_argmax / Σh, floor-quantized per doc
    // before the per-language sum. One shared TextQuality narrow map +
    // a ≤4-row rollup; the same evidence columns d05/d120 already read.
    "d169_lang_purity" -> ((s, dir) => {
      val l = graft.operators.TextQuality.withLangId(docs(s, dir), "text")
        .withColumn("tot", col("h_en") + col("h_de") + col("h_es") + col("h_fr"))
        .withColumn("hm", greatest(col("h_en"), col("h_de"), col("h_es"), col("h_fr")))
      l.groupBy(col("pred"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("tot") === 0, 1L).otherwise(0L)).as("n_nohit"),
          sum(when(col("tot") > 0 && col("hm") === col("tot"), 1L).otherwise(0L)).as("n_pure"),
          sum(when(col("tot") > 0 && col("hm") < col("tot"), 1L).otherwise(0L)).as("n_mixed"),
          sum(when(col("tot") > 0, expr("(hm * 1000000) DIV tot")).otherwise(0L)).as("purity_sum_q6"))
        .withColumn("mean_purity_q6", expr(
          "CASE WHEN n_docs - n_nohit > 0 THEN purity_sum_q6 DIV (n_docs - n_nohit) ELSE NULL END"))
        .orderBy("pred")
    })
  )

  val oracles: Map[String, String] = Map(
    "d167_retrieval_eval" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents
        |  WHERE len(string_split(text, ' ')) >= 2),
        |idx AS (SELECT doc_id, unnest(list_distinct(w[1:len(w) // 2])) AS term FROM d),
        |nt AS (SELECT CAST(count(*) AS BIGINT) AS n FROM d),
        |idf AS (SELECT term, CAST(floor(ln((n + 1.0) / (count(*) + 1.0)) * 1000000.0) AS BIGINT) AS idf_q6
        |  FROM idx CROSS JOIN nt GROUP BY term, n),
        |q AS (SELECT doc_id AS qid, unnest(list_distinct(w[len(w) // 2 + 1:len(w)])) AS term
        |  FROM d WHERE doc_id < 16),
        |sc AS (SELECT q.qid, i.doc_id, CAST(sum(f.idf_q6) AS BIGINT) AS score
        |  FROM q JOIN idf f USING (term) JOIN idx i USING (term) GROUP BY q.qid, i.doc_id),
        |slf AS (SELECT qid, score AS self_score FROM sc WHERE qid = doc_id)
        |SELECT sc.qid, CAST(count(*) AS BIGINT) AS n_cands,
        |  CAST(sum(CASE WHEN sc.score > slf.self_score
        |      OR (sc.score = slf.self_score AND sc.doc_id < sc.qid) THEN 1 ELSE 0 END) + 1 AS BIGINT) AS self_rank,
        |  CAST(max(slf.self_score) AS BIGINT) AS self_score,
        |  CAST(sum(CASE WHEN sc.score > slf.self_score
        |      OR (sc.score = slf.self_score AND sc.doc_id < sc.qid) THEN 1 ELSE 0 END) + 1 AS BIGINT) = 1 AS hit
        |FROM sc JOIN slf USING (qid) GROUP BY sc.qid ORDER BY sc.qid""".stripMargin,

    "d168_kappa_agreement" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |b AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n_words,
        |  CAST(list_reduce(list_prepend(0, [length(x) FOR x IN w]), (acc, el) -> acc + el) AS BIGINT) AS sum_wlen,
        |  CAST(len(list_intersect(list_distinct(w), ['the','a','of','and','to'])) AS BIGINT) AS stop_hits
        |FROM w),
        |rk AS (SELECT doc_id, (n_words >= 50 AND n_words <= 100000
        |    AND 3 * n_words <= sum_wlen AND sum_wlen <= 10 * n_words
        |    AND stop_hits >= 2) AS rk FROM b),
        |ck AS (SELECT doc_id,
        |    CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      [ (CAST(('0x' || substr(md5(x), 1, 15)) AS BIGINT) % 64) * 2654435761 % 1000 - 500
        |        FOR x IN list_filter(string_split(text, ' '), x -> length(x) >= 1) ]),
        |      (acc, v) -> acc + v) AS BIGINT) >= 0 AS ck
        |  FROM documents),
        |ct AS (SELECT
        |    CAST(sum(CASE WHEN rk AND ck THEN 1 ELSE 0 END) AS BIGINT) AS n_both_keep,
        |    CAST(sum(CASE WHEN rk AND NOT ck THEN 1 ELSE 0 END) AS BIGINT) AS n_rule_only,
        |    CAST(sum(CASE WHEN NOT rk AND ck THEN 1 ELSE 0 END) AS BIGINT) AS n_clf_only,
        |    CAST(sum(CASE WHEN NOT rk AND NOT ck THEN 1 ELSE 0 END) AS BIGINT) AS n_both_drop,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM rk JOIN ck USING (doc_id)),
        |x AS (SELECT *,
        |    CAST(n_both_keep + n_rule_only AS HUGEINT) * (n_both_keep + n_clf_only)
        |      + CAST(n_clf_only + n_both_drop AS HUGEINT) * (n_rule_only + n_both_drop) AS e
        |  FROM ct),
        |y AS (SELECT *,
        |    CAST(n AS HUGEINT) * (n_both_keep + n_both_drop) - e AS num,
        |    CAST(n AS HUGEINT) * n - e AS den
        |  FROM x)
        |SELECT n_both_keep, n_rule_only, n_clf_only, n_both_drop, n,
        |  CASE WHEN den = 0 THEN NULL
        |    WHEN num >= 0 THEN CAST(num * 1000000 // den AS BIGINT)
        |    ELSE CAST(-(((-num) * 1000000 + den - 1) // den) AS BIGINT) END AS kappa_q6
        |FROM y""".stripMargin,

    "d170_linear_probe" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |b AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n_words,
        |  CAST(list_reduce(list_prepend(0, [length(x) FOR x IN w]), (acc, el) -> acc + el) AS BIGINT) AS sum_wlen,
        |  CAST(len(list_intersect(list_distinct(w), ['the','a','of','and','to'])) AS BIGINT) AS stop_hits
        |FROM w),
        |lab AS (SELECT doc_id, CASE WHEN n_words >= 50 AND n_words <= 100000
        |    AND 3 * n_words <= sum_wlen AND sum_wlen <= 10 * n_words
        |    AND stop_hits >= 2 THEN 1 ELSE -1 END AS y FROM b),
        |tok AS (SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> length(x) >= 1)) AS t
        |  FROM documents),
        |xb AS (SELECT doc_id, CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT) % 64 AS j,
        |    CAST(count(*) AS BIGINT) AS x FROM tok GROUP BY doc_id, j),
        |cls AS (SELECT j, sum(CASE WHEN l.y = 1 THEN x.x ELSE 0 END) AS cp,
        |    sum(CASE WHEN l.y = -1 THEN x.x ELSE 0 END) AS cn
        |  FROM xb x JOIN lab l USING (doc_id) GROUP BY j),
        |tot AS (SELECT sum(cp) AS tp, sum(cn) AS tn FROM cls),
        |wt AS (SELECT j, CAST(floor((ln(cp + 1) - ln(tp + 64) - ln(cn + 1) + ln(tn + 64)) * 1000000.0) AS BIGINT) AS wj
        |  FROM cls, tot),
        |pri AS (SELECT CAST(floor((ln(sum(CASE WHEN y = 1 THEN 1 ELSE 0 END))
        |    - ln(sum(CASE WHEN y = -1 THEN 1 ELSE 0 END))) * 1000000.0) AS BIGINT) AS b0 FROM lab),
        |dots AS (SELECT x.doc_id, sum(CAST(x.x AS HUGEINT) * w2.wj) AS dot
        |  FROM xb x JOIN wt w2 USING (j) GROUP BY x.doc_id),
        |pp AS (SELECT l.doc_id, l.y,
        |    CASE WHEN COALESCE(d.dot, 0) + p.b0 >= 0 THEN 1 ELSE -1 END AS probe_pred
        |  FROM lab l LEFT JOIN dots d USING (doc_id) CROSS JOIN pri p),
        |hp AS (SELECT doc_id,
        |    CASE WHEN CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      [ (CAST(('0x' || substr(md5(x), 1, 15)) AS BIGINT) % 64) * 2654435761 % 1000 - 500
        |        FOR x IN list_filter(string_split(text, ' '), x -> length(x) >= 1) ]),
        |      (acc, v) -> acc + v) AS BIGINT) >= 0 THEN 1 ELSE -1 END AS hash_pred
        |  FROM documents)
        |SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN probe_pred = y THEN 1 ELSE 0 END) AS BIGINT) AS n_probe_correct,
        |  CAST(sum(CASE WHEN hash_pred = y THEN 1 ELSE 0 END) AS BIGINT) AS n_hash_correct,
        |  CAST(sum(CASE WHEN probe_pred = y THEN 1 ELSE 0 END) * 1000000 // count(*) AS BIGINT) AS acc_probe_q6,
        |  CAST(sum(CASE WHEN hash_pred = y THEN 1 ELSE 0 END) * 1000000 // count(*) AS BIGINT) AS acc_hash_q6
        |FROM pp JOIN hp USING (doc_id)""".stripMargin,

    "d175_rule_overlap" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |b AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n_words,
        |  CAST(list_reduce(list_prepend(0, [length(x) FOR x IN w]), (acc, el) -> acc + el) AS BIGINT) AS sum_wlen,
        |  CAST(len(list_intersect(list_distinct(w), ['the','a','of','and','to'])) AS BIGINT) AS stop_hits,
        |  CAST(len(list_distinct(w)) AS BIGINT) AS n_distinct FROM w),
        |fl AS (SELECT (n_words < 50 OR n_words > 100000) AS f1,
        |  (3 * n_words > sum_wlen OR sum_wlen > 10 * n_words) AS f2,
        |  (stop_hits < 2) AS f3,
        |  (4 * (n_words - n_distinct) > n_words) AS f4 FROM b),
        |a AS (SELECT
        |  CAST(sum(CASE WHEN f1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |  CAST(sum(CASE WHEN f2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
        |  CAST(sum(CASE WHEN f3 THEN 1 ELSE 0 END) AS BIGINT) AS n3,
        |  CAST(sum(CASE WHEN f4 THEN 1 ELSE 0 END) AS BIGINT) AS n4,
        |  CAST(sum(CASE WHEN f1 AND f2 THEN 1 ELSE 0 END) AS BIGINT) AS b12,
        |  CAST(sum(CASE WHEN f1 AND f3 THEN 1 ELSE 0 END) AS BIGINT) AS b13,
        |  CAST(sum(CASE WHEN f1 AND f4 THEN 1 ELSE 0 END) AS BIGINT) AS b14,
        |  CAST(sum(CASE WHEN f2 AND f3 THEN 1 ELSE 0 END) AS BIGINT) AS b23,
        |  CAST(sum(CASE WHEN f2 AND f4 THEN 1 ELSE 0 END) AS BIGINT) AS b24,
        |  CAST(sum(CASE WHEN f3 AND f4 THEN 1 ELSE 0 END) AS BIGINT) AS b34
        |FROM fl),
        |m AS (
        |  SELECT 'r1_word_count' AS rule_a, 'r2_word_len' AS rule_b, n1 AS n_a, n2 AS n_b, b12 AS n_both FROM a
        |  UNION ALL SELECT 'r1_word_count', 'r3_stopword', n1, n3, b13 FROM a
        |  UNION ALL SELECT 'r1_word_count', 'r4_repetition', n1, n4, b14 FROM a
        |  UNION ALL SELECT 'r2_word_len', 'r3_stopword', n2, n3, b23 FROM a
        |  UNION ALL SELECT 'r2_word_len', 'r4_repetition', n2, n4, b24 FROM a
        |  UNION ALL SELECT 'r3_stopword', 'r4_repetition', n3, n4, b34 FROM a)
        |SELECT rule_a, rule_b, n_a, n_b, n_both,
        |  CASE WHEN n_a + n_b - n_both = 0 THEN NULL
        |    ELSE CAST(n_both * 1000000 // (n_a + n_b - n_both) AS BIGINT) END AS jaccard_q6
        |FROM m ORDER BY rule_a, rule_b""".stripMargin,

    "d174_probe_transfer" ->
      """WITH w AS (SELECT doc_id, source, string_split(text, ' ') AS w FROM documents),
        |b AS (SELECT doc_id, source, CAST(len(w) AS BIGINT) AS n_words,
        |  CAST(list_reduce(list_prepend(0, [length(x) FOR x IN w]), (acc, el) -> acc + el) AS BIGINT) AS sum_wlen,
        |  CAST(len(list_intersect(list_distinct(w), ['the','a','of','and','to'])) AS BIGINT) AS stop_hits
        |FROM w),
        |lab AS (SELECT doc_id, source,
        |    CAST(('0x' || substr(md5(source), 1, 2)) AS BIGINT) % 2 = 0 AS is_train_domain,
        |    CASE WHEN n_words >= 50 AND n_words <= 100000
        |    AND 3 * n_words <= sum_wlen AND sum_wlen <= 10 * n_words
        |    AND stop_hits >= 2 THEN 1 ELSE -1 END AS y FROM b),
        |tok AS (SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> length(x) >= 1)) AS t
        |  FROM documents),
        |xb AS (SELECT doc_id, CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT) % 64 AS j,
        |    CAST(count(*) AS BIGINT) AS x FROM tok GROUP BY doc_id, j),
        |cls AS (SELECT j, sum(CASE WHEN l.y = 1 THEN x.x ELSE 0 END) AS cp,
        |    sum(CASE WHEN l.y = -1 THEN x.x ELSE 0 END) AS cn
        |  FROM xb x JOIN lab l USING (doc_id) WHERE l.is_train_domain GROUP BY j),
        |tot AS (SELECT sum(cp) AS tp, sum(cn) AS tn FROM cls),
        |wt AS (SELECT j, CAST(floor((ln(cp + 1) - ln(tp + 64) - ln(cn + 1) + ln(tn + 64)) * 1000000.0) AS BIGINT) AS wj
        |  FROM cls, tot),
        |pri AS (SELECT CAST(floor((ln(sum(CASE WHEN y = 1 THEN 1 ELSE 0 END))
        |    - ln(sum(CASE WHEN y = -1 THEN 1 ELSE 0 END))) * 1000000.0) AS BIGINT) AS b0
        |  FROM lab WHERE is_train_domain),
        |dots AS (SELECT x.doc_id, sum(CAST(x.x AS HUGEINT) * w2.wj) AS dot
        |  FROM xb x JOIN wt w2 USING (j) GROUP BY x.doc_id),
        |pp AS (SELECT l.source, l.is_train_domain, l.y,
        |    CASE WHEN COALESCE(d.dot, 0) + p.b0 >= 0 THEN 1 ELSE -1 END AS pred
        |  FROM lab l LEFT JOIN dots d USING (doc_id) CROSS JOIN pri p)
        |SELECT source, is_train_domain, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN pred = y THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
        |  CAST(sum(CASE WHEN pred = y THEN 1 ELSE 0 END) * 1000000 // count(*) AS BIGINT) AS acc_q6
        |FROM pp GROUP BY source, is_train_domain ORDER BY source""".stripMargin,

    "d172_source_dup_matrix" ->
      (s"WITH ${DataQueries.minhashPairsCte},\n" +
        """sp AS (SELECT least(da.source, db.source) AS src_a, greatest(da.source, db.source) AS src_b
          |  FROM pairs p JOIN documents da ON da.doc_id = p.a JOIN documents db ON db.doc_id = p.b),
          |m AS (SELECT src_a, src_b, CAST(count(*) AS BIGINT) AS n_pairs FROM sp GROUP BY src_a, src_b),
          |n AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM documents GROUP BY source)
          |SELECT m.src_a, m.src_b, m.n_pairs, na.n AS n_a, nb.n AS n_b,
          |  CAST(CAST(m.n_pairs AS HUGEINT) * 1000000000 // (CASE WHEN m.src_a = m.src_b
          |    THEN CAST(na.n AS HUGEINT) * (na.n - 1) // 2
          |    ELSE CAST(na.n AS HUGEINT) * nb.n END) AS BIGINT) AS rate_q9
          |FROM m JOIN n na ON na.source = m.src_a JOIN n nb ON nb.source = m.src_b
          |ORDER BY m.src_a, m.src_b""".stripMargin),

    "d173_overdeletion" ->
      ("WITH RECURSIVE " + DataQueries.minhashPairsCte + """,
        |vp AS (SELECT p.a, p.b,
        |    (levenshtein(da.text, db.text) * 5 <= greatest(length(da.text), length(db.text))) AS dup
        |  FROM pairs p JOIN documents da ON da.doc_id = p.a JOIN documents db ON db.doc_id = p.b),
        |edges AS (SELECT a AS u, b AS v FROM pairs UNION ALL SELECT b, a FROM pairs),
        |nodes AS (SELECT DISTINCT u AS n FROM edges),
        |walk(n, l) AS (SELECT n, n FROM nodes UNION SELECT e.v, w.l FROM walk w JOIN edges e ON e.u = w.n),
        |clusters AS (SELECT n AS doc_id, min(l) AS cluster FROM walk GROUP BY n),
        |vedges AS (SELECT a AS u, b AS v FROM vp WHERE dup UNION ALL SELECT b, a FROM vp WHERE dup),
        |vnodes AS (SELECT DISTINCT u AS n FROM vedges),
        |vwalk(n, l) AS (SELECT n, n FROM vnodes UNION SELECT e.v, w.l FROM vwalk w JOIN vedges e ON e.u = w.n),
        |vclusters AS (SELECT n AS doc_id, min(l) AS cluster FROM vwalk GROUP BY n),
        |rr AS (SELECT CAST(count(*) AS BIGINT) AS removals_raw FROM clusters WHERE doc_id <> cluster),
        |vr AS (SELECT CAST(count(*) AS BIGINT) AS removals_verified FROM vclusters WHERE doc_id <> cluster),
        |c AS (SELECT CAST(count(*) AS BIGINT) AS n_candidates,
        |    CAST(sum(CASE WHEN dup THEN 1 ELSE 0 END) AS BIGINT) AS n_verified FROM vp)
        |SELECT c.n_candidates, c.n_verified, rr.removals_raw, vr.removals_verified,
        |  rr.removals_raw - vr.removals_verified AS overdeletion
        |FROM c CROSS JOIN rr CROSS JOIN vr""".stripMargin),

    "d171_cap_solver" ->
      """WITH n AS (SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS len FROM documents),
        |hist AS (SELECT len, CAST(count(*) AS BIGINT) AS cnt FROM n GROUP BY len),
        |t AS (SELECT len, cnt,
        |    sum(len * cnt) OVER (ORDER BY len ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s_below,
        |    sum(cnt) OVER (ORDER BY len ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_upto,
        |    sum(len * cnt) OVER () AS raw_tokens,
        |    sum(cnt) OVER () AS n_docs
        |  FROM hist),
        |t2 AS (SELECT *, n_docs - n_upto AS n_above, (8 * raw_tokens) // 10 AS budget,
        |    s_below + len * (n_docs - n_upto) AS total_at FROM t),
        |best AS (SELECT n_docs, raw_tokens, budget,
        |    max_by(len, len) AS base_cap, max_by(total_at, len) AS total_at_base,
        |    max_by(n_above, len) AS n_above_base
        |  FROM t2 WHERE total_at <= budget GROUP BY n_docs, raw_tokens, budget)
        |SELECT CAST(n_docs AS BIGINT) AS n_docs, CAST(raw_tokens AS BIGINT) AS raw_tokens,
        |  CAST(budget AS BIGINT) AS budget, CAST(base_cap AS BIGINT) AS base_cap,
        |  CAST(CASE WHEN n_above_base > 0
        |    THEN base_cap + (budget - total_at_base) // n_above_base
        |    ELSE base_cap END AS BIGINT) AS cap,
        |  CAST(CASE WHEN n_above_base > 0
        |    THEN total_at_base + ((budget - total_at_base) // n_above_base) * n_above_base
        |    ELSE total_at_base END AS BIGINT) AS total_at_cap,
        |  CAST(n_above_base AS BIGINT) AS docs_clipped
        |FROM best""".stripMargin,

    "d169_lang_purity" ->
      """WITH t AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS tok FROM documents),
        |h AS (SELECT doc_id,
        |  CAST(len(list_intersect(tok, ['the','a','of','and','to'])) AS BIGINT) AS h_en,
        |  CAST(len(list_intersect(tok, ['der','die','das','und','ist'])) AS BIGINT) AS h_de,
        |  CAST(len(list_intersect(tok, ['el','la','de','los','y'])) AS BIGINT) AS h_es,
        |  CAST(len(list_intersect(tok, ['le','les','et','des','un'])) AS BIGINT) AS h_fr
        |FROM t),
        |p AS (SELECT doc_id, h_en + h_de + h_es + h_fr AS tot,
        |  greatest(h_en, h_de, h_es, h_fr) AS hm,
        |  CASE WHEN h_en >= h_de AND h_en >= h_es AND h_en >= h_fr THEN 'en'
        |       WHEN h_de >= h_es AND h_de >= h_fr THEN 'de'
        |       WHEN h_es >= h_fr THEN 'es' ELSE 'fr' END AS pred
        |FROM h)
        |SELECT pred, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN tot = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_nohit,
        |  CAST(sum(CASE WHEN tot > 0 AND hm = tot THEN 1 ELSE 0 END) AS BIGINT) AS n_pure,
        |  CAST(sum(CASE WHEN tot > 0 AND hm < tot THEN 1 ELSE 0 END) AS BIGINT) AS n_mixed,
        |  CAST(sum(CASE WHEN tot > 0 THEN hm * 1000000 // tot ELSE 0 END) AS BIGINT) AS purity_sum_q6,
        |  CASE WHEN count(*) - sum(CASE WHEN tot = 0 THEN 1 ELSE 0 END) > 0
        |    THEN CAST(sum(CASE WHEN tot > 0 THEN hm * 1000000 // tot ELSE 0 END)
        |      // (count(*) - sum(CASE WHEN tot = 0 THEN 1 ELSE 0 END)) AS BIGINT)
        |    ELSE NULL END AS mean_purity_q6
        |FROM p GROUP BY pred ORDER BY pred""".stripMargin
  )
}
