package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Eleventh wave — the closing audit-and-allocation set: a second,
  * exact-complete candidate-generation algorithm (prefix filtering) to
  * stand beside LSH, hybrid retrieval fusion, cluster-quality and
  * graph-topology reads over artifacts earlier waves built, the sampling /
  * budget-allocation arithmetic a corpus plan runs before committing
  * compute (weighted sampling, apportionment, water-filling, truncation
  * budgets), and self-audits of the repo's own core tricks (the 60-bit
  * gram-hash compression, the bloom pre-filter, LSH band configs, packing
  * order).
  *
  * Numeric discipline unchanged: integers before any cross-row sum; ln/pow
  * only per-row behind floor-quantization with margin (the d52/d57
  * precedent); divisions only where both sides are exact integers and both
  * engines run the identical op sequence.
  */
object DataQueries11 extends QueryModule {

  /** Embeddings with q6-quantized components (d89's load shape). */
  private def quantized(s: SparkSession, dir: String): DataFrame =
    embs(s, dir).select(col("vec_id"),
      expr("transform(embedding, x -> cast(floor(cast(x as double) * 1000000.0) as bigint))")
        .as("xq"))

  val queries: Map[String, Q] = Map[String, Q](
    // prefix-filtering similarity join (PPJoin/AllPairs) at Jaccard >= 0.8
    // via the public TextDedup API — the EXACT-complete complement to the
    // d02 LSH candidates: no false negatives by construction, candidates
    // priced on each doc's globally-rarest grams only (boilerplate grams
    // rank last and never enter a prefix, so the valve d03 needs is
    // built into the algorithm).
    "d101_prefix_filter" -> ((s, dir) =>
      graft.operators.TextDedup
        .prefixFilterPairs(docs(s, dir), "doc_id", "text", 3, 4, 5)
        .orderBy("a", "b")),

    // reciprocal-rank-fusion hybrid retrieval: the d52 BM25 lexical ranking
    // and a dense cosine ranking (probe vector 0 standing in for the query
    // embedding) fused as sum of floor(1e9/(60+rank)) — Cormack et al.'s
    // RRF with k=60, exact-integer once each side's rank is fixed. Each
    // side is a bounded TakeOrdered top-50; the fusion is a 50v50 full
    // outer join on doc id — nothing corpus-sized past the two rankers.
    "d102_rrf_hybrid" -> ((s, dir) => {
      val terms = Seq("join", "scan", "vector")
      val d = docs(s, dir)
        .select(col("doc_id"), split(col("text"), " ").as("w"))
        .withColumn("dl", size(col("w")).cast("double"))
      val tf = terms.zipWithIndex.foldLeft(d) { case (df, (t, i)) =>
        df.withColumn(s"tf$i",
          size(filter(col("w"), x => x === lit(t))).cast("double"))
      }
      // drop the token array before persisting: stats and the scorer both
      // re-read this slim (id, dl, tf*) projection instead of re-splitting
      // the corpus per consumer
      val tfSlim = tf.drop("w").transform(graft.sources.Caches.ephemeral)
      val aggCols = count(lit(1)).cast("double").as("n") +:
        sum(col("dl")).as("sumdl") +:
        terms.indices.map(i =>
          sum(when(col(s"tf$i") > 0, 1.0).otherwise(0.0)).as(s"df$i"))
      val stats = tfSlim.agg(aggCols.head, aggCols.tail: _*)
      def contrib(i: Int) =
        log(lit(1.0) + (col("n") - col(s"df$i") + lit(0.5)) / (col(s"df$i") + lit(0.5))) *
          (col(s"tf$i") * lit(2.2)) /
          (col(s"tf$i") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / (col("sumdl") / col("n"))))
      val bm = tfSlim.crossJoin(broadcast(stats))
        .withColumn("score_q6", floor((contrib(0) + contrib(1) + contrib(2)) * lit(1000000.0)))
        .orderBy(col("score_q6").desc, col("doc_id")).limit(50)
        .select(col("doc_id"),
          row_number().over(Window.orderBy(col("score_q6").desc, col("doc_id")))
            .cast("long").as("bm_r"))
      val dense = graft.operators.VectorSearch
        .bruteForceTopK(embs(s, dir), "vec_id", "embedding", col("vec_id") === 0, 50)
        .select(col("id").as("doc_id"), col("rank").cast("long").as("dn_r"))
      bm.join(dense, Seq("doc_id"), "full_outer")
        .select(col("doc_id"),
          (coalesce(expr("1000000000 div (60 + bm_r)"), lit(0L)) +
            coalesce(expr("1000000000 div (60 + dn_r)"), lit(0L))).as("rrf_q9"),
          col("bm_r").as("bm25_rank"), col("dn_r").as("dense_rank"))
        .orderBy(col("rrf_q9").desc, col("doc_id")).limit(20)
    }),

    // simplified silhouette of the seed-centroid (vec 0..3) assignment —
    // the cluster-quality read behind "is k right / are these cells
    // usable": a = distance to own centroid, b = min distance to another,
    // s = (b-a)/max(a,b), all on exact q6-integer squared distances
    // (s scaled through DECIMAL so the 1e6 numerator can't overflow
    // Long), per-cell mean as integer-div of nonneg integers. Assignment
    // is the d18 broadcast + min-struct rollup; nothing corpus-quadratic.
    "d103_silhouette" -> ((s, dir) => {
      val e = quantized(s, dir)
      val c = e.filter(col("vec_id") < 4).select(col("vec_id").as("cid"), col("xq").as("cq"))
      // the distance table feeds both the argmin (a) and the runner-up (b)
      // branch; persist the |vecs| x 4 rows or the d2q pass runs twice
      val d = e.crossJoin(broadcast(c))
        .select(col("vec_id"), col("cid"), DataQueries10.d2q(col("xq"), col("cq")).as("d2"))
        .transform(graft.sources.Caches.ephemeral)
      val a = d.groupBy("vec_id").agg(min(struct(col("d2"), col("cid"))).as("m"))
        .select(col("vec_id"), col("m.cid").as("cell"), col("m.d2").as("a_d2"))
      val b = d.join(a, "vec_id").filter(col("cid") =!= col("cell"))
        .groupBy("vec_id").agg(min(col("d2")).as("b_d2"))
      a.join(b, "vec_id")
        .select(col("cell"),
          expr("CAST((CAST(b_d2 - a_d2 AS DECIMAL(38,0)) * 1000000) DIV greatest(a_d2, b_d2, 1L) AS BIGINT)")
            .as("s_q6"))
        .groupBy(col("cell"))
        .agg(count(lit(1)).as("n"), expr("sum(s_q6) div count(1)").as("mean_s_q6"))
        .orderBy("cell")
    }),

    // LSH band-configuration sweep over the SAME 16-slot signature family:
    // candidate volume at (2x8, 4x4, 8x2) plus each config's theoretical
    // S-curve threshold (1/b)^(1/r) — the read that picks a band config
    // before a 100 TB dedup run (d97 audits the deployed config
    // empirically; this prices the alternatives). Three bounded
    // one-row aggregates unioned; candidate generation is the production
    // bucket-shuffle at each config, never an all-pairs.
    "d104_band_sweep" -> ((s, dir) => {
      // r22 (guide §2.4/§2.6): the old shape persisted the signature table
      // and ran THREE separate bucket-shuffle job chains (one per config);
      // cold-measured, the persist build + 3 chains cost ~3.3 s. All three
      // configs now ride ONE chain: each signature row explodes to its
      // (cfg, bucket) keys for every config at once (same 2+4+8 = 14
      // bucket rows per doc as before, one shuffle instead of three), the
      // pair expansion and distinct are keyed by (cfg, a, b), and the
      // 3-row config table left-joins the counts back (left join keeps a
      // config that found no pairs at 0, the old per-branch agg(count)
      // semantics). Bucket values are the exact xxhash64(bandIdx, slots..)
      // the per-config path computed — grouping additionally by cfg keeps
      // configs that could theoretically collide apart. Single consumer,
      // so the signature persist is gone too.
      import s.implicits._
      val sig = graft.operators.TextDedup
        .minhashSignatures(docs(s, dir), "doc_id", "text", 3)
      val cfgs = Seq(2, 4, 8)
      val keyed = sig.select(col("__id"), explode(array(cfgs.flatMap { b =>
        val r = 16 / b
        (0 until b).map { band =>
          struct(lit(b.toLong).as("cfg"),
            xxhash64(lit(band) +: (0 until r).map(i => col(s"m${r * band + i}")): _*)
              .as("bk"))
        }
      }: _*)).as("cb"))
        .select(col("cb.cfg").as("cfg"), col("cb.bk").as("bk"), col("__id"))
      val counts = keyed.groupBy(col("cfg"), col("bk"))
        .agg(sort_array(collect_list(col("__id"))).as("ids"))
        .filter(size(col("ids")) >= 2)
        .select(col("cfg"), DataQueries5.pairExpand(col("ids")).as("p"))
        .select(col("cfg"), col("p.a").as("a"), col("p.b").as("b"))
        .distinct()
        .groupBy(col("cfg")).agg(count(lit(1)).as("n_pairs"))
      val cfgTable = cfgs.map(b => (b.toLong, (16 / b).toLong)).toDF("cfg", "rows_per_band")
      broadcast(cfgTable).join(counts, Seq("cfg"), "left")
        .select(col("cfg").as("bands"), col("rows_per_band"),
          coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
          floor(pow(lit(1.0) / col("cfg"), lit(1.0) / col("rows_per_band"))
            * lit(1000000.0)).as("thresh_q6"))
        .orderBy("bands")
    }),

    // near-dup candidate graph topology: nodes/edges/max-degree, triangle
    // count (two equi-joins ON THE EDGE LIST — priced |E|^1.5-ish, never
    // corpus-sized), wedge count from the degree table, and the global
    // clustering coefficient 3*tri/wedges — the "are near-dups cliques or
    // chains" read that decides whether min-label clustering (d15) or
    // authority ranking (d93) picks representatives.
    "d105_graph_stats" -> ((s, dir) => {
      val edges = DataQueries.minhashPairs(s, dir).transform(graft.sources.Caches.ephemeral)
      val deg = edges.select(col("a").as("n")).unionAll(edges.select(col("b").as("n")))
        .groupBy("n").agg(count(lit(1)).as("d"))
      val nn = deg.agg(count(lit(1)).as("n_nodes"), max(col("d")).as("max_degree"),
        expr("sum((d * (d - 1)) div 2)").as("n_wedges"))
      val ne = edges.agg(count(lit(1)).as("n_edges"))
      val tri = edges.as("e1")
        .join(edges.as("e2"), col("e2.a") === col("e1.b"))
        .join(edges.as("e3"),
          col("e3.a") === col("e1.a") && col("e3.b") === col("e2.b"))
        .agg(count(lit(1)).as("n_triangles"))
      nn.crossJoin(ne).crossJoin(tri)
        .select(col("n_nodes"), col("n_edges"), col("max_degree"),
          col("n_triangles"), col("n_wedges"),
          when(col("n_wedges") > 0,
            floor(col("n_triangles") * lit(3000000.0) / col("n_wedges")))
            .otherwise(0L).cast("long").as("cc_q6"))
    }),

    // deterministic weighted sampling without replacement (Efraimidis-
    // Spirakis A-ES) via the public Sampling API: token count as the
    // weight, top-50 keys — the "sample documents proportional to their
    // token mass" primitive epoch planning needs.
    "d106_weighted_sample" -> ((s, dir) =>
      graft.operators.Sampling.weightedSample(
        docs(s, dir).withColumn("weight",
          size(split(col("text"), " ")).cast("long")),
        "doc_id", "weight", 50)
        .select(col("rank"), col("doc_id"), col("weight"), col("key_q9"))),

    // Hamilton largest-remainder apportionment of a 1000-doc sampling
    // budget across sources by token mass — the integer-exact allocation
    // rule (quota floor + ranked remainders) that sums EXACTLY to the
    // budget, which proportional rounding does not. One corpus rollup to
    // |sources| rows; everything after runs on the bounded table.
    "d107_apportion" -> ((s, dir) =>
      graft.operators.Allocation.apportion(
        docs(s, dir).groupBy("source")
          .agg(sum(size(split(col("text"), " ")).cast("long")).as("tok")),
        "source", "tok", 1000L)
        .select(col("source"), col("tok").as("tokens"), col("base_alloc"), col("alloc"))
        .orderBy("source")),

    // water-filling allocation: a 95%-of-corpus token budget spread as
    // evenly as sources allow, each capped by its availability — the
    // closed-form (sorted prefix sums, no iteration) answer to "how much
    // does each source contribute to this epoch". Saturated sources form
    // a prefix of the availability order, so one bounded window + one
    // one-row aggregate decide the level; remainder goes largest-
    // remainder-style to the first unsaturated sources.
    "d108_waterfill" -> ((s, dir) => {
      // the 19/20 budget is computed from the same rollup the API consumes;
      // one bounded collect of the one-row total (the budget is a scalar
      // parameter of the closed form, not a column)
      val t = docs(s, dir).groupBy("source")
        .agg(sum(size(split(col("text"), " ")).cast("long")).as("avail"))
        .transform(graft.sources.Caches.ephemeral)
      val budget = t.agg(sum(col("avail"))).first().getLong(0) * 19L / 20L
      graft.operators.Allocation.waterfill(t, "source", "avail", budget)
        .orderBy("source")
    }),

    // Zipf slope of the token frequency distribution: OLS of q3-quantized
    // ln(count) on ln(rank) over the top-200 vocabulary (bounded
    // TakeOrdered prune, the d74 rule) — the one-number distributional
    // fingerprint that flags synthetic/degenerate corpora (natural text
    // slopes ~ -1). Counts are non-increasing in rank, so the covariance
    // numerator is provably <= 0 and the negated integer division is
    // truncation-consistent across engines.
    "d109_zipf_slope" -> ((s, dir) => {
      val c = docs(s, dir).select(explode(split(col("text"), " ")).as("w"))
        .groupBy("w").agg(count(lit(1)).as("c"))
      val top = c.orderBy(col("c").desc, col("w")).limit(200)
      val q = top
        .withColumn("rn", row_number().over(Window.orderBy(col("c").desc, col("w"))).cast("long"))
        .select(floor(log(col("rn").cast("double")) * 1000.0).cast("long").as("x"),
          floor(log(col("c").cast("double")) * 1000.0).cast("long").as("y"))
      q.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
        .select(col("n"), col("sx").as("sx_q3"), col("sy").as("sy_q3"),
          (-expr("((sx * sy - n * sxy) * 1000000) div (n * sxx - sx * sx)")).as("slope_q6"))
    }),

    // truncation budget curve: tokens lost / docs clipped at max-seq-len
    // caps {32, 64, 96} — the read that prices a context-length choice
    // BEFORE tokenizing 100 TB. One narrow map crossed with a fixed 3-row
    // cap table; the loss fraction divides through DECIMAL so the 1e6
    // scaling is overflow-safe at any corpus size.
    "d110_trunc_budget" -> ((s, dir) => {
      import s.implicits._
      val n = docs(s, dir).select(size(split(col("text"), " ")).cast("long").as("n"))
      n.crossJoin(broadcast(Seq(32L, 64L, 96L).toDF("cap")))
        .groupBy("cap")
        .agg(count(when(col("n") > col("cap"), 1)).as("docs_clipped"),
          sum(when(col("n") > col("cap"), col("n") - col("cap")).otherwise(0L)).as("tokens_lost"),
          sum(least(col("n"), col("cap"))).as("tokens_kept"),
          sum(col("n")).as("total"))
        .select(col("cap"), col("docs_clipped"), col("tokens_lost"), col("tokens_kept"),
          expr("CAST((CAST(tokens_lost AS DECIMAL(38,0)) * 1000000) DIV total AS BIGINT)")
            .as("lost_frac_q6"))
        .orderBy("cap")
    }),

    // empirical collision audit of the repo's own gram-hash compression:
    // distinct 3-gram STRINGS vs distinct 60-bit and 20-bit md5-prefix
    // values — the measurement behind every "grams cross shuffles as
    // longs" claim (60-bit: zero collisions expected below ~2^30 grams;
    // 20-bit: visibly lossy, which is why nothing in the repo uses it).
    // Three two-phase distinct aggregations; the strings are touched once
    // in this audit and never in production paths.
    "d111_hash_collisions" -> ((s, dir) => {
      // the audit needs the gram STRINGS (the thing production paths never
      // materialize past the scan) to count true distincts vs hash distincts
      val h = docs(s, dir)
        .select(split(col("text"), " ").as("w"))
        .filter(size(col("w")) >= 3)
        .select(explode(expr(
          "transform(sequence(1, size(w) - 2), i -> concat_ws(' ', w[i-1], w[i], w[i+1]))"))
          .as("s"))
        .distinct()
        .select(conv(substring(md5(col("s")), 1, 15), 16, 10).cast("long").as("h60"),
          conv(substring(md5(col("s")), 1, 5), 16, 10).cast("long").as("h20"))
      h.agg(count(lit(1)).as("n_grams"),
          countDistinct(col("h60")).as("n_h60"),
          countDistinct(col("h20")).as("n_h20"))
        .select(col("n_grams"), col("n_h60"), col("n_h20"),
          (col("n_grams") - col("n_h60")).as("coll_60"),
          (col("n_grams") - col("n_h20")).as("coll_20"))
    }),

    // quality-rule ablation matrix: per-rule solo kill counts and pairwise
    // joint kills over the d39 rule set — "which filter does the work,
    // which are redundant" BEFORE tuning thresholds on 100 TB. One narrow
    // map emits the 5 rule verdicts per doc; the 5x5 explode is a
    // constant fan-out; the rollup is 15 rows.
    "d112_rule_ablation" -> ((s, dir) => {
      val w = split(col("text"), " ")
      val base = docs(s, dir).select(col("doc_id"),
        size(w).cast("long").as("n_words"),
        aggregate(transform(w, x => length(x).cast("long")), lit(0L), (a, b) => a + b)
          .as("sum_wlen"),
        size(array_intersect(array_distinct(w),
          array(Seq("the", "a", "of", "and", "to").map(lit): _*))).cast("long").as("stop_hits"))
      // every (solo, pairwise) count is a conditional sum over the SAME
      // rule-verdict row, so the whole matrix is ONE narrow aggregation —
      // no row fan-out, no self-join; the 15-row shape is restored by
      // exploding a literal struct array over the single aggregate row
      val ruleCols: Seq[(String, Column)] = Seq(
        "max_wlen" -> (col("sum_wlen") > col("n_words") * 10),
        "max_words" -> (col("n_words") > 100000),
        "min_wlen" -> (col("n_words") * 3 > col("sum_wlen")),
        "min_words" -> (col("n_words") < 50),
        "stopwords" -> (col("stop_hits") < 2))
      val names = ruleCols.map(_._1)
      val flags = base.select(ruleCols.map { case (n, c) => c.as(n) }: _*)
      val pairs = for (a <- names; b <- names if a <= b) yield (a, b)
      val sums =
        names.map(a => sum(when(col(a), 1L).otherwise(0L)).as(s"k_$a")) ++
          pairs.map { case (a, b) =>
            sum(when(col(a) && col(b), 1L).otherwise(0L)).as(s"kb_${a}__$b")
          }
      flags.agg(sums.head, sums.tail: _*)
        .select(explode(array(pairs.map { case (a, b) =>
          struct(lit(a).as("rule_a"), lit(b).as("rule_b"),
            col(s"k_$a").as("kill_a"), col(s"kb_${a}__$b").as("kill_both"))
        }: _*)).as("r"))
        .select(col("r.rule_a").as("rule_a"), col("r.rule_b").as("rule_b"),
          col("r.kill_a").as("kill_a"), col("r.kill_both").as("kill_both"))
        .orderBy("rule_a", "rule_b")
    }),

    // packing order sensitivity: per-shard next-fit sequence counts in
    // arrival (doc_id) order vs length-sorted-descending order — the
    // measurement behind choosing (or skipping) a sort stage before the
    // d43 packer. Both runs go through the same O(n) per-shard kernel;
    // the sorted variant re-keys docs with a rank-derived surrogate id
    // that preserves shard membership (id ≡ shard mod 8), so the packer
    // itself is untouched.
    "d113_pack_order" -> ((s, dir) => {
      val b = docs(s, dir).select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tok"),
        pmod(col("doc_id"), lit(8L)).as("shard"))
      val arrival = graft.operators.SequencePacking
        .packGreedy(b, "doc_id", "n_tok", 256, 8)
        .groupBy("shard").agg(countDistinct(col("seq")).as("nseq_arrival"))
      val rk = row_number().over(
        Window.partitionBy(col("shard")).orderBy(col("n_tok").desc, col("doc_id")))
      val surrogate = b.select(
        (col("shard") + lit(8L) * (rk.cast("long") - 1L)).as("sid"), col("n_tok"))
      val sorted = graft.operators.SequencePacking
        .packGreedy(surrogate, "sid", "n_tok", 256, 8)
        .groupBy("shard").agg(countDistinct(col("seq")).as("nseq_sorted"))
      val tokens = b.groupBy("shard").agg(sum(col("n_tok")).as("tokens"))
      tokens.join(arrival, "shard").join(sorted, "shard").orderBy("shard")
    }),

    // per-source embedding centroid similarity matrix: source centroids as
    // floor-mean q6 integer vectors ((source, dim) rollup — bounded
    // |sources|x64), pairwise exact-integer dots on the bounded centroid
    // table, cosine as one identical per-row double op-sequence in both
    // engines — the "which sources say the same thing" read behind
    // source-level mixing and dedup priorities.
    "d114_centroid_sim" -> ((s, dir) => {
      val j = docs(s, dir).select(col("doc_id"), col("source"))
        .join(quantized(s, dir), col("vec_id") === col("doc_id"))
      // bounded |sources| x 64 centroid table persisted: the dot-product
      // self-join and the norm rollup reuse one corpus pass
      val x = j.select(col("source"), posexplode(col("xq")).as(Seq("i", "v")))
        .groupBy(col("source"), col("i"))
        .agg(sum(col("v")).as("sm"), count(lit(1)).as("n"))
        .select(col("source"), col("i"),
          floor(col("sm").cast("double") * lit(1.0) / col("n")).cast("long").as("cq"))
        .transform(graft.sources.Caches.ephemeral)
      val p = x.as("a").join(x.as("b"),
          col("a.i") === col("b.i") && col("a.source") < col("b.source"))
        .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
        .agg(sum(col("a.cq") * col("b.cq")).as("dot"))
      val nr = x.groupBy(col("source")).agg(sum(col("cq") * col("cq")).as("n2"))
      p.join(nr.as("na"), col("na.source") === col("src_a"))
        .join(nr.as("nb"), col("nb.source") === col("src_b"))
        .select(col("src_a"), col("src_b"), col("dot"),
          floor(col("dot").cast("double") * lit(1000000.0) /
            (sqrt(col("na.n2").cast("double")) * sqrt(col("nb.n2").cast("double"))))
            .cast("long").as("cos_q6"))
        .orderBy("src_a", "src_b")
    }),

    // decontamination bloom-filter fidelity audit (the d61/d82 estimate-
    // vs-exact frame for the d41 bloom pre-filter): a fully relational
    // 4-hash/2^20-bit bloom over the reference's distinct 5-gram hashes
    // (the bit-position table is bounded by the filter SIZE, not the
    // corpus), probed by the dump's distinct grams; exact membership via
    // equi-join. The exact integers cross the oracle; the bloom counters
    // are asserted within bounds (no false negatives; fp rate under 2%
    // of true negatives + slack) — at 100 TB m scales with |ref| like
    // any bloom sizing.
    "d115_bloom_audit" -> ((s, dir) => {
      // r22 (guide §2.4 "remove shuffles outright"): the old shape scanned
      // and shingled the corpus TWICE (ref-side distinct, dump-side
      // distinct, each persisted) and resolved exact membership with a
      // gram-table equi-join. One flagged rollup replaces all of it: every
      // gram groups once with in_ref/in_dump presence flags (2.22 → one
      // corpus pass), the flagged table feeds bits + probes, and
      // exact_hit IS the in_ref flag — the membership join is gone. Same
      // sets by construction: filter(in_ref) = distinct grams of src0,
      // filter(in_dump) = distinct grams of the rest.
      val gt = docs(s, dir)
        .select((col("source") === "src0").as("r"),
          explode(graft.functions.prom.shingle_g(col("text"), 5)).as("g"))
        .groupBy(col("g"))
        .agg(max(col("r")).as("in_ref"), max(!col("r")).as("in_dump"))
        .transform(graft.sources.Caches.ephemeral)
      val m = 1L << 20
      val mixes = Seq(
        (0x9E3779B97F4A7C15L, 0xC2B2AE3D27D4EB4FL),
        (0xBF58476D1CE4E5B9L, 0x94D049BB133111EBL),
        (0xD6E8FEB86659FD93L, 0xA5A5A5A5A5A5A5A5L),
        (0xFF51AFD7ED558CCDL, 0xC4CEB9FE1A85EC53L))
      def positions(g: Column): Column = array(mixes.map { case (a, b) =>
        pmod(graft.functions.prom.mix64(g, a, b), lit(m))
      }: _*)
      val bits = gt.filter(col("in_ref"))
        .select(explode(positions(col("g"))).as("pos")).distinct()
      val probes = gt.filter(col("in_dump"))
        .select(col("g"), col("in_ref"), explode(positions(col("g"))).as("pos"))
        .join(bits.withColumn("hit", lit(1L)), Seq("pos"), "left")
        .groupBy(col("g"), col("in_ref"))
        .agg((count(col("hit")) === 4).as("bloom_hit"))
      probes
        .agg(count(lit(1)).as("n_probe"),
          count(when(col("in_ref"), 1)).as("exact_hits"),
          count(when(col("bloom_hit"), 1)).as("bloom_hits"),
          count(when(col("in_ref") && !col("bloom_hit"), 1)).as("fn"))
        .select(col("n_probe"), col("exact_hits"),
          (col("fn") === 0).as("bloom_superset"),
          ((col("bloom_hits") - col("exact_hits")) * 50 <=
            (col("n_probe") - col("exact_hits")) + lit(800L)).as("fp_within_bound"))
    })
  )

  val oracles: Map[String, String] = DataQueries11Oracles.oracles
}
