package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Tenth wave: the curation-planning reads a 100 TB pipeline runs BEFORE
  * committing compute — a full k-means training loop (the d76 driver-loop
  * pattern applied to embeddings), per-source distribution divergence (the
  * data-mixing diagnostic), the dedup-rate scaling curve (how dup density
  * grows with corpus size), and a mergeable histogram-quantile sketch
  * audited against exact ranks (the d82 estimate-vs-exact frame for
  * quantiles).
  *
  * Numeric discipline is the repo rule throughout: quantize to integers
  * BEFORE any cross-row sum (long sums are accumulation-order-free), keep
  * doubles only inside per-row scalar expressions where IEEE evaluation is
  * order-fixed, and let ln() appear only per-row behind a floor-quantize
  * (the d57/d60 precedent).
  */
object DataQueries10 extends QueryModule {

  /** Lloyd iterations for d89. Small and fixed so the unrolled DuckDB
    * oracle stays readable; each round is O(1) jobs of corpus-wide narrow
    * work + one 256-row driver collect.
    */
  private[graft] val KmRounds = 3

  /** Embeddings with components quantized to q6 longs ONCE at load. Every
    * downstream distance/update is exact integer arithmetic, so the whole
    * training loop is engine- and partition-order-exact: squared distances
    * are sums of (xq-cq)^2 <= 64 * (2e7)^2 ~ 2.6e16 per vector — Long-safe.
    */
  private[queries] def kmQuant(s: SparkSession, dir: String): DataFrame =
    embs(s, dir).select(col("vec_id"),
      expr("transform(embedding, x -> cast(floor(cast(x as double) * 1000000.0) as bigint))")
        .as("xq"))

  /** Exact integer squared Euclidean distance between two q6-quantized
    * component arrays.
    */
  private[graft] def d2q(x: Column, c: Column): Column =
    // codegen'd kernel; value-identical to the previous
    // aggregate(zip_with(...)) fold (Long addition is order-free mod 2^64)
    // — this is the inner loop of the k-means/IVF/PQ/silhouette family and
    // the interpreted higher-order form dominated those queries' profiles
    graft.functions.prom.vec_sqdist_q(x, c)

  /** ADC table for the IVF-PQ path (d94/d95): per (qid, vec_id) the
    * 8-subspace sum of distance-table lookups keyed by the vector's PQ
    * codes. One shared sub-distance relation feeds both the code argmin and
    * the 256-row broadcast distance tables.
    */
  private[queries] def pqAdc(s: SparkSession, dir: String): DataFrame = {
    val sub = kmQuant(s, dir)
      .select(col("vec_id"), explode(expr(
        "transform(sequence(0, 7), m -> struct(m AS m, slice(xq, m*8+1, 8) AS sv))")).as("s"))
      .select(col("vec_id"), col("s.m").as("m"), col("s.sv").as("sv"))
    val cent = sub.filter(col("vec_id") < 4)
      .select(col("vec_id").as("cid"), col("m"), col("sv").as("cv"))
    val sc = sub.join(broadcast(cent), Seq("m"))
      .select(col("vec_id"), col("m"), col("cid"), d2q(col("sv"), col("cv")).as("d2"))
    val codes = sc.groupBy(col("vec_id"), col("m"))
      .agg(min(struct(col("d2"), col("cid"))).as("a"))
      .select(col("vec_id"), col("m").as("cm"), col("a.cid").as("code"))
    val dt = sc.filter(col("vec_id") >= 8 && col("vec_id") < 16)
      .select(col("vec_id").as("qid"), col("m"), col("cid"), col("d2").as("dq"))
    codes.join(broadcast(dt),
        col("cm") === col("m") && col("code") === col("cid"))
      .filter(col("vec_id") =!= col("qid"))
      .groupBy(col("qid"), col("vec_id")).agg(sum(col("dq")).as("adc"))
  }

  /** Exact integer distances from every corpus vector to each of the 8
    * probe queries (the ground-truth side of d94/d95).
    */
  private[queries] def pqExact(s: SparkSession, dir: String): DataFrame = {
    val full = kmQuant(s, dir)
    val qfull = full.filter(col("vec_id") >= 8 && col("vec_id") < 16)
      .select(col("vec_id").as("qid"), col("xq").as("qx"))
    full.join(broadcast(qfull), col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"), d2q(col("xq"), col("qx")).as("d2"))
  }

  val queries: Map[String, Q] = Map[String, Q](
    // the FULL k-means training loop (Lloyd's algorithm) — d18 is one
    // step; a real clustering job iterates assign -> update to (near)
    // convergence. Per round: assignment is a broadcast of 4 quantized
    // centroids + one min-struct argmin rollup; the centroid update is one
    // partial-aggregatable (cell, dim) rollup whose 256-row result is the
    // ONLY thing the driver ever collects (the d76/d15 driver-loop
    // discipline). Centroids live as floor(mean)-quantized longs, so every
    // round's distances, counts and inertia are exact integers and the
    // loop is bit-reproducible across engines — the property that lets the
    // unrolled DuckDB oracle vouch for an iterative algorithm at all. A
    // cluster that loses all members keeps its previous centroid (total
    // update rule, mirrored by the oracle's LEFT JOIN + COALESCE).
    "d89_kmeans_train" -> { (s: SparkSession, dir: String) =>
      import s.implicits._
      val e = kmQuant(s, dir).persist()
      var cents: Seq[(Long, Seq[Long])] = e.filter(col("vec_id") < 4)
        .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toSeq)).sortBy(_._1).toSeq
      val stats = Seq.newBuilder[(Long, Long, Long, Long)]
      for (r <- 1 to KmRounds) {
        val cdf = broadcast(cents.toDF("cid", "cq"))
        val assigned = e.crossJoin(cdf)
          .select(col("vec_id"), col("cid"), d2q(col("xq"), col("cq")).as("d2"))
          .groupBy("vec_id").agg(min(struct(col("d2"), col("cid"))).as("a"))
          .select(col("vec_id"), col("a.cid").as("cell"), col("a.d2").as("d2"))
          .persist()
        assigned.groupBy(col("cell"))
          .agg(count(lit(1)).as("n"), sum(col("d2")).as("inertia"))
          .collect().foreach(row =>
            stats += ((r.toLong, row.getLong(0), row.getLong(1), row.getLong(2))))
        val upd = assigned.join(e, "vec_id")
          .select(col("cell"), posexplode(col("xq")).as(Seq("dim", "x")))
          .groupBy(col("cell"), col("dim"))
          .agg(floor(sum(col("x")) / count(lit(1))).cast("long").as("c"))
          .collect()
          .map(row => ((row.getLong(0), row.getInt(1)), row.getLong(2))).toMap
        cents = cents.map { case (cid, cq) =>
          (cid, cq.indices.map(i => upd.getOrElse((cid, i), cq(i))))
        }
        assigned.unpersist(blocking = false)
      }
      e.unpersist(blocking = false)
      stats.result().toDF("round", "cluster", "n", "inertia")
        .orderBy("round", "cluster")
    },

    // per-source unigram KL divergence to the corpus mixture — the
    // data-mixing diagnostic (DoReMi/DSIR-family reads): how far each
    // source's token distribution sits from the blend the model will
    // actually train on. Shape: both count tables are vocab-bounded, the
    // (source, word) x word join is an equi-join of two vocab-sized
    // relations (never corpus-sized), per-source totals are a
    // few-row broadcast, and the per-word term P*ln(P/Q) is quantized to
    // 1e-9 BEFORE the per-source sum (ln ulp skew ~1e-16 relative cannot
    // cross a q9 floor — the d57 argument with margin).
    "d90_source_kl" -> { (s: SparkSession, dir: String) =>
      val tk = docs(s, dir)
        .select(col("source"), explode(split(col("text"), " ")).as("w"))
        .filter(length(col("w")) >= 1)
      val cs = tk.groupBy(col("source"), col("w")).agg(count(lit(1)).as("cws"))
      val cw = tk.groupBy(col("w")).agg(count(lit(1)).as("cw"))
      val ns = cs.groupBy(col("source")).agg(sum(col("cws")).as("n_tokens"))
      val n = cw.agg(sum(col("cw")).as("n"))
      val terms = cs.join(cw, "w")
        .join(broadcast(ns), "source")
        .crossJoin(broadcast(n))
        .select(col("source"),
          floor((col("cws").cast("double") / col("n_tokens"))
            * log((col("cws").cast("double") * col("n"))
              / (col("cw").cast("double") * col("n_tokens")))
            * lit(1000000000.0)).cast("long").as("tq"))
      terms.groupBy(col("source"))
        .agg(count(lit(1)).as("n_types"), sum(col("tq")).as("kl_q9"))
        .join(broadcast(ns), "source")
        .select(col("source"), col("n_tokens"), col("n_types"), col("kl_q9"))
        .orderBy("source")
    },

    // the dedup-rate SCALING curve: exact-dup density and LSH candidate
    // pair count within the first k documents, k in {125, 250, 500} — the
    // extrapolation read behind "what does dedup buy at 10x the crawl"
    // (dup density GROWS with corpus size; a pilot-scale measurement
    // understates the savings). Signatures and band buckets are computed
    // ONCE over the full corpus; each prefix is a filter on the results
    // (bucket membership is per-doc, so prefix-filtered pairs == pairs of
    // a prefix-only run — no per-k recompute). All outputs exact integers.
    "d91_dedup_scaling" -> { (s: SparkSession, dir: String) =>
      import s.implicits._
      val ks = broadcast(Seq(125L, 250L, 500L).toDF("k"))
      val d = docs(s, dir).select(col("doc_id"), md5(col("text")).as("h"))
      val pre = d.join(ks, col("doc_id") < col("k"))
      val nd = pre.groupBy(col("k")).agg(count(lit(1)).as("n_docs"))
      val ed = pre.groupBy(col("k"), col("h")).agg(count(lit(1)).as("c"))
        .groupBy(col("k"))
        .agg(sum(col("c") - 1).as("exact_dups"), count(lit(1)).as("distinct_texts"))
      val np = DataQueries.minhashPairs(s, dir)
        .join(ks, col("b") < col("k"))
        .groupBy(col("k")).agg(count(lit(1)).as("near_pairs"))
      nd.join(ed, "k").join(np, Seq("k"), "left")
        .select(col("k"), col("n_docs"), col("distinct_texts"), col("exact_dups"),
          floor(col("exact_dups") * lit(1000000L) / col("n_docs")).cast("long")
            .as("dup_frac_q6"),
          coalesce(col("near_pairs"), lit(0L)).as("near_pairs"))
        .orderBy("k")
    },

    // IVF-PQ ADC search — the compressed serving path a 100 TB ANN tier
    // actually runs (Jégou et al. §IV): corpus vectors are searched by
    // their 8-subspace PQ CODES, never their components. Per probe query a
    // 8x4 distance TABLE (query subvector -> each sub-centroid, exact
    // integer squared distance on q6-quantized components) is broadcast
    // (256 rows total for the 8-query probe set); the asymmetric distance
    // (ADC) of a corpus vector is the 8-way sum of table lookups keyed by
    // its codes — one equi-join on (m, code) + one (qid, vec) rollup,
    // priced on |corpus|x8 code rows, not |corpus|x64 components. Audited
    // against the exact top-3 by full integer distance (hits_pq = ADC
    // recall@3) — the d55/d75 recall frame for the compressed regime —
    // plus nn1_rank, the ADC rank of the TRUE nearest neighbor: the
    // refinement-depth read ("how deep must the exact rerank stage go to
    // recover NN1") that sizes the rerank window a two-stage IVF-PQ
    // deployment actually ships. One shared sub-distance relation feeds
    // BOTH the code assignment and the distance tables, so the codebook is
    // scanned once.
    "d94_ivfpq_search" -> { (s: SparkSession, dir: String) =>
      // r22 (guide §3): the per-qid result fragments (≤ 8 rows each) are
      // broadcast-hinted so the final stitches plan as BroadcastHashJoin
      // instead of sorting 8-row frames into an SMJ. Persisting ar/exr for
      // their two consumers was tried and REJECTED on cold measurement
      // (d94 1.07 → 1.16 s min-of-3-cold: the columnar cache build of the
      // ranked tables costs more than re-running the codebook join +
      // window over this table — the q13/r21 cheap-to-recompute rule).
      val adc = pqAdc(s, dir)
      val wa = Window.partitionBy(col("qid")).orderBy(col("adc"), col("vec_id"))
      val ar = adc.withColumn("rk", row_number().over(wa))
      val atop = ar.filter(col("rk") <= 3).select(col("qid"), col("vec_id"))
      val ex = pqExact(s, dir)
      val we = Window.partitionBy(col("qid")).orderBy(col("d2"), col("vec_id"))
      val exr = ex.withColumn("rk", row_number().over(we))
      val etop = exr.filter(col("rk") <= 3).select(col("qid"), col("vec_id"))
      val nn1rank = exr.filter(col("rk") === 1).select(col("qid"), col("vec_id"))
        .join(ar.select(col("qid"), col("vec_id"), col("rk")), Seq("qid", "vec_id"))
        .select(col("qid"), col("rk").cast("long").as("nn1_rank"))
      etop.groupBy(col("qid")).agg(count(lit(1)).as("k"))
        .join(broadcast(etop.join(atop, Seq("qid", "vec_id"), "left_semi")
          .groupBy(col("qid")).agg(count(lit(1)).as("hits_pq"))), Seq("qid"), "left")
        .join(broadcast(nn1rank), Seq("qid"))
        .select(col("qid"), col("k"),
          coalesce(col("hits_pq"), lit(0L)).as("hits_pq"), col("nn1_rank"))
        .orderBy("qid")
    },

    // TWO-STAGE IVF-PQ search: ADC shortlist -> exact rerank — the
    // deployment answer to d94's nn1_rank finding (coarse codebook => NN1
    // hides at ADC rank up to ~450): shortlist the top R by compressed
    // distance, recompute EXACT distances only for those R rows, re-rank,
    // and report recall@3 at R = 8 and R = 32 beside the raw ADC recall.
    // The exact recompute is priced on |queries| x R rows (a semi-join
    // of the bounded shortlist against the corpus), never the corpus —
    // the read that tells a serving team what rerank depth buys back.
    "d95_adc_rerank" -> { (s: SparkSession, dir: String) =>
      // r22 (guide §3): the rerank shortlists are ≤ |queries|·R rows, so
      // they broadcast into the exact table (BroadcastHashJoin) instead of
      // shuffling/sorting the corpus-sized side into an SMJ; the per-qid
      // hit counts (≤ 8 rows) broadcast into the final stitches.
      // Persisting ar/ex/etop for their 3-4 consumers was tried and
      // REJECTED on cold measurement (1.28 → 1.71 s min-of-3-cold: the
      // cache build of the |corpus|x8-row kernel outputs costs more than
      // recomputing them — the q13/r21 cheap-to-recompute rule).
      val adc = pqAdc(s, dir)
      val wa = Window.partitionBy(col("qid")).orderBy(col("adc"), col("vec_id"))
      val ar = adc.withColumn("ark", row_number().over(wa))
      val ex = pqExact(s, dir)
      val we = Window.partitionBy(col("qid")).orderBy(col("d2"), col("vec_id"))
      val etop = ex.withColumn("rk", row_number().over(we))
        .filter(col("rk") <= 3).select(col("qid"), col("vec_id"))
      // (r22 note: broadcast-hinting `cand` into the exact join was tried
      // and REJECTED on cold measurement (1.25 → 1.69 s min-of-3-cold):
      // the BroadcastExchange serializes the whole ADC+rank subtree
      // through the driver before the probe side starts, where the SMJ
      // lets both sides compute concurrently.)
      def rerank(r: Int): DataFrame = {
        val cand = ar.filter(col("ark") <= r).select(col("qid"), col("vec_id"))
        val rr = cand.join(ex, Seq("qid", "vec_id"))
        val w = Window.partitionBy(col("qid")).orderBy(col("d2"), col("vec_id"))
        rr.withColumn("rrk", row_number().over(w)).filter(col("rrk") <= 3)
          .select(col("qid"), col("vec_id"))
      }
      def hits(top: DataFrame, name: String): DataFrame =
        etop.join(top, Seq("qid", "vec_id"), "left_semi")
          .groupBy(col("qid")).agg(count(lit(1)).as(name))
      val atop = ar.filter(col("ark") <= 3).select(col("qid"), col("vec_id"))
      etop.groupBy(col("qid")).agg(count(lit(1)).as("k"))
        .join(broadcast(hits(atop, "hits_adc")), Seq("qid"), "left")
        .join(broadcast(hits(rerank(8), "hits_r8")), Seq("qid"), "left")
        .join(broadcast(hits(rerank(32), "hits_r32")), Seq("qid"), "left")
        .select(col("qid"), col("k"),
          coalesce(col("hits_adc"), lit(0L)).as("hits_adc"),
          coalesce(col("hits_r8"), lit(0L)).as("hits_r8"),
          coalesce(col("hits_r32"), lit(0L)).as("hits_r32"))
        .orderBy("qid")
    },

    // empirical LSH S-curve / miss audit — the measurement behind the
    // dedup pipeline's recall claim: which Jaccard mass does the 4-band x
    // 4-row config actually flag, and what does it MISS? Probe set =
    // deterministic offset pairs (doc_id, doc_id+o), o in {1, 3, 17} —
    // linear in the corpus, replay-stable — UNION the LSH candidates
    // themselves (so both tails of the S-curve are populated). Exact
    // Jaccard per probe pair via the d87 shingle equi-join shape (priced
    // on |probe| x shingles, never corpus^2); `flagged` = membership in
    // the candidate set. Output: per jacc decile, pair count and flagged
    // count — the false-negative profile a tuning pass reads before
    // trusting LSH at 100 TB.
    "d97_lsh_miss_audit" -> { (s: SparkSession, dir: String) =>
      import s.implicits._
      val ids = docs(s, dir).select(col("doc_id"))
      val cand = DataQueries.minhashPairs(s, dir)
      val offsets = broadcast(Seq(1L, 3L, 17L).toDF("o"))
      val probes = ids.crossJoin(offsets)
        .select(col("doc_id").as("a"), (col("doc_id") + col("o")).as("b"))
        .join(ids.select(col("doc_id").as("b")), Seq("b"), "left_semi")
        // the using-join moves `b` first — re-project before the POSITIONAL
        // union or the branches stack swapped
        .select(col("a"), col("b"))
        .unionAll(cand.select(col("a"), col("b")))
        .distinct()
      val sh = docs(s, dir).select(col("doc_id"),
        explode(array_distinct(graft.functions.prom.shingle_g(col("text"), 3))).as("g"))
      val sz = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
      val iv = probes
        .join(sh.select(col("doc_id").as("a"), col("g")), Seq("a"))
        .join(sh.select(col("doc_id").as("b"), col("g")), Seq("b", "g"))
        .groupBy(col("a"), col("b")).agg(count(lit(1)).as("inter"))
      val scored = probes
        .join(sz.select(col("doc_id").as("a"), col("n").as("na")), Seq("a"))
        .join(sz.select(col("doc_id").as("b"), col("n").as("nb")), Seq("b"))
        .join(iv, Seq("a", "b"), "left")
        .join(cand.select(col("a"), col("b"), lit(1L).as("fl")), Seq("a", "b"), "left")
        .select(
          floor(coalesce(col("inter"), lit(0L)) * lit(1000000L) /
            (col("na") + col("nb") - coalesce(col("inter"), lit(0L))))
            .cast("long").as("jq"),
          coalesce(col("fl"), lit(0L)).as("fl"))
      scored
        .groupBy(least(floor(col("jq") / 100000L), lit(9L)).cast("long").as("bucket"))
        .agg(count(lit(1)).as("n_pairs"), sum(col("fl")).as("n_flagged"))
        .orderBy("bucket")
    },

    // two-sample Kolmogorov–Smirnov drift test, per source vs the REST of
    // the corpus, over doc token counts — the distribution-drift monitor a
    // multi-source ingest runs before a new crawl shifts the length mix.
    // The D statistic is computed exactly in integers: at every distinct
    // length v (value-domain-bounded), D_num(v) = |cum_s(v)*n_rest -
    // cum_rest(v)*n_s|; ks_q6 = floor(max_v D_num * 1e6 / (n_s*n_rest)).
    // The step functions are evaluated on the source x distinct-value GRID
    // (|sources| x |lengths| rows — bounded, never corpus-sized) so each
    // side's CDF is defined at every jump point of either; the windows run
    // over that grid, the corpus is touched by exactly two narrow rollups.
    "d96_ks_drift" -> { (s: SparkSession, dir: String) =>
      val lens = docs(s, dir).select(col("source"),
        size(split(col("text"), " ")).cast("long").as("v"))
      val sv = lens.groupBy(col("source"), col("v")).agg(count(lit(1)).as("c"))
      val vals = lens.select(col("v")).distinct()
      val srcs = sv.groupBy(col("source")).agg(sum(col("c")).as("n_s"))
      val tot = srcs.agg(sum(col("n_s")).as("n"))
      val grid = srcs.crossJoin(broadcast(tot)).crossJoin(broadcast(vals))
        .join(sv, Seq("source", "v"), "left")
        .select(col("source"), col("v"), col("n_s"), col("n"),
          coalesce(col("c"), lit(0L)).as("c"))
      val wc = Window.partitionBy(col("source")).orderBy(col("v"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      // the grid is complete (every source x every value), so the global
      // CDF at v is the sum of per-source CDFs at v — one partition-by-v
      // window over the grid, no second corpus pass
      val cums = grid
        .withColumn("cum_s", sum(col("c")).over(wc))
        .withColumn("cum_all",
          sum(col("cum_s")).over(Window.partitionBy(col("v"))))
      cums
        .select(col("source"), col("n_s"), (col("n") - col("n_s")).as("n_rest"),
          abs(col("cum_s") * (col("n") - col("n_s"))
            - (col("cum_all") - col("cum_s")) * col("n_s")).as("dnum"))
        .groupBy(col("source"), col("n_s"), col("n_rest"))
        .agg(max(col("dnum")).as("mx"))
        .select(col("source"), col("n_s"), col("n_rest"),
          floor(col("mx") * lit(1000000L) / (col("n_s") * col("n_rest")))
            .cast("long").as("ks_q6"))
        .orderBy("source")
    },

    // dup↔quality interaction — the hypothesis test behind "dedup removes
    // low-quality boilerplate": do near-dup-clustered docs differ from
    // singletons in length and stopword rate? Composes the shared d15
    // clusters (memoized connected components) with d06's quality
    // expressions; per-doc rates are floor-quantized BEFORE the per-group
    // mean (sum of longs / count, floored — accumulation-order-exact), so
    // the 2-row answer is engine-exact. One narrow quality projection +
    // one broadcast-scale left join + one 2-group rollup.
    "d100_dup_quality" -> { (s: SparkSession, dir: String) =>
      val nTok = size(split(col("text"), " ")).cast("long")
      val nStop = size(regexp_extract_all(col("text"),
        lit("\\b(the|a|of|and|to)\\b"), lit(0))).cast("long")
      val q = docs(s, dir).select(col("doc_id"), nTok.as("nt"),
        floor(nStop * lit(1000000L) / nTok).cast("long").as("stop_q6"))
      val cl = DataQueries3.dedupClusters(s, dir).select(col("doc_id"), lit(1).as("m"))
      q.join(cl, Seq("doc_id"), "left")
        .select(when(col("m").isNotNull, "clustered").otherwise("singleton")
          .as("status"), col("nt"), col("stop_q6"))
        .groupBy(col("status"))
        .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("tokens"),
          sum(col("stop_q6")).as("ssq"))
        .select(col("status"), col("n_docs"), col("tokens"),
          floor(col("tokens") * lit(1000000L) / col("n_docs")).cast("long")
            .as("mean_len_q6"),
          floor(col("ssq") / col("n_docs")).cast("long").as("mean_stop_q6"))
        .orderBy("status")
    },

    // media near-dup by shared frame hashes — the d81/d03 bucket-candidate
    // discipline applied to the MULTIMODAL path: sample frames (m02's
    // per-partition stub codec; a real decoder swaps in without touching
    // the plan — m11 IS that swap, feeding the same valve/pair tail a
    // codec-derived dHash from decoded GIF pixels), df-valve the frame
    // hashes (2..16 — ubiquitous intro/outro frames never explode the
    // join), pair media sharing >= 2 hashes, and score overlap against
    // the smaller item's distinct-frame count (containment, the d63
    // convention). At 100 TB the candidate join is priced on valved
    // frame-hash buckets — never media x media.
    "m05_media_neardup" -> { (s: SparkSession, dir: String) =>
      // thin binding of the public operators/MediaDedup API (the TextDedup
      // pattern — the oracle gate verifies the public operator, not a
      // query-local plan): distinct stub frame hashes in, the valve/pair/
      // containment tail from MediaDedup.sharedHashPairs
      val fr = graft.operators.Multimodal.sampleFrames(
        graft.operators.Multimodal.mediaFromDocuments(docs(s, dir))).toDF()
        .select(col("doc_id"), col("phash")).distinct()
      graft.operators.MediaDedup
        .sharedHashPairs(fr, "doc_id", "phash", dfMin = 2, dfMax = 16, minShared = 2)
        .orderBy("a", "b")
    },

    // shard-balance audit — the partition-key health check run BEFORE
    // choosing how to lay 100 TB out: token load per shard under doc-id
    // hash-sharding at 8/32/128 shards vs keying by `source` (the natural
    // but skew-prone choice). imbalance_q6 = floor(max_load * n_shards *
    // 1e6 / total) — 1e6 means perfectly even, and the by-source row
    // quantifies exactly the skew a salted or hash key dissolves (the q14
    // lever, justified with numbers). One corpus rollup to doc-level
    // loads; every scheme is a bounded re-aggregation of that table.
    "d99_shard_balance" -> { (s: SparkSession, dir: String) =>
      val dl = docs(s, dir).select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("t"))
      val tot = dl.agg(sum(col("t")).as("total"))
      def hashScheme(n: Int): DataFrame = dl
        .groupBy((conv(substring(md5(col("doc_id").cast("string")), 1, 15), 16, 10)
          .cast("long") % n).as("shard"))
        .agg(sum(col("t")).as("load"))
        .agg(max(col("load")).as("max_load"), count(lit(1)).as("used"))
        .crossJoin(broadcast(tot))
        .select(lit(s"hash$n").as("scheme"), lit(n.toLong).as("n_shards"),
          col("used"), col("max_load"),
          floor(col("max_load") * lit(n.toLong) * lit(1000000L) / col("total"))
            .cast("long").as("imbalance_q6"))
      val bySource = dl.groupBy(col("source")).agg(sum(col("t")).as("load"))
        .agg(max(col("load")).as("max_load"), count(lit(1)).as("n_src"))
        .crossJoin(broadcast(tot))
        .select(lit("by_source").as("scheme"), col("n_src").as("n_shards"),
          col("n_src").as("used"), col("max_load"),
          floor(col("max_load") * col("n_src") * lit(1000000L) / col("total"))
            .cast("long").as("imbalance_q6"))
      Seq(8, 32, 128).map(hashScheme).reduce(_ unionAll _)
        .unionAll(bySource)
        .orderBy("scheme")
    },

    // the CORPUS CARD — the one-row release report a dataset ships
    // (docs/tokens/vocab, source+lang spread, exact-dup docs, LSH
    // candidate pairs, exact median length, quality keep-rate): every
    // sub-metric keeps its own scale shape and lands as a ONE-ROW
    // relation, composed by broadcast cross joins at the end. Each
    // distinct-count is its own two-phase aggregation (the q13 lesson:
    // multiple distincts in one agg Expand-duplicates every input row);
    // the median is the exact d92 rank read over the value histogram; the
    // keep-rate reuses the d39 TextQuality rules so the card can never
    // drift from the filter actually deployed.
    "d98_corpus_card" -> { (s: SparkSession, dir: String) =>
      val d = docs(s, dir)
      val toks = d.select(explode(split(col("text"), " ")).as("w"))
        .filter(length(col("w")) >= 1)
      val nDocs = d.agg(count(lit(1)).as("n_docs"))
      val nTok = toks.agg(count(lit(1)).as("n_tokens"))
      val vocab = toks.distinct().agg(count(lit(1)).as("vocab"))
      val nSrc = d.select(col("source")).distinct()
        .agg(count(lit(1)).as("n_sources"))
      val nLang = d.select(col("lang")).distinct()
        .agg(count(lit(1)).as("n_langs"))
      val dups = d.select(md5(col("text")).as("h")).distinct()
        .agg(count(lit(1)).as("distinct_texts"))
      val pairs = DataQueries.minhashPairs(s, dir)
        .agg(count(lit(1)).as("near_dup_pairs"))
      val lens = d.select(size(split(col("text"), " ")).cast("long").as("v"))
      val cum = lens.groupBy(col("v")).agg(count(lit(1)).as("c"))
        .select(col("v"), sum(col("c")).over(Window.orderBy(col("v"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)).as("cum"))
      val med = cum.crossJoin(broadcast(nDocs))
        .filter(col("cum") * 2 >= col("n_docs"))
        .agg(min(col("v")).as("median_len"))
      val kept = graft.operators.TextQuality.withQualityRules(d, "text")
        .agg(sum(when(col("keep"), 1L).otherwise(0L)).as("kept"))
      nDocs.crossJoin(nTok).crossJoin(vocab).crossJoin(nSrc).crossJoin(nLang)
        .crossJoin(dups).crossJoin(pairs).crossJoin(med).crossJoin(kept)
        .select(col("n_docs"), col("n_tokens"), col("vocab"),
          col("n_sources"), col("n_langs"),
          (col("n_docs") - col("distinct_texts")).as("exact_dup_docs"),
          col("near_dup_pairs"), col("median_len"),
          floor(col("n_tokens") * lit(1000000L) / col("n_docs")).cast("long")
            .as("mean_len_q6"),
          floor(col("kept") * lit(1000000L) / col("n_docs")).cast("long")
            .as("keep_rate_q6"))
    },

    // PageRank over the near-dup similarity graph — graph centrality as a
    // CANONICAL-DOCUMENT signal: in a near-dup cluster the most-connected
    // doc is the best representative (an authority read d66's min-id rule
    // lacks). Damping 0.85, 3 rounds, unrolled as chained shuffles on dst
    // (the classic Pregel/GraphX unroll — Catalyst sees ONE composed plan;
    // nothing but the node count ever reaches the driver). Ranks are q9
    // longs with per-EDGE floor quantization before the per-node sum, so
    // every round is accumulation-order-exact; isolated docs receive only
    // the teleport term; dangling-mass leak is accepted (standard
    // simplification — this is a relative-authority read, not a
    // probability). Edge list = the d02 LSH candidates, symmetrized —
    // degree-bounded by the band df valve, so messages are priced on
    // |candidates|, never |docs|^2.
    "d93_pagerank" -> { (s: SparkSession, dir: String) =>
      // r22 (guide §5): the two unionAll branches of `edges` each re-ran
      // the FULL LSH candidate pipeline (cold-measured: the d02 subtree
      // twice per execution) — persist the pair list once and let both
      // branches read the cache; `deg` is consumed by all 3 message rounds
      // plus the final degree join (4 references), so the one-shuffle
      // degree rollup is cached too instead of re-aggregating per round
      val pairs = graft.sources.Caches.ephemeral(DataQueries.minhashPairs(s, dir))
      val edges = pairs.select(col("a").as("src"), col("b").as("dst"))
        .unionAll(pairs.select(col("b").as("src"), col("a").as("dst")))
        .transform(graft.sources.Caches.ephemeral)
      val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
        .transform(graft.sources.Caches.ephemeral)
      val nodes = docs(s, dir).select(col("doc_id"))
      val n = nodes.count()
      val teleport = floor(lit(150000000L) / lit(n)).cast("long")
      var pr = nodes.select(col("doc_id"),
        floor(lit(1000000000L) / lit(n)).cast("long").as("pr"))
      for (_ <- 1 to 3) {
        val msgs = edges.join(deg, "src")
          .join(pr.withColumnRenamed("doc_id", "src"), "src")
          .select(col("dst"),
            floor(col("pr") * 17 / (col("deg") * 20)).cast("long").as("m"))
          .groupBy(col("dst")).agg(sum(col("m")).as("msum"))
        pr = nodes.join(msgs, nodes("doc_id") === msgs("dst"), "left")
          .select(col("doc_id"),
            (coalesce(col("msum"), lit(0L)) + teleport).as("pr"))
      }
      val out = pr.join(deg, pr("doc_id") === deg("src"), "left")
        .select(col("doc_id"), coalesce(col("deg"), lit(0L)).as("deg"),
          col("pr").as("pr_q9"))
        .orderBy("doc_id")
      out
    },

    // mergeable histogram-quantile sketch audit — the d82 (CMS)
    // estimate-vs-exact frame applied to quantiles: a fixed 64-bin
    // width-16 histogram over doc token counts (histograms merge by
    // vector add — the per-shard sketch a streaming length-monitor keeps),
    // quantile estimate = upper edge of the bin where the cumulative count
    // crosses ceil(p*N/100), audited against the exact type-1 quantile
    // from the VALUE histogram. Both paths are integer counts end-to-end.
    // Scale shape: corpus work is one narrow map + two bounded rollups
    // (64 bins / |distinct lengths| rows); the cumulative windows run over
    // those bounded tables, never the corpus, and the 4-row p-table joins
    // are broadcast nested loops over bounded sketches.
    "d92_hist_quantiles" -> { (s: SparkSession, dir: String) =>
      import s.implicits._
      val lens = docs(s, dir)
        .select(size(split(col("text"), " ")).cast("long").as("n_tok"))
      val n = broadcast(lens.agg(count(lit(1)).as("n")))
      val vh = lens.groupBy(col("n_tok")).agg(count(lit(1)).as("c"))
      val cum = vh.select(col("n_tok"),
        sum(col("c")).over(Window.orderBy(col("n_tok"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)).as("cum"))
      val bcum = vh
        .select(least(floor(col("n_tok") / 16), lit(63L)).cast("long").as("bin"), col("c"))
        .groupBy(col("bin")).agg(sum(col("c")).as("bc"))
        .select(col("bin"),
          sum(col("bc")).over(Window.orderBy(col("bin"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)).as("cum"))
      val rk = broadcast(Seq(25L, 50L, 75L, 90L).toDF("p").crossJoin(n)
        .select(col("p"), ceil(col("p") * col("n") / lit(100)).cast("long").as("rk")))
      val est = rk.join(bcum, col("cum") >= col("rk"))
        .groupBy(col("p")).agg(((min(col("bin")) + 1) * 16).as("est"))
      val ex = rk.join(cum, col("cum") >= col("rk"))
        .groupBy(col("p")).agg(min(col("n_tok")).as("exact"))
      est.join(ex, "p")
        .select(col("p"), col("est"), col("exact"),
          (col("est") - col("exact")).as("err"))
        .orderBy("p")
    }
  )

  /** The d89 oracle unrolls the loop: per round an assignment CTE (argmin
    * over exact integer distances) and an update CTE (floor-mean per
    * (cell, dim), LEFT JOIN so empty cells keep their previous centroid),
    * identical arithmetic to the Spark loop.
    */
  private def kmOracle: String = {
    val base =
      """e AS (SELECT vec_id, [CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT) FOR x IN embedding] AS xq FROM embeddings),
        |c0 AS (SELECT vec_id AS cid, xq AS cq FROM e WHERE vec_id < 4)""".stripMargin
    val rounds = (1 to KmRounds).map { r =>
      s"""s$r AS (SELECT e.vec_id, c.cid,
         |    list_reduce(list_prepend(CAST(0 AS BIGINT),
         |      [(e.xq[i] - c.cq[i]) * (e.xq[i] - c.cq[i]) FOR i IN generate_series(1, len(e.xq))]),
         |      (a, b) -> a + b) AS d2
         |  FROM e CROSS JOIN c${r - 1} c),
         |a$r AS (SELECT vec_id, cid AS cell, d2 FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn FROM s$r)
         |  WHERE rn = 1),
         |u$r AS (SELECT a.cell, i.i - 1 AS dim,
         |    CAST(floor(sum(e.xq[i.i]) / count(*)) AS BIGINT) AS c
         |  FROM a$r a JOIN e USING (vec_id),
         |    (SELECT unnest(generate_series(1, 64)) AS i) i
         |  GROUP BY a.cell, i.i),
         |c$r AS (SELECT pd.cid,
         |    list(COALESCE(u.c, pd.oldc) ORDER BY pd.i) AS cq
         |  FROM (SELECT p.cid, d.i, p.cq[d.i] AS oldc
         |        FROM c${r - 1} p, (SELECT unnest(generate_series(1, 64)) AS i) d) pd
         |  LEFT JOIN u$r u ON u.cell = pd.cid AND u.dim = pd.i - 1
         |  GROUP BY pd.cid)""".stripMargin
    }
    val selects = (1 to KmRounds).map { r =>
      s"""SELECT CAST($r AS BIGINT) AS round, cell AS cluster,
         |  CAST(count(*) AS BIGINT) AS n, CAST(sum(d2) AS BIGINT) AS inertia
         |FROM a$r GROUP BY cell""".stripMargin
    }
    s"WITH $base,\n${rounds.mkString(",\n")}\n${selects.mkString("\nUNION ALL\n")}\nORDER BY round, cluster"
  }

  val oracles: Map[String, String] = Map(
    "d89_kmeans_train" -> kmOracle,

    "d90_source_kl" ->
      """WITH t AS (SELECT source, unnest(string_split(text, ' ')) AS w FROM documents),
        |f AS (SELECT source, w FROM t WHERE length(w) >= 1),
        |cs AS (SELECT source, w, CAST(count(*) AS BIGINT) AS cws FROM f GROUP BY source, w),
        |cw AS (SELECT w, CAST(count(*) AS BIGINT) AS cw FROM f GROUP BY w),
        |ns AS (SELECT source, CAST(sum(cws) AS BIGINT) AS n_tokens FROM cs GROUP BY source),
        |n AS (SELECT CAST(sum(cw) AS BIGINT) AS n FROM cw),
        |q AS (SELECT cs.source,
        |    CAST(floor((CAST(cs.cws AS DOUBLE) / ns.n_tokens)
        |      * ln((CAST(cs.cws AS DOUBLE) * n.n) / (CAST(cw.cw AS DOUBLE) * ns.n_tokens))
        |      * 1000000000.0) AS BIGINT) AS tq
        |  FROM cs JOIN cw USING (w) JOIN ns USING (source), n)
        |SELECT q.source, ns.n_tokens, CAST(count(*) AS BIGINT) AS n_types,
        |  CAST(sum(tq) AS BIGINT) AS kl_q9
        |FROM q JOIN ns USING (source) GROUP BY q.source, ns.n_tokens
        |ORDER BY source""".stripMargin,

    "d91_dedup_scaling" ->
      (s"WITH ${DataQueries.minhashPairsCte}," +
        """ks AS (SELECT unnest([125, 250, 500]) AS k),
          |d AS (SELECT doc_id, md5(text) AS h FROM documents),
          |pre AS (SELECT ks.k, d.doc_id, d.h FROM d JOIN ks ON d.doc_id < ks.k),
          |nd AS (SELECT k, CAST(count(*) AS BIGINT) AS n_docs FROM pre GROUP BY k),
          |ed AS (SELECT k, CAST(sum(c - 1) AS BIGINT) AS exact_dups,
          |         CAST(count(*) AS BIGINT) AS distinct_texts
          |       FROM (SELECT k, h, count(*) AS c FROM pre GROUP BY k, h) GROUP BY k),
          |np AS (SELECT ks.k, CAST(count(*) AS BIGINT) AS near_pairs
          |       FROM pairs JOIN ks ON pairs.b < ks.k GROUP BY ks.k)
          |SELECT CAST(nd.k AS BIGINT) AS k, nd.n_docs, ed.distinct_texts, ed.exact_dups,
          |  CAST(floor(ed.exact_dups * 1000000.0 / nd.n_docs) AS BIGINT) AS dup_frac_q6,
          |  CAST(COALESCE(np.near_pairs, 0) AS BIGINT) AS near_pairs
          |FROM nd JOIN ed USING (k) LEFT JOIN np ON np.k = nd.k
          |ORDER BY k""".stripMargin),

    "d94_ivfpq_search" ->
      """WITH e AS (SELECT vec_id, [CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT) FOR x IN embedding] AS xq FROM embeddings),
        |sub AS (SELECT vec_id, m, xq[m*8+1 : m*8+8] AS sv
        |  FROM e, (SELECT unnest(generate_series(0, 7)) AS m)),
        |cent AS (SELECT vec_id AS cid, m, sv AS cv FROM sub WHERE vec_id < 4),
        |sc AS (SELECT s.vec_id, s.m, c.cid,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      [(s.sv[i] - c.cv[i]) * (s.sv[i] - c.cv[i]) FOR i IN generate_series(1, len(s.sv))]),
        |      (a, b) -> a + b) AS d2
        |  FROM sub s JOIN cent c USING (m)),
        |codes AS (SELECT vec_id, m, cid AS code FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id, m ORDER BY d2, cid) AS rn FROM sc)
        |  WHERE rn = 1),
        |dt AS (SELECT vec_id AS qid, m, cid, d2 AS dq FROM sc WHERE vec_id >= 8 AND vec_id < 16),
        |adc AS (SELECT d.qid, c.vec_id, CAST(sum(d.dq) AS BIGINT) AS adc
        |        FROM codes c JOIN dt d ON d.m = c.m AND d.cid = c.code
        |        WHERE c.vec_id <> d.qid GROUP BY d.qid, c.vec_id),
        |atop AS (SELECT qid, vec_id FROM (
        |    SELECT *, row_number() OVER (PARTITION BY qid ORDER BY adc, vec_id) AS rn FROM adc)
        |  WHERE rn <= 3),
        |fx AS (SELECT q.vec_id AS qid, x.vec_id,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      [(x.xq[i] - q.xq[i]) * (x.xq[i] - q.xq[i]) FOR i IN generate_series(1, len(x.xq))]),
        |      (a, b) -> a + b) AS d2
        |  FROM e x, e q WHERE q.vec_id >= 8 AND q.vec_id < 16 AND x.vec_id <> q.vec_id),
        |etop AS (SELECT qid, vec_id FROM (
        |    SELECT *, row_number() OVER (PARTITION BY qid ORDER BY d2, vec_id) AS rn FROM fx)
        |  WHERE rn <= 3),
        |hits AS (SELECT e1.qid, CAST(count(*) AS BIGINT) AS hits_pq
        |         FROM etop e1 JOIN atop a ON a.qid = e1.qid AND a.vec_id = e1.vec_id
        |         GROUP BY e1.qid),
        |nn1 AS (SELECT qid, vec_id FROM (
        |    SELECT *, row_number() OVER (PARTITION BY qid ORDER BY d2, vec_id) AS rn FROM fx)
        |  WHERE rn = 1),
        |ar AS (SELECT qid, vec_id, row_number() OVER (PARTITION BY qid ORDER BY adc, vec_id) AS rk FROM adc),
        |nr AS (SELECT nn1.qid, CAST(ar.rk AS BIGINT) AS nn1_rank
        |       FROM nn1 JOIN ar ON ar.qid = nn1.qid AND ar.vec_id = nn1.vec_id),
        |ks AS (SELECT qid, CAST(count(*) AS BIGINT) AS k FROM etop GROUP BY qid)
        |SELECT ks.qid, ks.k, CAST(COALESCE(hits.hits_pq, 0) AS BIGINT) AS hits_pq, nr.nn1_rank
        |FROM ks LEFT JOIN hits USING (qid) JOIN nr USING (qid)
        |ORDER BY ks.qid""".stripMargin,

    "d95_adc_rerank" ->
      """WITH e AS (SELECT vec_id, [CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT) FOR x IN embedding] AS xq FROM embeddings),
        |sub AS (SELECT vec_id, m, xq[m*8+1 : m*8+8] AS sv
        |  FROM e, (SELECT unnest(generate_series(0, 7)) AS m)),
        |cent AS (SELECT vec_id AS cid, m, sv AS cv FROM sub WHERE vec_id < 4),
        |sc AS (SELECT s.vec_id, s.m, c.cid,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      [(s.sv[i] - c.cv[i]) * (s.sv[i] - c.cv[i]) FOR i IN generate_series(1, len(s.sv))]),
        |      (a, b) -> a + b) AS d2
        |  FROM sub s JOIN cent c USING (m)),
        |codes AS (SELECT vec_id, m, cid AS code FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id, m ORDER BY d2, cid) AS rn FROM sc)
        |  WHERE rn = 1),
        |dt AS (SELECT vec_id AS qid, m, cid, d2 AS dq FROM sc WHERE vec_id >= 8 AND vec_id < 16),
        |adc AS (SELECT d.qid, c.vec_id, CAST(sum(d.dq) AS BIGINT) AS adc
        |        FROM codes c JOIN dt d ON d.m = c.m AND d.cid = c.code
        |        WHERE c.vec_id <> d.qid GROUP BY d.qid, c.vec_id),
        |ar AS (SELECT qid, vec_id, row_number() OVER (PARTITION BY qid ORDER BY adc, vec_id) AS ark FROM adc),
        |fx AS (SELECT q.vec_id AS qid, x.vec_id,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      [(x.xq[i] - q.xq[i]) * (x.xq[i] - q.xq[i]) FOR i IN generate_series(1, len(x.xq))]),
        |      (a, b) -> a + b) AS d2
        |  FROM e x, e q WHERE q.vec_id >= 8 AND q.vec_id < 16 AND x.vec_id <> q.vec_id),
        |etop AS (SELECT qid, vec_id FROM (
        |    SELECT *, row_number() OVER (PARTITION BY qid ORDER BY d2, vec_id) AS rn FROM fx)
        |  WHERE rn <= 3),
        |r8 AS (SELECT qid, vec_id FROM (
        |    SELECT a.qid, a.vec_id, row_number() OVER (PARTITION BY a.qid ORDER BY f.d2, a.vec_id) AS rrk
        |    FROM ar a JOIN fx f ON f.qid = a.qid AND f.vec_id = a.vec_id WHERE a.ark <= 8)
        |  WHERE rrk <= 3),
        |r32 AS (SELECT qid, vec_id FROM (
        |    SELECT a.qid, a.vec_id, row_number() OVER (PARTITION BY a.qid ORDER BY f.d2, a.vec_id) AS rrk
        |    FROM ar a JOIN fx f ON f.qid = a.qid AND f.vec_id = a.vec_id WHERE a.ark <= 32)
        |  WHERE rrk <= 3),
        |ha AS (SELECT e1.qid, CAST(count(*) AS BIGINT) AS hits_adc FROM etop e1
        |       JOIN ar a ON a.qid = e1.qid AND a.vec_id = e1.vec_id AND a.ark <= 3 GROUP BY e1.qid),
        |h8 AS (SELECT e1.qid, CAST(count(*) AS BIGINT) AS hits_r8 FROM etop e1
        |       JOIN r8 ON r8.qid = e1.qid AND r8.vec_id = e1.vec_id GROUP BY e1.qid),
        |h32 AS (SELECT e1.qid, CAST(count(*) AS BIGINT) AS hits_r32 FROM etop e1
        |        JOIN r32 ON r32.qid = e1.qid AND r32.vec_id = e1.vec_id GROUP BY e1.qid),
        |ks AS (SELECT qid, CAST(count(*) AS BIGINT) AS k FROM etop GROUP BY qid)
        |SELECT ks.qid, ks.k,
        |  CAST(COALESCE(ha.hits_adc, 0) AS BIGINT) AS hits_adc,
        |  CAST(COALESCE(h8.hits_r8, 0) AS BIGINT) AS hits_r8,
        |  CAST(COALESCE(h32.hits_r32, 0) AS BIGINT) AS hits_r32
        |FROM ks LEFT JOIN ha USING (qid) LEFT JOIN h8 USING (qid) LEFT JOIN h32 USING (qid)
        |ORDER BY ks.qid""".stripMargin,

    "d100_dup_quality" ->
      ("WITH RECURSIVE " + DataQueries.minhashPairsCte + """,
        |edges AS (SELECT a AS u, b AS v FROM pairs UNION ALL SELECT b, a FROM pairs),
        |nodes AS (SELECT DISTINCT u AS n FROM edges),
        |walk(n, l) AS (
        |  SELECT n, n FROM nodes
        |  UNION
        |  SELECT e.v, w.l FROM walk w JOIN edges e ON e.u = w.n),
        |cl AS (SELECT n AS doc_id, min(l) AS cluster FROM walk GROUP BY n),
        |q AS (SELECT d.doc_id,
        |    CAST(len(string_split(d.text, ' ')) AS BIGINT) AS nt,
        |    CAST(floor(len(regexp_extract_all(d.text, '\b(the|a|of|and|to)\b')) * 1000000.0
        |      / len(string_split(d.text, ' '))) AS BIGINT) AS stop_q6,
        |    CASE WHEN cl.doc_id IS NULL THEN 'singleton' ELSE 'clustered' END AS status
        |  FROM documents d LEFT JOIN cl ON cl.doc_id = d.doc_id)
        |SELECT status, CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(nt) AS BIGINT) AS tokens,
        |  CAST(floor(sum(nt) * 1000000.0 / count(*)) AS BIGINT) AS mean_len_q6,
        |  CAST(floor(sum(stop_q6) * 1.0 / count(*)) AS BIGINT) AS mean_stop_q6
        |FROM q GROUP BY status ORDER BY status""".stripMargin),

    "m05_media_neardup" ->
      """WITH m AS (SELECT doc_id, strlen(text) AS n FROM documents),
        |f AS (SELECT doc_id, n, unnest(generate_series(0, CAST(n // 100 AS BIGINT) - 1, 3)) AS idx
        |      FROM m WHERE n >= 100),
        |fr AS (SELECT DISTINCT doc_id, CAST((n * 131 + idx * 7) % 2147483647 AS BIGINT) AS phash FROM f),
        |nf AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nf FROM fr GROUP BY doc_id),
        |valve AS (SELECT phash FROM (SELECT phash, count(DISTINCT doc_id) AS df FROM fr GROUP BY phash)
        |          WHERE df BETWEEN 2 AND 16),
        |fo AS (SELECT fr.doc_id, fr.phash FROM fr JOIN valve USING (phash)),
        |pairs AS (SELECT x.doc_id AS a, y.doc_id AS b, CAST(count(*) AS BIGINT) AS shared
        |          FROM fo x JOIN fo y ON x.phash = y.phash AND x.doc_id < y.doc_id
        |          GROUP BY 1, 2)
        |SELECT p.a, p.b, p.shared,
        |  CAST(floor(p.shared * 1000000.0 / least(na.nf, nb.nf)) AS BIGINT) AS overlap_q6
        |FROM pairs p JOIN nf na ON na.doc_id = p.a JOIN nf nb ON nb.doc_id = p.b
        |WHERE p.shared >= 2 ORDER BY p.a, p.b""".stripMargin,

    "d99_shard_balance" ->
      """WITH dl AS (SELECT doc_id, source, CAST(len(string_split(text, ' ')) AS BIGINT) AS t FROM documents),
        |tot AS (SELECT CAST(sum(t) AS BIGINT) AS total FROM dl),
        |h AS (SELECT n, CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % n AS shard, t
        |      FROM dl, (SELECT unnest([8, 32, 128]) AS n)),
        |hl AS (SELECT n, shard, sum(t) AS load FROM h GROUP BY n, shard),
        |hs AS (SELECT 'hash' || CAST(n AS VARCHAR) AS scheme, CAST(n AS BIGINT) AS n_shards,
        |         CAST(count(*) AS BIGINT) AS used, CAST(max(load) AS BIGINT) AS max_load,
        |         CAST(floor(max(load) * n * 1000000.0 / (SELECT total FROM tot)) AS BIGINT) AS imbalance_q6
        |       FROM hl GROUP BY n),
        |sl AS (SELECT source, sum(t) AS load FROM dl GROUP BY source),
        |ss AS (SELECT 'by_source' AS scheme, CAST(count(*) AS BIGINT) AS n_shards,
        |         CAST(count(*) AS BIGINT) AS used, CAST(max(load) AS BIGINT) AS max_load,
        |         CAST(floor(max(load) * count(*) * 1000000.0 / (SELECT total FROM tot)) AS BIGINT) AS imbalance_q6
        |       FROM sl)
        |SELECT * FROM hs UNION ALL SELECT * FROM ss ORDER BY scheme""".stripMargin,

    "d98_corpus_card" ->
      (s"WITH ${DataQueries.minhashPairsCte}," +
        """toks AS (SELECT w FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents) WHERE length(w) >= 1),
          |lens AS (SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS v FROM documents),
          |cum AS (SELECT v, sum(c) OVER (ORDER BY v) AS cum
          |        FROM (SELECT v, CAST(count(*) AS BIGINT) AS c FROM lens GROUP BY v)),
          |q AS (SELECT doc_id, len(w) AS n_words,
          |    list_reduce(list_prepend(0, [length(x) FOR x IN w]), (acc, el) -> acc + el) AS sum_wlen,
          |    len(list_intersect(list_distinct(w), ['the','a','of','and','to'])) AS stop_hits
          |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)),
          |card AS (SELECT
          |  (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n_docs,
          |  (SELECT CAST(count(*) AS BIGINT) FROM toks) AS n_tokens,
          |  (SELECT CAST(count(DISTINCT w) AS BIGINT) FROM toks) AS vocab,
          |  (SELECT CAST(count(DISTINCT source) AS BIGINT) FROM documents) AS n_sources,
          |  (SELECT CAST(count(DISTINCT lang) AS BIGINT) FROM documents) AS n_langs,
          |  (SELECT CAST(count(*) - count(DISTINCT md5(text)) AS BIGINT) FROM documents) AS exact_dup_docs,
          |  (SELECT CAST(count(*) AS BIGINT) FROM pairs) AS near_dup_pairs,
          |  (SELECT CAST(min(v) AS BIGINT) FROM cum, (SELECT CAST(count(*) AS BIGINT) AS n FROM documents) nn
          |   WHERE cum * 2 >= nn.n) AS median_len,
          |  (SELECT CAST(sum(CASE WHEN n_words >= 50 AND n_words <= 100000
          |      AND 3 * n_words <= sum_wlen AND sum_wlen <= 10 * n_words
          |      AND stop_hits >= 2 THEN 1 ELSE 0 END) AS BIGINT) FROM q) AS kept)
          |SELECT n_docs, n_tokens, vocab, n_sources, n_langs, exact_dup_docs,
          |  near_dup_pairs, median_len,
          |  CAST(floor(n_tokens * 1000000.0 / n_docs) AS BIGINT) AS mean_len_q6,
          |  CAST(floor(kept * 1000000.0 / n_docs) AS BIGINT) AS keep_rate_q6
          |FROM card""".stripMargin),

    "d97_lsh_miss_audit" ->
      (s"WITH ${DataQueries.minhashPairsCte}," +
        """ids AS (SELECT doc_id FROM documents),
          |off AS (SELECT unnest([1, 3, 17]) AS o),
          |op AS (SELECT i.doc_id AS a, i.doc_id + off.o AS b FROM ids i CROSS JOIN off
          |       WHERE EXISTS (SELECT 1 FROM ids j WHERE j.doc_id = i.doc_id + off.o)),
          |probes AS (SELECT DISTINCT a, b FROM (SELECT a, b FROM op UNION ALL SELECT a, b FROM pairs)),
          |sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM sh GROUP BY doc_id),
          |iv AS (SELECT p.a, p.b, CAST(count(*) AS BIGINT) AS inter
          |       FROM probes p JOIN sh x ON x.doc_id = p.a JOIN sh y ON y.doc_id = p.b AND y.sh = x.sh
          |       GROUP BY p.a, p.b),
          |sc AS (SELECT CAST(floor(COALESCE(iv.inter, 0) * 1000000.0
          |           / (sa.n + sb.n - COALESCE(iv.inter, 0))) AS BIGINT) AS jq,
          |         CASE WHEN c.a IS NULL THEN 0 ELSE 1 END AS fl
          |       FROM probes p
          |       JOIN sz sa ON sa.doc_id = p.a
          |       JOIN sz sb ON sb.doc_id = p.b
          |       LEFT JOIN iv ON iv.a = p.a AND iv.b = p.b
          |       LEFT JOIN pairs c ON c.a = p.a AND c.b = p.b)
          |SELECT CAST(least(jq // 100000, 9) AS BIGINT) AS bucket,
          |  CAST(count(*) AS BIGINT) AS n_pairs, CAST(sum(fl) AS BIGINT) AS n_flagged
          |FROM sc GROUP BY 1 ORDER BY bucket""".stripMargin),

    "d96_ks_drift" ->
      """WITH l AS (SELECT source, CAST(len(string_split(text, ' ')) AS BIGINT) AS v FROM documents),
        |sv AS (SELECT source, v, CAST(count(*) AS BIGINT) AS c FROM l GROUP BY source, v),
        |vals AS (SELECT DISTINCT v FROM l),
        |srcs AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_s FROM sv GROUP BY source),
        |tot AS (SELECT CAST(sum(n_s) AS BIGINT) AS n FROM srcs),
        |grid AS (SELECT s.source, vals.v, s.n_s, tot.n, COALESCE(sv.c, 0) AS c
        |  FROM srcs s CROSS JOIN vals CROSS JOIN tot
        |  LEFT JOIN sv ON sv.source = s.source AND sv.v = vals.v),
        |cums AS (SELECT source, v, n_s, n, c,
        |    sum(c) OVER (PARTITION BY source ORDER BY v) AS cum_s
        |  FROM grid),
        |alls AS (SELECT *, sum(cum_s) OVER (PARTITION BY v) AS cum_all FROM cums)
        |SELECT source, n_s, n - n_s AS n_rest,
        |  CAST(floor(max(abs(cum_s * (n - n_s) - (cum_all - cum_s) * n_s)) * 1000000.0
        |    / (n_s * (n - n_s))) AS BIGINT) AS ks_q6
        |FROM alls GROUP BY source, n_s, n
        |ORDER BY source""".stripMargin,

    "d93_pagerank" ->
      (s"WITH ${DataQueries.minhashPairsCte}," +
        """edges AS (SELECT a AS src, b AS dst FROM pairs UNION ALL SELECT b AS src, a AS dst FROM pairs),
          |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM edges GROUP BY src),
          |nodes AS (SELECT doc_id, (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n FROM documents),
          |p0 AS (SELECT doc_id, n, CAST(floor(1000000000 / n) AS BIGINT) AS pr FROM nodes),
          |m1 AS (SELECT e.dst, CAST(sum(CAST(floor(p.pr * 17 / (d.deg * 20)) AS BIGINT)) AS BIGINT) AS msum
          |       FROM edges e JOIN deg d USING (src) JOIN p0 p ON p.doc_id = e.src GROUP BY e.dst),
          |p1 AS (SELECT x.doc_id, x.n, CAST(COALESCE(m1.msum, 0) + floor(150000000 / x.n) AS BIGINT) AS pr
          |       FROM nodes x LEFT JOIN m1 ON m1.dst = x.doc_id),
          |m2 AS (SELECT e.dst, CAST(sum(CAST(floor(p.pr * 17 / (d.deg * 20)) AS BIGINT)) AS BIGINT) AS msum
          |       FROM edges e JOIN deg d USING (src) JOIN p1 p ON p.doc_id = e.src GROUP BY e.dst),
          |p2 AS (SELECT x.doc_id, x.n, CAST(COALESCE(m2.msum, 0) + floor(150000000 / x.n) AS BIGINT) AS pr
          |       FROM nodes x LEFT JOIN m2 ON m2.dst = x.doc_id),
          |m3 AS (SELECT e.dst, CAST(sum(CAST(floor(p.pr * 17 / (d.deg * 20)) AS BIGINT)) AS BIGINT) AS msum
          |       FROM edges e JOIN deg d USING (src) JOIN p2 p ON p.doc_id = e.src GROUP BY e.dst),
          |p3 AS (SELECT x.doc_id, CAST(COALESCE(m3.msum, 0) + floor(150000000 / x.n) AS BIGINT) AS pr
          |       FROM nodes x LEFT JOIN m3 ON m3.dst = x.doc_id)
          |SELECT p3.doc_id, CAST(COALESCE(deg.deg, 0) AS BIGINT) AS deg, p3.pr AS pr_q9
          |FROM p3 LEFT JOIN deg ON deg.src = p3.doc_id
          |ORDER BY p3.doc_id""".stripMargin),

    "d92_hist_quantiles" ->
      """WITH l AS (SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok FROM documents),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM l),
        |vh AS (SELECT n_tok, CAST(count(*) AS BIGINT) AS c FROM l GROUP BY n_tok),
        |cum AS (SELECT n_tok, sum(c) OVER (ORDER BY n_tok) AS cum FROM vh),
        |bh AS (SELECT least(n_tok // 16, 63) AS bin, sum(c) AS bc FROM vh GROUP BY 1),
        |bcum AS (SELECT bin, sum(bc) OVER (ORDER BY bin) AS cum FROM bh),
        |rk AS (SELECT p, CAST(ceil(p * n.n / 100.0) AS BIGINT) AS rk
        |       FROM (SELECT unnest([25, 50, 75, 90]) AS p), n),
        |est AS (SELECT rk.p, CAST((min(bin) + 1) * 16 AS BIGINT) AS est
        |        FROM rk JOIN bcum ON bcum.cum >= rk.rk GROUP BY rk.p),
        |ex AS (SELECT rk.p, CAST(min(n_tok) AS BIGINT) AS exact
        |       FROM rk JOIN cum ON cum.cum >= rk.rk GROUP BY rk.p)
        |SELECT CAST(est.p AS BIGINT) AS p, est.est, ex.exact, est.est - ex.exact AS err
        |FROM est JOIN ex USING (p) ORDER BY p""".stripMargin
  )
}
