package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Wave 15 (round 13) — storage-cost, shuffle-quality, and eval-rigor
  * audits a 100 TB pipeline runs around its core operators: the
  * inverted-index compression bill (d157), embedding-space drift across
  * arrival shards (d158), the Johnson-Lindenstrauss distortion audit
  * behind every projection-based ANN shortcut (d159), first-failing-rule
  * waterfall attribution for the deployed filter cascade (d160), block
  * jackknife error bars on corpus metrics (d161), and the
  * source-composition uniformity of hash sharding (d162).
  *
  * Numeric discipline as established: integer counts everywhere, products
  * routed through DECIMAL(38,0) where corpus-scale magnitudes would wrap
  * Long, doubles only at the final sqrt/cosine step on bounded tables
  * (the d04/d53 precedent), and every published rational floor-quantized
  * from positive integers so truncation-direction can't cross engines.
  *
  * New disjoint md5 windows on doc_id (repo registry: 1-8 sample, 9-13
  * strat, 14-18 mix, 19-26 A-ES): 27-29 = jackknife block, 30-32 = d162
  * position shard.
  */
object DataQueries18 extends QueryModule {

  private def dec(c: Column): Column = c.cast("decimal(38,0)")

  /** ±1 plane weights w(p, d) — EXACTLY the srpSignatures derivation
    * (md5 of "p_d", first nibble parity), so d159's oracle reuses the
    * d24/d37 pd-CTE formula.
    */
  private def planeTable(s: SparkSession, planes: Int, dims: Int): DataFrame =
    s.range(planes).select(col("id").as("p"))
      .crossJoin(s.range(dims).select(col("id").as("d")))
      .select(col("p"), col("d"),
        when(conv(substring(md5(concat(col("p").cast("string"), lit("_"),
          col("d").cast("string"))), 1, 1), 16, 10).cast("long") % 2 === 1, 1L)
          .otherwise(-1L).as("w"))

  /** Per-doc removal flags for the three dedup stages, computed from the
    * SHARED machinery each stage already runs: `ex` = exact content-hash
    * dup (d01's min-keeper rule), `nr` = minhash-cluster non-representative
    * (the persisted d15/d17 clusters memo; rep == min-label == cluster id),
    * `sr` = SemDeDup-pruned (d56's rule on the persisted IVF index; docs
    * without a vector — possible at sf0.1 — are never semantic-removed).
    * One row per document, every flag exact.
    */
  private def dedupFlags(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select(col("doc_id"), md5(col("text")).as("h"))
    val ex = d.join(d.groupBy(col("h")).agg(min(col("doc_id")).as("k0")), "h")
      .select(col("doc_id"), (col("doc_id") =!= col("k0")).as("ex"))
    val nr = DataQueries3.dedupClusters(s, dir)
      .select(col("doc_id"), (col("doc_id") =!= col("cluster")).as("nr"))
    val sr = graft.operators.VectorSearch
      .semanticDedup(DataQueries2.ivfAssigned(s, dir), 0.4)
      .select(col("id").as("doc_id"), (!col("kept")).as("sr"))
    ex.join(nr, Seq("doc_id"), "left").join(sr, Seq("doc_id"), "left")
      .select(col("doc_id"), col("ex"),
        coalesce(col("nr"), lit(false)).as("nr"),
        coalesce(col("sr"), lit(false)).as("sr"))
  }

  /** DuckDB CTE chain ending in `fl(doc_id, ex, nr, sr)` — the oracle
    * mirror of [[dedupFlags]], assembled from the proven d01/d40/d56
    * fragments. Must be prefixed with `WITH RECURSIVE ` (the cluster walk).
    */
  private def dedupFlagsCte: String =
    DataQueries.minhashPairsCte + """,
      |edges AS (SELECT a AS u, b AS v FROM pairs UNION ALL SELECT b, a FROM pairs),
      |nodes AS (SELECT DISTINCT u AS n FROM edges),
      |walk(n, l) AS (
      |  SELECT n, n FROM nodes
      |  UNION
      |  SELECT e.v, w.l FROM walk w JOIN edges e ON e.u = w.n),
      |clusters AS (SELECT n AS doc_id, min(l) AS cluster FROM walk GROUP BY n),
      |exf AS (SELECT doc_id, doc_id <> min(doc_id) OVER (PARTITION BY md5(text)) AS ex FROM documents),
      |nrf AS (SELECT doc_id, doc_id <> cluster AS nr FROM clusters),
      |ev AS (SELECT vec_id, [CAST(x AS DOUBLE) FOR x IN embedding] AS v,
      |    sqrt(list_reduce(list_prepend(0.0::DOUBLE, [CAST(x AS DOUBLE) * CAST(x AS DOUBLE) FOR x IN embedding]), (a, b) -> a + b)) AS nrm
      |  FROM embeddings),
      |cents AS (SELECT vec_id AS cid, v AS cv, nrm AS cn FROM ev WHERE vec_id < 4),
      |scoredcells AS (SELECT ev.vec_id, ev.v, ev.nrm, c.cid,
      |    list_reduce(list_prepend(0.0::DOUBLE, [ev.v[i] * c.cv[i] FOR i IN generate_series(1, len(ev.v))]), (a, b) -> a + b) / (ev.nrm * c.cn) AS ccos
      |  FROM ev CROSS JOIN cents c),
      |assigned AS (SELECT vec_id, v, nrm, cid AS cell FROM (
      |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS rn FROM scoredcells)
      |  WHERE rn = 1),
      |dr AS (SELECT DISTINCT y.vec_id AS id
      |  FROM assigned x JOIN assigned y ON x.cell = y.cell AND x.vec_id < y.vec_id
      |  WHERE list_reduce(list_prepend(0.0::DOUBLE, [x.v[i] * y.v[i] FOR i IN generate_series(1, len(x.v))]), (a, b) -> a + b) / (x.nrm * y.nrm) >= 0.4),
      |srf AS (SELECT a.vec_id AS doc_id, dr.id IS NOT NULL AS sr FROM assigned a LEFT JOIN dr ON a.vec_id = dr.id),
      |fl AS (SELECT d.doc_id,
      |    COALESCE(exf.ex, FALSE) AS ex, COALESCE(nrf.nr, FALSE) AS nr, COALESCE(srf.sr, FALSE) AS sr
      |  FROM documents d LEFT JOIN exf USING (doc_id) LEFT JOIN nrf USING (doc_id) LEFT JOIN srf USING (doc_id))""".stripMargin

  val queries: Map[String, Q] = Map[String, Q](
    // inverted-index storage bill: delta-gap + varint cost of the d25
    // posting lists, rolled up by document-frequency band (band = bit
    // length of df, the d20 power-of-two convention). Postings sorted by
    // doc id delta-encode to gap bit-cost length(bin(gap)) and varint
    // cost ceil(bits/7) — the Lucene/PforDelta storage model, priced
    // exactly and compared against raw 8-byte postings. Scale: the gap
    // stream is a partition-by-term SORT (spills — never a collect_list
    // buffer, which would hold a stopword's corpus-sized posting list in
    // one aggregation buffer), the per-term rollup reuses the window's
    // term partitioning (no second shuffle), and the band rollup is
    // ≤64 rows. At 100 TB posting lists are built per index segment
    // exactly like this (doc-id-sorted within a shard), so the per-term
    // sort is segment-local and the bill rolls up by sum — the shape is
    // the production shape.
    "d157_postings_cost" -> ((s, dir) => {
      val dt = docs(s, dir)
        .select(explode(array_distinct(split(col("text"), " "))).as("term"),
          col("doc_id"))
      val wLag = Window.partitionBy(col("term")).orderBy(col("doc_id"))
      val gaps = dt
        .withColumn("gap", coalesce(
          col("doc_id") - lag(col("doc_id"), 1).over(wLag), col("doc_id") + 1))
        .withColumn("bits", length(bin(col("gap"))).cast("long"))
      val perTerm = gaps.groupBy(col("term"))
        .agg(count(lit(1)).as("df"), sum(col("bits")).as("dbits"),
          sum(expr("(bits + 6) DIV 7")).as("vbytes"))
      perTerm
        .groupBy(length(bin(col("df"))).cast("long").as("band"))
        .agg(count(lit(1)).as("n_terms"), sum(col("df")).as("n_postings"),
          sum(col("dbits")).as("delta_bits"), sum(col("vbytes")).as("varint_bytes"),
          (sum(col("df")) * 8).as("raw_bytes"))
        .withColumn("saving_q6",
          expr("CAST(CAST(raw_bytes - varint_bytes AS DECIMAL(38,0)) * 1000000 DIV raw_bytes AS BIGINT)"))
        .orderBy("band")
    }),

    // embedding-space drift across the 4 deterministic arrival shards
    // (d141's shard convention): per-shard centroid vs the global
    // centroid, and vs the PREVIOUS shard — the "did the crawl's
    // embedding distribution move" monitor behind retraining routers and
    // refreshing IVF centroids. Cosine is scale-invariant, so shard SUM
    // vectors stand in for means and no division ever happens on the
    // corpus side; components integer-quantized BEFORE the sum (the
    // srpSignatures discipline — accumulation-order-free), dot/norm
    // products on the bounded |shards|×dims table in DECIMAL(38,0)
    // (corpus-scale sums wrap Long when multiplied), one IEEE
    // sqrt/divide per shard row at the end. One corpus pass, everything
    // after it bounded.
    "d158_embed_drift" -> ((s, dir) => {
      val ex = embs(s, dir)
        .select((col("vec_id") % 4).as("shard"),
          posexplode(col("embedding")).as(Seq("d", "x")))
        .select(col("shard"), col("d").cast("long").as("d"),
          floor(col("x").cast("double") * 1000000.0).cast("long").as("xq"))
      val sh = ex.groupBy(col("shard"), col("d")).agg(sum(col("xq")).as("sv"))
        .transform(graft.sources.Caches.ephemeral)
      val nv = embs(s, dir).groupBy((col("vec_id") % 4).as("shard"))
        .agg(count(lit(1)).as("n_vecs"))
      val gl = sh.groupBy(col("d")).agg(sum(col("sv")).as("gv"))
      val pv = sh.select((col("shard") + 1).as("shard"), col("d"),
        col("sv").as("pv"))
      val a = sh.join(broadcast(gl), "d")
        .join(pv, Seq("shard", "d"), "left")
        .groupBy(col("shard"))
        .agg(sum(dec(col("sv")) * dec(col("gv"))).as("dot_sg"),
          sum(dec(col("sv")) * dec(col("sv"))).as("ns2"),
          sum(dec(col("gv")) * dec(col("gv"))).as("ng2"),
          sum(dec(col("sv")) * dec(col("pv"))).as("dot_sp"),
          sum(dec(col("pv")) * dec(col("pv"))).as("np2"))
      a.join(nv, "shard")
        .select(col("shard"), col("n_vecs"),
          floor(col("dot_sg").cast("double") /
            (sqrt(col("ns2").cast("double")) * sqrt(col("ng2").cast("double")))
            * 1000000.0).cast("long").as("cos_global_q6"),
          floor(col("dot_sp").cast("double") /
            (sqrt(col("ns2").cast("double")) * sqrt(col("np2").cast("double")))
            * 1000000.0).cast("long").as("cos_prev_q6"))
        .orderBy("shard")
    }),

    // Johnson-Lindenstrauss distortion audit: the 16-vector probe set
    // projected to 8 dims through the SAME ±1 md5 planes as the d24/d37
    // SRP machinery (kept as values, not sign bits), then every probe
    // pair's projected squared distance compared against its exact
    // squared distance — ratio_q6 ≈ 1e6 is the JL promise (with ±1
    // Rademacher weights E[‖y_a − y_b‖²] = k·‖x_a − x_b‖²), and the
    // observed spread IS the distortion every projection-based shortcut
    // (SRP bands, d159's own planes) silently relies on. All integer
    // until the final DECIMAL floor-division; the probe filter is pushed
    // to the parquet scan and everything downstream is ≤120 rows. The
    // corpus-wide projection this audits is the identical narrow
    // explode + broadcast-plane join, priced at |corpus|·dims.
    "d159_jl_distortion" -> ((s, dir) => {
      val probe = embs(s, dir).filter(col("vec_id") < 16)
        .select(col("vec_id"), posexplode(col("embedding")).as(Seq("d", "x")))
        .select(col("vec_id"), col("d").cast("long").as("d"),
          floor(col("x").cast("double") * 1000000.0).cast("long").as("xq"))
        .transform(graft.sources.Caches.ephemeral)
      val proj = probe.join(broadcast(planeTable(s, 8, 64)), "d")
        .groupBy(col("vec_id"), col("p"))
        .agg(sum(col("w") * col("xq")).as("y"))
      val dOrig = probe.select(col("vec_id").as("a"), col("d"), col("xq").as("xa"))
        .join(probe.select(col("vec_id").as("b"), col("d"), col("xq").as("xb")), "d")
        .filter(col("a") < col("b"))
        .groupBy(col("a"), col("b"))
        .agg(sum((col("xa") - col("xb")) * (col("xa") - col("xb"))).as("d_orig"))
      val dProj = proj.select(col("vec_id").as("a"), col("p"), col("y").as("ya"))
        .join(proj.select(col("vec_id").as("b"), col("p"), col("y").as("yb")), "p")
        .filter(col("a") < col("b"))
        .groupBy(col("a"), col("b"))
        .agg(sum((col("ya") - col("yb")) * (col("ya") - col("yb"))).as("d_proj"))
      dOrig.join(dProj, Seq("a", "b"))
        .withColumn("ratio_q6",
          expr("""CASE WHEN d_orig = 0 THEN NULL
                 |  ELSE CAST(CAST(d_proj AS DECIMAL(38,0)) * 1000000 DIV (8 * d_orig) AS BIGINT) END""".stripMargin))
        .orderBy("a", "b")
    }),

    // first-failing-rule waterfall of the deployed filter cascade (the
    // d39 gates in order + the Gopher repetition gate): every doc
    // attributed to exactly ONE rule, so kill counts sum to the corpus
    // and the cumulative-survivor column is the published funnel. The
    // attribution is a pure TextQuality narrow map (withFilterWaterfall,
    // which runs unchanged on a stream, Wave9Spec); the only exchange
    // at any corpus size is the ≤5-row rollup, and the dense 5-row rule
    // table left-joins the counts so rules that kill nothing still
    // report 0. d112 answers "what does each rule remove that no other
    // rule would" (leave-one-out); this answers "who killed each doc"
    // — the two reads pipelines publish side by side.
    "d160_filter_waterfall" -> ((s, dir) => {
      val wf = graft.operators.TextQuality
        .withFilterWaterfall(docs(s, dir), "text")
      val counts = wf.groupBy(col("rule_order")).agg(count(lit(1)).as("n"))
      val rules = s.range(1, 6).select(col("id").as("rule_order"),
        element_at(array(graft.operators.TextQuality.WaterfallRules.map(lit): _*),
          col("id").cast("int")).as("rule"))
      val wCum = Window.orderBy(col("rule_order"))
        .rowsBetween(Window.unboundedPreceding, 0)
      val wTot = Window.orderBy(col("rule_order"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      rules.join(counts, Seq("rule_order"), "left")
        .withColumn("n_docs", coalesce(col("n"), lit(0L)))
        .withColumn("cum_killed",
          sum(when(col("rule_order") <= 4, col("n_docs")).otherwise(0L)).over(wCum))
        .withColumn("survivors",
          sum(col("n_docs")).over(wTot) -
            sum(when(col("rule_order") <= 4, col("n_docs")).otherwise(0L)).over(wCum))
        .select(col("rule_order"), col("rule"), col("n_docs"),
          col("cum_killed"), col("survivors"))
        .orderBy("rule_order")
    }),

    // block-jackknife error bar on a corpus metric (mean words per doc):
    // 16 deterministic md5 blocks (window 27-29 — disjoint from every
    // sampling window), leave-one-block-out means from the block SUMS
    // (never a second corpus pass), jackknife SE from the exact integer
    // deviation identity Σ(B·m_b − S)² = B·(B·Σm² − S²) — one corpus
    // rollup to 16 rows, everything after exact DECIMAL arithmetic until
    // the single IEEE sqrt. This is the error bar that makes A/B corpus
    // comparisons honest at any scale: the block structure prices
    // correlation within shards, and the whole audit costs one pass.
    "d161_jackknife_ci" -> ((s, dir) => {
      val d = docs(s, dir).select(
        (conv(substring(md5(col("doc_id").cast("string")), 27, 3), 16, 10)
          .cast("long") % 16).as("blk"),
        size(split(col("text"), " ")).cast("long").as("n_words"))
      val blocks = d.groupBy(col("blk"))
        .agg(count(lit(1)).as("n_b"), sum(col("n_words")).as("t_b"))
      val tot = blocks.agg(sum(col("n_b")).as("n"), sum(col("t_b")).as("t"),
        count(lit(1)).as("nblocks"))
      val m = blocks.crossJoin(broadcast(tot))
        .select(col("n"), col("t"), col("nblocks"),
          expr("CAST(CAST(t - t_b AS DECIMAL(38,0)) * 1000000 DIV (n - n_b) AS BIGINT)")
            .as("m_q6"))
      m.groupBy(col("n"), col("t"), col("nblocks"))
        .agg(sum(col("m_q6")).as("s1"),
          sum(dec(col("m_q6")) * col("m_q6")).as("s2"))
        .select(col("nblocks").as("n_blocks"), col("n").as("n_docs"),
          expr("CAST(CAST(t AS DECIMAL(38,0)) * 1000000 DIV n AS BIGINT)").as("mean_q6"),
          expr("""CAST(floor(sqrt(CAST(
                 |  (nblocks - 1) * (CAST(nblocks AS DECIMAL(38,0)) * s2 - CAST(s1 AS DECIMAL(38,0)) * s1)
                 |    DIV (CAST(nblocks AS DECIMAL(38,0)) * nblocks)
                 |  AS DOUBLE))) AS BIGINT)""".stripMargin).as("jk_se_q6"))
        .withColumn("ci_lo_q6", col("mean_q6") - lit(2) * col("jk_se_q6"))
        .withColumn("ci_hi_q6", col("mean_q6") + lit(2) * col("jk_se_q6"))
    }),

    // source-composition uniformity of hash sharding: 16 deterministic
    // position shards (md5 window 30-32 — the data-loader shard a doc
    // lands in under an epoch hash-shuffle), each scored by total-
    // variation distance between its source mix and the corpus mix, plus
    // its max single-source share. d99 audits LOAD balance (tokens per
    // shard); this audits COMPOSITION balance — a shard can hold exactly
    // 1/16 of the tokens and still be 80% one crawl, which is what makes
    // a training loader's gradient batches drift. Dense |shards|×|sources|
    // cross (bounded) left-joined with observed counts so missing
    // (shard, source) cells price their full expected mass; o·N products
    // in DECIMAL (corpus² wraps Long at scale); TV and max-share are
    // positive floor divisions.
    "d162_shard_mix" -> ((s, dir) => {
      val d = docs(s, dir).select(
        (conv(substring(md5(col("doc_id").cast("string")), 30, 3), 16, 10)
          .cast("long") % 16).as("shard"),
        col("source"))
      val o = d.groupBy(col("shard"), col("source")).agg(count(lit(1)).as("o"))
        .transform(graft.sources.Caches.ephemeral)
      val ns = o.groupBy(col("shard")).agg(sum(col("o")).as("n_s"))
      val cs = o.groupBy(col("source")).agg(sum(col("o")).as("c_src"))
      val nt = o.agg(sum(col("o")).as("n_tot"))
      ns.crossJoin(broadcast(cs))
        .join(o, Seq("shard", "source"), "left")
        .withColumn("o", coalesce(col("o"), lit(0L)))
        .crossJoin(broadcast(nt))
        .groupBy(col("shard"))
        .agg(max(col("n_s")).as("n_docs"),
          expr("""CAST(sum(abs(CAST(o AS DECIMAL(38,0)) * n_tot - CAST(n_s AS DECIMAL(38,0)) * c_src)) * 1000000
                 |  DIV (2 * CAST(max(n_s) AS DECIMAL(38,0)) * max(n_tot)) AS BIGINT)""".stripMargin)
            .as("tv_q6"),
          expr("CAST(CAST(max(o) AS DECIMAL(38,0)) * 1000000 DIV max(n_s) AS BIGINT)")
            .as("max_src_share_q6"))
        .orderBy("shard")
    }),

    // cost-optimal short-circuit ordering of the d160 cascade: the EXACT
    // per-rule evaluation counts of every possible rule order, from the
    // ≤16-cell joint flag contingency table (one conditional-aggregation
    // corpus pass — after it the corpus is never touched again). All 24
    // permutations are enumerated against the 16 cells (384 bounded
    // rows); cost(π) = Σ_docs (rules actually evaluated under
    // short-circuit) is exact — no independence assumption, which is
    // what makes this better than ordering by marginal kill rate when
    // rules correlate (a doc failing r1 usually also fails r4 here).
    // The read: how much compute the deployed rule order wastes vs the
    // optimal one — the filter-ordering decision every cascade tunes.
    "d163_cascade_order" -> ((s, dir) => {
      // flags come FROM the waterfall (one source of truth for thresholds)
      val cells = graft.operators.TextQuality.withFilterWaterfall(docs(s, dir), "text")
        .select(col("f1"), col("f2"), col("f3"), col("f4"))
        .groupBy(col("f1"), col("f2"), col("f3"), col("f4"))
        .agg(count(lit(1)).as("n"))
      val r4 = (n: String) => s.range(1, 5).select(col("id").as(n))
      val perms = r4("a").crossJoin(r4("b")).crossJoin(r4("c")).crossJoin(r4("d"))
        .filter(col("a") =!= col("b") && col("a") =!= col("c") && col("a") =!= col("d") &&
          col("b") =!= col("c") && col("b") =!= col("d") && col("c") =!= col("d"))
      val fa = element_at(array(col("f1"), col("f2"), col("f3"), col("f4")), col("a").cast("int"))
      val fb = element_at(array(col("f1"), col("f2"), col("f3"), col("f4")), col("b").cast("int"))
      val fc = element_at(array(col("f1"), col("f2"), col("f3"), col("f4")), col("c").cast("int"))
      val costs = perms.crossJoin(broadcast(cells))
        .select(col("a"), col("b"), col("c"), col("d"), col("n"),
          (lit(1L) + when(!fa, 1L).otherwise(0L) +
            when(!fa && !fb, 1L).otherwise(0L) +
            when(!fa && !fb && !fc, 1L).otherwise(0L)).as("evals"))
        .groupBy(col("a"), col("b"), col("c"), col("d"))
        .agg(sum(col("n") * col("evals")).as("cost"), sum(col("n")).as("n_docs"))
      val best = costs.orderBy(col("cost"), col("a"), col("b"), col("c"), col("d"))
        .limit(1)
        .select(concat_ws("-", col("a"), col("b"), col("c"), col("d")).as("best_perm"),
          col("cost").as("best_cost"))
      costs.filter(col("a") === 1 && col("b") === 2 && col("c") === 3 && col("d") === 4)
        .select(col("n_docs"), col("cost").as("deployed_cost"))
        .crossJoin(broadcast(best))
        .select(col("n_docs"), col("deployed_cost"), col("best_perm"), col("best_cost"),
          expr("CAST(CAST(deployed_cost - best_cost AS DECIMAL(38,0)) * 1000000 DIV deployed_cost AS BIGINT)")
            .as("saving_q6"))
    }),

    // IVF centroid staleness — the refresh decision d158's drift monitor
    // feeds: per cell, how well the anchor (coarse centroid) still aligns
    // with ALL its members vs with only the NEWEST arrival shard's
    // members (vec_id % 4 = 3, the d141 convention). cos(anchor, member
    // SUM vector) needs no mean and no corpus-side division; the shared
    // persisted IVF assignment (d10/d55's index) provides cells, member
    // components are integer-quantized before the one (cell, dim) rollup,
    // and the DECIMAL dot/norm products run on the bounded |cells|×dims
    // table. A new-shard cosine visibly below the all-members cosine is
    // the "retrain the coarse quantizer" signal. One corpus pass beyond
    // the shared index.
    "d164_centroid_refresh" -> ((s, dir) => {
      val qz = embs(s, dir).select(col("vec_id"),
        expr("transform(embedding, x -> cast(floor(cast(x as double) * 1000000.0) as bigint))")
          .as("xq"))
      val m = DataQueries2.ivfAssigned(s, dir).select(col("id"), col("cell"))
        .join(qz, col("vec_id") === col("id"))
      val ex = m.select(col("cell"), (col("id") % 4 === 3).as("isnew"),
        posexplode(col("xq")).as(Seq("d", "v")))
      val sums = ex.groupBy(col("cell"), col("d"))
        .agg(sum(col("v")).as("sall"),
          sum(when(col("isnew"), col("v"))).as("snew"))
      val counts = m.groupBy(col("cell")).agg(count(lit(1)).as("n_members"),
        sum(when(col("id") % 4 === 3, 1L).otherwise(0L)).as("n_new"))
      val anchors = qz.filter(col("vec_id") < 4)
        .select(col("vec_id").as("cell"), posexplode(col("xq")).as(Seq("d", "aq")))
      sums.join(anchors, Seq("cell", "d"))
        .groupBy(col("cell"))
        .agg(sum(dec(col("sall")) * col("aq")).as("dot_all"),
          sum(dec(col("sall")) * col("sall")).as("n2_all"),
          sum(dec(col("aq")) * col("aq")).as("a2"),
          sum(dec(col("snew")) * col("aq")).as("dot_new"),
          sum(dec(col("snew")) * col("snew")).as("n2_new"))
        .join(counts, "cell")
        .select(col("cell"), col("n_members"), col("n_new"),
          floor(col("dot_all").cast("double") /
            (sqrt(col("n2_all").cast("double")) * sqrt(col("a2").cast("double")))
            * 1000000.0).cast("long").as("cos_anchor_all_q6"),
          floor(col("dot_new").cast("double") /
            (sqrt(col("n2_new").cast("double")) * sqrt(col("a2").cast("double")))
            * 1000000.0).cast("long").as("cos_anchor_new_q6"))
        .orderBy("cell")
    }),

    // media energy drift per arrival shard through the stub codec path —
    // d158's multimodal sibling: per-shard mean signal energy per byte
    // (fake energy = unsigned byte sum; a real codec swaps in PCM/pixel
    // RMS with zero plumbing change) as an exact-integer ratio against
    // the global mean. Typed mapPartitions with one codec per partition
    // (Multimodal.energyStats), then a 4-row rollup; DECIMAL products
    // because bytes×energy crosses Long at corpus scale.
    "m07_mm_drift" -> { (s: SparkSession, dir: String) =>
      val en = graft.operators.Multimodal.energyStats(
        graft.operators.Multimodal.mediaFromDocuments(docs(s, dir))).toDF()
      val sh = en.select((col("doc_id") % 4).as("shard"), col("n_bytes"), col("energy"))
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_items"), sum(col("n_bytes")).as("bytes"),
          sum(col("energy")).as("energy"))
      val g = sh.agg(sum(col("bytes")).as("gb"), sum(col("energy")).as("ge"))
      sh.crossJoin(broadcast(g))
        .select(col("shard"), col("n_items"), col("bytes"), col("energy"),
          expr("CAST(CAST(energy AS DECIMAL(38,0)) * gb * 1000000 DIV (CAST(bytes AS DECIMAL(38,0)) * ge) AS BIGINT)")
            .as("drift_q6"))
        .orderBy("shard")
    },

    // dedup-stage waterfall — d160's framing applied to the dedup cascade:
    // every doc attributed to the FIRST stage that removes it (exact
    // content hash -> MinHash near-dup cluster non-rep -> SemDeDup
    // semantic prune), so removal counts sum to the corpus and the
    // funnel is the published "what each dedup layer buys" read (Lee et
    // al. report exactly this decomposition). All three stage flags come
    // from machinery that already runs at scale — the d01 hash rollup,
    // the persisted d15 clusters, the d56 cell-equijoined prune — so the
    // funnel itself adds one flag join + a 4-row rollup.
    "d165_dedup_funnel" -> ((s, dir) => {
      val staged = dedupFlags(s, dir).select(
        when(col("ex"), 1L).when(col("nr"), 2L).when(col("sr"), 3L)
          .otherwise(4L).as("stage_order"))
      val counts = staged.groupBy(col("stage_order")).agg(count(lit(1)).as("n"))
      val stages = s.range(1, 5).select(col("id").as("stage_order"),
        element_at(array(lit("exact"), lit("near"), lit("semantic"), lit("keep")),
          col("id").cast("int")).as("stage"))
      val wCum = Window.orderBy(col("stage_order"))
        .rowsBetween(Window.unboundedPreceding, 0)
      val wTot = Window.orderBy(col("stage_order"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      stages.join(counts, Seq("stage_order"), "left")
        .withColumn("n_docs", coalesce(col("n"), lit(0L)))
        .withColumn("cum_removed",
          sum(when(col("stage_order") <= 3, col("n_docs")).otherwise(0L)).over(wCum))
        .withColumn("survivors",
          sum(col("n_docs")).over(wTot) -
            sum(when(col("stage_order") <= 3, col("n_docs")).otherwise(0L)).over(wCum))
        .select(col("stage_order"), col("stage"), col("n_docs"),
          col("cum_removed"), col("survivors"))
        .orderBy("stage_order")
    }),

    // end-to-end token yield per source — the accounting number every
    // pipeline publishes: raw tokens -> after the d160 filter cascade ->
    // after all three dedup stages -> after the 64-token truncation cap
    // (d110's middle cap), plus the final yield fraction. Composes the
    // deployed operators' DECISIONS (filter pass, dedup keep, truncation
    // min) without re-running any of their machinery beyond the shared
    // persisted memos; one flag join + a |sources|-row rollup.
    "d166_token_yield" -> ((s, dir) => {
      val wf = graft.operators.TextQuality.withFilterWaterfall(docs(s, dir), "text")
        .select(col("doc_id"), col("source"), col("n_words"),
          (col("rule_order") === 5L).as("pass"))
      wf.join(dedupFlags(s, dir), "doc_id")
        .withColumn("ok", !col("ex") && !col("nr") && !col("sr"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_words")).as("raw_tokens"),
          sum(when(col("pass"), col("n_words")).otherwise(0L)).as("after_filter"),
          sum(when(col("pass") && col("ok"), col("n_words")).otherwise(0L)).as("after_dedup"),
          sum(when(col("pass") && col("ok"), least(col("n_words"), lit(64L)))
            .otherwise(0L)).as("after_trunc"))
        .withColumn("yield_q6",
          expr("CAST(CAST(after_trunc AS DECIMAL(38,0)) * 1000000 DIV raw_tokens AS BIGINT)"))
        .orderBy("source")
    })
  )

  val oracles: Map[String, String] = Map(
    "d157_postings_cost" ->
      """WITH dt AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |g AS (SELECT term, doc_id,
        |  COALESCE(doc_id - lag(doc_id) OVER (PARTITION BY term ORDER BY doc_id), doc_id + 1) AS gap FROM dt),
        |gb AS (SELECT term, length(bin(gap)) AS bits FROM g),
        |pt AS (SELECT term, CAST(count(*) AS BIGINT) AS df, CAST(sum(bits) AS BIGINT) AS dbits,
        |  CAST(sum((bits + 6) // 7) AS BIGINT) AS vbytes FROM gb GROUP BY term)
        |SELECT CAST(length(bin(df)) AS BIGINT) AS band, CAST(count(*) AS BIGINT) AS n_terms,
        |  CAST(sum(df) AS BIGINT) AS n_postings, CAST(sum(dbits) AS BIGINT) AS delta_bits,
        |  CAST(sum(vbytes) AS BIGINT) AS varint_bytes, CAST(sum(df) * 8 AS BIGINT) AS raw_bytes,
        |  CAST(CAST(sum(df) * 8 - sum(vbytes) AS HUGEINT) * 1000000 // (sum(df) * 8) AS BIGINT) AS saving_q6
        |FROM pt GROUP BY band ORDER BY band""".stripMargin,

    "d158_embed_drift" ->
      """WITH ex AS (SELECT vec_id % 4 AS shard, d,
        |    CAST(floor(CAST(embedding[d + 1] AS DOUBLE) * 1000000.0) AS BIGINT) AS xq
        |  FROM embeddings CROSS JOIN generate_series(0, 63) t(d)),
        |sh AS (SELECT shard, d, CAST(sum(xq) AS BIGINT) AS sv FROM ex GROUP BY shard, d),
        |nv AS (SELECT vec_id % 4 AS shard, CAST(count(*) AS BIGINT) AS n_vecs FROM embeddings GROUP BY 1),
        |gl AS (SELECT d, CAST(sum(sv) AS BIGINT) AS gv FROM sh GROUP BY d),
        |j AS (SELECT s.shard, s.sv, g.gv, p.sv AS pv
        |  FROM sh s JOIN gl g USING (d) LEFT JOIN sh p ON p.shard = s.shard - 1 AND p.d = s.d),
        |a AS (SELECT shard,
        |    sum(CAST(sv AS HUGEINT) * gv) AS dot_sg, sum(CAST(sv AS HUGEINT) * sv) AS ns2,
        |    sum(CAST(gv AS HUGEINT) * gv) AS ng2,
        |    sum(CAST(sv AS HUGEINT) * pv) AS dot_sp, sum(CAST(pv AS HUGEINT) * pv) AS np2
        |  FROM j GROUP BY shard)
        |SELECT a.shard, nv.n_vecs,
        |  CAST(floor(CAST(dot_sg AS DOUBLE) / (sqrt(CAST(ns2 AS DOUBLE)) * sqrt(CAST(ng2 AS DOUBLE))) * 1000000.0) AS BIGINT) AS cos_global_q6,
        |  CAST(floor(CAST(dot_sp AS DOUBLE) / (sqrt(CAST(ns2 AS DOUBLE)) * sqrt(CAST(np2 AS DOUBLE))) * 1000000.0) AS BIGINT) AS cos_prev_q6
        |FROM a JOIN nv USING (shard) ORDER BY shard""".stripMargin,

    "d159_jl_distortion" ->
      """WITH pd AS (SELECT p, d, CASE WHEN (instr('0123456789abcdef', substr(md5(p::VARCHAR || '_' || d::VARCHAR), 1, 1)) - 1) % 2 = 1 THEN 1 ELSE -1 END AS w
        |  FROM generate_series(0, 7) t1(p) CROSS JOIN generate_series(0, 63) t2(d)),
        |ex AS (SELECT vec_id, d, CAST(floor(CAST(embedding[d + 1] AS DOUBLE) * 1000000.0) AS BIGINT) AS xq
        |  FROM embeddings CROSS JOIN generate_series(0, 63) t(d) WHERE vec_id < 16),
        |y AS (SELECT vec_id, p, CAST(sum(w * xq) AS BIGINT) AS y FROM ex JOIN pd USING (d) GROUP BY vec_id, p),
        |dorig AS (SELECT x.vec_id AS a, z.vec_id AS b, CAST(sum((x.xq - z.xq) * (x.xq - z.xq)) AS BIGINT) AS d_orig
        |  FROM ex x JOIN ex z USING (d) WHERE x.vec_id < z.vec_id GROUP BY x.vec_id, z.vec_id),
        |dproj AS (SELECT x.vec_id AS a, z.vec_id AS b, CAST(sum((x.y - z.y) * (x.y - z.y)) AS BIGINT) AS d_proj
        |  FROM y x JOIN y z USING (p) WHERE x.vec_id < z.vec_id GROUP BY x.vec_id, z.vec_id)
        |SELECT o.a, o.b, o.d_orig, p.d_proj,
        |  CASE WHEN o.d_orig = 0 THEN NULL
        |    ELSE CAST(CAST(p.d_proj AS HUGEINT) * 1000000 // (8 * o.d_orig) AS BIGINT) END AS ratio_q6
        |FROM dorig o JOIN dproj p ON o.a = p.a AND o.b = p.b ORDER BY o.a, o.b""".stripMargin,

    "d160_filter_waterfall" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |b AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n_words,
        |  CAST(list_reduce(list_prepend(0, [length(x) FOR x IN w]), (acc, el) -> acc + el) AS BIGINT) AS sum_wlen,
        |  CAST(len(list_intersect(list_distinct(w), ['the','a','of','and','to'])) AS BIGINT) AS stop_hits,
        |  CAST(len(list_distinct(w)) AS BIGINT) AS n_distinct FROM w),
        |f AS (SELECT doc_id, CASE
        |    WHEN n_words < 50 OR n_words > 100000 THEN 1
        |    WHEN 3 * n_words > sum_wlen OR sum_wlen > 10 * n_words THEN 2
        |    WHEN stop_hits < 2 THEN 3
        |    WHEN 4 * (n_words - n_distinct) > n_words THEN 4
        |    ELSE 5 END AS rule_order FROM b),
        |rules AS (SELECT * FROM (VALUES (1, 'r1_word_count'), (2, 'r2_word_len'),
        |  (3, 'r3_stopword'), (4, 'r4_repetition'), (5, 'pass')) t(rule_order, rule)),
        |c AS (SELECT rule_order, CAST(count(*) AS BIGINT) AS n_docs FROM f GROUP BY rule_order)
        |SELECT CAST(r.rule_order AS BIGINT) AS rule_order, r.rule,
        |  COALESCE(c.n_docs, 0) AS n_docs,
        |  CAST(sum(CASE WHEN r.rule_order <= 4 THEN COALESCE(c.n_docs, 0) ELSE 0 END)
        |    OVER (ORDER BY r.rule_order ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_killed,
        |  CAST(sum(COALESCE(c.n_docs, 0)) OVER ()
        |    - sum(CASE WHEN r.rule_order <= 4 THEN COALESCE(c.n_docs, 0) ELSE 0 END)
        |      OVER (ORDER BY r.rule_order ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS survivors
        |FROM rules r LEFT JOIN c USING (rule_order) ORDER BY rule_order""".stripMargin,

    "d161_jackknife_ci" ->
      """WITH d AS (SELECT CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 27, 3)) AS BIGINT) % 16 AS blk,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words FROM documents),
        |b AS (SELECT blk, CAST(count(*) AS BIGINT) AS n_b, CAST(sum(n_words) AS BIGINT) AS t_b FROM d GROUP BY blk),
        |tot AS (SELECT CAST(sum(n_b) AS BIGINT) AS n, CAST(sum(t_b) AS BIGINT) AS t, CAST(count(*) AS BIGINT) AS nblocks FROM b),
        |m AS (SELECT n, t, nblocks, CAST(CAST(t - t_b AS HUGEINT) * 1000000 // (n - n_b) AS BIGINT) AS m_q6
        |  FROM b CROSS JOIN tot),
        |ss AS (SELECT n, t, nblocks, CAST(sum(m_q6) AS BIGINT) AS s1, sum(CAST(m_q6 AS HUGEINT) * m_q6) AS s2
        |  FROM m GROUP BY n, t, nblocks)
        |SELECT nblocks AS n_blocks, n AS n_docs,
        |  CAST(CAST(t AS HUGEINT) * 1000000 // n AS BIGINT) AS mean_q6,
        |  CAST(floor(sqrt(CAST((nblocks - 1) * (CAST(nblocks AS HUGEINT) * s2 - CAST(s1 AS HUGEINT) * s1)
        |    // (CAST(nblocks AS HUGEINT) * nblocks) AS DOUBLE))) AS BIGINT) AS jk_se_q6,
        |  CAST(CAST(t AS HUGEINT) * 1000000 // n AS BIGINT)
        |    - 2 * CAST(floor(sqrt(CAST((nblocks - 1) * (CAST(nblocks AS HUGEINT) * s2 - CAST(s1 AS HUGEINT) * s1)
        |      // (CAST(nblocks AS HUGEINT) * nblocks) AS DOUBLE))) AS BIGINT) AS ci_lo_q6,
        |  CAST(CAST(t AS HUGEINT) * 1000000 // n AS BIGINT)
        |    + 2 * CAST(floor(sqrt(CAST((nblocks - 1) * (CAST(nblocks AS HUGEINT) * s2 - CAST(s1 AS HUGEINT) * s1)
        |      // (CAST(nblocks AS HUGEINT) * nblocks) AS DOUBLE))) AS BIGINT) AS ci_hi_q6
        |FROM ss""".stripMargin,

    "d162_shard_mix" ->
      """WITH d AS (SELECT CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 30, 3)) AS BIGINT) % 16 AS shard,
        |    source FROM documents),
        |o AS (SELECT shard, source, CAST(count(*) AS BIGINT) AS o FROM d GROUP BY shard, source),
        |ns AS (SELECT shard, CAST(sum(o) AS BIGINT) AS n_s FROM o GROUP BY shard),
        |cs AS (SELECT source, CAST(sum(o) AS BIGINT) AS c_src FROM o GROUP BY source),
        |nt AS (SELECT CAST(sum(o) AS BIGINT) AS n_tot FROM o),
        |dense AS (SELECT ns.shard, ns.n_s, cs.source, cs.c_src, COALESCE(o.o, 0) AS o
        |  FROM ns CROSS JOIN cs LEFT JOIN o ON o.shard = ns.shard AND o.source = cs.source)
        |SELECT shard, max(n_s) AS n_docs,
        |  CAST(sum(abs(CAST(o AS HUGEINT) * nt.n_tot - CAST(n_s AS HUGEINT) * c_src)) * 1000000
        |    // (2 * CAST(max(n_s) AS HUGEINT) * max(nt.n_tot)) AS BIGINT) AS tv_q6,
        |  CAST(CAST(max(o) AS HUGEINT) * 1000000 // max(n_s) AS BIGINT) AS max_src_share_q6
        |FROM dense CROSS JOIN nt GROUP BY shard ORDER BY shard""".stripMargin,

    "d163_cascade_order" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |b AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n_words,
        |  CAST(list_reduce(list_prepend(0, [length(x) FOR x IN w]), (acc, el) -> acc + el) AS BIGINT) AS sum_wlen,
        |  CAST(len(list_intersect(list_distinct(w), ['the','a','of','and','to'])) AS BIGINT) AS stop_hits,
        |  CAST(len(list_distinct(w)) AS BIGINT) AS n_distinct FROM w),
        |fl AS (SELECT (n_words < 50 OR n_words > 100000) AS f1,
        |  (3 * n_words > sum_wlen OR sum_wlen > 10 * n_words) AS f2,
        |  (stop_hits < 2) AS f3,
        |  (4 * (n_words - n_distinct) > n_words) AS f4 FROM b),
        |cells AS (SELECT f1, f2, f3, f4, CAST(count(*) AS BIGINT) AS n FROM fl GROUP BY f1, f2, f3, f4),
        |perms AS (SELECT a, b, c, d FROM generate_series(1, 4) t1(a)
        |  CROSS JOIN generate_series(1, 4) t2(b) CROSS JOIN generate_series(1, 4) t3(c)
        |  CROSS JOIN generate_series(1, 4) t4(d)
        |  WHERE a <> b AND a <> c AND a <> d AND b <> c AND b <> d AND c <> d),
        |costs AS (SELECT a, b, c, d,
        |    CAST(sum(n * (1
        |      + CASE WHEN NOT ([f1, f2, f3, f4])[a] THEN 1 ELSE 0 END
        |      + CASE WHEN NOT ([f1, f2, f3, f4])[a] AND NOT ([f1, f2, f3, f4])[b] THEN 1 ELSE 0 END
        |      + CASE WHEN NOT ([f1, f2, f3, f4])[a] AND NOT ([f1, f2, f3, f4])[b] AND NOT ([f1, f2, f3, f4])[c] THEN 1 ELSE 0 END)) AS BIGINT) AS cost,
        |    CAST(sum(n) AS BIGINT) AS n_docs
        |  FROM perms CROSS JOIN cells GROUP BY a, b, c, d),
        |best AS (SELECT a::VARCHAR || '-' || b::VARCHAR || '-' || c::VARCHAR || '-' || d::VARCHAR AS best_perm,
        |    cost AS best_cost FROM costs ORDER BY cost, a, b, c, d LIMIT 1)
        |SELECT n_docs, cost AS deployed_cost, best_perm, best_cost,
        |  CAST(CAST(cost - best_cost AS HUGEINT) * 1000000 // cost AS BIGINT) AS saving_q6
        |FROM costs CROSS JOIN best WHERE a = 1 AND b = 2 AND c = 3 AND d = 4""".stripMargin,

    "d164_centroid_refresh" ->
      """WITH e AS (SELECT vec_id, [CAST(x AS DOUBLE) FOR x IN embedding] AS v,
        |    sqrt(list_reduce(list_prepend(0.0::DOUBLE, [CAST(x AS DOUBLE) * CAST(x AS DOUBLE) FOR x IN embedding]), (a, b) -> a + b)) AS nrm
        |  FROM embeddings),
        |cents AS (SELECT vec_id AS cid, v AS cv, nrm AS cn FROM e WHERE vec_id < 4),
        |scoredcells AS (SELECT e.vec_id, c.cid,
        |    list_reduce(list_prepend(0.0::DOUBLE, [e.v[i] * c.cv[i] FOR i IN generate_series(1, len(e.v))]), (a, b) -> a + b) / (e.nrm * c.cn) AS ccos
        |  FROM e CROSS JOIN cents c),
        |assigned AS (SELECT vec_id, cid AS cell FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS rn FROM scoredcells)
        |  WHERE rn = 1),
        |qz AS (SELECT vec_id, d, CAST(floor(CAST(embedding[d + 1] AS DOUBLE) * 1000000.0) AS BIGINT) AS vq
        |  FROM embeddings CROSS JOIN generate_series(0, 63) t(d)),
        |mx AS (SELECT a.vec_id, a.cell, q.d, q.vq, (a.vec_id % 4 = 3) AS isnew
        |  FROM assigned a JOIN qz q USING (vec_id)),
        |sums AS (SELECT cell, d, CAST(sum(vq) AS BIGINT) AS sall,
        |    CAST(sum(CASE WHEN isnew THEN vq END) AS BIGINT) AS snew FROM mx GROUP BY cell, d),
        |cnt AS (SELECT cell, CAST(count(*) AS BIGINT) AS n_members,
        |    CAST(sum(CASE WHEN vec_id % 4 = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_new
        |  FROM assigned GROUP BY cell),
        |an AS (SELECT vec_id AS cell, d, vq AS aq FROM qz WHERE vec_id < 4),
        |ag AS (SELECT s.cell,
        |    sum(CAST(sall AS HUGEINT) * aq) AS dot_all, sum(CAST(sall AS HUGEINT) * sall) AS n2_all,
        |    sum(CAST(aq AS HUGEINT) * aq) AS a2,
        |    sum(CAST(snew AS HUGEINT) * aq) AS dot_new, sum(CAST(snew AS HUGEINT) * snew) AS n2_new
        |  FROM sums s JOIN an USING (cell, d) GROUP BY s.cell)
        |SELECT ag.cell, cnt.n_members, cnt.n_new,
        |  CAST(floor(CAST(dot_all AS DOUBLE) / (sqrt(CAST(n2_all AS DOUBLE)) * sqrt(CAST(a2 AS DOUBLE))) * 1000000.0) AS BIGINT) AS cos_anchor_all_q6,
        |  CAST(floor(CAST(dot_new AS DOUBLE) / (sqrt(CAST(n2_new AS DOUBLE)) * sqrt(CAST(a2 AS DOUBLE))) * 1000000.0) AS BIGINT) AS cos_anchor_new_q6
        |FROM ag JOIN cnt USING (cell) ORDER BY cell""".stripMargin,

    // energy = sum of UTF-8 BYTE values (hex-pair walk over encode(text)),
    // matching the Spark side's binary byte sum for any text, not only the
    // ASCII fixture corpus (a per-character ord() sum would diverge there)
    "m07_mm_drift" ->
      """WITH m0 AS (SELECT doc_id, CAST(strlen(text) AS BIGINT) AS nb,
        |    hex(encode(text)) AS hx FROM documents),
        |m AS (SELECT doc_id, nb,
        |  CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    [CAST(('0x' || substr(hx, 2 * i - 1, 2)) AS BIGINT) FOR i IN generate_series(1, nb)]),
        |    (a, b) -> a + b) AS BIGINT) AS e
        |  FROM m0),
        |sh AS (SELECT doc_id % 4 AS shard, CAST(count(*) AS BIGINT) AS n_items,
        |  CAST(sum(nb) AS BIGINT) AS bytes, CAST(sum(e) AS BIGINT) AS energy FROM m GROUP BY 1),
        |g AS (SELECT CAST(sum(bytes) AS BIGINT) AS gb, CAST(sum(energy) AS BIGINT) AS ge FROM sh)
        |SELECT shard, n_items, bytes, energy,
        |  CAST(CAST(energy AS HUGEINT) * gb * 1000000 // (CAST(bytes AS HUGEINT) * ge) AS BIGINT) AS drift_q6
        |FROM sh CROSS JOIN g ORDER BY shard""".stripMargin,

    "d165_dedup_funnel" ->
      ("WITH RECURSIVE " + dedupFlagsCte + """,
        |st AS (SELECT CASE WHEN ex THEN 1 WHEN nr THEN 2 WHEN sr THEN 3 ELSE 4 END AS stage_order FROM fl),
        |stages AS (SELECT * FROM (VALUES (1, 'exact'), (2, 'near'), (3, 'semantic'), (4, 'keep')) t(stage_order, stage)),
        |c AS (SELECT stage_order, CAST(count(*) AS BIGINT) AS n_docs FROM st GROUP BY stage_order)
        |SELECT CAST(s.stage_order AS BIGINT) AS stage_order, s.stage,
        |  COALESCE(c.n_docs, 0) AS n_docs,
        |  CAST(sum(CASE WHEN s.stage_order <= 3 THEN COALESCE(c.n_docs, 0) ELSE 0 END)
        |    OVER (ORDER BY s.stage_order ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_removed,
        |  CAST(sum(COALESCE(c.n_docs, 0)) OVER ()
        |    - sum(CASE WHEN s.stage_order <= 3 THEN COALESCE(c.n_docs, 0) ELSE 0 END)
        |      OVER (ORDER BY s.stage_order ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS survivors
        |FROM stages s LEFT JOIN c USING (stage_order) ORDER BY stage_order""".stripMargin),

    "d166_token_yield" ->
      ("WITH RECURSIVE " + dedupFlagsCte + """,
        |ww AS (SELECT doc_id, source, string_split(text, ' ') AS wl FROM documents),
        |bb AS (SELECT doc_id, source, CAST(len(wl) AS BIGINT) AS n_words,
        |  CAST(list_reduce(list_prepend(0, [length(x) FOR x IN wl]), (acc, el) -> acc + el) AS BIGINT) AS sum_wlen,
        |  CAST(len(list_intersect(list_distinct(wl), ['the','a','of','and','to'])) AS BIGINT) AS stop_hits,
        |  CAST(len(list_distinct(wl)) AS BIGINT) AS n_distinct FROM ww),
        |pf AS (SELECT doc_id, source, n_words,
        |  (n_words >= 50 AND n_words <= 100000
        |    AND 3 * n_words <= sum_wlen AND sum_wlen <= 10 * n_words
        |    AND stop_hits >= 2
        |    AND 4 * (n_words - n_distinct) <= n_words) AS pass FROM bb),
        |j AS (SELECT pf.source, pf.n_words, pf.pass,
        |    (NOT fl.ex AND NOT fl.nr AND NOT fl.sr) AS ok
        |  FROM pf JOIN fl USING (doc_id))
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_words) AS BIGINT) AS raw_tokens,
        |  CAST(sum(CASE WHEN pass THEN n_words ELSE 0 END) AS BIGINT) AS after_filter,
        |  CAST(sum(CASE WHEN pass AND ok THEN n_words ELSE 0 END) AS BIGINT) AS after_dedup,
        |  CAST(sum(CASE WHEN pass AND ok THEN least(n_words, 64) ELSE 0 END) AS BIGINT) AS after_trunc,
        |  CAST(CAST(sum(CASE WHEN pass AND ok THEN least(n_words, 64) ELSE 0 END) AS HUGEINT) * 1000000
        |    // sum(n_words) AS BIGINT) AS yield_q6
        |FROM j GROUP BY source ORDER BY source""".stripMargin)
  )
}
