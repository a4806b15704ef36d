package graft.queries

import org.apache.spark.sql.functions._

/** Twenty-third wave: privacy auditing for training-data metadata
  * (k-anonymity / generalization / l-diversity — the release-gate checks a
  * corpus with user-linked metadata needs before the metadata can ship with
  * the text; thin bindings of the public `operators/Privacy`), plus a
  * count-min sketch with an exact-side audit (the fixed-state frequency
  * sketch the q13 HLL/quantile family lacked; hashing shared with the
  * streaming twin via `functions/CountMin`).
  *
  * Scale posture: every privacy query is one-or-few hash aggregations over
  * the quasi-identifier columns with class tables orders below the corpus
  * (|nations| x |segments| x |bands|), joined back by BROADCAST — never a
  * corpus-side second shuffle. The count-min build is the 100 TB path: a
  * 4 x 32-cell sketch via map-side partial aggregation (the sketch row
  * count is FIXED regardless of corpus size, and cells merge across
  * partitions/shards like any long sum); the exact per-key side exists to
  * audit the sketch's overestimate guarantee at test scale.
  */
object DataQueries23 extends QueryModule {

  val queries: Map[String, Q] = Map[String, Q](
    // k-anonymity audit: equivalence classes over the quasi-identifiers
    // (nation, segment, 5000-wide balance band) with the class size and an
    // at-risk flag (size < k=10). Thin binding of the public
    // operators/Privacy.kAnonymityAudit (one hash aggregation; the class
    // table is |QI-combinations| rows no matter the corpus size).
    "d180_kanon_audit" -> { (s, dir) =>
      graft.operators.Privacy.kAnonymityAudit(customer(s, dir),
          Seq(col("c_nationkey"), col("c_mktsegment"),
            floor(col("c_acctbal") / 5000.0).as("bal_band")), k = 10)
        .orderBy("c_nationkey", "c_mktsegment", "bal_band")
    },

    // global-recoding generalization ladder: each row settles at the
    // SMALLEST level whose equivalence class reaches k=6 —
    //   level 0: (nation, segment, 1000-wide band)
    //   level 1: (nation, segment, 5000-wide band)
    //   level 2: (nation, segment)
    //   level 3: (segment)            <- always reaches k here
    // Per level: one aggregation builds the class-size table (tiny), which
    // joins back by broadcast — the corpus is shuffled ZERO times beyond
    // the four small aggs, the 100 TB shape (a per-level window
    // count-over-partition would re-shuffle the corpus once per level).
    "d181_kanon_generalize" -> { (s, dir) =>
      val c = customer(s, dir)
        .withColumn("band1k", floor(col("c_acctbal") / 1000.0))
        .withColumn("band5k", floor(col("c_acctbal") / 5000.0))
      // thin binding of operators/Privacy.generalizeLadder: the last level
      // (segment alone) is the unconditional fallback, so only levels 0-2
      // get class-size tables (broadcast-joined back — zero corpus
      // re-shuffles)
      graft.operators.Privacy.generalizeLadder(c, Seq(
          Seq("c_nationkey", "c_mktsegment", "band1k"),
          Seq("c_nationkey", "c_mktsegment", "band5k"),
          Seq("c_nationkey", "c_mktsegment"),
          Seq("c_mktsegment")), k = 6)
        .groupBy("settle_level")
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("class_key")).as("n_classes"))
        .orderBy("settle_level")
    },

    // cross-dump generalization: today's dump (odd custkeys) settles
    // against the PUBLISHED cohort's class sizes (even custkeys) — the
    // production shape where the same row always lands in the same class
    // regardless of which dump carries it, and a class absent from the
    // reference counts as size 0 (maximally identifying, falls through
    // the ladder). Thin binding of Privacy.generalizeLadderWith; the same
    // call is the streaming router (stateless broadcast joins on a stream
    // too, so stream == batch row-for-row, PrivacySpec-pinned).
    "d183_kanon_reference" -> { (s, dir) =>
      val all = customer(s, dir)
        .withColumn("band1k", floor(col("c_acctbal") / 1000.0))
        .withColumn("band5k", floor(col("c_acctbal") / 5000.0))
      val dump = all.filter(col("c_custkey") % 2 === 1)
      val reference = all.filter(col("c_custkey") % 2 === 0)
      graft.operators.Privacy.generalizeLadderWith(dump, Seq(
          Seq("c_nationkey", "c_mktsegment", "band1k"),
          Seq("c_nationkey", "c_mktsegment", "band5k"),
          Seq("c_nationkey", "c_mktsegment"),
          Seq("c_mktsegment")), k = 6, reference)
        .groupBy("settle_level")
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("class_key")).as("n_classes"))
        .orderBy("settle_level")
    },

    // l-diversity: within each (nation, segment) class, how many DISTINCT
    // sensitive values (2000-wide balance band) appear — a class can be
    // k-anonymous yet leak the sensitive attribute when every member
    // shares one value. Thin binding of operators/Privacy.lDiversity
    // (diverse_ok = l >= 3; one aggregation).
    "d182_ldiversity" -> { (s, dir) =>
      graft.operators.Privacy.lDiversity(customer(s, dir),
          Seq(col("c_nationkey"), col("c_mktsegment")),
          floor(col("c_acctbal") / 2000.0), l = 3)
        .orderBy("c_nationkey", "c_mktsegment")
    },

    // t-closeness: the privacy family's capstone — per (nation, segment)
    // class, the total-variation distance between the class's sensitive-
    // value distribution (2000-wide balance band) and the CORPUS
    // distribution, in exact integer quanta (tv_num = the L1 numerator;
    // distance = tv_num / (2*class_size*N); t_ok at t = 1/4 via the
    // cross-multiplied integer compare — hash-exact for the oracle). A
    // class can be k-anonymous AND l-diverse yet leak by skewing far from
    // the corpus baseline. Thin binding of operators/Privacy.tCloseness:
    // two corpus aggregations, then cell-table joins by broadcast with
    // the absent-cell mass recovered arithmetically.
    "d184_tcloseness" -> { (s, dir) =>
      graft.operators.Privacy.tCloseness(customer(s, dir),
          Seq(col("c_nationkey"), col("c_mktsegment")),
          floor(col("c_acctbal") / 2000.0), tNum = 1L, tDen = 4L)
        .orderBy("c_nationkey", "c_mktsegment")
    },

    // cross-dump t-closeness: today's dump (odd custkeys) audited against
    // the PUBLISHED cohort's sensitive histogram (even custkeys) — the
    // release gate measures leakage relative to what an attacker already
    // holds (the d183 production pattern applied to distributions; a
    // value the reference has never seen contributes its full cv*N_ref as
    // maximally surprising mass via the LEFT-join zero). Thin binding of
    // Privacy.tClosenessWith at t = 2/5; same all-broadcast cell algebra.
    "d186_tcloseness_ref" -> { (s, dir) =>
      val all = customer(s, dir)
      graft.operators.Privacy.tClosenessWith(
          all.filter(col("c_custkey") % 2 === 1),
          Seq(col("c_nationkey"), col("c_mktsegment")),
          floor(col("c_acctbal") / 2000.0), tNum = 2L, tDen = 5L,
          reference = all.filter(col("c_custkey") % 2 === 0))
        .orderBy("c_nationkey", "c_mktsegment")
    },

    // ordinal t-closeness: EMD over the ORDERED balance bands — TV (d184)
    // treats "one band off" and "nine bands off" identically; for ordinal
    // sensitive attributes the Earth Mover's Distance charges the travel,
    // so a class whose balances sit one band above the corpus baseline
    // scores near zero while a class piled at the extremes leaks. Exact
    // integer quanta again (emd_num = the summed |cumulative| numerator;
    // distance = emd_num / ((m-1)*class_size*N); t_ok at t = 1/10). Thin
    // binding of operators/Privacy.tClosenessOrdinal: two corpus aggs,
    // then a dense |classes| x m grid with ONE bounded-table window —
    // the corpus is never re-shuffled.
    "d185_tcloseness_emd" -> { (s, dir) =>
      graft.operators.Privacy.tClosenessOrdinal(customer(s, dir),
          Seq(col("c_nationkey"), col("c_mktsegment")),
          floor(col("c_acctbal") / 2000.0), tNum = 1L, tDen = 10L)
        .orderBy("c_nationkey", "c_mktsegment")
    },

    // cross-dump ordinal t-closeness: the fourth cell of the t-closeness
    // matrix (TV-self d184, EMD-self d185, TV-reference d186, and this —
    // EMD against the published cohort): today's dump's classes pay
    // per-band TRAVEL against the reference distribution, on a value grid
    // that is the UNION of both sides' bands (a dump band the cohort
    // lacks still occupies a grid position with gv=0 — its mass must
    // travel somewhere). Thin binding of Privacy.tClosenessOrdinalWith at
    // t = 1/6; same bounded-grid single-window shape as d185.
    "d187_tcloseness_emd_ref" -> { (s, dir) =>
      val all = customer(s, dir)
      graft.operators.Privacy.tClosenessOrdinalWith(
          all.filter(col("c_custkey") % 2 === 1),
          Seq(col("c_nationkey"), col("c_mktsegment")),
          floor(col("c_acctbal") / 2000.0), tNum = 1L, tDen = 6L,
          reference = all.filter(col("c_custkey") % 2 === 0))
        .orderBy("c_nationkey", "c_mktsegment")
    },

    // count-min sketch with exact audit: build the 4x32 sketch over
    // events.user_id (fixed 128-cell state, map-side combined — the cells
    // merge across shards/triggers like any long sum), then estimate each
    // distinct user's frequency as min_j sketch[j][h_j(u)] via a BROADCAST
    // join of the 128-row sketch, and audit against the exact per-key
    // counts: the estimate must never underestimate (over_ok, the CM
    // guarantee that holds deterministically, not just in probability).
    "q47_count_min" -> { (s, dir) =>
      val ev = events(s, dir)
      val sketch = graft.functions.CountMin.build(ev, "user_id")
        .transform(graft.sources.Caches.ephemeral)
      // exact feeds BOTH the estimate key list and the final join — cache
      // it or the events scan + aggregation runs twice
      val exact = ev.groupBy("user_id").agg(count(lit(1)).as("exact_cnt"))
        .transform(graft.sources.Caches.ephemeral)
      val est = graft.functions.CountMin.estimate(sketch,
        exact.select("user_id"), "user_id")
      exact.join(est, Seq("user_id"))
        .withColumn("over_ok", col("est_cnt") >= col("exact_cnt"))
        .orderBy("user_id")
    },

    // sketch mergeability, oracle-checked: build one count-min sketch per
    // SHARD (even/odd event ids — at 100 TB each executor/day builds its
    // own), merge by summing cells, and prove every point estimate off the
    // merged sketch equals the whole-corpus build's. This is the exact
    // linearity that lets sketches ship as tiny per-shard artifacts and
    // fold together later — here the claim is a per-key boolean the DuckDB
    // oracle replays, not prose. Both sketches are 128-row broadcasts.
    "q48_cms_merge" -> { (s, dir) =>
      val ev = events(s, dir).transform(graft.sources.Caches.ephemeral)
      val shardA = graft.functions.CountMin.build(
        ev.filter(col("event_id") % 2 === 0), "user_id")
      val shardB = graft.functions.CountMin.build(
        ev.filter(col("event_id") % 2 === 1), "user_id")
      val merged = shardA.unionByName(shardB)
        .groupBy("j", "bucket").agg(sum(col("cnt")).as("cnt"))
        .transform(graft.sources.Caches.ephemeral)
      val whole = graft.functions.CountMin.build(ev, "user_id")
        .transform(graft.sources.Caches.ephemeral)
      val keys = ev.select("user_id").distinct()
        .transform(graft.sources.Caches.ephemeral)
      val estM = graft.functions.CountMin.estimate(merged, keys, "user_id")
        .withColumnRenamed("est_cnt", "est_merged")
      val estW = graft.functions.CountMin.estimate(whole, keys, "user_id")
        .withColumnRenamed("est_cnt", "est_whole")
      estM.join(estW, Seq("user_id"))
        .withColumn("merge_exact", col("est_merged") === col("est_whole"))
        .orderBy("user_id")
    })

  /** The d181 generalization-ladder CTEs (bands -> per-level window sizes
    * -> settle decision -> class key), shared with the d191 noised-release
    * pipeline oracle so the settled classes the release publishes can
    * never drift from the classes d181 audits.
    */
  private[queries] val ladderKeyedCtes: String =
    """c AS (SELECT c_nationkey, c_mktsegment,
      |    CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS band1k,
      |    CAST(floor(c_acctbal / 5000.0) AS BIGINT) AS band5k
      |  FROM customer),
      |sized AS (SELECT *,
      |    count(*) OVER (PARTITION BY c_nationkey, c_mktsegment, band1k) AS sz0,
      |    count(*) OVER (PARTITION BY c_nationkey, c_mktsegment, band5k) AS sz1,
      |    count(*) OVER (PARTITION BY c_nationkey, c_mktsegment) AS sz2,
      |    count(*) OVER (PARTITION BY c_mktsegment) AS sz3
      |  FROM c),
      |settled AS (SELECT *,
      |    CASE WHEN sz0 >= 6 THEN 0 WHEN sz1 >= 6 THEN 1
      |         WHEN sz2 >= 6 THEN 2 ELSE 3 END AS settle_level
      |  FROM sized),
      |keyed AS (SELECT settle_level,
      |    CASE settle_level
      |      WHEN 0 THEN concat_ws('|', c_nationkey, c_mktsegment, band1k)
      |      WHEN 1 THEN concat_ws('|', c_nationkey, c_mktsegment, band5k)
      |      WHEN 2 THEN concat_ws('|', c_nationkey, c_mktsegment)
      |      ELSE c_mktsegment END AS class_key
      |  FROM settled)""".stripMargin

  val oracles: Map[String, String] = Map(
    "d180_kanon_audit" ->
      """SELECT c_nationkey, c_mktsegment,
        |       CAST(floor(c_acctbal / 5000.0) AS BIGINT) AS bal_band,
        |       count(*) AS class_size,
        |       count(*) < 10 AS at_risk
        |FROM customer
        |GROUP BY 1, 2, 3
        |ORDER BY 1, 2, 3""".stripMargin,

    "d181_kanon_generalize" ->
      (s"WITH $ladderKeyedCtes\n" +
        """SELECT settle_level, count(*) AS n_rows,
          |       count(DISTINCT class_key) AS n_classes
          |FROM keyed GROUP BY 1 ORDER BY 1""".stripMargin),

    "d183_kanon_reference" ->
      """WITH all_c AS (SELECT c_custkey, c_nationkey, c_mktsegment,
        |    CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS band1k,
        |    CAST(floor(c_acctbal / 5000.0) AS BIGINT) AS band5k
        |  FROM customer),
        |ref AS (SELECT * FROM all_c WHERE c_custkey % 2 = 0),
        |dump AS (SELECT * FROM all_c WHERE c_custkey % 2 = 1),
        |s0 AS (SELECT c_nationkey, c_mktsegment, band1k, count(*) AS sz
        |  FROM ref GROUP BY 1, 2, 3),
        |s1 AS (SELECT c_nationkey, c_mktsegment, band5k, count(*) AS sz
        |  FROM ref GROUP BY 1, 2, 3),
        |s2 AS (SELECT c_nationkey, c_mktsegment, count(*) AS sz
        |  FROM ref GROUP BY 1, 2),
        |joined AS (SELECT d.*, s0.sz AS sz0, s1.sz AS sz1, s2.sz AS sz2
        |  FROM dump d
        |  LEFT JOIN s0 ON d.c_nationkey = s0.c_nationkey
        |    AND d.c_mktsegment = s0.c_mktsegment AND d.band1k = s0.band1k
        |  LEFT JOIN s1 ON d.c_nationkey = s1.c_nationkey
        |    AND d.c_mktsegment = s1.c_mktsegment AND d.band5k = s1.band5k
        |  LEFT JOIN s2 ON d.c_nationkey = s2.c_nationkey
        |    AND d.c_mktsegment = s2.c_mktsegment),
        |settled AS (SELECT *,
        |    CASE WHEN sz0 >= 6 THEN 0 WHEN sz1 >= 6 THEN 1
        |         WHEN sz2 >= 6 THEN 2 ELSE 3 END AS settle_level
        |  FROM joined),
        |keyed AS (SELECT settle_level,
        |    CASE settle_level
        |      WHEN 0 THEN concat_ws('|', c_nationkey, c_mktsegment, band1k)
        |      WHEN 1 THEN concat_ws('|', c_nationkey, c_mktsegment, band5k)
        |      WHEN 2 THEN concat_ws('|', c_nationkey, c_mktsegment)
        |      ELSE c_mktsegment END AS class_key
        |  FROM settled)
        |SELECT settle_level, count(*) AS n_rows,
        |       count(DISTINCT class_key) AS n_classes
        |FROM keyed GROUP BY 1 ORDER BY 1""".stripMargin,

    "d187_tcloseness_emd_ref" ->
      """WITH all_c AS (SELECT c_custkey, c_nationkey, c_mktsegment,
        |    CAST(floor(c_acctbal / 2000.0) AS BIGINT) AS sens FROM customer),
        |dump AS (SELECT * FROM all_c WHERE c_custkey % 2 = 1),
        |ref AS (SELECT * FROM all_c WHERE c_custkey % 2 = 0),
        |cells AS (SELECT c_nationkey, c_mktsegment, sens, count(*) AS cv
        |  FROM dump GROUP BY 1, 2, 3),
        |rh AS (SELECT sens, count(*) AS gv FROM ref GROUP BY 1),
        |vals AS (SELECT sens FROM rh UNION SELECT DISTINCT sens FROM cells),
        |gl AS (SELECT v.sens, coalesce(rh.gv, 0) AS gv FROM vals v
        |  LEFT JOIN rh ON v.sens IS NOT DISTINCT FROM rh.sens),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM ref),
        |mv AS (SELECT CAST(count(*) AS BIGINT) AS m FROM gl),
        |classes AS (SELECT c_nationkey, c_mktsegment,
        |    CAST(sum(cv) AS BIGINT) AS class_size
        |  FROM cells GROUP BY 1, 2),
        |grid AS (SELECT cl.c_nationkey, cl.c_mktsegment, cl.class_size,
        |    g.sens, g.gv, coalesce(c.cv, 0) AS cv
        |  FROM classes cl CROSS JOIN gl g
        |  LEFT JOIN cells c ON c.c_nationkey IS NOT DISTINCT FROM cl.c_nationkey
        |    AND c.c_mktsegment IS NOT DISTINCT FROM cl.c_mktsegment
        |    AND c.sens IS NOT DISTINCT FROM g.sens),
        |cum AS (SELECT gr.c_nationkey, gr.c_mktsegment, gr.class_size,
        |    t.n_total,
        |    CAST(sum(gr.cv * t.n_total - gr.gv * gr.class_size) OVER
        |      (PARTITION BY gr.c_nationkey, gr.c_mktsegment
        |       ORDER BY gr.sens NULLS FIRST) AS BIGINT) AS cum
        |  FROM grid gr CROSS JOIN tot t)
        |SELECT c.c_nationkey, c.c_mktsegment, c.class_size,
        |  CAST(sum(abs(c.cum)) AS BIGINT) AS emd_num,
        |  CAST(sum(abs(c.cum)) AS BIGINT) * 6
        |    <= 1 * (max(m.m) - 1) * c.class_size * max(c.n_total) AS t_ok
        |FROM cum c CROSS JOIN mv m
        |GROUP BY 1, 2, 3
        |ORDER BY 1, 2""".stripMargin,

    "d186_tcloseness_ref" ->
      """WITH all_c AS (SELECT c_custkey, c_nationkey, c_mktsegment,
        |    CAST(floor(c_acctbal / 2000.0) AS BIGINT) AS sens FROM customer),
        |dump AS (SELECT * FROM all_c WHERE c_custkey % 2 = 1),
        |ref AS (SELECT * FROM all_c WHERE c_custkey % 2 = 0),
        |cells AS (SELECT c_nationkey, c_mktsegment, sens, count(*) AS cv
        |  FROM dump GROUP BY 1, 2, 3),
        |gl AS (SELECT sens, count(*) AS gv FROM ref GROUP BY 1),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM ref),
        |classes AS (SELECT c_nationkey, c_mktsegment,
        |    CAST(sum(cv) AS BIGINT) AS class_size
        |  FROM cells GROUP BY 1, 2),
        |present AS (SELECT c.c_nationkey, c.c_mktsegment, cl.class_size,
        |    CAST(sum(abs(c.cv * t.n_total - coalesce(g.gv, 0) * cl.class_size))
        |      AS BIGINT) AS present_num,
        |    CAST(sum(coalesce(g.gv, 0)) AS BIGINT) AS present_g,
        |    max(t.n_total) AS n_total
        |  FROM cells c
        |  LEFT JOIN gl g ON c.sens IS NOT DISTINCT FROM g.sens
        |  JOIN classes cl ON c.c_nationkey IS NOT DISTINCT FROM cl.c_nationkey
        |    AND c.c_mktsegment IS NOT DISTINCT FROM cl.c_mktsegment
        |  CROSS JOIN tot t
        |  GROUP BY 1, 2, 3)
        |SELECT c_nationkey, c_mktsegment, class_size,
        |  present_num + (n_total - present_g) * class_size AS tv_num,
        |  (present_num + (n_total - present_g) * class_size) * 5
        |    <= 2 * 2 * class_size * n_total AS t_ok
        |FROM present ORDER BY 1, 2""".stripMargin,

    "d185_tcloseness_emd" ->
      """WITH cells AS (SELECT c_nationkey, c_mktsegment,
        |    CAST(floor(c_acctbal / 2000.0) AS BIGINT) AS sens, count(*) AS cv
        |  FROM customer GROUP BY 1, 2, 3),
        |gl AS (SELECT CAST(floor(c_acctbal / 2000.0) AS BIGINT) AS sens,
        |    count(*) AS gv
        |  FROM customer GROUP BY 1),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM customer),
        |mv AS (SELECT CAST(count(*) AS BIGINT) AS m FROM gl),
        |classes AS (SELECT c_nationkey, c_mktsegment,
        |    CAST(sum(cv) AS BIGINT) AS class_size
        |  FROM cells GROUP BY 1, 2),
        |grid AS (SELECT cl.c_nationkey, cl.c_mktsegment, cl.class_size,
        |    g.sens, g.gv, coalesce(c.cv, 0) AS cv
        |  FROM classes cl CROSS JOIN gl g
        |  LEFT JOIN cells c ON c.c_nationkey IS NOT DISTINCT FROM cl.c_nationkey
        |    AND c.c_mktsegment IS NOT DISTINCT FROM cl.c_mktsegment
        |    AND c.sens IS NOT DISTINCT FROM g.sens),
        |cum AS (SELECT gr.c_nationkey, gr.c_mktsegment, gr.class_size,
        |    t.n_total,
        |    CAST(sum(gr.cv * t.n_total - gr.gv * gr.class_size) OVER
        |      (PARTITION BY gr.c_nationkey, gr.c_mktsegment
        |       ORDER BY gr.sens NULLS FIRST) AS BIGINT) AS cum
        |  FROM grid gr CROSS JOIN tot t)
        |SELECT c.c_nationkey, c.c_mktsegment, c.class_size,
        |  CAST(sum(abs(c.cum)) AS BIGINT) AS emd_num,
        |  CAST(sum(abs(c.cum)) AS BIGINT) * 10
        |    <= 1 * (max(m.m) - 1) * c.class_size * max(c.n_total) AS t_ok
        |FROM cum c CROSS JOIN mv m
        |GROUP BY 1, 2, 3
        |ORDER BY 1, 2""".stripMargin,

    "d184_tcloseness" ->
      """WITH cells AS (SELECT c_nationkey, c_mktsegment,
        |    CAST(floor(c_acctbal / 2000.0) AS BIGINT) AS sens,
        |    count(*) AS cv
        |  FROM customer GROUP BY 1, 2, 3),
        |gl AS (SELECT CAST(floor(c_acctbal / 2000.0) AS BIGINT) AS sens,
        |    count(*) AS gv
        |  FROM customer GROUP BY 1),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM customer),
        |classes AS (SELECT c_nationkey, c_mktsegment,
        |    CAST(sum(cv) AS BIGINT) AS class_size
        |  FROM cells GROUP BY 1, 2),
        |present AS (SELECT c.c_nationkey, c.c_mktsegment, cl.class_size,
        |    CAST(sum(abs(c.cv * t.n_total - g.gv * cl.class_size)) AS BIGINT)
        |      AS present_num,
        |    CAST(sum(g.gv) AS BIGINT) AS present_g,
        |    max(t.n_total) AS n_total
        |  FROM cells c
        |  JOIN gl g ON c.sens IS NOT DISTINCT FROM g.sens
        |  JOIN classes cl ON c.c_nationkey IS NOT DISTINCT FROM cl.c_nationkey
        |    AND c.c_mktsegment IS NOT DISTINCT FROM cl.c_mktsegment
        |  CROSS JOIN tot t
        |  GROUP BY 1, 2, 3)
        |SELECT c_nationkey, c_mktsegment, class_size,
        |  present_num + (n_total - present_g) * class_size AS tv_num,
        |  (present_num + (n_total - present_g) * class_size) * 4
        |    <= 2 * 1 * class_size * n_total AS t_ok
        |FROM present ORDER BY 1, 2""".stripMargin,

    "d182_ldiversity" ->
      """SELECT c_nationkey, c_mktsegment, count(*) AS class_size,
        |       count(DISTINCT CAST(floor(c_acctbal / 2000.0) AS BIGINT)) AS l_distinct,
        |       count(DISTINCT CAST(floor(c_acctbal / 2000.0) AS BIGINT)) >= 3 AS diverse_ok
        |FROM customer
        |GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin,

    "q48_cms_merge" ->
      """WITH p AS (SELECT * FROM (VALUES
        |    (0, 1103515245, 12345), (1, 214013, 2531011),
        |    (2, 134775813, 1), (3, 22695477, 1)) t(j, a, b)),
        |hashed AS (SELECT e.event_id, e.user_id, p.j,
        |    ((p.a * ((e.user_id % 2147483647 + 2147483647) % 2147483647) + p.b)
        |      % 2147483647) % 32 AS bucket
        |  FROM events e CROSS JOIN p),
        |shard_a AS (SELECT j, bucket, count(*) AS cnt FROM hashed
        |  WHERE event_id % 2 = 0 GROUP BY 1, 2),
        |shard_b AS (SELECT j, bucket, count(*) AS cnt FROM hashed
        |  WHERE event_id % 2 = 1 GROUP BY 1, 2),
        |merged AS (SELECT j, bucket, CAST(sum(cnt) AS BIGINT) AS cnt
        |  FROM (SELECT * FROM shard_a UNION ALL SELECT * FROM shard_b)
        |  GROUP BY 1, 2),
        |whole AS (SELECT j, bucket, count(*) AS cnt FROM hashed GROUP BY 1, 2),
        |keys AS (SELECT DISTINCT user_id, j, bucket FROM hashed),
        |est_m AS (SELECT k.user_id, min(coalesce(m.cnt, 0)) AS est_merged
        |  FROM keys k LEFT JOIN merged m USING (j, bucket) GROUP BY 1),
        |est_w AS (SELECT k.user_id, min(coalesce(w.cnt, 0)) AS est_whole
        |  FROM keys k LEFT JOIN whole w USING (j, bucket) GROUP BY 1)
        |SELECT m.user_id, m.est_merged, w.est_whole,
        |       m.est_merged = w.est_whole AS merge_exact
        |FROM est_m m JOIN est_w w USING (user_id)
        |ORDER BY user_id""".stripMargin,

    "q47_count_min" ->
      """WITH p AS (SELECT * FROM (VALUES
        |    (0, 1103515245, 12345), (1, 214013, 2531011),
        |    (2, 134775813, 1), (3, 22695477, 1)) t(j, a, b)),
        |hashed AS (SELECT e.user_id, p.j,
        |    ((p.a * ((e.user_id % 2147483647 + 2147483647) % 2147483647) + p.b)
        |      % 2147483647) % 32 AS bucket
        |  FROM events e CROSS JOIN p),
        |sketch AS (SELECT j, bucket, count(*) AS cnt FROM hashed GROUP BY 1, 2),
        |exact AS (SELECT user_id, count(*) AS exact_cnt FROM events GROUP BY 1),
        |est AS (SELECT h.user_id, min(s.cnt) AS est_cnt
        |  FROM (SELECT DISTINCT user_id, j, bucket FROM hashed) h
        |  JOIN sketch s USING (j, bucket) GROUP BY 1)
        |SELECT e.user_id, e.exact_cnt, est.est_cnt,
        |       est.est_cnt >= e.exact_cnt AS over_ok
        |FROM exact e JOIN est USING (user_id)
        |ORDER BY user_id""".stripMargin)
}
