package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.prom.vec_dot
import graft.sources.{Caches, Tables}

/** Second wave of north-star operators: SimHash fingerprints, IVF-bucketed
  * approximate nearest neighbors (the scale path for similarity search),
  * event-time windowed aggregation, and gap-based sessionization.
  */
object DataQueries2 extends QueryModule {

  /** ONE memoized+persisted IVF cell assignment per (session, dir), shared
    * by every consumer of the index (d10 search, d11 near-dup, d55 recall
    * audit) — the same bounded-cache discipline as DataQueries3's
    * clustersMemo: per-call persist() would leak one cached copy per run
    * for the session lifetime ([[Caches.Memo]]).
    */
  private val ivfMemo = Caches.memo[DataFrame](Caches.unpersist)

  private[graft] def ivfAssigned(s: SparkSession, dir: String): DataFrame =
    ivfMemo((s, dir)) {
      val e = embs(s, dir)
      graft.operators.VectorSearch
        .ivfAssign(e, "vec_id", "embedding",
          e.filter(col("vec_id") < 4), "vec_id", "embedding")
        .persist()
    }

  val queries: Map[String, Q] = Map(
    // 64-bit SimHash over token md5s (frequency-weighted, strict >0 rule);
    // output as a bitstring to stay integer-exact across engines. One
    // codegen'd kernel call per document — a narrow map with zero shuffle
    // (the exploded-token formulation shuffles |corpus tokens| rows into a
    // 64-column aggregate; same result, orders of magnitude more movement).
    "d09_simhash" -> ((s, dir) =>
      docs(s, dir)
        .select(col("doc_id"), graft.functions.prom.simhash64(col("text")).as("simhash"))
        .orderBy("doc_id")),

    // IVF-style ANN: 4 coarse cells (centroids = vec_id < 4), vectors are
    // assigned to their nearest centroid, queries search ONLY their own cell.
    // This is the 100TB shape: candidate set per query is corpus/cells, and
    // the cell assignment is a narrow pass + small broadcast of centroids.
    "d10_ann_ivf" -> ((s, dir) => {
      // the cell assignment IS the IVF index (public VectorSearch API) —
      // one persisted copy per (session, dir), shared with d11/d55
      val assigned = ivfAssigned(s, dir)
      val q = assigned.filter(col("id") >= 8 && col("id") < 16)
        .select(col("id").as("qid"), col("v").as("qv"), col("nrm").as("qn"), col("cell"))
      val scored = q.join(assigned, Seq("cell"))
        .filter(col("id") =!= col("qid"))
        .select(col("qid"), col("id").as("vec_id"),
          (vec_dot(col("qv"), col("v")) / (col("qn") * col("nrm"))).as("cos"))
      val wRank = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id"))
      scored.withColumn("rank", row_number().over(wRank).cast("long"))
        .filter(col("rank") <= 3)
        .select(col("qid"), col("rank"), col("vec_id"), col("cos"))
        .orderBy("qid", "rank")
    }),

    // embedding-cosine near-duplicate pairs, IVF-cell blocked (candidate
    // pairs come from the same coarse cell, never the full cross join).
    // Threshold 0.4 suits this synthetic corpus (max pairwise cos ~0.51);
    // production near-dup dedup would use ~0.95.
    "d11_embed_neardup" -> ((s, dir) => {
      // shared persisted IVF index (see ivfAssigned); the candidate join is
      // a cell equijoin of the assignment against itself — partitioned by
      // cell, never a broadcast (cells are corpus-sized)
      val assigned = ivfAssigned(s, dir)
      assigned.as("x").join(assigned.as("y"),
          col("x.cell") === col("y.cell") && col("x.id") < col("y.id"))
        .select(col("x.id").as("a"), col("y.id").as("b"),
          (vec_dot(col("x.v"), col("y.v")) / (col("x.nrm") * col("y.nrm"))).as("cos"))
        .filter(col("cos") >= 0.4)
        .orderBy("a", "b")
    }),

    // event-time tumbling window aggregation (hourly)
    "q11_event_window" -> ((s, dir) =>
      events(s, dir)
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("v"))
        .select(col("w.start").as("w_start"), col("event_type"), col("n"), col("v"))
        .orderBy("w_start", "event_type")),

    // sketch aggregates: HLL distinct + approximate quantiles. Sketch
    // internals differ across engines, so what crosses the oracle is the
    // exact counts plus BOUND CHECKS: each sketch estimate must land within
    // its advertised error of the exact value (computed in the same query).
    // That upgrades this from a rows-only check to a full hash match while
    // still exercising the sketch operators themselves.
    "q13_sketches" -> ((s, dir) => {
      // the slim 4-column projection feeds FOUR consumers (two exact
      // distincts, the sketch agg, the exact-median rollup). An ephemeral
      // persist of it was tried in r21 (guide §5) and REJECTED on
      // measurement: it won under CPU contention (3.41 -> 2.84 s,
      // calib-matched) but LOST on a quiet host (2.29 -> 2.43-3.24 s over
      // repeated A/Bs) — the single-threaded columnar cache build costs
      // more than three extra page-cached parquet scans that run in
      // parallel. Recompute wins here; d84's pair frame (a JOIN output,
      // expensive to recompute) is the shape where the persist pays.
      val li = Tables.load(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_partkey"), col("l_suppkey"), col("l_extendedprice"))
      // exact distincts as their own two-phase aggregations: multiple
      // countDistinct in one agg would Expand (duplicate) every input row
      // per distinct column — a 56s plan at sf0.1 vs ~2s for this shape
      def exact(c: String, as: String) =
        li.select(col("l_returnflag"), col(c)).distinct()
          .groupBy(col("l_returnflag")).agg(count(lit(1)).as(as))
      val sketches = li.groupBy(col("l_returnflag")).agg(
        approx_count_distinct(col("l_partkey"), 0.01).as("ap"),
        approx_count_distinct(col("l_suppkey"), 0.01).as("asup"),
        percentile_approx(col("l_extendedprice"), lit(0.5), lit(2500)).as("p50a"))
      // exact median via q20's rank arithmetic over the (group, DISTINCT
      // price) count table: the exact Percentile aggregate buffers every
      // group value in ONE unmergeable aggregation buffer — 3 groups would
      // pin ~n/3 doubles each in 3 reducers at 100 TB — and a row_number
      // window partitioned by the 3-value flag sorts ~corpus/3 in one task.
      // ScaleWindows.rankTable keeps every window over the bounded count
      // table; (lo+hi)/2 is IEEE-exact parity with percentile(0.5)'s
      // midpoint interpolation.
      val p50e = graft.operators.ScaleWindows
        .rankTable(
          li.select(col("l_returnflag"), col("l_extendedprice").cast("double").as("p"))
            .groupBy(col("l_returnflag"), col("p")).agg(count(lit(1)).as("cnt")),
          Seq("l_returnflag"), "p", "cnt", 1000L)
        .groupBy(col("l_returnflag"))
        .agg(((min(when(col("cum") >= expr("(n + 1) DIV 2"), col("p"))) +
              min(when(col("cum") >= expr("(n + 2) DIV 2"), col("p")))) / 2).as("p50e"))
      exact("l_partkey", "exact_parts")
        .join(exact("l_suppkey", "exact_supps"), "l_returnflag")
        .join(sketches, "l_returnflag")
        .join(p50e, "l_returnflag")
        .select(col("l_returnflag"), col("exact_parts"), col("exact_supps"),
          (abs(col("ap") - col("exact_parts"))
            <= col("exact_parts") * lit(0.05)).as("parts_ok"),
          (abs(col("asup") - col("exact_supps"))
            <= col("exact_supps") * lit(0.05)).as("supps_ok"),
          (abs(col("p50a") - col("p50e")) <= abs(col("p50e")) * lit(0.05)).as("p50_ok"))
        .orderBy("l_returnflag")
    }),

    // skew-aware aggregation: two-phase salted groupBy for heavy-hitter
    // keys (event_type has ~5 values over 100k+ rows — the classic skew
    // shape). Phase 1 pre-aggregates per (key, salt) across 8 salt buckets;
    // phase 2 merges per key. Results identical to a direct groupBy; the
    // exchange before phase 2 moves 8 rows per key instead of all rows.
    "q14_salted_agg" -> ((s, dir) => {
      val salted = events(s, dir)
        .withColumn("salt", pmod(col("event_id"), lit(8)))
        .groupBy(col("event_type"), col("salt"))
        .agg(count(lit(1)).as("pn"),
          sum(col("value").cast("decimal(18,2)")).as("pv"))
      salted.groupBy(col("event_type"))
        .agg(sum(col("pn")).as("n"), sum(col("pv")).cast("double").as("v"))
        .orderBy("event_type")
    }),

    // TF-IDF top terms per document: term frequencies joined against a
    // document-frequency table. The df table is corpus-derived (one row per
    // distinct term — billions at web scale), so the term join is a plain
    // shuffle on the term key; AQE broadcasts it when it genuinely fits.
    // Only the one-row corpus count is force-broadcast. Score = (tf * N)/df
    // in explicit operation order: int-to-double exact, two IEEE ops.
    "d12_tfidf" -> ((s, dir) => {
      val tok = docs(s, dir).select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      val tf = tok.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
      // df falls out of tf for free: every (doc_id, term) row is one document
      // containing the term. Saves a second explode + distinct pass over the
      // corpus, and the shared tf exchange is reused across both branches.
      val dfT = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      val n = docs(s, dir).agg(count(lit(1)).as("n_docs"))
      val scored = tf.join(dfT, "term").crossJoin(broadcast(n))
        .withColumn("score",
          col("tf").cast("double") * col("n_docs").cast("double") / col("df").cast("double"))
      // top-5 via the bounded TopKStruct aggregate (min on (-score, term) ==
      // score desc, term asc): partial-aggregates map-side instead of the
      // full per-group window sort; double negation is IEEE-exact both ways
      scored.groupBy(col("doc_id"))
        .agg(graft.functions.TopKStruct.topk_struct(5,
          struct((-col("score")).as("ns"), col("term"), col("tf"), col("df"))).as("tk"))
        .select(col("doc_id"), posexplode(col("tk")).as(Seq("pos", "t")))
        .select(col("doc_id"), (col("pos") + 1).cast("long").as("rank"),
          col("t.term").as("term"), col("t.tf").as("tf"), col("t.df").as("df"),
          (-col("t.ns")).as("score"))
        .orderBy("doc_id", "rank")
    }),

    // as-of join composed from built-ins: for each order, the first lineitem
    // shipped on/after the order date. The "first match" is min(struct(...))
    // with the tie-break chain as struct fields (lexicographic struct
    // ordering == the ORDER BY chain) — a partial-aggregatable hash agg that
    // combines map-side, instead of a row_number window that would fully
    // sort every order's matches after the shuffle.
    // (shipdate, linenumber) can collide in the synthetic data — the
    // tie-break chain must reach a unique key for determinism.
    "q16_asof" -> ((s, dir) => {
      val o = Tables.load(s, dir, "orders")
      val li = Tables.load(s, dir, "lineitem")
      o.join(li,
          col("o_orderkey") === col("l_orderkey") && col("l_shipdate") >= col("o_orderdate"))
        .groupBy(col("o_orderkey"))
        .agg(min(struct(col("l_shipdate"), col("l_linenumber"), col("l_quantity"),
          col("l_partkey"), col("l_suppkey"))).as("m"))
        .select(col("o_orderkey"), col("m.l_linenumber").cast("long").as("first_line"),
          unix_millis(col("m.l_shipdate").cast("timestamp")).as("ship_ms"),
          round(col("m.l_quantity"), 2).as("qty"))
        .orderBy("o_orderkey")
    }),

    // native session windows (30min gap) — same semantics as the manual
    // lag/cumsum sessionization in q12, via Spark's session_window operator
    "q17_session_window" -> ((s, dir) =>
      events(s, dir)
        .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
        .agg(count(lit(1)).as("n_events"), min(unix_millis(col("ts"))).as("start_ms"),
          max(unix_millis(col("ts"))).as("end_ms"))
        .select(col("user_id"), col("n_events"), col("start_ms"), col("end_ms"))
        .orderBy("user_id", "start_ms")),

    // pivot: per-tenant columns from the events->samples mapping
    "q15_pivot" -> ((s, dir) =>
      EventSamples.df(s, dir)
        .groupBy(col("name"))
        .pivot("tenantId", Seq("", "team-a", "team-b"))
        .agg(count(lit(1)))
        .select(col("name"), col("").as("n_anon"),
          col("team-a").as("n_team_a"), col("team-b").as("n_team_b"))
        .orderBy("name")),

    // gap-based sessionization: new session when >30min since user's last event
    "q12_sessions" -> ((s, dir) => {
      val wUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      events(s, dir)
        .withColumn("prev_ts", lag(col("ts"), 1).over(wUser))
        .withColumn("new_s",
          when(col("prev_ts").isNull
            || unix_millis(col("ts")) - unix_millis(col("prev_ts")) > 1800000L, 1L)
            .otherwise(0L))
        .withColumn("session_id", sum(col("new_s")).over(
          wUser.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_events"),
          min(unix_millis(col("ts"))).as("start_ms"),
          max(unix_millis(col("ts"))).as("end_ms"))
        .orderBy("user_id", "session_id")
    })
  )

  /** DuckDB CTE chain ending in `sig(doc_id, simhash)` — the oracle mirror
    * of the simhash64 kernel; d35's banding oracle extends it.
    */
  private[queries] val simhashSigCte: String = {
    val nibbleCols = (0 until 16)
      .map(k => s"instr('0123456789abcdef', substr(md5(t), ${k + 1}, 1)) - 1 AS n$k")
      .mkString(", ")
    val sums = (0 until 64)
      .map(j => s"sum(((n${j / 4} >> ${3 - (j % 4)}) & 1) * 2 - 1) AS s$j")
      .mkString(", ")
    val bits = (0 until 64)
      .map(j => s"CASE WHEN s$j > 0 THEN '1' ELSE '0' END")
      .mkString(" || ")
    s"""tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
       |nib AS (SELECT doc_id, $nibbleCols FROM tok),
       |agg AS (SELECT doc_id, $sums FROM nib GROUP BY doc_id),
       |sig AS (SELECT doc_id, $bits AS simhash FROM agg)""".stripMargin
  }

  private def simhashOracle: String =
    s"WITH $simhashSigCte SELECT doc_id, simhash FROM sig ORDER BY doc_id"

  private val foldDot =
    "list_reduce(list_prepend(0.0::DOUBLE, [qv[i] * v[i] FOR i IN generate_series(1, len(v))]), (a, b) -> a + b)"

  val oracles: Map[String, String] = Map(
    "d09_simhash" -> simhashOracle,

    // sketch estimates themselves never cross engines — only exact counts
    // and the within-bounds booleans (TRUE by construction when the Spark
    // sketches honor their error contract)
    "q13_sketches" ->
      """SELECT l_returnflag,
        |  CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
        |  CAST(count(DISTINCT l_suppkey) AS BIGINT) AS exact_supps,
        |  TRUE AS parts_ok, TRUE AS supps_ok, TRUE AS p50_ok
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "d10_ann_ivf" ->
      s"""WITH e AS (SELECT vec_id, [CAST(x AS DOUBLE) FOR x IN embedding] AS v,
         |    sqrt(list_reduce(list_prepend(0.0::DOUBLE, [CAST(x AS DOUBLE) * CAST(x AS DOUBLE) FOR x IN embedding]), (a, b) -> a + b)) AS nrm
         |  FROM embeddings),
         |cents AS (SELECT vec_id AS cid, v AS cv, nrm AS cn FROM e WHERE vec_id < 4),
         |scoredcells AS (SELECT e.vec_id, e.v, e.nrm, c.cid,
         |    list_reduce(list_prepend(0.0::DOUBLE, [e.v[i] * c.cv[i] FOR i IN generate_series(1, len(e.v))]), (a, b) -> a + b) / (e.nrm * c.cn) AS ccos
         |  FROM e CROSS JOIN cents c),
         |assigned AS (SELECT vec_id, v, nrm, cid AS cell FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS rn FROM scoredcells)
         |  WHERE rn = 1),
         |q AS (SELECT vec_id AS qid, v AS qv, nrm AS qn, cell FROM assigned WHERE vec_id >= 8 AND vec_id < 16),
         |scored AS (SELECT qid, a.vec_id, $foldDot / (qn * a.nrm) AS cos
         |  FROM q JOIN assigned a USING (cell) WHERE a.vec_id <> qid),
         |ranked AS (SELECT qid, vec_id, cos,
         |    CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS BIGINT) AS rank
         |  FROM scored)
         |SELECT qid, rank, vec_id, cos FROM ranked WHERE rank <= 3 ORDER BY qid, rank""".stripMargin,

    "d11_embed_neardup" ->
      s"""WITH e AS (SELECT vec_id, [CAST(x AS DOUBLE) FOR x IN embedding] AS v,
         |    sqrt(list_reduce(list_prepend(0.0::DOUBLE, [CAST(x AS DOUBLE) * CAST(x AS DOUBLE) FOR x IN embedding]), (a, b) -> a + b)) AS nrm
         |  FROM embeddings),
         |cents AS (SELECT vec_id AS cid, v AS cv, nrm AS cn FROM e WHERE vec_id < 4),
         |scoredcells AS (SELECT e.vec_id, e.v, e.nrm, c.cid,
         |    list_reduce(list_prepend(0.0::DOUBLE, [e.v[i] * c.cv[i] FOR i IN generate_series(1, len(e.v))]), (a, b) -> a + b) / (e.nrm * c.cn) AS ccos
         |  FROM e CROSS JOIN cents c),
         |assigned AS (SELECT vec_id, v, nrm, cid AS cell FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS rn FROM scoredcells)
         |  WHERE rn = 1),
         |pairs AS (SELECT x.vec_id AS a, y.vec_id AS b,
         |    list_reduce(list_prepend(0.0::DOUBLE, [x.v[i] * y.v[i] FOR i IN generate_series(1, len(x.v))]), (a, b) -> a + b) / (x.nrm * y.nrm) AS cos
         |  FROM assigned x JOIN assigned y ON x.cell = y.cell AND x.vec_id < y.vec_id)
         |SELECT a, b, cos FROM pairs WHERE cos >= 0.4 ORDER BY a, b""".stripMargin,

    "q11_event_window" ->
      """SELECT date_trunc('hour', ts) AS w_start, event_type,
        |  CAST(count(*) AS BIGINT) AS n, round(CAST(sum(value) AS DOUBLE), 2) AS v
        |FROM events GROUP BY date_trunc('hour', ts), event_type
        |ORDER BY w_start, event_type""".stripMargin,

    "q14_salted_agg" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS v
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "d12_tfidf" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY doc_id, term),
        |dft AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM (SELECT DISTINCT doc_id, term FROM tok) GROUP BY term),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
        |scored AS (SELECT doc_id, tf.term, tf, df,
        |    CAST(tf AS DOUBLE) * CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE) AS score
        |  FROM tf JOIN dft ON tf.term = dft.term CROSS JOIN n),
        |ranked AS (SELECT doc_id, term, tf, df, score,
        |    CAST(row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS BIGINT) AS rank
        |  FROM scored)
        |SELECT doc_id, rank, term, tf, df, score FROM ranked WHERE rank <= 5
        |ORDER BY doc_id, rank""".stripMargin,

    "q16_asof" ->
      """WITH joined AS (
        |  SELECT o_orderkey, l_linenumber, l_shipdate, l_quantity,
        |    row_number() OVER (PARTITION BY o_orderkey ORDER BY l_shipdate, l_linenumber, l_quantity, l_partkey, l_suppkey) AS rn
        |  FROM orders JOIN lineitem
        |    ON o_orderkey = l_orderkey AND l_shipdate >= o_orderdate)
        |SELECT o_orderkey, CAST(l_linenumber AS BIGINT) AS first_line,
        |  epoch_ms(l_shipdate) AS ship_ms, round(CAST(l_quantity AS DOUBLE), 2) AS qty
        |FROM joined WHERE rn = 1 ORDER BY o_orderkey""".stripMargin,

    "q17_session_window" ->
      """WITH ordered AS (
        |  SELECT user_id, event_id, ts, epoch_ms(ts) AS ts_ms,
        |    lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
        |  FROM events),
        |flagged AS (
        |  -- session_window closes at exactly prev+gap (end-exclusive) and
        |  -- compares at µs precision, so the oracle must too
        |  SELECT user_id, event_id, ts, ts_ms,
        |    CASE WHEN prev_us IS NULL OR epoch_us(ts) - prev_us >= 1800000000 THEN 1 ELSE 0 END AS new_s
        |  FROM ordered),
        |sessions AS (
        |  SELECT user_id, ts_ms,
        |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM flagged)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        |  min(ts_ms) AS start_ms, max(ts_ms) AS end_ms
        |FROM sessions GROUP BY user_id, sid ORDER BY user_id, start_ms""".stripMargin,

    "q15_pivot" -> {
      SqlFragments.samplesCte +
      """ SELECT name,
        |  CAST(sum(CASE WHEN tenant = '' THEN 1 ELSE 0 END) AS BIGINT) AS n_anon,
        |  CAST(sum(CASE WHEN tenant = 'team-a' THEN 1 ELSE 0 END) AS BIGINT) AS n_team_a,
        |  CAST(sum(CASE WHEN tenant = 'team-b' THEN 1 ELSE 0 END) AS BIGINT) AS n_team_b
        |FROM samples GROUP BY name ORDER BY name""".stripMargin
    },

    "q12_sessions" ->
      """WITH ordered AS (
        |  SELECT user_id, event_id, ts, epoch_ms(ts) AS ts_ms,
        |    lag(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ms
        |  FROM events),
        |flagged AS (
        |  SELECT user_id, event_id, ts, ts_ms,
        |    CASE WHEN prev_ms IS NULL OR ts_ms - prev_ms > 1800000 THEN 1 ELSE 0 END AS new_s
        |  FROM ordered),
        |sessions AS (
        |  -- cumsum MUST use the same full-µs ordering as the lag above (and
        |  -- as Spark): ms-truncated ordering could diverge on same-ms events
        |  SELECT user_id, ts_ms,
        |    CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM flagged)
        |SELECT user_id, session_id, CAST(count(*) AS BIGINT) AS n_events,
        |  min(ts_ms) AS start_ms, max(ts_ms) AS end_ms
        |FROM sessions GROUP BY user_id, session_id ORDER BY user_id, session_id""".stripMargin
  )
}
