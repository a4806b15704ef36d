package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Twenty-fifth wave: the privacy family's user-level chapter and the
  * sketch trio's last member. d193 exercises `noisedCounts`' sensitivity
  * parameter end-to-end — deterministic per-user contribution clipping
  * (`Privacy.clipContributions`) then a noised event-type histogram at
  * sensitivity = c, the clip that makes a release over `events`-shaped
  * data (one user, many rows) a user-level guarantee. d194 is the
  * parallel-composition ledger: per-day event-level releases over
  * disjoint windows spend max(eps), not sum(eps)
  * (`Privacy.composeBudgetParallel`). q53/q54 add the mergeable quantile
  * sketch (`functions/QSketch`): an exact-integer log-linear bucket
  * histogram whose state table crosses the oracle hash-exactly and
  * merges by plain count addition, with a containment read whose audit
  * is two conditional counts, not a corpus sort.
  *
  * Scale posture: d193's clip is one corpus window on the user key (the
  * shuffle any per-user aggregation pays) then bounded-cell algebra;
  * d194 is one aggregation then narrow maps; q53 is one hash aggregation
  * into a <=~700-row bucket table; q54's audit joins the corpus once
  * against a broadcast 5-row quantile table — no global sort anywhere.
  */
object DataQueries25 extends QueryModule {

  private def lineitem(s: SparkSession, dir: String) = Tables.load(s, dir, "lineitem")

  /** d193's contribution bound: each user keeps at most this many events
    * (md5-ordered), and the release charges exactly this L1 sensitivity.
    * Interpolated into the Spark binding and the oracle from one value.
    */
  private val ClipC = 3

  /** d194's parallel budget: every per-day release spends eps = 1/2; the
    * family total over disjoint days is the MAX = 1/2 (computed through
    * the public API so the query exercises it), while the sequential
    * ledger would charge |days|/2.
    */
  private val (parNum, parDen) =
    graft.operators.Privacy.composeBudgetParallel(Seq((1L, 2L), (1L, 2L)))

  /** q54's audited quantiles, shared with the oracle text. */
  private val Quantiles = Seq(0.25, 0.5, 0.75, 0.9, 0.99)

  /** q56's audited quantiles — 0.05 lands in c_acctbal's negative range. */
  private val SignedQuantiles = Seq(0.05, 0.25, 0.5, 0.9)

  val queries: Map[String, Q] = Map[String, Q](
    // user-level DP release over events: clip each user to its ClipC
    // md5-first events (Privacy.clipContributions — deterministic, so the
    // oracle replays the exact kept set), then release the event-type
    // histogram with noise at sensitivity = ClipC: after the clip, one
    // user entering/leaving moves any cell count by at most ClipC, so
    // eps = 1/2 at L1 sensitivity 3 is a USER-level guarantee — the
    // inverse-CDF table is computed at eps/sensitivity = 1/6 and both
    // engines compare the same integer literals. Every sf0.01 user has
    // > 3 events (max 86), so the clip provably bites: noise calibrated
    // to sensitivity 1 on unclipped rows would under-protect by up to a
    // user's full row count (PrivacySpec pins the gap).
    "d193_dp_user_level" -> { (s, dir) =>
      val clipped = graft.operators.Privacy.clipContributions(
        events(s, dir), "user_id", "event_id", ClipC)
      val hist = clipped.groupBy("event_type").agg(count(lit(1)).as("cnt"))
      graft.operators.Privacy.noisedCounts(hist, Seq("event_type"), "cnt",
          releaseTag = "usertypes", epsNum = 1L, epsDen = 2L,
          sensitivity = ClipC.toLong)
        .orderBy("event_type")
    },

    // parallel-composition ledger: per-day event-type releases (each day
    // a separate release over that day's events at eps = 1/2, the
    // window-start-in-the-noise-key discipline of StreamOps.noisedRelease)
    // rolled up per day, plus two ledger rows — 'total_sequential' (the
    // conservative sum: |days| * 1/2, emitted unreduced as (|days|, 2)
    // with |days| computed in-plan, no driver collect) and
    // 'total_parallel' (Privacy.composeBudgetParallel: one EVENT lands in
    // exactly one day, so for event-level adjacency an adjacent dataset
    // changes one day's release only and the family spends max = 1/2).
    // The honest caveat lives in the operator scaladoc: for USER-level
    // adjacency a user spans days and the sequential sum is the truth.
    "d194_dp_parallel" -> { (s, dir) =>
      val cells = events(s, dir)
        .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"),
          col("event_type"))
        .agg(count(lit(1)).as("cnt"))
      val noised = graft.sources.Caches.ephemeral(
        graft.operators.Privacy.noisedCounts(cells, Seq("day", "event_type"),
          "cnt", "daily", 1L, 2L))
      val perDay = noised.groupBy("day")
        .agg(count(lit(1)).as("n_cells"),
          sum(abs(col("noise"))).as("l1_noise"),
          max(abs(col("noise"))).as("linf_noise"))
        .select(col("day").as("release"), lit(1L).as("eps_num"),
          lit(2L).as("eps_den"), col("n_cells"), col("l1_noise"),
          col("linf_noise"))
      val totals = noised
        .agg(countDistinct(col("day")).as("n_days"),
          count(lit(1)).as("n_cells"),
          sum(abs(col("noise"))).as("l1_noise"),
          max(abs(col("noise"))).as("linf_noise"))
      val seqTotal = totals.select(lit("total_sequential").as("release"),
        col("n_days").as("eps_num"), lit(2L).as("eps_den"),
        col("n_cells"), col("l1_noise"), col("linf_noise"))
      val parTotal = totals.select(lit("total_parallel").as("release"),
        lit(parNum).as("eps_num"), lit(parDen).as("eps_den"),
        col("n_cells"), col("l1_noise"), col("linf_noise"))
      perDay.unionByName(seqTotal).unionByName(parTotal).orderBy("release")
    },

    // mergeable quantile-sketch state over l_extendedprice (in exact
    // cents): one row per touched log-linear bucket with its count —
    // exact integer arithmetic only (bit length via the proven bin()/
    // length parity, shifts), so the <=~700-row table crosses the oracle
    // hash-exactly AND merges by adding counts across shards/windows
    // like any long sum (QSketchSpec proves the merge law; the live twin
    // is StreamOps.qsketch). One hash aggregation; bounded state at any
    // corpus size — the sketch the 100 TB percentile dashboard keeps
    // instead of a corpus sort.
    "q53_qsketch_state" -> { (s, dir) =>
      graft.functions.QSketch.sketch(
          lineitem(s, dir).select(
            floor(col("l_extendedprice") * 100.0 + 0.5).cast("long").as("cents")),
          "cents")
        .orderBy("bucket_lo")
    },

    // the quantile read + its exact containment audit: for each q, the
    // first bucket whose cumulative count reaches ceil(q*n) (a window
    // over the bounded state table, never the corpus), with the
    // GUARANTEE the sketch makes — the exact q-th value lies inside
    // [lo, hi], hi/lo <= 1 + 2^-SubBits (= 1 + 2^-5, QSketch.SubBits) —
    // verified not by sorting the corpus
    // but by TWO conditional counts against the broadcast 5-row quantile
    // table: rank(v < lo) < target <= rank(v <= hi). Exact containment,
    // not a band.
    "q54_qsketch_read" -> { (s, dir) =>
      val vals = graft.sources.Caches.ephemeral(
        lineitem(s, dir).select(
          floor(col("l_extendedprice") * 100.0 + 0.5).cast("long").as("cents")))
      val reads = graft.functions.QSketch.quantileReads(
        graft.functions.QSketch.sketch(vals, "cents"), Quantiles)
      val audited = vals.crossJoin(broadcast(reads))
        .groupBy("q", "lo", "hi", "target")
        .agg(sum(when(col("cents") < col("lo"), 1L).otherwise(0L)).as("n_below_lo"),
          sum(when(col("cents") <= col("hi"), 1L).otherwise(0L)).as("n_thru_hi"))
      audited.select(col("q"), col("lo"), col("hi"), col("target"),
          (col("n_below_lo") < col("target") &&
            col("n_thru_hi") >= col("target")).as("contains_exact"))
        .orderBy("q")
    },

    // sketch mergeability, oracle-checked (the q48 pattern applied to the
    // quantile trio member): one sketch per SHARD (even/odd order keys —
    // at 100 TB each executor/day builds its own), merged by SUMMING
    // bucket counts, proven bucket-identical to the whole-corpus build
    // through a FULL join (a bucket present on one side only would
    // surface as merge_exact = false, not vanish). This is the linearity
    // that lets per-shard quantile states ship as tiny artifacts and fold
    // later — stated as per-bucket booleans the oracle replays, not prose.
    "q55_qsketch_merge" -> { (s, dir) =>
      val cents = graft.sources.Caches.ephemeral(
        lineitem(s, dir).select(col("l_orderkey"),
          floor(col("l_extendedprice") * 100.0 + 0.5).cast("long").as("cents")))
      val a = graft.functions.QSketch.sketch(
        cents.filter(col("l_orderkey") % 2 === 0), "cents")
      val b = graft.functions.QSketch.sketch(
        cents.filter(col("l_orderkey") % 2 === 1), "cents")
      val merged = a.unionByName(b)
        .groupBy("bucket_lo").agg(sum(col("cnt")).as("cnt_merged"))
      val whole = graft.functions.QSketch.sketch(cents, "cents")
        .withColumnRenamed("cnt", "cnt_whole")
      merged.join(whole, Seq("bucket_lo"), "full")
        .select(col("bucket_lo"),
          coalesce(col("cnt_merged"), lit(0L)).as("cnt_merged"),
          coalesce(col("cnt_whole"), lit(0L)).as("cnt_whole"),
          (coalesce(col("cnt_merged"), lit(0L)) ===
            coalesce(col("cnt_whole"), lit(0L))).as("merge_exact"))
        .orderBy("bucket_lo")
    },

    // HLL merge law, oracle-checked — and stronger than q55's: the two
    // shards deliberately OVERLAP (event ids ≡ 0,1 mod 3 vs ≡ 1,2 mod 3
    // — together covering everything, sharing the ≡1 third), because the
    // register-wise MAX merge is IDEMPOTENT: re-delivered or
    // double-sharded rows cannot inflate the sketch, the property that
    // lets at-least-once pipelines ship per-shard HLL states without
    // exactly-once plumbing. Count-min (q48) genuinely cannot make this
    // claim — its counts ADD, so its shards must partition rows — which
    // is why both laws are pinned separately. FULL join against the
    // whole-corpus build; any divergent register surfaces as
    // merge_exact = false.
    "q57_hll_merge" -> { (s, dir) =>
      val ev = graft.sources.Caches.ephemeral(events(s, dir))
      val a = graft.functions.Hll.registers(
        ev.filter(col("event_id") % 3 <= 1), "user_id")
      val b = graft.functions.Hll.registers(
        ev.filter(col("event_id") % 3 >= 1), "user_id")
      val merged = a.unionByName(b)
        .groupBy("register").agg(max(col("rho")).as("rho_merged"))
      val whole = graft.functions.Hll.registers(ev, "user_id")
        .withColumnRenamed("rho", "rho_whole")
      merged.join(whole, Seq("register"), "full")
        .select(col("register"),
          coalesce(col("rho_merged"), lit(0L)).as("rho_merged"),
          coalesce(col("rho_whole"), lit(0L)).as("rho_whole"),
          (coalesce(col("rho_merged"), lit(0L)) ===
            coalesce(col("rho_whole"), lit(0L))).as("merge_exact"))
        .orderBy("register")
    },

    // the SIGNED quantile sketch over account balances — c_acctbal spans
    // -999.99..9999.41, so q = 0.05 lands in the NEGATIVE range: bucket
    // keys mirror through the magnitude (sign * posLo(|v|); keys sort in
    // value order, so the cumulative walk is sign-blind) and the q54
    // containment audit applies unchanged — rank(v < lo) < target <=
    // rank(v <= hi), two conditional counts, no corpus sort. Relative
    // width <= 2^-5 per magnitude; values under 64 cents (either sign)
    // and zero are exact singletons.
    "q56_qsketch_signed" -> { (s, dir) =>
      val vals = graft.sources.Caches.ephemeral(
        customer(s, dir).select(
          floor(col("c_acctbal") * 100.0 + 0.5).cast("long").as("cents")))
      val reads = graft.functions.QSketch.quantileReadsSigned(
        graft.functions.QSketch.sketchSigned(vals, "cents"), SignedQuantiles)
      val audited = vals.crossJoin(broadcast(reads))
        .groupBy("q", "lo", "hi", "target")
        .agg(sum(when(col("cents") < col("lo"), 1L).otherwise(0L)).as("n_below_lo"),
          sum(when(col("cents") <= col("hi"), 1L).otherwise(0L)).as("n_thru_hi"))
      audited.select(col("q"), col("lo"), col("hi"), col("target"),
          (col("n_below_lo") < col("target") &&
            col("n_thru_hi") >= col("target")).as("contains_exact"))
        .orderBy("q")
    })

  /** One named HLL register-table CTE chain over a relation exposing a
    * `user_id` column — the q57 merge oracle builds three (two
    * overlapping shards + the whole) from the q49 arithmetic.
    */
  private def hllRegOver(rel: String, name: String): String =
    s"""${name}_v AS (SELECT CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
       |    AS BIGINT) AS v FROM $rel),
       |${name}_r AS (SELECT v % 256 AS register,
       |    CASE WHEN v // 256 = 0 THEN 53
       |         ELSE 53 - length(bin(v // 256)) END AS rho
       |  FROM ${name}_v),
       |$name AS (SELECT register, CAST(max(rho) AS BIGINT) AS rho
       |  FROM ${name}_r GROUP BY 1)""".stripMargin

  val oracles: Map[String, String] = Map(
    "q57_hll_merge" ->
      (s"""WITH va AS (SELECT user_id FROM events WHERE event_id % 3 <= 1),
         |vb AS (SELECT user_id FROM events WHERE event_id % 3 >= 1),
         |""".stripMargin +
        s"${hllRegOver("va", "ra")},\n" +
        s"${hllRegOver("vb", "rb")},\n" +
        s"${hllRegOver("events", "whole")},\n" +
        """merged AS (SELECT register, CAST(max(rho) AS BIGINT) AS rho_merged
          |  FROM (SELECT * FROM ra UNION ALL SELECT * FROM rb) GROUP BY 1)
          |SELECT coalesce(m.register, w.register) AS register,
          |  coalesce(m.rho_merged, 0) AS rho_merged,
          |  coalesce(w.rho, 0) AS rho_whole,
          |  coalesce(m.rho_merged, 0) = coalesce(w.rho, 0) AS merge_exact
          |FROM merged m FULL JOIN whole w ON m.register = w.register
          |ORDER BY 1""".stripMargin),
    "d193_dp_user_level" ->
      s"""WITH kept AS (SELECT event_type FROM (
         |    SELECT event_type, row_number() OVER (PARTITION BY user_id
         |        ORDER BY md5(CAST(event_id AS VARCHAR)), event_id) AS rn
         |    FROM events) WHERE rn <= $ClipC),
         |h AS (SELECT event_type, CAST(count(*) AS BIGINT) AS cnt
         |  FROM kept GROUP BY 1),
         |u AS (SELECT *, CAST(('0x' || substr(md5('dp:usertypes|' ||
         |    concat_ws('|', event_type)), 1, 6)) AS BIGINT) AS u24
         |  FROM h),
         |n AS (SELECT event_type, cnt,
         |    ${DataQueries24.dpCase(1L, 2L, ClipC.toLong)} AS noise FROM u)
         |SELECT event_type, cnt, noise,
         |  greatest(CAST(0 AS BIGINT), cnt + noise) AS released_count
         |FROM n ORDER BY event_type""".stripMargin,

    "d194_dp_parallel" ->
      s"""WITH c AS (SELECT strftime(ts, '%Y-%m-%d') AS day, event_type,
         |    count(*) AS cnt
         |  FROM events GROUP BY 1, 2),
         |u AS (SELECT *, CAST(('0x' || substr(md5('dp:daily|' ||
         |    concat_ws('|', day, event_type)), 1, 6)) AS BIGINT) AS u24
         |  FROM c),
         |n AS (SELECT day, ${DataQueries24.dpCase(1L, 2L)} AS noise FROM u),
         |per AS (SELECT day AS release, CAST(1 AS BIGINT) AS eps_num,
         |    CAST(2 AS BIGINT) AS eps_den, CAST(count(*) AS BIGINT) AS n_cells,
         |    CAST(sum(abs(noise)) AS BIGINT) AS l1_noise,
         |    CAST(max(abs(noise)) AS BIGINT) AS linf_noise
         |  FROM n GROUP BY day),
         |tot AS (SELECT CAST(count(DISTINCT day) AS BIGINT) AS n_days,
         |    CAST(count(*) AS BIGINT) AS n_cells,
         |    CAST(sum(abs(noise)) AS BIGINT) AS l1_noise,
         |    CAST(max(abs(noise)) AS BIGINT) AS linf_noise
         |  FROM n)
         |SELECT * FROM per
         |UNION ALL
         |SELECT 'total_sequential', n_days, CAST(2 AS BIGINT), n_cells,
         |  l1_noise, linf_noise FROM tot
         |UNION ALL
         |SELECT 'total_parallel', CAST($parNum AS BIGINT),
         |  CAST($parDen AS BIGINT), n_cells, l1_noise, linf_noise FROM tot
         |ORDER BY release""".stripMargin,

    "q53_qsketch_state" ->
      (s"WITH ${QSketchOracles.centsCte},\n" +
        s"${QSketchOracles.stateCtes}\n" +
        "SELECT bucket_lo, cnt FROM state ORDER BY bucket_lo"),

    "q54_qsketch_read" ->
      (s"WITH ${QSketchOracles.centsCte},\n" +
        s"${QSketchOracles.stateCtes},\n" +
        s"${QSketchOracles.readCtes(Quantiles)}\n" +
        """SELECT r.q, r.lo, r.hi, r.target,
          |  (sum(CASE WHEN v.cents < r.lo THEN 1 ELSE 0 END) < r.target AND
          |   sum(CASE WHEN v.cents <= r.hi THEN 1 ELSE 0 END) >= r.target)
          |    AS contains_exact
          |FROM vals v CROSS JOIN reads r
          |GROUP BY r.q, r.lo, r.hi, r.target
          |ORDER BY r.q""".stripMargin),

    "q55_qsketch_merge" ->
      (s"""WITH vk AS (SELECT l_orderkey,
         |    CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS cents
         |  FROM lineitem),
         |va AS (SELECT cents FROM vk WHERE l_orderkey % 2 = 0),
         |vb AS (SELECT cents FROM vk WHERE l_orderkey % 2 = 1),
         |""".stripMargin +
        s"${QSketchOracles.stateCteOver("va", "sa")},\n" +
        s"${QSketchOracles.stateCteOver("vb", "sb")},\n" +
        s"${QSketchOracles.stateCteOver("vk", "whole")},\n" +
        """merged AS (SELECT bucket_lo, CAST(sum(cnt) AS BIGINT) AS cnt_merged
          |  FROM (SELECT * FROM sa UNION ALL SELECT * FROM sb) GROUP BY 1)
          |SELECT coalesce(m.bucket_lo, w.bucket_lo) AS bucket_lo,
          |  coalesce(m.cnt_merged, 0) AS cnt_merged,
          |  coalesce(w.cnt, 0) AS cnt_whole,
          |  coalesce(m.cnt_merged, 0) = coalesce(w.cnt, 0) AS merge_exact
          |FROM merged m FULL JOIN whole w ON m.bucket_lo = w.bucket_lo
          |ORDER BY 1""".stripMargin),

    "q56_qsketch_signed" ->
      (s"""WITH vals AS (SELECT CAST(floor(c_acctbal * 100.0 + 0.5) AS BIGINT)
         |    AS cents FROM customer),
         |""".stripMargin +
        s"${QSketchOracles.signedStateCtes},\n" +
        s"${QSketchOracles.signedReadCtes(SignedQuantiles)}\n" +
        """SELECT r.q, r.lo, r.hi, r.target,
          |  (sum(CASE WHEN v.cents < r.lo THEN 1 ELSE 0 END) < r.target AND
          |   sum(CASE WHEN v.cents <= r.hi THEN 1 ELSE 0 END) >= r.target)
          |    AS contains_exact
          |FROM vals v CROSS JOIN reads r
          |GROUP BY r.q, r.lo, r.hi, r.target
          |ORDER BY r.q""".stripMargin))
}
