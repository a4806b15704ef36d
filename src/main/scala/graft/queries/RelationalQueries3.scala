package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Third wave of relational surface: unpivot/melt, correlated EXISTS /
  * NOT EXISTS, IGNORE NULLS window navigation (carry-forward), array scalar
  * surface, FILTER-style conditional aggregation, bitwise aggregates,
  * regex extraction, the ordered-conversion funnel, and window
  * distribution functions (ntile/percent_rank/cume_dist), and
  * time-series resampling with LOCF gap fill — each
  * oracle-checked against DuckDB.
  */
object RelationalQueries3 extends QueryModule {

  private def li(s: SparkSession, dir: String) = Tables.load(s, dir, "lineitem")

  val queries: Map[String, Q] = Map(
    // unpivot (melt): wide per-flag measures -> long (flag, measure, value).
    // Narrow reshape of an already-aggregated (tiny) table.
    "q33_unpivot" -> ((s, dir) => {
      val a = li(s, dir).groupBy(col("l_returnflag")).agg(
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("m_qty"),
        sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("m_price"),
        sum(col("l_discount").cast("decimal(18,2)")).cast("double").as("m_disc"))
      a.unpivot(Array(col("l_returnflag")),
          Array(col("m_qty"), col("m_price"), col("m_disc")), "measure", "value")
        .orderBy("l_returnflag", "measure")
    }),

    // correlated EXISTS / NOT EXISTS (Catalyst rewrites to semi/anti joins —
    // the decorrelated plan shuffles each side once on the correlation key)
    "q34_exists" -> ((s, dir) => {
      customer(s, dir).createOrReplaceTempView("customer_v")
      Tables.load(s, dir, "orders").createOrReplaceTempView("orders_v")
      s.sql(
        """SELECT c_custkey, c_name FROM customer_v c
          |WHERE EXISTS (SELECT 1 FROM orders_v o
          |        WHERE o.o_custkey = c.c_custkey AND CAST(o.o_totalprice AS DOUBLE) > 150000)
          |  AND NOT EXISTS (SELECT 1 FROM orders_v o2
          |        WHERE o2.o_custkey = c.c_custkey AND o2.o_orderstatus = 'F'
          |          AND CAST(o2.o_totalprice AS DOUBLE) < 50000)
          |ORDER BY c_custkey""".stripMargin)
    }),

    // IGNORE NULLS carry-forward: each event sees the user's most recent
    // click value (the last-observation-carried-forward shape)
    "q35_ignore_nulls" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      events(s, dir)
        .withColumn("click_v", when(col("event_type") === "click", col("value")))
        .select(col("event_id"), col("user_id"), col("event_type"),
          last(col("click_v"), ignoreNulls = true).over(w).as("last_click"))
        .orderBy("event_id")
    }),

    // array scalar surface: position, distinct size, containment, slicing,
    // negative indexing, lexicographic max — all narrow codegen'd ops
    "q36_arrays" -> ((s, dir) => {
      val tok = split(col("text"), " ")
      docs(s, dir).select(
        col("doc_id"),
        array_position(tok, "spark").as("pos_spark"),
        size(array_distinct(tok)).cast("long").as("n_uniq"),
        array_contains(tok, "join").as("has_join"),
        concat_ws(",", slice(tok, 1, 3)).as("first3"),
        element_at(tok, -1).as("last_tok"),
        array_max(tok).as("max_tok"))
        .orderBy("doc_id")
    }),

    // conditional aggregation: count_if / bool_and / bool_or / filtered sum
    "q37_filtered_agg" -> ((s, dir) =>
      li(s, dir).groupBy(col("l_returnflag")).agg(
        count_if(col("l_quantity") > 25).as("n_high"),
        bool_and(col("l_discount") <= 0.08).as("low_disc"),
        bool_or(col("l_tax") === 0).as("any_zero_tax"),
        sum(when(col("l_quantity") > 25, col("l_quantity").cast("decimal(18,2)")))
          .cast("double").as("sum_high"))
        .orderBy("l_returnflag")),

    // bitwise aggregates over the key domain
    "q38_bitwise" -> ((s, dir) =>
      li(s, dir).groupBy(col("l_linestatus")).agg(
        expr("bit_and(l_orderkey)").cast("long").as("ba"),
        expr("bit_or(l_orderkey)").cast("long").as("bo"),
        expr("bit_xor(l_orderkey)").cast("long").as("bx"),
        count(lit(1)).as("n"))
        .orderBy("l_linestatus")),

    // map-column surface over the engine's core labels map: keys, lookup,
    // membership, entry filtering + re-serialization — all narrow
    // codegen'd ops (the oracle reconstructs expectations from the flat
    // columns the map was built from)
    "q40_maps" -> ((s, dir) =>
      EventSamples.df(s, dir).select(
        col("event_id"),
        size(col("labels")).cast("long").as("n_labels"),
        concat_ws(",", sort_array(map_keys(col("labels")))).as("keys"),
        element_at(col("labels"), "k").cast("long").as("k_num"),
        map_contains_key(col("labels"), "__name__").as("has_name"),
        concat_ws(",", sort_array(transform(
          map_entries(map_filter(col("labels"), (k, _) => !k.startsWith("__"))),
          e => concat(e.getField("key"), lit("="), e.getField("value"))))).as("user_kv"))
        .orderBy("event_id")),

    // exact per-group quartiles from rank arithmetic over the (group,
    // DISTINCT price) count table (q20's shape): rank positions
    // floor/ceil(q*(n-1)/4)+1 read as plain aggregates min(p WHERE
    // cum >= r) — no row_number window partitioned by the 3-value flag
    // (that sorts ~corpus/3 in one task); every window runs over the
    // bounded count table via ScaleWindows.rankTable. (lo+hi)/2 is
    // IEEE-exact parity with avg of the <=2 selected rows, and no
    // engine-specific interpolation rule ever applies.
    "q41_quartiles" -> ((s, dir) => {
      val counts = Tables.load(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_extendedprice").cast("double").as("p"))
        .groupBy(col("l_returnflag"), col("p")).agg(count(lit(1)).as("cnt"))
      def quart(q: Int) =
        (min(when(col("cum") >= expr(s"($q*(n-1)) DIV 4 + 1"), col("p"))) +
          min(when(col("cum") >= expr(s"($q*(n-1)+3) DIV 4 + 1"), col("p")))) / 2
      graft.operators.ScaleWindows
        .rankTable(counts, Seq("l_returnflag"), "p", "cnt", 1000L)
        .groupBy(col("l_returnflag"))
        .agg(quart(1).as("p25"), quart(2).as("p50"), quart(3).as("p75"),
          max(col("n")).as("n"))
        .orderBy("l_returnflag")
    }),

    // PIVOT (q33 unpivot's inverse): explicit value list so no extra
    // distinct-values job runs before planning — at 100 TB the pivot is then
    // exactly one partial-aggregatable groupBy with conditional aggregates
    // (what Catalyst lowers pivot to); decimal sums are engine-exact
    "q42_pivot" -> ((s, dir) =>
      Tables.load(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .pivot("l_linestatus", Seq("F", "O"))
        .agg(sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("qty"),
          count(lit(1)).as("n"))
        .select(col("l_returnflag"),
          col("F_qty").as("qty_f"), col("O_qty").as("qty_o"),
          col("F_n").as("n_f"), col("O_n").as("n_o"))
        .orderBy("l_returnflag")),

    // regex extraction surface over the JSON-ish props payload: group
    // capture + per-char match counting, then a plain aggregate
    "q39_regexp" -> ((s, dir) =>
      events(s, dir)
        .select(col("event_type"),
          regexp_extract(col("props"), "\"k\": ([0-9]+)", 1).cast("long").as("k"),
          size(regexp_extract_all(col("props"), lit("[0-9]"), lit(0))).cast("long").as("nd"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
          min(col("k")).as("min_k"), max(col("k")).as("max_k"),
          sum(col("nd")).as("sum_digits"))
        .orderBy("event_type")),

    // ordered-conversion funnel over the event stream (view -> click ->
    // purchase, strictly increasing event time per user) — the classic
    // product-analytics read missing from plain sessionization: stage k
    // counts users whose earliest qualifying stage-k event FOLLOWS their
    // stage-(k-1) time. Each stage is one equi-join against the previous
    // stage's (user, t) table + one partial-aggregatable min rollup on
    // user_id — k chained shuffles on the same key (co-partitioned after
    // the first), never a window over the raw stream; the 3 counts compose
    // through one-row cross joins exactly like d98's card.
    "q43_funnel" -> { (s: SparkSession, dir: String) =>
      val ev = events(s, dir).select(col("user_id"), col("event_type"), col("ts"))
      val s1 = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
      val s2 = ev.filter(col("event_type") === "click").join(s1, "user_id")
        .filter(col("ts") > col("t1"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("t2"))
      val s3 = ev.filter(col("event_type") === "purchase").join(s2, "user_id")
        .filter(col("ts") > col("t2"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("t3"))
      val c1 = s1.agg(count(lit(1)).as("u1"))
      val c2 = s2.agg(count(lit(1)).as("u2"))
      val c3 = s3.agg(count(lit(1)).as("u3"))
      c1.crossJoin(c2).crossJoin(c3)
        .select(explode(array(
          struct(lit("1_view").as("stage"), col("u1").as("users"),
            lit(1000000L).as("conv_q6")),
          struct(lit("2_click").as("stage"), col("u2").as("users"),
            when(col("u1") === 0, 0L).otherwise(
              floor(col("u2") * lit(1000000L) / col("u1")).cast("long"))
              .as("conv_q6")),
          struct(lit("3_purchase").as("stage"), col("u3").as("users"),
            when(col("u2") === 0, 0L).otherwise(
              floor(col("u3") * lit(1000000L) / col("u2")).cast("long"))
              .as("conv_q6")))).as("r"))
        .select(col("r.stage").as("stage"), col("r.users").as("users"),
          col("r.conv_q6").as("conv_q6"))
        .orderBy("stage")
    },

    // window distribution functions — ntile / percent_rank / cume_dist per
    // (flag, quartile) — derived from rank ARITHMETIC, not a rank window:
    // the (p, l_orderkey, l_linenumber) tie-break makes the per-flag order
    // a total order, so every rank is unique and the aggregate per bucket
    // is closed-form in the group count n alone. ntile(4)'s bucket k spans
    // ranks [(k-1)·⌊n/4⌋ + min(k-1, n mod 4) + 1, k·⌊n/4⌋ + min(k, n mod 4)]
    // (the SQL-standard front-loaded split both engines implement),
    // min percent_rank in the bucket sits at its first rank ((r-1)/(n-1)),
    // max cume_dist at its last (r/n — unique keys, so cd = rank/n). The
    // oracle still evaluates the real window functions in DuckDB, so the
    // closed forms are verified against a live engine's ntile/pr/cd — while
    // the Spark plan is one partial-aggregatable groupBy + a 4-row explode,
    // with NO per-flag sort at all (the old window put ~corpus/3 in one
    // task; AQE cannot split a window partition). The divisions are the
    // exact same long-to-double divides the window functions perform, so
    // q6 floors match bit-for-bit.
    "q44_ntile_dist" -> { (s: SparkSession, dir: String) =>
      li(s, dir)
        .groupBy(col("l_returnflag")).agg(count(lit(1)).as("n"))
        .select(col("l_returnflag"), col("n"),
          explode(expr(
            """transform(sequence(1, 4), k -> named_struct(
              |  'q4', CAST(k AS BIGINT),
              |  'lo', CAST((k-1) * (n DIV 4) + least(k-1, n % 4) + 1 AS BIGINT),
              |  'hi', CAST(k * (n DIV 4) + least(k, n % 4) AS BIGINT)))""".stripMargin)).as("b"))
        .filter(col("b.hi") >= col("b.lo"))
        .select(col("l_returnflag"), col("b.q4").as("q4"),
          (col("b.hi") - col("b.lo") + 1).as("n"),
          floor(when(col("n") > 1,
              (col("b.lo") - 1).cast("double") / (col("n") - 1).cast("double"))
            .otherwise(lit(0.0)) * lit(1000000.0)).cast("long").as("min_pr_q6"),
          floor(col("b.hi").cast("double") / col("n").cast("double")
            * lit(1000000.0)).cast("long").as("max_cd_q6"))
        .orderBy("l_returnflag", "q4")
    },

    // time-series resample + gap fill: hourly grid per event type
    // (sequence() between the observed bounds — no hardcoded range), LEFT
    // join of the hourly rollup onto the grid, missing hours filled with
    // n=0 and last-observation-carried-forward value (q35's IGNORE NULLS
    // carry applied to a GENERATED grid — the dashboard/feature-store
    // densification every metrics pipeline runs). Values are per-row
    // q6-quantized before the hourly sum, so the carried values are
    // engine-exact; the LOCF window runs over the bounded grid
    // (|types| x |hours|), never the raw stream.
    // weekly cohort retention matrix — the canonical product-analytics
    // read at any event-log scale: users cohorted by first-active week,
    // per (cohort, week-offset) distinct-active counts, retention as an
    // exact integer fraction of the cohort size. Two shuffles total (a
    // per-user min rollup, then the (cohort, offset) rollup on the
    // user-distinct activity); both weeks are Monday-truncated in both
    // engines and the offset is an exact day-difference DIV 7, so no
    // calendar arithmetic can diverge. At 100 TB the user rollup is the
    // only corpus-sized exchange and it partial-aggregates.
    "q46_retention" -> { (s: SparkSession, dir: String) =>
      val e = events(s, dir)
        .select(col("user_id"), date_trunc("week", col("ts")).as("wk"))
      val first = e.groupBy(col("user_id")).agg(min(col("wk")).as("cw"))
      val act = e.distinct().join(first, "user_id")
      val coh = first.groupBy(col("cw")).agg(count(lit(1)).as("n_cohort"))
      act.select(col("cw"), expr("datediff(wk, cw) DIV 7").as("week_offset"))
        .groupBy(col("cw"), col("week_offset"))
        .agg(count(lit(1)).as("n_active"))
        .join(coh, "cw")
        .select(col("cw").cast("date").as("cohort_week"), col("week_offset"),
          col("n_active"), col("n_cohort"),
          expr("n_active * 1000000 DIV n_cohort").as("retention_q6"))
        .orderBy("cohort_week", "week_offset")
    },

    "q45_resample_fill" -> { (s: SparkSession, dir: String) =>
      val ev = events(s, dir).select(col("event_type"),
        date_trunc("hour", col("ts")).as("h"),
        floor(col("value") * lit(1000000.0)).cast("long").as("vq"))
      val hourly = ev.groupBy(col("event_type"), col("h"))
        .agg(count(lit(1)).as("n"), sum(col("vq")).as("sq"))
      val grid = ev.agg(min(col("h")).as("hmin"), max(col("h")).as("hmax"))
        .select(explode(expr("sequence(hmin, hmax, interval 1 hour)")).as("h"))
        .crossJoin(ev.select(col("event_type")).distinct())
      val w = Window.partitionBy(col("event_type")).orderBy(col("h"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      grid.join(hourly, Seq("event_type", "h"), "left")
        .select(col("event_type"), col("h"),
          coalesce(col("n"), lit(0L)).as("n"),
          last(col("sq"), ignoreNulls = true).over(w).as("locf_sq6"))
        .orderBy("event_type", "h")
    }
  )

  val oracles: Map[String, String] = Map(
    "q33_unpivot" ->
      """WITH a AS (SELECT l_returnflag,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS m_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS m_price,
        |  CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS m_disc
        |FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, measure, value FROM (
        |  SELECT l_returnflag, 'm_qty' AS measure, m_qty AS value FROM a
        |  UNION ALL SELECT l_returnflag, 'm_price', m_price FROM a
        |  UNION ALL SELECT l_returnflag, 'm_disc', m_disc FROM a)
        |ORDER BY l_returnflag, measure""".stripMargin,

    "q34_exists" ->
      """SELECT c_custkey, c_name FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |        WHERE o.o_custkey = c.c_custkey AND CAST(o.o_totalprice AS DOUBLE) > 150000)
        |  AND NOT EXISTS (SELECT 1 FROM orders o2
        |        WHERE o2.o_custkey = c.c_custkey AND o2.o_orderstatus = 'F'
        |          AND CAST(o2.o_totalprice AS DOUBLE) < 50000)
        |ORDER BY c_custkey""".stripMargin,

    "q35_ignore_nulls" ->
      """SELECT event_id, user_id, event_type,
        |  last_value(CASE WHEN event_type = 'click' THEN value END IGNORE NULLS)
        |    OVER (PARTITION BY user_id ORDER BY ts, event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_click
        |FROM events ORDER BY event_id""".stripMargin,

    "q36_arrays" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
        |SELECT doc_id,
        |  CAST(list_position(w, 'spark') AS BIGINT) AS pos_spark,
        |  CAST(len(list_distinct(w)) AS BIGINT) AS n_uniq,
        |  list_contains(w, 'join') AS has_join,
        |  array_to_string(w[1:3], ',') AS first3,
        |  w[-1] AS last_tok,
        |  list_max(w) AS max_tok
        |FROM t ORDER BY doc_id""".stripMargin,

    "q37_filtered_agg" ->
      """SELECT l_returnflag,
        |  CAST(count(*) FILTER (WHERE l_quantity > 25) AS BIGINT) AS n_high,
        |  bool_and(l_discount <= 0.08) AS low_disc,
        |  bool_or(l_tax = 0) AS any_zero_tax,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) FILTER (WHERE l_quantity > 25) AS DOUBLE) AS sum_high
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q38_bitwise" ->
      """SELECT l_linestatus,
        |  CAST(bit_and(l_orderkey) AS BIGINT) AS ba,
        |  CAST(bit_or(l_orderkey) AS BIGINT) AS bo,
        |  CAST(bit_xor(l_orderkey) AS BIGINT) AS bx,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin,

    "q40_maps" -> {
      SqlFragments.samplesCte +
      """ SELECT event_id, CAST(4 AS BIGINT) AS n_labels,
        |  '__name__,__replica__,k,user' AS keys,
        |  CAST(k AS BIGINT) AS k_num,
        |  TRUE AS has_name,
        |  'k=' || k || ',user=' || usr AS user_kv
        |FROM samples ORDER BY event_id""".stripMargin
    },

    "q42_pivot" ->
      """SELECT l_returnflag,
        |  CAST(sum(CASE WHEN l_linestatus = 'F' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS qty_f,
        |  CAST(sum(CASE WHEN l_linestatus = 'O' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS qty_o,
        |  CAST(count(CASE WHEN l_linestatus = 'F' THEN 1 END) AS BIGINT) AS n_f,
        |  CAST(count(CASE WHEN l_linestatus = 'O' THEN 1 END) AS BIGINT) AS n_o
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q41_quartiles" ->
      """WITH x AS (SELECT l_returnflag, CAST(l_extendedprice AS DOUBLE) AS p,
        |    CAST(row_number() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice) AS BIGINT) AS rn,
        |    CAST(count(*) OVER (PARTITION BY l_returnflag) AS BIGINT) AS cnt
        |  FROM lineitem)
        |SELECT l_returnflag,
        |  avg(CASE WHEN rn = (1*(cnt-1)) // 4 + 1 OR rn = (1*(cnt-1)+3) // 4 + 1 THEN p END) AS p25,
        |  avg(CASE WHEN rn = (2*(cnt-1)) // 4 + 1 OR rn = (2*(cnt-1)+3) // 4 + 1 THEN p END) AS p50,
        |  avg(CASE WHEN rn = (3*(cnt-1)) // 4 + 1 OR rn = (3*(cnt-1)+3) // 4 + 1 THEN p END) AS p75,
        |  max(cnt) AS n
        |FROM x GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q39_regexp" ->
      """WITH x AS (SELECT event_type,
        |  CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT) AS k,
        |  CAST(len(regexp_extract_all(props, '[0-9]')) AS BIGINT) AS nd
        |FROM events)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n, CAST(sum(k) AS BIGINT) AS sum_k,
        |  min(k) AS min_k, max(k) AS max_k, CAST(sum(nd) AS BIGINT) AS sum_digits
        |FROM x GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q43_funnel" ->
      """WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events WHERE event_type = 'view' GROUP BY user_id),
        |s2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e JOIN s1 USING (user_id)
        |       WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY e.user_id),
        |s3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e JOIN s2 USING (user_id)
        |       WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY e.user_id),
        |c AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM s1) AS u1,
        |             (SELECT CAST(count(*) AS BIGINT) FROM s2) AS u2,
        |             (SELECT CAST(count(*) AS BIGINT) FROM s3) AS u3)
        |SELECT '1_view' AS stage, u1 AS users, CAST(1000000 AS BIGINT) AS conv_q6 FROM c
        |UNION ALL
        |SELECT '2_click', u2, CASE WHEN u1 = 0 THEN 0 ELSE CAST(floor(u2 * 1000000.0 / u1) AS BIGINT) END FROM c
        |UNION ALL
        |SELECT '3_purchase', u3, CASE WHEN u2 = 0 THEN 0 ELSE CAST(floor(u3 * 1000000.0 / u2) AS BIGINT) END FROM c
        |ORDER BY stage""".stripMargin,

    "q44_ntile_dist" ->
      """WITH r AS (SELECT l_returnflag, CAST(l_extendedprice AS DOUBLE) AS p,
        |    ntile(4) OVER w AS q4,
        |    percent_rank() OVER w AS pr,
        |    cume_dist() OVER w AS cd
        |  FROM lineitem
        |  WINDOW w AS (PARTITION BY l_returnflag ORDER BY CAST(l_extendedprice AS DOUBLE), l_orderkey, l_linenumber))
        |SELECT l_returnflag, CAST(q4 AS BIGINT) AS q4, CAST(count(*) AS BIGINT) AS n,
        |  CAST(floor(min(pr) * 1000000.0) AS BIGINT) AS min_pr_q6,
        |  CAST(floor(max(cd) * 1000000.0) AS BIGINT) AS max_cd_q6
        |FROM r GROUP BY l_returnflag, q4 ORDER BY l_returnflag, q4""".stripMargin,

    "q46_retention" ->
      """WITH e AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS wk FROM events),
        |f AS (SELECT user_id, min(wk) AS cw FROM e GROUP BY user_id),
        |coh AS (SELECT cw, CAST(count(*) AS BIGINT) AS n_cohort FROM f GROUP BY cw),
        |r AS (SELECT f.cw, CAST(date_diff('day', f.cw, e.wk) // 7 AS BIGINT) AS week_offset,
        |    CAST(count(*) AS BIGINT) AS n_active
        |  FROM e JOIN f USING (user_id) GROUP BY f.cw, week_offset)
        |SELECT CAST(r.cw AS DATE) AS cohort_week, week_offset, n_active, coh.n_cohort,
        |  CAST(n_active * 1000000 // n_cohort AS BIGINT) AS retention_q6
        |FROM r JOIN coh USING (cw) ORDER BY cohort_week, week_offset""".stripMargin,

    "q45_resample_fill" ->
      """WITH ev AS (SELECT event_type, date_trunc('hour', ts) AS h,
        |    CAST(floor(value * 1000000.0) AS BIGINT) AS vq FROM events),
        |hourly AS (SELECT event_type, h, CAST(count(*) AS BIGINT) AS n,
        |           CAST(sum(vq) AS BIGINT) AS sq FROM ev GROUP BY event_type, h),
        |b AS (SELECT min(h) AS hmin, max(h) AS hmax FROM ev),
        |grid AS (SELECT t.event_type, g.h
        |         FROM (SELECT DISTINCT event_type FROM ev) t,
        |              (SELECT unnest(generate_series(b.hmin, b.hmax, INTERVAL 1 HOUR)) AS h FROM b) g)
        |SELECT g.event_type, g.h, COALESCE(hourly.n, 0) AS n,
        |  last_value(hourly.sq IGNORE NULLS)
        |    OVER (PARTITION BY g.event_type ORDER BY g.h
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS locf_sq6
        |FROM grid g LEFT JOIN hourly ON hourly.event_type = g.event_type AND hourly.h = g.h
        |ORDER BY g.event_type, g.h""".stripMargin
  )
}
