package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Second relational wave: grouping sets, range window frames, navigation
  * functions, distribution functions, positional explode, ordered string
  * aggregation. Same determinism rules as [[RelationalQueries]].
  */
object RelationalQueries2 extends QueryModule {

  private def t(s: SparkSession, dir: String, name: String) = Tables.load(s, dir, name)

  val queries: Map[String, Q] = Map(
    // explicit grouping sets with grouping() markers (SQL surface; Catalyst
    // expands to a single Expand + aggregate, one shuffle)
    "q21_grouping_sets" -> ((s, dir) => {
      t(s, dir, "lineitem").createOrReplaceTempView("lineitem_v")
      s.sql(
        """SELECT coalesce(l_returnflag, 'ALL') AS rf, coalesce(l_linestatus, 'ALL') AS ls,
          |  CAST(grouping(l_returnflag) AS BIGINT) AS g_rf,
          |  CAST(grouping(l_linestatus) AS BIGINT) AS g_ls,
          |  CAST(count(*) AS BIGINT) AS n,
          |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
          |FROM lineitem_v
          |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
          |ORDER BY g_rf, g_ls, rf, ls""".stripMargin)
    }),

    // RANGE window frame: 7-day trailing quantity per supplier (range on a
    // numeric day offset; every same-day row sees the same frame, so the
    // result is tie-order independent)
    "q22_range_frame" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").filter(col("l_suppkey") < 50)
        .withColumn("d", datediff(col("l_shipdate"), lit("1970-01-01").cast("date")).cast("long"))
      val w = Window.partitionBy(col("l_suppkey")).orderBy(col("d")).rangeBetween(-7, 0)
      li.select(col("l_suppkey"), col("d"),
          sum(col("l_quantity").cast("decimal(18,2)")).over(w).cast("double").as("qty_7d"))
        .orderBy("l_suppkey", "d", "qty_7d")
    }),

    // navigation functions: first/last/nth/lag/lead over each customer's
    // order history (unique (date, key) ordering => deterministic)
    "q23_nav" -> ((s, dir) => {
      val o = t(s, dir, "orders").filter(col("o_custkey") < 100)
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
      val wFull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      o.select(col("o_custkey"), col("o_orderkey"),
          first(col("o_orderkey")).over(wFull).as("first_key"),
          last(col("o_orderkey")).over(wFull).as("last_key"),
          nth_value(col("o_orderkey"), 2).over(wFull).as("second_key"),
          lag(col("o_orderkey"), 1).over(w).as("prev_key"),
          lead(col("o_orderkey"), 1).over(w).as("next_key"))
        .orderBy("o_custkey", "o_orderkey")
    }),

    // distribution functions: ntile/percent_rank/cume_dist over account
    // balances (unique tie-break key makes ntile deterministic; the rank
    // ratios are single IEEE divisions)
    "q24_dist" -> ((s, dir) => {
      val c = t(s, dir, "customer").filter(col("c_custkey") < 500)
      val w = Window.orderBy(col("c_acctbal"), col("c_custkey"))
      c.select(col("c_custkey"),
          ntile(4).over(w).cast("long").as("quartile"),
          percent_rank().over(w).as("pr"),
          cume_dist().over(w).as("cd"))
        .orderBy("c_custkey")
    }),

    // positional explode (lateral view): tokens with ordinal positions
    "q25_posexplode" -> ((s, dir) =>
      t(s, dir, "documents").filter(col("doc_id") < 50)
        .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "token")))
        .select(col("doc_id"), col("pos").cast("long").as("pos"), col("token"))
        .orderBy("doc_id", "pos")),

    // ordered string aggregation (listagg) per group
    "q26_stringagg" -> ((s, dir) =>
      t(s, dir, "documents").filter(col("doc_id") % 100 === 0)
        .groupBy(col("lang"), col("source"))
        .agg(array_join(transform(sort_array(collect_list(col("doc_id"))),
          x => x.cast("string")), ",").as("ids"),
          count(lit(1)).as("n"))
        .orderBy("lang", "source")),

    // semi-structured JSON extraction (schema-on-read over a string column):
    // parse stays a narrow map; malformed rows surface as nulls, not errors
    "q27_json_extract" -> ((s, dir) =>
      t(s, dir, "events")
        .withColumn("k", from_json(col("props"),
          org.apache.spark.sql.types.StructType.fromDDL("k LONG")).getField("k"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), count(col("k")).as("n_k"),
          sum(col("k")).as("sum_k"), min(col("k")).as("min_k"), max(col("k")).as("max_k"))
        .orderBy("event_type")),

    // rank/dense_rank tie semantics (distinct projection => tie-order free)
    // + multiset set ops (INTERSECT ALL / EXCEPT ALL keep duplicates)
    "q28_ranks_setops" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val w = Window.partitionBy(col("l_returnflag")).orderBy(col("qty"))
      val ranked = li
        .select(col("l_returnflag"), col("l_quantity").cast("double").as("qty"))
        .withColumn("rnk", rank().over(w).cast("long"))
        .withColumn("drnk", dense_rank().over(w).cast("long"))
        .filter(col("drnk") <= 3)
        .distinct()
        .withColumn("op", lit("rank"))
        .select(col("op"), col("l_returnflag").as("g"), col("qty"), col("rnk"), col("drnk"))
      val a = li.filter(col("l_suppkey") < 10).select(col("l_partkey"))
      val b = li.filter(col("l_linenumber") === 1).select(col("l_partkey"))
      val ia = a.intersectAll(b).groupBy(col("l_partkey"))
        .agg(count(lit(1)).as("cnt"))
        .filter(col("l_partkey") < 100)
        .select(lit("intersect_all").as("op"), col("l_partkey").cast("string").as("g"),
          col("cnt").cast("double").as("qty"), lit(0L).as("rnk"), lit(0L).as("drnk"))
      val ea = a.exceptAll(b).groupBy(col("l_partkey"))
        .agg(count(lit(1)).as("cnt"))
        .filter(col("l_partkey") < 100)
        .select(lit("except_all").as("op"), col("l_partkey").cast("string").as("g"),
          col("cnt").cast("double").as("qty"), lit(0L).as("rnk"), lit(0L).as("drnk"))
      ranked.unionAll(ia).unionAll(ea).orderBy("op", "g", "qty", "rnk", "drnk")
    }),

    // datetime function surface (fields, last_day, date arithmetic, epoch)
    "q29_datetime" -> ((s, dir) =>
      t(s, dir, "events").filter(col("event_id") < 2000)
        .select(col("event_id"),
          year(col("ts")).cast("long").as("y"),
          quarter(col("ts")).cast("long").as("q"),
          month(col("ts")).cast("long").as("m"),
          dayofmonth(col("ts")).cast("long").as("d"),
          dayofyear(col("ts")).cast("long").as("doy"),
          hour(col("ts")).cast("long").as("h"),
          minute(col("ts")).cast("long").as("mi"),
          second(col("ts")).cast("long").as("sec"),
          last_day(col("ts")).as("eom"),
          date_add(col("ts").cast("date"), 7).as("plus7"),
          unix_millis(col("ts")).as("epoch_ms"))
        .orderBy("event_id")),

    // recursive CTE (Spark 4 WITH RECURSIVE): calendar dimension generated
    // by recursion, left-joined so order-free days surface with zero counts
    "q31_recursive_cal" -> ((s, dir) => {
      Tables.load(s, dir, "orders").createOrReplaceTempView("orders_v")
      s.sql(
        """WITH RECURSIVE days(d) AS (
          |  SELECT DATE '1995-01-01'
          |  UNION ALL
          |  SELECT date_add(d, 1) FROM days WHERE d < DATE '1995-03-31')
          |SELECT d, CAST(count(o_orderkey) AS BIGINT) AS n_orders
          |FROM days LEFT JOIN orders_v ON CAST(o_orderdate AS DATE) = d
          |GROUP BY d ORDER BY d""".stripMargin)
    }),

    // correlated LATERAL subquery with per-row ORDER BY + LIMIT (top-2
    // customers per nation — decorrelates without a manual window)
    "q32_lateral_topn" -> ((s, dir) => {
      customer(s, dir).createOrReplaceTempView("customer_v")
      Tables.load(s, dir, "nation").createOrReplaceTempView("nation_v")
      s.sql(
        """SELECT n_name, t.c_custkey, CAST(t.c_acctbal AS DOUBLE) AS bal
          |FROM nation_v n, LATERAL (
          |  SELECT c_custkey, c_acctbal FROM customer_v
          |  WHERE c_nationkey = n.n_nationkey
          |  ORDER BY c_acctbal DESC, c_custkey LIMIT 2) t
          |ORDER BY n_name, t.c_custkey""".stripMargin)
    }),

    // null semantics: NULLIF-produced nulls through count/sum/bool aggs and
    // null-safe equality
    "q30_nulls" -> ((s, dir) => {
      val k = from_json(col("props"),
        org.apache.spark.sql.types.StructType.fromDDL("k LONG")).getField("k")
      t(s, dir, "events")
        .withColumn("nk", nullif(pmod(k, lit(7)), lit(0)))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), count(col("nk")).as("n_nk"),
          sum(col("nk")).as("sum_nk"),
          sum(when(col("nk").isNull, 1L).otherwise(0L)).as("n_null"),
          bool_and(col("nk").isNotNull).as("all_present"),
          bool_or(col("nk") <=> lit(3L)).as("any_three"))
        .orderBy("event_type")
    })
  )

  val oracles: Map[String, String] = Map(
    "q21_grouping_sets" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS rf, coalesce(l_linestatus, 'ALL') AS ls,
        |  CAST(grouping(l_returnflag) AS BIGINT) AS g_rf,
        |  CAST(grouping(l_linestatus) AS BIGINT) AS g_ls,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        |ORDER BY g_rf, g_ls, rf, ls""".stripMargin,

    "q22_range_frame" ->
      """SELECT l_suppkey, CAST(datediff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE)) AS BIGINT) AS d,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) OVER (
        |    PARTITION BY l_suppkey
        |    ORDER BY datediff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE))
        |    RANGE BETWEEN 7 PRECEDING AND CURRENT ROW) AS DOUBLE) AS qty_7d
        |FROM lineitem WHERE l_suppkey < 50
        |ORDER BY l_suppkey, d, qty_7d""".stripMargin,

    "q23_nav" ->
      """SELECT o_custkey, o_orderkey,
        |  first_value(o_orderkey) OVER wf AS first_key,
        |  last_value(o_orderkey) OVER wf AS last_key,
        |  nth_value(o_orderkey, 2) OVER wf AS second_key,
        |  lag(o_orderkey, 1) OVER w AS prev_key,
        |  lead(o_orderkey, 1) OVER w AS next_key
        |FROM orders WHERE o_custkey < 100
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
        |  wf AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,

    "q24_dist" ->
      """SELECT c_custkey,
        |  CAST(ntile(4) OVER w AS BIGINT) AS quartile,
        |  percent_rank() OVER w AS pr,
        |  cume_dist() OVER w AS cd
        |FROM customer WHERE c_custkey < 500
        |WINDOW w AS (ORDER BY c_acctbal, c_custkey)
        |ORDER BY c_custkey""".stripMargin,

    "q25_posexplode" ->
      """SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, w[i] AS token
        |FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents WHERE doc_id < 50),
        |  LATERAL (SELECT unnest(generate_series(1, len(w))) AS i)
        |ORDER BY doc_id, pos""".stripMargin,

    "q26_stringagg" ->
      """SELECT lang, source,
        |  string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS ids,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM documents WHERE doc_id % 100 = 0
        |GROUP BY lang, source ORDER BY lang, source""".stripMargin,

    "q27_json_extract" ->
      """WITH x AS (SELECT event_type, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k FROM events)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n, CAST(count(k) AS BIGINT) AS n_k,
        |  CAST(sum(k) AS BIGINT) AS sum_k, min(k) AS min_k, max(k) AS max_k
        |FROM x GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q28_ranks_setops" ->
      """WITH ranked AS (
        |  SELECT DISTINCT 'rank' AS op, l_returnflag AS g, CAST(l_quantity AS DOUBLE) AS qty,
        |    CAST(rank() OVER w AS BIGINT) AS rnk, CAST(dense_rank() OVER w AS BIGINT) AS drnk
        |  FROM lineitem
        |  WINDOW w AS (PARTITION BY l_returnflag ORDER BY l_quantity)),
        |a AS (SELECT l_partkey FROM lineitem WHERE l_suppkey < 10),
        |b AS (SELECT l_partkey FROM lineitem WHERE l_linenumber = 1),
        |ia AS (SELECT 'intersect_all' AS op, CAST(l_partkey AS VARCHAR) AS g,
        |    CAST(count(*) AS DOUBLE) AS qty, 0 AS rnk, 0 AS drnk
        |  FROM (SELECT l_partkey FROM a INTERSECT ALL SELECT l_partkey FROM b)
        |  GROUP BY l_partkey HAVING l_partkey < 100),
        |ea AS (SELECT 'except_all' AS op, CAST(l_partkey AS VARCHAR) AS g,
        |    CAST(count(*) AS DOUBLE) AS qty, 0 AS rnk, 0 AS drnk
        |  FROM (SELECT l_partkey FROM a EXCEPT ALL SELECT l_partkey FROM b)
        |  GROUP BY l_partkey HAVING l_partkey < 100)
        |SELECT op, g, qty, CAST(rnk AS BIGINT) AS rnk, CAST(drnk AS BIGINT) AS drnk
        |FROM (SELECT * FROM ranked WHERE drnk <= 3 UNION ALL SELECT * FROM ia UNION ALL SELECT * FROM ea)
        |ORDER BY op, g, qty, rnk, drnk""".stripMargin,

    "q29_datetime" ->
      """SELECT event_id,
        |  CAST(year(ts) AS BIGINT) AS y, CAST(quarter(ts) AS BIGINT) AS q,
        |  CAST(month(ts) AS BIGINT) AS m, CAST(day(ts) AS BIGINT) AS d,
        |  CAST(dayofyear(ts) AS BIGINT) AS doy, CAST(hour(ts) AS BIGINT) AS h,
        |  CAST(minute(ts) AS BIGINT) AS mi, CAST(second(ts) AS BIGINT) AS sec,
        |  CAST(last_day(CAST(ts AS DATE)) AS DATE) AS eom,
        |  CAST(ts AS DATE) + 7 AS plus7,
        |  epoch_ms(ts) AS epoch_ms
        |FROM events WHERE event_id < 2000 ORDER BY event_id""".stripMargin,

    "q31_recursive_cal" ->
      """WITH RECURSIVE days(d) AS (
        |  SELECT DATE '1995-01-01'
        |  UNION ALL
        |  SELECT d + 1 FROM days WHERE d < DATE '1995-03-31')
        |SELECT d, CAST(count(o_orderkey) AS BIGINT) AS n_orders
        |FROM days LEFT JOIN orders ON CAST(o_orderdate AS DATE) = d
        |GROUP BY d ORDER BY d""".stripMargin,

    "q32_lateral_topn" ->
      """SELECT n_name, t.c_custkey, CAST(t.c_acctbal AS DOUBLE) AS bal
        |FROM nation n, LATERAL (
        |  SELECT c_custkey, c_acctbal FROM customer
        |  WHERE c_nationkey = n.n_nationkey
        |  ORDER BY c_acctbal DESC, c_custkey LIMIT 2) t
        |ORDER BY n_name, t.c_custkey""".stripMargin,

    "q30_nulls" ->
      """WITH x AS (SELECT event_type,
        |    nullif(CAST(json_extract_string(props, '$.k') AS BIGINT) % 7, 0) AS nk
        |  FROM events)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n, CAST(count(nk) AS BIGINT) AS n_nk,
        |  CAST(sum(nk) AS BIGINT) AS sum_nk,
        |  CAST(sum(CASE WHEN nk IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
        |  bool_and(nk IS NOT NULL) AS all_present,
        |  bool_or(nk IS NOT DISTINCT FROM 3) AS any_three
        |FROM x GROUP BY event_type ORDER BY event_type""".stripMargin
  )
}
