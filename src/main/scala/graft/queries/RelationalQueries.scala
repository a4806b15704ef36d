package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Relational breadth: aggregation, joins (broadcast/semi/anti/range), window
  * functions, set ops, distinct, rollup, scalar expressions — the surface the
  * reference gets "for free" from Spark SQL (SURVEY §2 negative inventory).
  *
  * Determinism rules for oracle parity:
  *   - money aggregates sum exact DECIMALs and cast the result to double —
  *     double-accumulation order differs between engines and its error can
  *     cross any rounding boundary on large sums
  *   - .xx5-boundary rounding of doubles differs between engines (Spark
  *     rounds the shortest decimal repr, DuckDB the binary value): round
  *     decimals, not doubles
  *   - every output ends with ORDER BY on a unique key
  *   - counts/ranks cast to BIGINT on both sides
  */
object RelationalQueries extends QueryModule {

  private def t(s: SparkSession, dir: String, name: String) = Tables.load(s, dir, name)

  val queries: Map[String, Q] = Map(
    // TPC-H Q1-style scan + aggregate (partial agg map-side, 6 groups)
    "q01_agg" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-01"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
          sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("sum_base_price"),
          sum(col("l_extendedprice").cast("decimal(18,2)")
            * (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
            .cast("double").as("sum_disc_price"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")),

    // 4-way join: revenue per nation. Only nation (25 rows, fixed) is
    // force-broadcast; customer is SF-proportional (150k x SF — ~300 MB at
    // 100x, impossible at 100 TB), so that join shuffles on the key and AQE
    // broadcasts it at small SFs where it genuinely fits.
    "q02_join_agg" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      val n = t(s, dir, "nation")
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(
          sum(col("l_extendedprice").cast("decimal(18,2)")
            * (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
            .cast("double").as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy("n_name")
    }),

    // top-k with deterministic tie-break on rounded revenue
    "q03_topk" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .groupBy(col("o_custkey"))
        .agg(sum(col("l_extendedprice").cast("decimal(18,2)")
          * (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
          .cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("o_custkey"))
        .limit(10)
    }),

    // window functions: per-supplier ordered running sum + row_number
    "q04_window" -> ((s, dir) => {
      val w = Window.partitionBy(col("l_suppkey"))
        .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
      t(s, dir, "lineitem")
        .withColumn("rn", row_number().over(w).cast("long"))
        .withColumn("run_qty", round(sum(col("l_quantity"))
          .over(w.rowsBetween(Window.unboundedPreceding, 0)), 2))
        .filter(col("rn") <= 20)
        .select(col("l_suppkey"), col("rn"), col("l_orderkey"), col("l_linenumber"), col("run_qty"))
        .orderBy("l_suppkey", "rn")
    }),

    // set operations: intersect + except on customer key sets
    "q05_setops" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      val building = c.filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
      val bigSpenders = o.filter(col("o_totalprice") > 100000).select(col("o_custkey").as("c_custkey")).distinct()
      val inter = building.intersect(bigSpenders).withColumn("op", lit("intersect"))
      val exc = building.except(bigSpenders).withColumn("op", lit("except"))
      inter.unionAll(exc).select(col("op"), col("c_custkey")).orderBy("op", "c_custkey")
    }),

    // distinct over derived columns
    "q06_distinct" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_linestatus"),
          year(col("l_shipdate")).cast("long").as("y"),
          month(col("l_shipdate")).cast("long").as("m"))
        .distinct()
        .orderBy("l_returnflag", "l_linestatus", "y", "m")),

    // semi + anti joins (EXISTS / NOT EXISTS)
    "q07_semi_anti" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders").filter(col("o_orderstatus") === "F")
      val semi = c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .select(col("c_custkey")).withColumn("op", lit("has_f_order"))
      val anti = c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select(col("c_custkey")).withColumn("op", lit("no_f_order"))
      semi.unionAll(anti).select(col("op"), col("c_custkey")).orderBy("op", "c_custkey")
    }),

    // rollup with subtotals
    "q08_rollup" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
          count(lit(1)).as("n"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
          coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
          col("sum_qty"), col("n"))
        .orderBy("rf", "ls")),

    // scalar expression surface: CASE, string, date functions
    "q09_scalar" -> ((s, dir) =>
      t(s, dir, "orders")
        .select(
          col("o_orderkey"),
          year(col("o_orderdate")).cast("long").as("y"),
          month(col("o_orderdate")).cast("long").as("m"),
          upper(substring(col("o_orderpriority"), 1, 1)).as("pri"),
          when(col("o_totalprice") > 150000, "high")
            .when(col("o_totalprice") > 50000, "mid")
            .otherwise("low").as("bucket"),
          concat(col("o_orderstatus"), lit("-"), col("o_orderpriority")).as("tag"),
          round(col("o_totalprice").cast("decimal(18,2)") * lit(0.1).cast("decimal(3,1)"), 2)
            .cast("double").as("fee"))
        .orderBy("o_orderkey")),

    // range-predicate join: lineitems shipped within 30 days of order date
    "q10_range_join" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      li.join(o, li("l_orderkey") === o("o_orderkey")
          && col("l_shipdate") >= col("o_orderdate")
          && col("l_shipdate") <= col("o_orderdate") + expr("INTERVAL 30 DAYS"))
        .groupBy(col("o_orderkey"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("qty"))
        .orderBy("o_orderkey")
    })
  )

  val oracles: Map[String, String] = Map(
    "q01_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
        |  CAST(count(*) AS BIGINT) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-01'
        |GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q02_join_agg" ->
      """SELECT n_name,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        |  CAST(count(*) AS BIGINT) AS n_items
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,

    "q03_topk" ->
      """SELECT o_custkey,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_custkey ORDER BY revenue DESC, o_custkey LIMIT 10""".stripMargin,

    "q04_window" ->
      """WITH numbered AS (
        |  SELECT l_suppkey, l_orderkey, l_linenumber,
        |    CAST(row_number() OVER w AS BIGINT) AS rn,
        |    round(CAST(sum(l_quantity) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE), 2) AS run_qty
        |  FROM lineitem
        |  WINDOW w AS (PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber))
        |SELECT l_suppkey, rn, l_orderkey, l_linenumber, run_qty
        |FROM numbered WHERE rn <= 20 ORDER BY l_suppkey, rn""".stripMargin,

    "q05_setops" ->
      """WITH building AS (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'),
        |  big AS (SELECT DISTINCT o_custkey AS c_custkey FROM orders WHERE o_totalprice > 100000)
        |SELECT 'intersect' AS op, c_custkey FROM (SELECT c_custkey FROM building INTERSECT SELECT c_custkey FROM big)
        |UNION ALL
        |SELECT 'except' AS op, c_custkey FROM (SELECT c_custkey FROM building EXCEPT SELECT c_custkey FROM big)
        |ORDER BY op, c_custkey""".stripMargin,

    "q06_distinct" ->
      """SELECT DISTINCT l_returnflag, l_linestatus,
        |  CAST(year(l_shipdate) AS BIGINT) AS y, CAST(month(l_shipdate) AS BIGINT) AS m
        |FROM lineitem ORDER BY l_returnflag, l_linestatus, y, m""".stripMargin,

    "q07_semi_anti" ->
      """SELECT 'has_f_order' AS op, c_custkey FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
        |UNION ALL
        |SELECT 'no_f_order' AS op, c_custkey FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
        |ORDER BY op, c_custkey""".stripMargin,

    "q08_rollup" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS rf, coalesce(l_linestatus, 'ALL') AS ls,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty, CAST(count(*) AS BIGINT) AS n
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus) ORDER BY rf, ls""".stripMargin,

    "q09_scalar" ->
      """SELECT o_orderkey,
        |  CAST(year(o_orderdate) AS BIGINT) AS y, CAST(month(o_orderdate) AS BIGINT) AS m,
        |  upper(substr(o_orderpriority, 1, 1)) AS pri,
        |  CASE WHEN o_totalprice > 150000 THEN 'high' WHEN o_totalprice > 50000 THEN 'mid' ELSE 'low' END AS bucket,
        |  o_orderstatus || '-' || o_orderpriority AS tag,
        |  CAST(round(CAST(o_totalprice AS DECIMAL(18,2)) * CAST(0.1 AS DECIMAL(3,1)), 2) AS DOUBLE) AS fee
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "q10_range_join" ->
      """SELECT o_orderkey, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  AND l_shipdate >= o_orderdate AND l_shipdate <= o_orderdate + INTERVAL 30 DAY
        |GROUP BY o_orderkey ORDER BY o_orderkey""".stripMargin
  )
}
