package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.prom.vec_dot
import graft.sources.{Caches, Tables}

/** Third wave of operators: deterministic stratified sampling, n-gram
  * language-model counts, dedup clustering (connected components over the
  * MinHash-LSH candidate graph — the full 100 TB dedup pipeline ending), kNN
  * label classification over embeddings, and relational breadth (cube,
  * correlated scalar subquery, exact medians).
  */
object DataQueries3 extends QueryModule {

  /** Connected components over the MinHash-LSH candidate graph via iterative
    * min-label propagation (the standard large-scale CC algorithm; O(graph
    * diameter) rounds, each a shuffle on node id). localCheckpoint truncates
    * the growing lineage per round. The cluster id (min doc_id reachable) is
    * the canonical representative a dedup pass keeps. Returns (doc_id,
    * cluster), unordered.
    *
    * The result is memoized + persisted per (session, dir): the CC
    * iteration is the priciest stage of the dedup family, and three
    * consumers need it (d15 clusters, d17 apply, d40 savings report) — a
    * pipeline runs it ONCE and every report composes from the shared
    * cluster table (the persist seam VERDICT r7 asked for).
    *
    * The memo assumes a dir's data is immutable within a session (the
    * corpus-snapshot contract); call [[invalidateClusters]] after rewriting
    * a dir in place to force a recompute. It is bounded as every
    * [[Caches.Memo]] is; an evicted table is unpersisted.
    */
  private val clustersMemo = Caches.memo[DataFrame](Caches.unpersist)

  private[graft] def dedupClusters(s: SparkSession, dir: String): DataFrame =
    clustersMemo((s, dir)) {
      // public API binding (operators/TextDedup.clusters): min-label
      // propagation with sum-convergence detection — the LSH candidate graph
      // is near-clique (diameter ~2-3), so O(1) rounds; alternatingStar is
      // the O(log n) general-graph path.
      // memo-owned lineage: the plain localCheckpoint keeps the loop's
      // truncation blocks OUT of the Caches.release registry — this frame
      // outlives any single query, so release must never be able to drop
      // blocks it still recomputes from (freed via ContextCleaner once
      // the memo evicts the entry)
      graft.operators.TextDedup.clusters(DataQueries.minhashPairs(s, dir),
          checkpoint = _.localCheckpoint())
        .select(col("id").as("doc_id"), col("cluster"))
        .persist()
    }

  /** Drop (and unpersist) the memoized cluster table for (session, dir) —
    * required after changing the dir's data within a session, since the
    * memo otherwise serves the snapshot it first computed.
    */
  def invalidateClusters(s: SparkSession, dir: String): Unit =
    clustersMemo.invalidate((s, dir))

  val queries: Map[String, Q] = Map(
    // deterministic hash-based stratified sampling: ~10% per document,
    // reproducible across engines and runs (no RNG state), filter fully
    // pushed into the scan. The 100 TB form is identical — sampling is a
    // narrow stateless filter, no shuffle.
    "d13_sample" -> ((s, dir) =>
      graft.operators.Sampling.hashSample(docs(s, dir), "doc_id", 10)
        .select(col("doc_id"), col("lang"), col("source"))
        .orderBy("doc_id")),

    // bigram language-model counts: top-5 bigrams per language. One explode
    // pass, partial-agg shuffle on (lang, bigram), then a per-lang top-k
    // window over the (small) aggregated counts.
    "d14_bigram_lm" -> ((s, dir) => {
      val base = docs(s, dir)
        .withColumn("w", split(col("text"), " "))
        .filter(size(col("w")) >= 2)
      val bg = base.select(col("lang"),
        explode(transform(sequence(lit(0), size(col("w")) - 2),
          i => concat_ws(" ", slice(col("w"), i + 1, lit(2))))).as("bg"))
      val counts = bg.groupBy(col("lang"), col("bg")).agg(count(lit(1)).as("n"))
      val w = Window.partitionBy(col("lang")).orderBy(col("n").desc, col("bg"))
      counts.withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 5)
        .select(col("lang"), col("rank"), col("bg"), col("n"))
        .orderBy("lang", "rank")
    }),

    // dedup clustering: connected components over the MinHash-LSH candidate
    // graph — see [[dedupClusters]].
    "d15_dedup_clusters" -> ((s, dir) =>
      dedupClusters(s, dir).orderBy("doc_id")),

    // dedup APPLY — the end of the near-dup pipeline: drop every non-canonical
    // cluster member (canonical = min doc_id = the cluster label) plus every
    // exact duplicate that isn't its text-group minimum, keep the rest. The
    // drop set is dup-rate-proportional — a heavily duplicated crawl makes it
    // corpus-sized — so the anti-join is a plain shuffle on doc_id (AQE still
    // broadcasts when the drop list genuinely fits). The exact-dup drop list
    // comes from the d01 groupBy shape (partial-aggregatable min per content
    // hash + semi-join), not a corpus-wide window sort.
    "d17_dedup_apply" -> ((s, dir) =>
      graft.operators.TextDedup.applyDedup(docs(s, dir), "doc_id", "text",
          precomputedClusters = Some(dedupClusters(s, dir)
            .select(col("doc_id").as("id"), col("cluster"))))
        .select(col("doc_id"), col("lang"), col("source"))
        .orderBy("doc_id")),

    // kNN label classification: unlabeled-style queries vote among their 3
    // nearest labeled neighbors (cosine); majority wins, ties to the smaller
    // label. Brute-force per query here; the IVF cell assignment of d10 is
    // the scale path for the candidate set.
    "d16_knn_classify" -> ((s, dir) => {
      val e = embs(s, dir)
        .select(col("vec_id"), toDouble(col("embedding")).as("v"), col("label"))
        .withColumn("nrm", sqrt(vec_dot(col("v"), col("v"))))
      val q = e.filter(col("vec_id") >= 8 && col("vec_id") < 24)
        .select(col("vec_id").as("qid"), col("v").as("qv"), col("nrm").as("qn"))
      val scored = q.join(broadcast(e), col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id"), col("label"),
          (vec_dot(col("qv"), col("v")) / (col("qn") * col("nrm"))).as("cos"))
      val wRank = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id"))
      val top3 = scored.withColumn("rn", row_number().over(wRank)).filter(col("rn") <= 3)
      val votes = top3.groupBy(col("qid"), col("label")).agg(count(lit(1)).as("votes"))
      val wVote = Window.partitionBy(col("qid")).orderBy(col("votes").desc, col("label"))
      votes.withColumn("vr", row_number().over(wVote)).filter(col("vr") === 1)
        .select(col("qid"), col("label").cast("long").as("pred"), col("votes"))
        .orderBy("qid")
    }),

    // k-means update step over the IVF cells: per (cell, dimension), the
    // centroid component from member vectors. Components are quantized with
    // floor(x * 1e6) BEFORE summing — long sums are accumulation-order-free,
    // so the result is engine- and partition-order-exact (float summation
    // never crosses the oracle). At 100 TB this is one narrow explode +
    // partial-aggregatable groupBy on (cell, dim) — the canonical
    // distributed k-means shape.
    "d18_kmeans_step" -> ((s, dir) => {
      val e = embs(s, dir).select(col("vec_id"), toDouble(col("embedding")).as("v"))
        .withColumn("nrm", sqrt(vec_dot(col("v"), col("v"))))
      val cents = e.filter(col("vec_id") < 4)
        .select(col("vec_id").as("cid"), col("v").as("cv"), col("nrm").as("cn"))
      val scoredCells = e.join(broadcast(cents))
        .select(col("vec_id"), col("v"), col("nrm"), col("cid"),
          (vec_dot(col("v"), col("cv")) / (col("nrm") * col("cn"))).as("ccos"))
      val wCell = Window.partitionBy(col("vec_id")).orderBy(col("ccos").desc, col("cid"))
      val assigned = scoredCells.withColumn("rn", row_number().over(wCell))
        .filter(col("rn") === 1)
        .select(col("vec_id"), col("v"), col("cid").as("cell"))
      assigned
        .select(col("cell"), posexplode(col("v")).as(Seq("dim", "x")))
        .select(col("cell"), col("dim").cast("long").as("dim"),
          floor(col("x") * lit(1000000.0)).as("xq"))
        .groupBy(col("cell"), col("dim"))
        .agg(sum(col("xq")).as("qsum"), count(lit(1)).as("n"))
        .select(col("cell"), col("dim"), col("qsum"), col("n"),
          (col("qsum").cast("double") / (col("n").cast("double") * lit(1000000.0)))
            .as("centroid"))
        .orderBy("cell", "dim")
    }),

    // text cleaning: lowercase, strip URLs, drop non-alphanumerics, collapse
    // whitespace — the standard pre-tokenization normalization pass, as a
    // pure narrow map (verified via content hash of the cleaned text)
    "d19_clean" -> ((s, dir) => {
      val cleaned = trim(regexp_replace(
        regexp_replace(
          regexp_replace(lower(col("text")), "https?://\\S+", ""),
          "[^a-z0-9 ]", ""),
        " +", " "))
      docs(s, dir)
        .select(col("doc_id"), md5(cleaned).as("clean_md5"),
          length(cleaned).cast("long").as("clean_len"))
        .orderBy("doc_id")
    }),

    // corpus token-frequency histogram: how many distinct tokens occur in
    // each power-of-two frequency band (Zipf profile). Bucket = bit length
    // of the count — pure integer arithmetic, no log2 float edge cases.
    "d20_freq_hist" -> ((s, dir) => {
      val freq = docs(s, dir)
        .select(explode(split(col("text"), " ")).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("f"))
      freq.groupBy(length(bin(col("f"))).cast("long").as("bucket"))
        .agg(count(lit(1)).as("n_tokens"), min(col("f")).as("min_f"), max(col("f")).as("max_f"))
        .orderBy("bucket")
    }),

    // Misra-Gries heavy hitters per language (capacity 64 >= |distinct
    // sources|, so the sketch is exact and oracle-checkable; the operator's
    // value at 100 TB is the fixed O(capacity) state per group)
    "d21_heavy_hitters" -> ((s, dir) =>
      docs(s, dir)
        .groupBy(col("lang"))
        .agg(graft.functions.HeavyHitters.heavy_hitters(64, col("source")).as("hh"))
        .select(col("lang"), explode(col("hh")).as(Seq("source", "cnt")))
        .orderBy("lang", "source")),

    // cube: all grouping-set combinations with exact decimal sums
    "q18_cube" -> ((s, dir) =>
      Tables.load(s, dir, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
          count(lit(1)).as("n"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
          coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
          col("sum_qty"), col("n"))
        .orderBy("rf", "ls")),

    // correlated scalar subquery (Catalyst decorrelates to an aggregate +
    // join): orders costing more than twice their customer's cheapest order.
    // min() is accumulation-order-free, so decimal compare is engine-exact.
    "q19_corr_subquery" -> ((s, dir) => {
      Tables.load(s, dir, "orders").createOrReplaceTempView("orders_v")
      s.sql(
        """SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS price
          |FROM orders_v o
          |WHERE CAST(o_totalprice AS DECIMAL(18,2)) > 2 * (
          |  SELECT min(CAST(o2.o_totalprice AS DECIMAL(18,2)))
          |  FROM orders_v o2 WHERE o2.o_custkey = o.o_custkey)
          |ORDER BY o_orderkey""".stripMargin)
    }),

    // exact median per group, computed from rank arithmetic over the
    // (group, DISTINCT price) count table (no engine-specific percentile
    // interpolation). A row_number window partitioned by the 3-value
    // l_returnflag would sort ~corpus/3 in ONE task; here the corpus pass
    // is a partial-aggregatable groupBy, every window runs over the count
    // table partitioned by (group, band) via ScaleWindows.rankTable
    // (extendedprice's range is data-independent: qty 1..50 × part retail
    // price, so the band table is bounded), and the value at rank r is the
    // plain aggregate min(p WHERE cum >= r). (lo+hi)/2 reproduces avg of
    // the <=2 middle elements IEEE-exactly (same sum, same divide).
    "q20_median" -> ((s, dir) => {
      val counts = Tables.load(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_extendedprice").cast("double").as("p"))
        .groupBy(col("l_returnflag"), col("p")).agg(count(lit(1)).as("cnt"))
      graft.operators.ScaleWindows
        .rankTable(counts, Seq("l_returnflag"), "p", "cnt", 1000L)
        .groupBy(col("l_returnflag"))
        .agg(((min(when(col("cum") >= expr("(n + 1) DIV 2"), col("p"))) +
              min(when(col("cum") >= expr("(n + 2) DIV 2"), col("p")))) / 2)
            .as("median_price"),
          max(col("n")).as("n"))
        .orderBy("l_returnflag")
    })
  )

  val oracles: Map[String, String] = Map(
    "d13_sample" ->
      """SELECT doc_id, lang, source FROM documents
        |WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 10 = 0
        |ORDER BY doc_id""".stripMargin,

    "d14_bigram_lm" ->
      """WITH w AS (SELECT lang, string_split(text, ' ') AS w FROM documents WHERE len(string_split(text, ' ')) >= 2),
        |bg AS (SELECT lang, unnest([w[i] || ' ' || w[i+1] FOR i IN generate_series(1, len(w) - 1)]) AS bg FROM w),
        |c AS (SELECT lang, bg, CAST(count(*) AS BIGINT) AS n FROM bg GROUP BY lang, bg),
        |r AS (SELECT lang, bg, n, CAST(row_number() OVER (PARTITION BY lang ORDER BY n DESC, bg) AS BIGINT) AS rank FROM c)
        |SELECT lang, rank, bg, n FROM r WHERE rank <= 5 ORDER BY lang, rank""".stripMargin,

    "d15_dedup_clusters" ->
      ("WITH RECURSIVE " + DataQueries.minhashPairsCte + """,
        |edges AS (SELECT a AS u, b AS v FROM pairs UNION ALL SELECT b, a FROM pairs),
        |nodes AS (SELECT DISTINCT u AS n FROM edges),
        |walk(n, l) AS (
        |  SELECT n, n FROM nodes
        |  UNION
        |  SELECT e.v, w.l FROM walk w JOIN edges e ON e.u = w.n)
        |SELECT n AS doc_id, min(l) AS cluster FROM walk GROUP BY n ORDER BY doc_id""".stripMargin),

    "d17_dedup_apply" ->
      ("WITH RECURSIVE " + DataQueries.minhashPairsCte + """,
        |edges AS (SELECT a AS u, b AS v FROM pairs UNION ALL SELECT b, a FROM pairs),
        |nodes AS (SELECT DISTINCT u AS n FROM edges),
        |walk(n, l) AS (
        |  SELECT n, n FROM nodes
        |  UNION
        |  SELECT e.v, w.l FROM walk w JOIN edges e ON e.u = w.n),
        |clusters AS (SELECT n AS doc_id, min(l) AS cluster FROM walk GROUP BY n),
        |drop_near AS (SELECT doc_id FROM clusters WHERE doc_id <> cluster),
        |drop_exact AS (SELECT doc_id FROM (
        |  SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(text)) AS keep FROM documents)
        |  WHERE doc_id <> keep),
        |dropped AS (SELECT doc_id FROM drop_near UNION SELECT doc_id FROM drop_exact)
        |SELECT doc_id, lang, source FROM documents
        |WHERE doc_id NOT IN (SELECT doc_id FROM dropped)
        |ORDER BY doc_id""".stripMargin),

    "d16_knn_classify" ->
      """WITH e AS (SELECT vec_id, [CAST(x AS DOUBLE) FOR x IN embedding] AS v, label,
        |    sqrt(list_reduce(list_prepend(0.0::DOUBLE, [CAST(x AS DOUBLE) * CAST(x AS DOUBLE) FOR x IN embedding]), (a, b) -> a + b)) AS nrm
        |  FROM embeddings),
        |q AS (SELECT vec_id AS qid, v AS qv, nrm AS qn FROM e WHERE vec_id >= 8 AND vec_id < 24),
        |scored AS (SELECT qid, e.vec_id, e.label,
        |    list_reduce(list_prepend(0.0::DOUBLE, [qv[i] * e.v[i] FOR i IN generate_series(1, len(e.v))]), (a, b) -> a + b) / (qn * e.nrm) AS cos
        |  FROM q JOIN e ON e.vec_id <> qid),
        |top3 AS (SELECT qid, label FROM (
        |    SELECT qid, label, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rn FROM scored)
        |  WHERE rn <= 3),
        |votes AS (SELECT qid, label, CAST(count(*) AS BIGINT) AS votes FROM top3 GROUP BY qid, label)
        |SELECT qid, CAST(label AS BIGINT) AS pred, votes FROM (
        |  SELECT qid, label, votes, row_number() OVER (PARTITION BY qid ORDER BY votes DESC, label) AS vr FROM votes)
        |WHERE vr = 1 ORDER BY qid""".stripMargin,

    "d18_kmeans_step" ->
      """WITH e AS (SELECT vec_id, [CAST(x AS DOUBLE) FOR x IN embedding] AS v,
        |    sqrt(list_reduce(list_prepend(0.0::DOUBLE, [CAST(x AS DOUBLE) * CAST(x AS DOUBLE) FOR x IN embedding]), (a, b) -> a + b)) AS nrm
        |  FROM embeddings),
        |cents AS (SELECT vec_id AS cid, v AS cv, nrm AS cn FROM e WHERE vec_id < 4),
        |scoredcells AS (SELECT e.vec_id, e.v, e.nrm, c.cid,
        |    list_reduce(list_prepend(0.0::DOUBLE, [e.v[i] * c.cv[i] FOR i IN generate_series(1, len(e.v))]), (a, b) -> a + b) / (e.nrm * c.cn) AS ccos
        |  FROM e CROSS JOIN cents c),
        |assigned AS (SELECT vec_id, v, cid AS cell FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS rn FROM scoredcells)
        |  WHERE rn = 1),
        |ex AS (SELECT cell, CAST(i - 1 AS BIGINT) AS dim, CAST(floor(v[i] * 1000000.0) AS BIGINT) AS xq
        |  FROM assigned, LATERAL (SELECT unnest(generate_series(1, len(v))) AS i))
        |SELECT cell, dim, CAST(sum(xq) AS BIGINT) AS qsum, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(xq) AS DOUBLE) / (CAST(count(*) AS DOUBLE) * 1000000.0) AS centroid
        |FROM ex GROUP BY cell, dim ORDER BY cell, dim""".stripMargin,

    "d19_clean" ->
      """WITH c AS (SELECT doc_id,
        |  trim(regexp_replace(regexp_replace(regexp_replace(lower(text), 'https?://\S+', '', 'g'), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS cl
        |FROM documents)
        |SELECT doc_id, md5(cl) AS clean_md5, CAST(length(cl) AS BIGINT) AS clean_len
        |FROM c ORDER BY doc_id""".stripMargin,

    "d20_freq_hist" ->
      """WITH freq AS (SELECT tok, CAST(count(*) AS BIGINT) AS f FROM (
        |    SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
        |  GROUP BY tok)
        |SELECT CAST(length(bin(f)) AS BIGINT) AS bucket,
        |  CAST(count(*) AS BIGINT) AS n_tokens, min(f) AS min_f, max(f) AS max_f
        |FROM freq GROUP BY bucket ORDER BY bucket""".stripMargin,

    "d21_heavy_hitters" ->
      """SELECT lang, source, CAST(count(*) AS BIGINT) AS cnt
        |FROM documents GROUP BY lang, source ORDER BY lang, source""".stripMargin,

    "q18_cube" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS rf, coalesce(l_linestatus, 'ALL') AS ls,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty, CAST(count(*) AS BIGINT) AS n
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus) ORDER BY rf, ls""".stripMargin,

    "q19_corr_subquery" ->
      """SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS price
        |FROM orders o
        |WHERE CAST(o_totalprice AS DECIMAL(18,2)) > 2 * (
        |  SELECT min(CAST(o2.o_totalprice AS DECIMAL(18,2)))
        |  FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
        |ORDER BY o_orderkey""".stripMargin,

    "q20_median" ->
      """WITH x AS (SELECT l_returnflag, CAST(l_extendedprice AS DOUBLE) AS p,
        |    CAST(row_number() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice) AS BIGINT) AS rn,
        |    CAST(count(*) OVER (PARTITION BY l_returnflag) AS BIGINT) AS cnt
        |  FROM lineitem)
        |SELECT l_returnflag, avg(p) AS median_price, max(cnt) AS n
        |FROM x WHERE rn = (cnt + 1) // 2 OR rn = (cnt + 2) // 2
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin
  )
}
