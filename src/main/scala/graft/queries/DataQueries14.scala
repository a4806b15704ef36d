package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.prom.vec_dot

/** Wave 12 final set — evaluation audits that close the loop between
  * operators and the GROUND TRUTH the synthetic tables carry: the
  * duplication length profile (how long shared spans run), the per-source
  * quality dashboard, clustering purity against the embeddings' label
  * column, and kNN classification accuracy — the "is the cheap model good
  * enough to route 100 TB" reads.
  */
object DataQueries14 extends QueryModule {

  val queries: Map[String, Q] = Map[String, Q](
    // duplication length profile: at gram lengths {3, 5, 8}, how many
    // distinct cross-document-duplicated grams exist (df >= 2), how much
    // duplicate mass they carry, and how many docs they touch — the
    // Lee-et-al-style read that picks the span length an exact-substring
    // dedup pass should target (longer grams = fewer, higher-precision
    // matches). One shingle pass per length (3 bounded passes), grams as
    // 60-bit longs, docs_touched priced on the df>=2 gram join only.
    "d122_dup_length_profile" -> ((s, dir) => {
      // (r22 note: collapsing the three per-length branches into ONE tagged
      // gram stream — explode(concat(transform(shingle_g(n), struct(n, g))))
      // with a single (n, g)-keyed shuffle — was tried and REJECTED on cold
      // measurement: 0.83 → 1.59/2.10 s min-of-3-cold, same host. Building
      // the 3x-length struct array per doc and columnar-caching the tripled
      // tagged stream costs more than the two extra page-cached corpus
      // scans it saves. The per-length branches stay.)
      val branches = Seq(3, 5, 8).map { n =>
        val g = docs(s, dir).select(col("doc_id"),
          explode(graft.functions.prom.shingle_g(col("text"), n)).as("g"))
          .transform(graft.sources.Caches.ephemeral)
        val dup = g.groupBy(col("g")).agg(count(lit(1)).as("df"))
          .filter(col("df") >= 2)
        val stats = dup.agg(
          coalesce(count(lit(1)), lit(0L)).as("n_dup_grams"),
          coalesce(sum(col("df")), lit(0L)).as("dup_instances"))
        val touched = g.join(dup, "g")
          .agg(countDistinct(col("doc_id")).as("docs_touched"))
        stats.crossJoin(touched)
          .select(lit(n.toLong).as("gram_n"), col("n_dup_grams"),
            col("dup_instances"), col("docs_touched"))
      }
      branches.reduce(_ unionAll _).orderBy("gram_n")
    }),

    // per-source quality dashboard: doc count, d39-rule keep count, token
    // mass and distinct-token mass, with q6 ratios through DECIMAL — the
    // per-source read a curation plan consults before weighting sources
    // (d107/d108 allocate on it). ONE corpus pass; every division runs on
    // the |sources|-row aggregate.
    "d123_source_quality" -> ((s, dir) => {
      val w = split(col("text"), " ")
      val base = docs(s, dir).select(col("source"),
        size(w).cast("long").as("n_words"),
        aggregate(transform(w, x => length(x).cast("long")), lit(0L), (a, b) => a + b)
          .as("sum_wlen"),
        size(array_distinct(w)).cast("long").as("n_distinct"),
        size(array_intersect(array_distinct(w),
          array(Seq("the", "a", "of", "and", "to").map(lit): _*))).cast("long").as("stop_hits"))
      val keep = col("n_words") >= 50 && col("n_words") <= 100000 &&
        col("n_words") * 3 <= col("sum_wlen") && col("sum_wlen") <= col("n_words") * 10 &&
        col("stop_hits") >= 2
      base.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(keep, 1L).otherwise(0L)).as("n_keep"),
          sum(col("n_words")).as("tokens"),
          sum(col("n_distinct")).as("distinct_tokens"))
        .select(col("source"), col("n_docs"), col("n_keep"), col("tokens"),
          col("distinct_tokens"),
          expr("CAST((CAST(n_keep AS DECIMAL(38,0)) * 1000000) DIV n_docs AS BIGINT)")
            .as("keep_q6"),
          expr("CAST((CAST(distinct_tokens AS DECIMAL(38,0)) * 1000000) DIV tokens AS BIGINT)")
            .as("ttr_q6"))
        .orderBy("source")
    }),

    // clustering purity against ground truth: the d103 seed-centroid
    // assignment joined with the embeddings' LABEL column — per cell the
    // majority label and its share. THE standard external cluster-quality
    // metric, runnable here because the synthetic table carries labels;
    // assignment is the broadcast + min-struct rollup, the majority vote a
    // |cells|x|labels|-bounded window.
    "d124_cluster_purity" -> ((s, dir) => {
      val e = embs(s, dir).select(col("vec_id"),
        expr("transform(embedding, x -> cast(floor(cast(x as double) * 1000000.0) as bigint))")
          .as("xq"), col("label").cast("long").as("label"))
      val c = e.filter(col("vec_id") < 4).select(col("vec_id").as("cid"), col("xq").as("cq"))
      val assigned = e.crossJoin(broadcast(c))
        .select(col("vec_id"), col("label"), col("cid"),
          DataQueries10.d2q(col("xq"), col("cq")).as("d2"))
        .groupBy(col("vec_id"), col("label"))
        .agg(min(struct(col("d2"), col("cid"))).as("m"))
        .select(col("vec_id"), col("label"), col("m.cid").as("cell"))
      val votes = assigned.groupBy(col("cell"), col("label")).agg(count(lit(1)).as("cnt"))
      val tot = assigned.groupBy(col("cell")).agg(count(lit(1)).as("n"))
      val top = votes.withColumn("rn", row_number().over(
          Window.partitionBy(col("cell")).orderBy(col("cnt").desc, col("label"))))
        .filter(col("rn") === 1)
        .select(col("cell"), col("label").as("top_label"), col("cnt").as("top_n"))
      tot.join(top, "cell")
        .select(col("cell"), col("n"), col("top_label"), col("top_n"),
          expr("CAST((CAST(top_n AS DECIMAL(38,0)) * 1000000) DIV n AS BIGINT)")
            .as("purity_q6"))
        .orderBy("cell")
    }),

    // kNN accuracy audit: d16's 3-NN majority-vote predictions scored
    // against the query vectors' own labels — one row, exact integers.
    // The supervised-eval read behind using embedding kNN as a cheap
    // labeller; same broadcast + per-query bounded window as d16.
    "d125_knn_accuracy" -> ((s, dir) => {
      val e = embs(s, dir)
        .select(col("vec_id"), toDouble(col("embedding")).as("v"),
          col("label").cast("long").as("label"))
        .withColumn("nrm", sqrt(vec_dot(col("v"), col("v"))))
      val q = e.filter(col("vec_id") >= 8 && col("vec_id") < 24)
        .select(col("vec_id").as("qid"), col("v").as("qv"), col("nrm").as("qn"),
          col("label").as("truth"))
      // stream the corpus, broadcast the 16-row probe set — the bounded
      // side is the broadcast one (the d126/d133 discipline)
      val scored = e.join(broadcast(q), col("vec_id") =!= col("qid"))
        .select(col("qid"), col("truth"), col("vec_id"), col("label"),
          (vec_dot(col("qv"), col("v")) / (col("qn") * col("nrm"))).as("cos"))
      val wRank = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id"))
      val top3 = scored.withColumn("rn", row_number().over(wRank)).filter(col("rn") <= 3)
      val votes = top3.groupBy(col("qid"), col("truth"), col("label"))
        .agg(count(lit(1)).as("votes"))
      val wVote = Window.partitionBy(col("qid")).orderBy(col("votes").desc, col("label"))
      votes.withColumn("vr", row_number().over(wVote)).filter(col("vr") === 1)
        .agg(count(lit(1)).as("n_queries"),
          sum(when(col("label") === col("truth"), 1L).otherwise(0L)).as("n_correct"))
        .select(col("n_queries"), col("n_correct"),
          expr("CAST((CAST(n_correct AS DECIMAL(38,0)) * 1000000) DIV n_queries AS BIGINT)")
            .as("acc_q6"))
    })
  )

  val oracles: Map[String, String] = Map(
    "d122_dup_length_profile" ->
      """WITH w AS (SELECT doc_id, string_split(text,' ') AS w FROM documents),
        |g3 AS (SELECT DISTINCT doc_id, unnest([w[i]||' '||w[i+1]||' '||w[i+2] FOR i IN generate_series(1, len(w)-2)]) AS g FROM w WHERE len(w) >= 3),
        |g5 AS (SELECT DISTINCT doc_id, unnest([w[i]||' '||w[i+1]||' '||w[i+2]||' '||w[i+3]||' '||w[i+4] FOR i IN generate_series(1, len(w)-4)]) AS g FROM w WHERE len(w) >= 5),
        |g8 AS (SELECT DISTINCT doc_id, unnest([w[i]||' '||w[i+1]||' '||w[i+2]||' '||w[i+3]||' '||w[i+4]||' '||w[i+5]||' '||w[i+6]||' '||w[i+7] FOR i IN generate_series(1, len(w)-7)]) AS g FROM w WHERE len(w) >= 8),
        |d3 AS (SELECT g, count(*) AS df FROM g3 GROUP BY g HAVING count(*) >= 2),
        |d5 AS (SELECT g, count(*) AS df FROM g5 GROUP BY g HAVING count(*) >= 2),
        |d8 AS (SELECT g, count(*) AS df FROM g8 GROUP BY g HAVING count(*) >= 2)
        |SELECT * FROM (
        |  SELECT CAST(3 AS BIGINT) AS gram_n,
        |    CAST((SELECT coalesce(count(*), 0) FROM d3) AS BIGINT) AS n_dup_grams,
        |    CAST((SELECT coalesce(sum(df), 0) FROM d3) AS BIGINT) AS dup_instances,
        |    CAST((SELECT count(DISTINCT g3.doc_id) FROM g3 JOIN d3 ON g3.g = d3.g) AS BIGINT) AS docs_touched
        |  UNION ALL
        |  SELECT 5, CAST((SELECT coalesce(count(*), 0) FROM d5) AS BIGINT),
        |    CAST((SELECT coalesce(sum(df), 0) FROM d5) AS BIGINT),
        |    CAST((SELECT count(DISTINCT g5.doc_id) FROM g5 JOIN d5 ON g5.g = d5.g) AS BIGINT)
        |  UNION ALL
        |  SELECT 8, CAST((SELECT coalesce(count(*), 0) FROM d8) AS BIGINT),
        |    CAST((SELECT coalesce(sum(df), 0) FROM d8) AS BIGINT),
        |    CAST((SELECT count(DISTINCT g8.doc_id) FROM g8 JOIN d8 ON g8.g = d8.g) AS BIGINT)
        |) ORDER BY gram_n""".stripMargin,

    "d123_source_quality" ->
      """WITH w AS (SELECT source, string_split(text, ' ') AS w FROM documents),
        |b AS (SELECT source, len(w) AS n_words,
        |  list_reduce(list_prepend(0, [length(x) FOR x IN w]), (acc, el) -> acc + el) AS sum_wlen,
        |  len(list_distinct(w)) AS n_distinct,
        |  len(list_intersect(list_distinct(w), ['the','a','of','and','to'])) AS stop_hits
        |FROM w),
        |a AS (SELECT source, count(*) AS n_docs,
        |  sum(CASE WHEN n_words >= 50 AND n_words <= 100000 AND 3 * n_words <= sum_wlen
        |      AND sum_wlen <= 10 * n_words AND stop_hits >= 2 THEN 1 ELSE 0 END) AS n_keep,
        |  sum(n_words) AS tokens, sum(n_distinct) AS distinct_tokens
        |FROM b GROUP BY source)
        |SELECT source, CAST(n_docs AS BIGINT) AS n_docs, CAST(n_keep AS BIGINT) AS n_keep,
        |  CAST(tokens AS BIGINT) AS tokens, CAST(distinct_tokens AS BIGINT) AS distinct_tokens,
        |  CAST((CAST(n_keep AS HUGEINT) * 1000000) // n_docs AS BIGINT) AS keep_q6,
        |  CAST((CAST(distinct_tokens AS HUGEINT) * 1000000) // tokens AS BIGINT) AS ttr_q6
        |FROM a ORDER BY source""".stripMargin,

    "d124_cluster_purity" ->
      """WITH e AS (SELECT vec_id, [CAST(floor(CAST(x AS DOUBLE)*1000000.0) AS BIGINT) FOR x IN embedding] AS xq,
        |    CAST(label AS BIGINT) AS label FROM embeddings),
        |c AS (SELECT vec_id AS cid, xq AS cq FROM e WHERE vec_id < 4),
        |d AS (SELECT e.vec_id, e.label, c.cid,
        |        list_reduce(list_prepend(0::BIGINT, [(e.xq[i]-c.cq[i])*(e.xq[i]-c.cq[i]) FOR i IN generate_series(1,len(e.xq))]), (acc, v) -> acc + v) AS d2
        |      FROM e CROSS JOIN c),
        |a AS (SELECT vec_id, label, cid AS cell FROM
        |        (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn FROM d)
        |      WHERE rn = 1),
        |v AS (SELECT cell, label, count(*) AS cnt FROM a GROUP BY cell, label),
        |t AS (SELECT cell, count(*) AS n FROM a GROUP BY cell),
        |tp AS (SELECT cell, label AS top_label, cnt AS top_n FROM
        |        (SELECT *, row_number() OVER (PARTITION BY cell ORDER BY cnt DESC, label) AS rn FROM v)
        |      WHERE rn = 1)
        |SELECT t.cell, CAST(t.n AS BIGINT) AS n, CAST(tp.top_label AS BIGINT) AS top_label,
        |  CAST(tp.top_n AS BIGINT) AS top_n,
        |  CAST((CAST(tp.top_n AS HUGEINT) * 1000000) // t.n AS BIGINT) AS purity_q6
        |FROM t JOIN tp ON t.cell = tp.cell ORDER BY t.cell""".stripMargin,

    "d125_knn_accuracy" ->
      """WITH e AS (SELECT vec_id, [CAST(x AS DOUBLE) FOR x IN embedding] AS v, CAST(label AS BIGINT) AS label,
        |    sqrt(list_reduce(list_prepend(0.0::DOUBLE, [CAST(x AS DOUBLE) * CAST(x AS DOUBLE) FOR x IN embedding]), (a, b) -> a + b)) AS nrm
        |  FROM embeddings),
        |q AS (SELECT vec_id AS qid, v AS qv, nrm AS qn, label AS truth FROM e WHERE vec_id >= 8 AND vec_id < 24),
        |sc AS (SELECT qid, truth, vec_id, label,
        |    list_reduce(list_prepend(0.0::DOUBLE, [qv[i] * v[i] FOR i IN generate_series(1, len(v))]), (a, b) -> a + b) / (qn * nrm) AS cos
        |  FROM q JOIN e ON vec_id <> qid),
        |t3 AS (SELECT qid, truth, label FROM
        |        (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rn FROM sc)
        |      WHERE rn <= 3),
        |vt AS (SELECT qid, truth, label, count(*) AS votes FROM t3 GROUP BY qid, truth, label),
        |pr AS (SELECT qid, truth, label AS pred FROM
        |        (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY votes DESC, label) AS rn FROM vt)
        |      WHERE rn = 1)
        |SELECT CAST(count(*) AS BIGINT) AS n_queries,
        |  CAST(sum(CASE WHEN pred = truth THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
        |  CAST((CAST(sum(CASE WHEN pred = truth THEN 1 ELSE 0 END) AS HUGEINT) * 1000000) // count(*) AS BIGINT) AS acc_q6
        |FROM pr""".stripMargin
  )
}
