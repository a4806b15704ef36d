package graft.queries

import org.apache.spark.sql.functions._

/** Seventh wave: span-level dedup forensics and cluster curation — the
  * ExactSubstr-style positional coverage metric (Lee et al., "Deduplicating
  * Training Data Makes Language Models Better"), character-level edit
  * verification of MinHash candidates, and quality-based representative
  * selection for near-dup clusters.
  */
object DataQueries7 extends QueryModule {

  val queries: Map[String, Q] = Map(
    // duplicated-span coverage (the ExactSubstr dedup metric): per document,
    // how many word positions sit inside a 5-gram that also occurs in at
    // least one OTHER document. d54 counts a doc's repeated grams; this
    // measures the POSITIONAL footprint — the fraction of the doc a span
    // dedup pass would cut. The document-frequency side reuses the per-doc
    // distinct kernel (shingle_g), so no global (doc, gram) distinct is
    // shuffled; the positional side (ngram_g + posexplode) joins the
    // df>=2 gram list on the gram hash, so the 5x position fan-out is
    // priced on MATCHED spans only, never the corpus. Grams cross every
    // shuffle as codegen'd 60-bit md5-prefix longs. The coverage fraction
    // is floor-quantized integer math — engine-exact.
    "d64_dup_spans" -> ((s, dir) =>
      graft.operators.TextDedup
        .dupSpanCoverage(docs(s, dir), "doc_id", "text", gramN = 5)
        .orderBy("doc_id")),

    // edit-distance verification of MinHash candidates — the character-level
    // sibling of the set-level Jaccard verify (d32): normalized Levenshtein
    // similarity over each d02 candidate pair, dup at sim >= 0.8. Shingle
    // Jaccard is blind to word ORDER; edit similarity is not, so this is
    // the stricter accept gate a near-dup pipeline runs before dropping a
    // doc. The O(len^2) distance is priced on |candidates| (LSH-bounded),
    // never corpus^2; texts travel only to the candidate pairs via two
    // equi-joins on doc id. The decision threshold is exact integer math
    // ((mx - dist) * 10 >= mx * 8); the reported similarity floor-quantizes.
    "d65_edit_neardup" -> ((s, dir) => {
      val pairs = DataQueries.minhashPairs(s, dir)
      val txt = docs(s, dir).select(col("doc_id"), col("text"))
      pairs
        .join(txt.select(col("doc_id").as("a"), col("text").as("ta")), Seq("a"))
        .join(txt.select(col("doc_id").as("b"), col("text").as("tb")), Seq("b"))
        .select(col("a"), col("b"),
          levenshtein(col("ta"), col("tb")).cast("long").as("dist"),
          greatest(length(col("ta")), length(col("tb"))).cast("long").as("mx"))
        .select(col("a"), col("b"), col("dist"), col("mx"),
          floor((col("mx") - col("dist")) * lit(1000000L) / col("mx"))
            .cast("long").as("edit_sim_q6"),
          ((col("mx") - col("dist")) * lit(10L) >= col("mx") * lit(8L)).as("dup"))
        .orderBy("a", "b")
    }),

    // cluster representative selection: instead of d17's keep-min-id rule,
    // keep the HIGHEST-QUALITY member of each near-dup cluster (longest
    // text, ties to the smaller id) — the curation rule production
    // pipelines actually use, since the canonical copy should be the most
    // complete one. Reuses the memoized d15 clusters (one CC computation
    // per session/dir); ranking is one window sorted within cluster
    // partitions — cluster sizes are bounded by the LSH bucket caps, so
    // no partition-wide sort grows with the corpus.
    "d66_cluster_rep" -> ((s, dir) =>
      graft.operators.TextDedup.clusterRepresentatives(
          DataQueries3.dedupClusters(s, dir),
          docs(s, dir).select(col("doc_id"), length(col("text")).cast("long").as("n_chars")),
          idCol = "doc_id", clusterCol = "cluster", qualityCol = "n_chars")
        .withColumnRenamed("rep_quality", "rep_chars")
        .orderBy("cluster")),

    // boilerplate discovery: the top-20 most-duplicated 5-grams across the
    // corpus (document frequency, min doc as the example) — the report a
    // curation team reads before writing span-removal rules. One partial-
    // aggregatable rollup over per-doc-distinct kernel hashes, then a
    // global top-k that moves only 20 rows per partition. The gram is
    // reported as its 60-bit hash — at 100 TB the strings stay in the
    // scan; a rule author resolves the handful of winners by example_doc.
    "d67_boilerplate" -> ((s, dir) =>
      docs(s, dir)
        .select(col("doc_id"), explode(graft.functions.prom.shingle_g(col("text"), 5)).as("g"))
        .groupBy(col("g"))
        .agg(count(lit(1)).as("df"), min(col("doc_id")).as("example_doc"))
        .filter(col("df") >= 2)
        .orderBy(col("df").desc, col("g"))
        .limit(20)
        .select(col("g"), col("df"), col("example_doc"))),

    // IVF index balance audit: per-cell population and corpus share, with a
    // hot-cell flag at 2x the uniform share — the skew gate an ANN serving
    // path checks before trusting per-cell latency. Rides the SAME persisted
    // assignment as d10/d11/d55 (one index per session/dir); the totals side
    // is a one-row aggregate crossJoin (the d57 pattern), so nothing
    // corpus-sized is broadcast and the audit is two partial-agg rollups.
    "d68_ivf_balance" -> ((s, dir) => {
      val percell = DataQueries2.ivfAssigned(s, dir)
        .groupBy(col("cell")).agg(count(lit(1)).as("n"))
      val tot = percell.agg(sum(col("n")).as("total"), count(lit(1)).as("n_cells"))
      percell.crossJoin(tot)
        .select(col("cell"), col("n"),
          floor(col("n") * lit(1000000L) / col("total")).cast("long").as("share_q6"),
          (col("n") * col("n_cells") >= col("total") * lit(2L)).as("hot"))
        .orderBy("cell")
    })
  )

  val oracles: Map[String, String] = Map(
    "d64_dup_spans" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |ix AS (SELECT doc_id, w, unnest(generate_series(1, len(w) - 4)) AS i FROM d WHERE len(w) >= 5),
        |shg AS (SELECT doc_id, i, w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4] AS g FROM ix),
        |df AS (SELECT g FROM (SELECT DISTINCT doc_id, g FROM shg) GROUP BY g HAVING count(*) >= 2),
        |hit AS (SELECT shg.doc_id, unnest(generate_series(shg.i, shg.i + 4)) AS p FROM shg JOIN df USING (g)),
        |cov AS (SELECT doc_id, CAST(count(DISTINCT p) AS BIGINT) AS dup_pos FROM hit GROUP BY doc_id)
        |SELECT d.doc_id, CAST(len(d.w) AS BIGINT) AS n_tok,
        |  COALESCE(cov.dup_pos, 0) AS dup_pos,
        |  CAST(floor(COALESCE(cov.dup_pos, 0) * 1000000.0 / len(d.w)) AS BIGINT) AS dup_frac_q6
        |FROM d LEFT JOIN cov USING (doc_id) ORDER BY d.doc_id""".stripMargin,

    "d65_edit_neardup" ->
      (s"WITH ${DataQueries.minhashPairsCte}," +
        """t AS (SELECT p.a, p.b, x.text AS ta, y.text AS tb
          |  FROM pairs p JOIN documents x ON x.doc_id = p.a JOIN documents y ON y.doc_id = p.b),
          |e AS (SELECT a, b, CAST(levenshtein(ta, tb) AS BIGINT) AS dist,
          |  CAST(greatest(length(ta), length(tb)) AS BIGINT) AS mx FROM t)
          |SELECT a, b, dist, mx,
          |  CAST(floor((mx - dist) * 1000000.0 / mx) AS BIGINT) AS edit_sim_q6,
          |  (mx - dist) * 10 >= mx * 8 AS dup
          |FROM e ORDER BY a, b""".stripMargin),

    "d66_cluster_rep" ->
      ("WITH RECURSIVE " + DataQueries.minhashPairsCte + """,
        |edges AS (SELECT a AS u, b AS v FROM pairs UNION ALL SELECT b, a FROM pairs),
        |nodes AS (SELECT DISTINCT u AS n FROM edges),
        |walk(n, l) AS (
        |  SELECT n, n FROM nodes
        |  UNION
        |  SELECT e.v, w.l FROM walk w JOIN edges e ON e.u = w.n),
        |clusters AS (SELECT n AS doc_id, min(l) AS cluster FROM walk GROUP BY n),
        |j AS (SELECT c.cluster, c.doc_id, CAST(length(d.text) AS BIGINT) AS n_chars
        |  FROM clusters c JOIN documents d USING (doc_id)),
        |r AS (SELECT cluster, doc_id, n_chars,
        |  row_number() OVER (PARTITION BY cluster ORDER BY n_chars DESC, doc_id) AS rn,
        |  count(*) OVER (PARTITION BY cluster) AS n_docs FROM j)
        |SELECT cluster, doc_id AS rep, n_chars AS rep_chars, CAST(n_docs AS BIGINT) AS n_docs
        |FROM r WHERE rn = 1 ORDER BY cluster""".stripMargin),

    "d67_boilerplate" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents WHERE len(string_split(text, ' ')) >= 5),
        |sh AS (SELECT doc_id, unnest(list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4] FOR i IN generate_series(1, len(w) - 4)])) AS g FROM w),
        |h AS (SELECT doc_id, CAST(('0x' || substr(md5(g), 1, 15)) AS BIGINT) AS g FROM sh)
        |SELECT g, CAST(count(*) AS BIGINT) AS df, min(doc_id) AS example_doc
        |FROM h GROUP BY g HAVING count(*) >= 2
        |ORDER BY df DESC, g LIMIT 20""".stripMargin,

    "d68_ivf_balance" ->
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
        |percell AS (SELECT cell, CAST(count(*) AS BIGINT) AS n FROM assigned GROUP BY cell),
        |tot AS (SELECT sum(n) AS total, CAST(count(*) AS BIGINT) AS n_cells FROM percell)
        |SELECT cell, n, CAST(floor(n * 1000000.0 / total) AS BIGINT) AS share_q6,
        |  n * n_cells >= total * 2 AS hot
        |FROM percell, tot ORDER BY cell""".stripMargin
  )
}
