package graft.queries

import org.apache.spark.sql.functions._

/** Wave 12 tail: retrieval diversification (MMR), leakage-free
  * cross-validated LM familiarity, and the dedup threshold sensitivity
  * curve — three reads that close loops opened by d102 (serving), d28/d33
  * (model-based filtering) and d03 (near-dup thresholds).
  */
object DataQueries12 extends QueryModule {

  /** MMR parameters: lambda = 0.7 scaled by 10 to integers, shortlist 8,
    * select 4.
    */
  private val MmrShortlist = 8
  private val MmrK = 4

  val queries: Map[String, Q] = Map[String, Q](
    // Maximal Marginal Relevance diversified retrieval (Carbonell &
    // Goldstein '98) over the d04 dense shortlist: greedy re-ranking that
    // trades relevance against redundancy — score = 7*rel_q6 - 3*maxsim_q6
    // (lambda=0.7 in tenths, exact integers once cosines are quantized).
    // The corpus is touched ONLY by the bounded top-8 shortlist
    // (bruteForceTopK); the 8x8 sim matrix and the 4-step greedy selection
    // run on collected bounded rows (the d76/d89 bounded-driver-loop
    // discipline: what reaches the driver is the shortlist, never data).
    "d116_mmr_rerank" -> ((s, dir) => {
      import s.implicits._
      val short = graft.operators.VectorSearch
        .bruteForceTopK(embs(s, dir), "vec_id", "embedding", col("vec_id") === 0, MmrShortlist)
        .select(col("id"), floor(col("cos") * lit(1000000.0)).cast("long").as("rel_q6"))
      val ids = short.select(col("id"))
      val e = embs(s, dir)
      val vecs = e.join(ids, e("vec_id") === ids("id"))
        .select(col("vec_id"), expr("transform(embedding, x -> cast(x as double))").as("v"))
      val nrm = vecs.select(col("vec_id"),  col("v"),
        sqrt(graft.functions.prom.vec_dot(col("v"), col("v"))).as("nrm"))
      val sims = nrm.as("a").crossJoin(broadcast(nrm.as("b")))
        .filter(col("a.vec_id") =!= col("b.vec_id"))
        .select(col("a.vec_id").as("ia"), col("b.vec_id").as("ib"),
          floor(graft.functions.prom.vec_dot(col("a.v"), col("b.v")) /
            (col("a.nrm") * col("b.nrm")) * lit(1000000.0)).cast("long").as("sim_q6"))
      val rel = short.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val sim = sims.collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      var selected = Vector.empty[(Long, Long, Long)] // (step, id, score)
      var remaining = rel.keySet
      for (step <- 1 to MmrK) {
        val scored = remaining.toSeq.map { id =>
          val maxSim =
            if (selected.isEmpty) 0L
            else selected.map { case (_, sid, _) => sim((id, sid)) }.max
          (id, 7L * rel(id) - 3L * maxSim)
        }
        val (best, score) = scored.minBy { case (id, sc) => (-sc, id) }
        selected :+= ((step.toLong, best, score))
        remaining -= best
      }
      selected.map { case (st, id, sc) => (st, id, rel(id), sc) }
        .toDF("step", "vec_id", "rel_q6", "score_q6")
        .orderBy("step")
    }),

    // leakage-free cross-validated LM familiarity: train-split bigram
    // counts score VAL docs only (the d33 hash-window split, so train
    // statistics never see a val doc) — the held-out generalization read
    // behind trusting a model-based quality filter. Unseen-in-train
    // bigrams contribute 0 (left join + coalesce, mirrored by the
    // oracle). Per-language rollup keeps every sum an exact integer; the
    // single mean division is the only double.
    "d117_crossval_lm" -> ((s, dir) => {
      val spl = graft.operators.Sampling
        .withTrainValSplit(docs(s, dir), "doc_id")
      val bg = spl.select(col("doc_id"), col("lang"), col("split"),
        explode(graft.functions.prom.ngram_g(col("text"), 2)).as("bg"))
      // the bigram stream feeds the train-count rollup AND the val scorer
      val bgP = bg.transform(graft.sources.Caches.ephemeral)
      val counts = bgP.filter(col("split") === "train")
        .groupBy(col("bg")).agg(count(lit(1)).as("n"))
      val perDoc = bgP.filter(col("split") === "val")
        .join(counts, Seq("bg"), "left")
        .groupBy(col("doc_id"), col("lang"))
        .agg(count(lit(1)).as("nbg"), sum(coalesce(col("n"), lit(0L))).as("ssum"))
      perDoc.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_val_docs"), sum(col("nbg")).as("nbg"),
          sum(col("ssum")).as("ssum"))
        .select(col("lang"), col("n_val_docs"), col("nbg"), col("ssum"),
          (col("ssum").cast("double") / col("nbg").cast("double")).as("score"))
        .orderBy("lang")
    }),

    // dedup threshold sensitivity: verified-pair volume at Jaccard cuts
    // {0.5, 0.7, 0.8, 0.9} from ONE candidate/verify pass (the d03
    // blocked shape, including d03's 2..16 document-frequency valve so
    // a boilerplate shingle never materializes an unbounded reducer
    // list — SURVEY §9) — the curve that prices a threshold choice
    // before a 100 TB dedup run. The (inter, uni) pair table is
    // computed once; each cut is an integer-exact filter over it
    // crossed with a fixed 4-row threshold table.
    "d118_thresh_curve" -> ((s, dir) => {
      import s.implicits._
      val sh = docs(s, dir).select(col("doc_id"), col("lang"), col("source"),
          explode(graft.functions.prom.shingle_g(col("text"), 3)).as("g0"))
        .select(col("doc_id"), xxhash64(col("lang"), col("source"), col("g0")).as("sh"))
      val sizes = docs(s, dir).select(col("doc_id"),
        size(graft.functions.prom.shingle_g(col("text"), 3)).cast("long").as("n"))
      val ok = sh.groupBy(col("sh")).agg(count(lit(1)).as("__df"))
        .filter(col("__df") >= 2 && col("__df") <= 16)
        .select(col("sh"))
      val pairs = sh.join(ok, Seq("sh"))
        .groupBy(col("sh"))
        .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
        .select(explode(flatten(transform(col("ids"), (x, i) =>
          transform(slice(col("ids"), i + 2, size(col("ids"))),
            y => struct(x.as("a"), y.as("b"))))))
          .as("p"))
      val iv = pairs.groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(count(lit(1)).as("inter"))
        .join(sizes.as("sa"), col("a") === col("sa.doc_id"))
        .join(sizes.as("sb"), col("b") === col("sb.doc_id"))
        .select(col("inter"), (col("sa.n") + col("sb.n") - col("inter")).as("uni"))
      iv.crossJoin(broadcast(Seq(50L, 70L, 80L, 90L).toDF("t_pct")))
        .groupBy(col("t_pct"))
        .agg(count(when(col("inter") * 100 >= col("uni") * col("t_pct"), 1)).as("n_pairs"))
        .orderBy("t_pct")
    })
  )

  val oracles: Map[String, String] = Map(
    "d116_mmr_rerank" ->
      """WITH e AS (SELECT vec_id, [CAST(x AS DOUBLE) FOR x IN embedding] AS v FROM embeddings),
        |n AS (SELECT vec_id, v, sqrt(list_reduce(list_prepend(0.0::DOUBLE, [x * x FOR x IN v]), (a, b) -> a + b)) AS nrm FROM e),
        |q AS (SELECT v AS qv, nrm AS qn FROM n WHERE vec_id = 0),
        |sc AS (SELECT vec_id,
        |    list_reduce(list_prepend(0.0::DOUBLE, [qv[i] * v[i] FOR i IN generate_series(1, len(v))]), (a, b) -> a + b) / (qn * nrm) AS cos
        |  FROM n CROSS JOIN q WHERE vec_id <> 0),
        |short AS (SELECT vec_id AS id, CAST(floor(cos * 1000000.0) AS BIGINT) AS rel
        |  FROM (SELECT vec_id, cos, row_number() OVER (ORDER BY cos DESC, vec_id) AS rk FROM sc)
        |  WHERE rk <= 8),
        |sims AS (SELECT a.vec_id AS ia, b.vec_id AS ib,
        |    CAST(floor(list_reduce(list_prepend(0.0::DOUBLE, [a.v[i] * b.v[i] FOR i IN generate_series(1, len(a.v))]), (x, y) -> x + y) / (a.nrm * b.nrm) * 1000000.0) AS BIGINT) AS sim
        |  FROM n a JOIN short sa ON a.vec_id = sa.id
        |  JOIN n b ON a.vec_id <> b.vec_id JOIN short sb ON b.vec_id = sb.id),
        |s1 AS (SELECT id, rel, 7 * rel AS score FROM short ORDER BY 7 * rel DESC, id LIMIT 1),
        |s2 AS (SELECT sh.id, sh.rel, 7 * sh.rel - 3 * max(si.sim) AS score
        |  FROM short sh JOIN sims si ON si.ia = sh.id AND si.ib IN (SELECT id FROM s1)
        |  WHERE sh.id NOT IN (SELECT id FROM s1)
        |  GROUP BY sh.id, sh.rel ORDER BY score DESC, sh.id LIMIT 1),
        |s3 AS (SELECT sh.id, sh.rel, 7 * sh.rel - 3 * max(si.sim) AS score
        |  FROM short sh JOIN sims si ON si.ia = sh.id AND si.ib IN (SELECT id FROM s1 UNION SELECT id FROM s2)
        |  WHERE sh.id NOT IN (SELECT id FROM s1 UNION SELECT id FROM s2)
        |  GROUP BY sh.id, sh.rel ORDER BY score DESC, sh.id LIMIT 1),
        |s4 AS (SELECT sh.id, sh.rel, 7 * sh.rel - 3 * max(si.sim) AS score
        |  FROM short sh JOIN sims si ON si.ia = sh.id AND si.ib IN (SELECT id FROM s1 UNION SELECT id FROM s2 UNION SELECT id FROM s3)
        |  WHERE sh.id NOT IN (SELECT id FROM s1 UNION SELECT id FROM s2 UNION SELECT id FROM s3)
        |  GROUP BY sh.id, sh.rel ORDER BY score DESC, sh.id LIMIT 1)
        |SELECT CAST(step AS BIGINT) AS step, CAST(id AS BIGINT) AS vec_id,
        |  CAST(rel AS BIGINT) AS rel_q6, CAST(score AS BIGINT) AS score_q6 FROM (
        |  SELECT 1 AS step, * FROM s1 UNION ALL SELECT 2, * FROM s2
        |  UNION ALL SELECT 3, * FROM s3 UNION ALL SELECT 4, * FROM s4)
        |ORDER BY step""".stripMargin,

    "d117_crossval_lm" ->
      """WITH spl AS (SELECT doc_id, lang, text,
        |    CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 9, 5)) AS BIGINT) % 20 = 0
        |      THEN 'val' ELSE 'train' END AS split
        |  FROM documents),
        |w AS (SELECT doc_id, lang, split, string_split(text, ' ') AS w FROM spl WHERE len(string_split(text, ' ')) >= 2),
        |bg AS (SELECT doc_id, lang, split, unnest([w[i] || ' ' || w[i+1] FOR i IN generate_series(1, len(w) - 1)]) AS bg FROM w),
        |c AS (SELECT bg, count(*) AS n FROM bg WHERE split = 'train' GROUP BY bg),
        |pd AS (SELECT v.doc_id, v.lang, count(*) AS nbg, sum(coalesce(c.n, 0)) AS ssum
        |  FROM bg v LEFT JOIN c ON v.bg = c.bg WHERE v.split = 'val'
        |  GROUP BY v.doc_id, v.lang)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_val_docs, CAST(sum(nbg) AS BIGINT) AS nbg,
        |  CAST(sum(ssum) AS BIGINT) AS ssum,
        |  CAST(sum(ssum) AS DOUBLE) / CAST(sum(nbg) AS DOUBLE) AS score
        |FROM pd GROUP BY lang ORDER BY lang""".stripMargin,

    "d118_thresh_curve" ->
      """WITH w AS (SELECT doc_id, lang, source, string_split(text, ' ') AS w FROM documents WHERE len(string_split(text, ' ')) >= 3),
        |sh AS (SELECT DISTINCT doc_id, lang, source,
        |         unnest([w[i] || ' ' || w[i+1] || ' ' || w[i+2] FOR i IN generate_series(1, len(w) - 2)]) AS sh
        |       FROM w),
        |ok AS (SELECT lang, source, sh FROM sh GROUP BY lang, source, sh HAVING count(*) BETWEEN 2 AND 16),
        |f AS (SELECT s.doc_id, s.lang, s.source, s.sh FROM sh s JOIN ok o ON s.lang = o.lang AND s.source = o.source AND s.sh = o.sh),
        |inter AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS inter
        |  FROM f x JOIN f y ON x.lang = y.lang AND x.source = y.source AND x.sh = y.sh AND x.doc_id < y.doc_id
        |  GROUP BY x.doc_id, y.doc_id),
        |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |iv AS (SELECT i.inter, sa.n + sb.n - i.inter AS uni
        |  FROM inter i JOIN sizes sa ON i.a = sa.doc_id JOIN sizes sb ON i.b = sb.doc_id),
        |t AS (SELECT unnest([50, 70, 80, 90]) AS t_pct)
        |SELECT CAST(t_pct AS BIGINT) AS t_pct,
        |  CAST(count(CASE WHEN inter * 100 >= uni * t_pct THEN 1 END) AS BIGINT) AS n_pairs
        |FROM iv CROSS JOIN t GROUP BY t_pct ORDER BY t_pct""".stripMargin
  )
}
