package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.prom.vec_dot
import graft.sources.Caches

/** Eighth wave: position-aware fingerprint sketching (winnowing / MOSS) and
  * tokenizer-training statistics — the corpus-level counting passes a BPE
  * trainer and a collocation extractor run before any model sees the data.
  */
object DataQueries8 extends QueryModule {

  /** ONE memoized+persisted winnowing sketch (K=3, W=4) per (session,
    * dir), shared by every winnowing consumer — d69 density, d72 pairs,
    * d84 aligned runs — the same bounded-cache discipline as
    * DataQueries2's ivfMemo: the sketch is each query's dominant cost, so
    * sharing it prices the family at one sketch per corpus instead of one
    * per query.
    */
  private val winnowMemo = Caches.memo[DataFrame](Caches.unpersist)

  private[queries] def winnowFp(s: SparkSession, dir: String): DataFrame =
    winnowMemo((s, dir)) {
      graft.operators.TextDedup
        .winnowFingerprints(docs(s, dir), "doc_id", "text", gramN = 3, window = 4)
        .persist()
    }

  val queries: Map[String, Q] = Map(
    // winnowing fingerprint density (Schleimer et al., SIGMOD '03 — MOSS):
    // per doc, how many (position, hash) fingerprints the window-min
    // selection keeps out of the full 3-gram inventory. The guarantee: any
    // shared run of window+gramN-1 = 6 words shares a fingerprint, at
    // ~2/(window+1) = 40% expected density — the position-aware middle
    // ground between hash-everything (d54/d64) and 16 minhashes (d02).
    // Selection is one partial-aggregatable min(struct(hash, -pos)) rollup
    // keyed on (doc, window start); grams cross shuffles as 60-bit longs.
    "d69_winnowing" -> ((s, dir) => {
      val d = docs(s, dir)
      val fp = winnowFp(s, dir)
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_fp"))
      d.select(col("doc_id"),
          size(graft.functions.prom.ngram_g(col("text"), 3)).cast("long").as("n_grams"))
        .filter(col("n_grams") >= 1)
        .join(fp, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_grams"),
          coalesce(col("n_fp"), lit(0L)).as("n_fp"),
          floor(coalesce(col("n_fp"), lit(0L)) * lit(1000000L) / col("n_grams"))
            .cast("long").as("density_q6"))
        .orderBy("doc_id")
    }),

    // BPE first-merge statistics (Sennrich et al., "Neural Machine
    // Translation of Rare Words with Subword Units"): corpus-wide adjacent
    // character-pair frequencies — the argmax of this table IS the first
    // merge a BPE trainer performs, and re-running it per merge round is
    // the whole training loop. Two narrow explodes (word, then char-pair)
    // feed ONE count over a key domain bounded by |alphabet|^2, so map-side
    // combine collapses each partition to a few hundred rows and the top-k
    // moves 20 rows per partition — no shuffle grows with the corpus.
    "d70_bpe_pairs" -> ((s, dir) =>
      docs(s, dir)
        .select(explode(split(col("text"), " ")).as("w"))
        .filter(length(col("w")) >= 2)
        .select(explode(expr(
          "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")).as("pair"))
        .groupBy(col("pair")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("pair"))
        .limit(20)),

    // collocation extraction by Dice coefficient: adjacent word bigrams
    // scored 2*c_ab/(c_a+c_b) against their own left/right bigram marginals
    // (Smadja's Xtract family; Dice rather than PMI because it needs NO
    // corpus total — every term is a per-key count, so the integer-exact
    // q6 quantization never multiplies by N and cannot overflow at corpus
    // scale). Marginals are two partial rollups OF the bigram count table
    // itself (vocab-bounded), joined back on single-word keys.
    "d71_colloc_dice" -> ((s, dir) => {
      val bi = docs(s, dir)
        .select(split(col("text"), " ").as("ws"))
        .filter(size(col("ws")) >= 2)
        .select(explode(expr(
          "transform(sequence(0, size(ws) - 2), i -> struct(ws[i] AS w1, ws[i+1] AS w2))")).as("b"))
        .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
        .groupBy("w1", "w2").agg(count(lit(1)).as("c_ab"))
      val left = bi.groupBy("w1").agg(sum(col("c_ab")).as("c_a"))
      val right = bi.groupBy("w2").agg(sum(col("c_ab")).as("c_b"))
      bi.join(left, Seq("w1")).join(right, Seq("w2"))
        .filter(col("c_ab") >= 5)
        .select(concat(col("w1"), lit(" "), col("w2")).as("bigram"),
          col("c_ab"), col("c_a"), col("c_b"),
          floor(col("c_ab") * lit(2000000L) / (col("c_a") + col("c_b")))
            .cast("long").as("dice_q6"))
        .orderBy(col("dice_q6").desc, col("bigram"))
        .limit(20)
    }),

    // winnowed candidate pairs — the MOSS matching step: docs sharing >= 2
    // distinct winnowing fingerprints, counted via the d03 bucket-shuffle
    // shape (group by fingerprint hash, expand sorted id lists, df<=16
    // boilerplate valve). The sketch guarantee carries to the pairs: two
    // docs sharing two disjoint 6-word runs ALWAYS pair, while the join
    // moves only ~40% of the gram inventory instead of all of it.
    "d72_winnow_overlap" -> ((s, dir) =>
      graft.operators.TextDedup
        .winnowCandidatesFrom(winnowFp(s, dir), "doc_id",
          minShared = 2, maxBucket = 16)
        .orderBy("a", "b")),

    // one power-iteration step over the embedding matrix — the inner loop
    // of distributed PCA / spectral methods: v1 = A^T (A v0) with v0 = the
    // all-ones direction, expressed as a matvec per row (exact left-fold
    // dot), a 64-way dim explode, and ONE two-phase integer sum per dim.
    // Per-row contributions are floor*1e6-quantized BEFORE the cross-row
    // sum (the d57/d60 rule), so the reduction is accumulation-order-exact
    // on any cluster layout — the only float ops left (fold + one product)
    // are per-row and bit-identical across engines. Nothing is collected:
    // at 100 TB this is a narrow map + a 64-key partial-agg rollup.
    "d73_power_iter" -> ((s, dir) =>
      embs(s, dir)
        .select(expr("transform(embedding, x -> cast(x as double))").as("v"))
        .select(expr("aggregate(v, cast(0.0 as double), (a, x) -> a + x)").as("t"),
          posexplode(col("v")).as(Seq("dim", "x")))
        .select(col("dim").cast("long").as("dim"),
          floor(col("t") * col("x") * lit(1000000.0)).cast("long").as("cq"))
        .groupBy("dim").agg(sum(col("cq")).as("v1_q6"))
        .orderBy("dim")),

    // tokenizer vocabulary coverage curve: what fraction of all token
    // occurrences the top-k most frequent words cover, for k in {10, 100,
    // 1000} — the "how big must the vocab be" planning read a tokenizer
    // team does before training. Distinct whitespace tokens GROW with the
    // corpus (Heaps' law), so ranking the whole vocabulary through one
    // window task would not survive 100 TB of web text: since max k =
    // 1000, prune to the top-1000 first with a bounded TakeOrdered (the
    // total order (c desc, w) makes the cut exact — it IS the rn <= 1000
    // set), then rank only those 1000 rows. The k table is 3 fixed rows
    // (bounded broadcast); the totals side is a one-row aggregate
    // crossJoin over the full count.
    "d74_vocab_coverage" -> ((s, dir) => {
      import s.implicits._
      val c = docs(s, dir)
        .select(explode(split(col("text"), " ")).as("w"))
        .groupBy("w").agg(count(lit(1)).as("c"))
      val r = c.orderBy(col("c").desc, col("w")).limit(1000)
        .select(col("c"),
          row_number().over(Window.orderBy(col("c").desc, col("w"))).as("rn"))
      val tot = c.agg(sum(col("c")).as("total"))
      r.join(Seq(10L, 100L, 1000L).toDF("k"), col("rn") <= col("k"))
        .groupBy("k").agg(sum(col("c")).as("covered"))
        .crossJoin(tot)
        .select(col("k"), col("covered"), col("total"),
          floor(col("covered") * lit(1000000L) / col("total")).cast("long").as("frac_q6"))
        .orderBy("k")
    }),

    // multi-probe IVF recall — the recall/cost lever an ANN serving path
    // tunes: for the d55 probe set, recall@3 when searching only the
    // query's best cell (nprobe=1, d10's shape) vs its best TWO cells
    // (nprobe=2, ~2x the scan for the recall the balance audit d68 says
    // the hot cells are hiding). Probe selection is an 8x4 bounded
    // cross-score; the corpus side joins on cell exactly like d55 (each
    // vector lives in ONE cell, so nprobe=2 scans two cells' worth, never
    // duplicated rows); ground truth broadcasts only the fixed probe set.
    // All outputs are exact small integers.
    "d75_ivf_multiprobe" -> ((s, dir) => {
      val assigned = DataQueries2.ivfAssigned(s, dir)
      val cents = assigned.filter(col("id") < 4)
        .select(col("id").as("cid"), col("v").as("cv"), col("nrm").as("cn"))
      val q = assigned.filter(col("id") >= 8 && col("id") < 16)
        .select(col("id").as("qid"), col("v").as("qv"), col("nrm").as("qn"))
      val wp = Window.partitionBy(col("qid")).orderBy(col("ccos").desc, col("cid"))
      val probes = q.crossJoin(broadcast(cents))
        .select(col("qid"), col("qv"), col("qn"), col("cid"),
          (vec_dot(col("qv"), col("cv")) / (col("qn") * col("cn"))).as("ccos"))
        .withColumn("prank", row_number().over(wp))
        .filter(col("prank") <= 2)
        .select(col("qid"), col("qv"), col("qn"), col("cid").as("cell"), col("prank"))
      val scored = probes.join(assigned, Seq("cell"))
        .filter(col("id") =!= col("qid"))
        .select(col("qid"), col("prank"), col("id").as("vec_id"),
          (vec_dot(col("qv"), col("v")) / (col("qn") * col("nrm"))).as("cos"))
      def top3(df: DataFrame) = {
        val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id"))
        df.withColumn("rank", row_number().over(w)).filter(col("rank") <= 3)
          .select(col("qid"), col("vec_id"))
      }
      val r1 = top3(scored.filter(col("prank") === 1))
      val r2 = top3(scored)
      val exact = top3(assigned.join(broadcast(q), col("id") =!= col("qid"))
        .select(col("qid"), col("id").as("vec_id"),
          (vec_dot(col("qv"), col("v")) / (col("qn") * col("nrm"))).as("cos")))
      def hits(r: DataFrame, name: String) =
        exact.join(r, Seq("qid", "vec_id"), "left_semi")
          .groupBy("qid").agg(count(lit(1)).as(name))
      exact.groupBy("qid").agg(count(lit(1)).as("k"))
        .join(hits(r1, "hits_p1"), Seq("qid"), "left")
        .join(hits(r2, "hits_p2"), Seq("qid"), "left")
        .select(col("qid"), col("k"),
          coalesce(col("hits_p1"), lit(0L)).as("hits_p1"),
          coalesce(col("hits_p2"), lit(0L)).as("hits_p2"))
        .orderBy("qid")
    })
  )

  /** Shared winnowing prelude (K=3, W=4): 1-based gram index `i`, 60-bit
    * md5-prefix hash `h`, window starts `ws` in [max(i-3,1), min(i, max(n-3,
    * 1))], per-window min hash with rightmost-position tie-break.
    */
  private[queries] val winnowCte: String =
    """d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |n AS (SELECT doc_id, w, len(w) - 2 AS n FROM d WHERE len(w) >= 3),
      |g AS (SELECT doc_id, n, i,
      |        CAST(('0x' || substr(md5(w[i] || ' ' || w[i+1] || ' ' || w[i+2]), 1, 15)) AS BIGINT) AS h
      |      FROM (SELECT doc_id, w, n, unnest(generate_series(1, n)) AS i FROM n)),
      |wins AS (SELECT doc_id, i, h,
      |        unnest(generate_series(greatest(i - 3, 1), least(i, greatest(n - 3, 1)))) AS ws FROM g),
      |wm AS (SELECT doc_id, ws, min(h) AS mh FROM wins GROUP BY doc_id, ws),
      |sel AS (SELECT w.doc_id, w.ws, wm.mh AS h, max(w.i) AS i
      |        FROM wins w JOIN wm ON w.doc_id = wm.doc_id AND w.ws = wm.ws AND w.h = wm.mh
      |        GROUP BY w.doc_id, w.ws, wm.mh)""".stripMargin

  val oracles: Map[String, String] = Map(
    "d69_winnowing" ->
      (s"WITH $winnowCte," +
        """fp AS (SELECT DISTINCT doc_id, i, h FROM sel),
          |c AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_fp FROM fp GROUP BY doc_id)
          |SELECT n.doc_id, CAST(n.n AS BIGINT) AS n_grams, COALESCE(c.n_fp, 0) AS n_fp,
          |  CAST(floor(COALESCE(c.n_fp, 0) * 1000000.0 / n.n) AS BIGINT) AS density_q6
          |FROM n LEFT JOIN c USING (doc_id) ORDER BY n.doc_id""".stripMargin),

    "d70_bpe_pairs" ->
      """WITH t AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
        |p AS (SELECT unnest([substr(w, i, 2) FOR i IN generate_series(1, length(w) - 1)]) AS pair
        |      FROM t WHERE length(w) >= 2)
        |SELECT pair, CAST(count(*) AS BIGINT) AS cnt FROM p GROUP BY pair
        |ORDER BY cnt DESC, pair LIMIT 20""".stripMargin,

    "d71_colloc_dice" ->
      """WITH t AS (SELECT string_split(text, ' ') AS ws FROM documents WHERE len(string_split(text, ' ')) >= 2),
        |b AS (SELECT unnest([ws[i] FOR i IN generate_series(1, len(ws) - 1)]) AS w1,
        |             unnest([ws[i + 1] FOR i IN generate_series(1, len(ws) - 1)]) AS w2 FROM t),
        |c AS (SELECT w1, w2, count(*) AS c_ab FROM b GROUP BY w1, w2),
        |l AS (SELECT w1, sum(c_ab) AS c_a FROM c GROUP BY w1),
        |r AS (SELECT w2, sum(c_ab) AS c_b FROM c GROUP BY w2)
        |SELECT c.w1 || ' ' || c.w2 AS bigram, CAST(c_ab AS BIGINT) AS c_ab,
        |  CAST(c_a AS BIGINT) AS c_a, CAST(c_b AS BIGINT) AS c_b,
        |  CAST(floor(c_ab * 2000000.0 / (c_a + c_b)) AS BIGINT) AS dice_q6
        |FROM c JOIN l USING (w1) JOIN r USING (w2)
        |WHERE c_ab >= 5
        |ORDER BY dice_q6 DESC, bigram LIMIT 20""".stripMargin,

    "d72_winnow_overlap" ->
      (s"WITH $winnowCte," +
        """fp AS (SELECT DISTINCT doc_id, h FROM sel),
          |ok AS (SELECT h FROM fp GROUP BY h HAVING count(*) BETWEEN 2 AND 16),
          |fo AS (SELECT doc_id, h FROM fp JOIN ok USING (h))
          |SELECT x.doc_id AS a, y.doc_id AS b, CAST(count(*) AS BIGINT) AS shared
          |FROM fo x JOIN fo y ON x.h = y.h AND x.doc_id < y.doc_id
          |GROUP BY x.doc_id, y.doc_id HAVING count(*) >= 2 ORDER BY a, b""".stripMargin),

    "d73_power_iter" ->
      """WITH e AS (SELECT [CAST(x AS DOUBLE) FOR x IN embedding] AS v FROM embeddings),
        |t AS (SELECT v, list_reduce(list_prepend(0.0::DOUBLE, v), (a, b) -> a + b) AS t FROM e),
        |x AS (SELECT t, v, unnest(generate_series(1, len(v))) AS i FROM t),
        |c AS (SELECT CAST(i - 1 AS BIGINT) AS dim, CAST(floor(t * v[i] * 1000000.0) AS BIGINT) AS cq FROM x)
        |SELECT dim, CAST(sum(cq) AS BIGINT) AS v1_q6 FROM c GROUP BY dim ORDER BY dim""".stripMargin,

    // the d55 oracle's IVF assignment extended with a prank<=2 probe CTE:
    // r1 = nprobe=1 top-3 (d10's shape), r2 = nprobe=2 top-3, both scored
    // against the exact top-3 of the full scan over the same probe set
    "d75_ivf_multiprobe" ->
      """WITH e AS (SELECT vec_id, [CAST(x AS DOUBLE) FOR x IN embedding] AS v,
        |    sqrt(list_reduce(list_prepend(0.0::DOUBLE, [CAST(x AS DOUBLE) * CAST(x AS DOUBLE) FOR x IN embedding]), (a, b) -> a + b)) AS nrm
        |  FROM embeddings),
        |cents AS (SELECT vec_id AS cid, v AS cv, nrm AS cn FROM e WHERE vec_id < 4),
        |scoredcells AS (SELECT e.vec_id, e.v, e.nrm, c.cid,
        |    list_reduce(list_prepend(0.0::DOUBLE, [e.v[i] * c.cv[i] FOR i IN generate_series(1, len(e.v))]), (a, b) -> a + b) / (e.nrm * c.cn) AS ccos
        |  FROM e CROSS JOIN cents c),
        |assigned AS (SELECT vec_id, v, nrm, cid AS cell FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS rn FROM scoredcells)
        |  WHERE rn = 1),
        |q AS (SELECT vec_id AS qid, v AS qv, nrm AS qn FROM assigned WHERE vec_id >= 8 AND vec_id < 16),
        |probes AS (SELECT qid, qv, qn, cid AS cell, prank FROM (
        |    SELECT q.qid, q.qv, q.qn, c.cid,
        |      row_number() OVER (PARTITION BY q.qid ORDER BY
        |        list_reduce(list_prepend(0.0::DOUBLE, [q.qv[i] * c.cv[i] FOR i IN generate_series(1, len(q.qv))]), (a, b) -> a + b) / (q.qn * c.cn) DESC, c.cid) AS prank
        |    FROM q CROSS JOIN cents c)
        |  WHERE prank <= 2),
        |scored AS (SELECT p.qid, p.prank, a.vec_id,
        |    list_reduce(list_prepend(0.0::DOUBLE, [p.qv[i] * a.v[i] FOR i IN generate_series(1, len(a.v))]), (x, y) -> x + y) / (p.qn * a.nrm) AS cos
        |  FROM probes p JOIN assigned a USING (cell) WHERE a.vec_id <> p.qid),
        |r1 AS (SELECT qid, vec_id FROM (
        |    SELECT qid, vec_id, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rn
        |    FROM scored WHERE prank = 1) WHERE rn <= 3),
        |r2 AS (SELECT qid, vec_id FROM (
        |    SELECT qid, vec_id, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rn
        |    FROM scored) WHERE rn <= 3),
        |exs AS (SELECT q.qid, a.vec_id,
        |    list_reduce(list_prepend(0.0::DOUBLE, [q.qv[i] * a.v[i] FOR i IN generate_series(1, len(a.v))]), (x, y) -> x + y) / (q.qn * a.nrm) AS cos
        |  FROM q CROSS JOIN assigned a WHERE a.vec_id <> q.qid),
        |exr AS (SELECT qid, vec_id FROM (
        |    SELECT qid, vec_id, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rn FROM exs) WHERE rn <= 3),
        |kk AS (SELECT qid, count(*) AS k FROM exr GROUP BY qid),
        |h1 AS (SELECT x.qid, count(*) AS n FROM exr x JOIN r1 ON x.qid = r1.qid AND x.vec_id = r1.vec_id GROUP BY x.qid),
        |h2 AS (SELECT x.qid, count(*) AS n FROM exr x JOIN r2 ON x.qid = r2.qid AND x.vec_id = r2.vec_id GROUP BY x.qid)
        |SELECT kk.qid, CAST(kk.k AS BIGINT) AS k,
        |  CAST(COALESCE(h1.n, 0) AS BIGINT) AS hits_p1,
        |  CAST(COALESCE(h2.n, 0) AS BIGINT) AS hits_p2
        |FROM kk LEFT JOIN h1 ON kk.qid = h1.qid LEFT JOIN h2 ON kk.qid = h2.qid
        |ORDER BY kk.qid""".stripMargin,

    "d74_vocab_coverage" ->
      """WITH t AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
        |c AS (SELECT w, count(*) AS c FROM t GROUP BY w),
        |r AS (SELECT c, row_number() OVER (ORDER BY c DESC, w) AS rn FROM c),
        |tot AS (SELECT sum(c) AS total FROM c),
        |k AS (SELECT unnest([10, 100, 1000]) AS k)
        |SELECT CAST(k.k AS BIGINT) AS k, CAST(sum(r.c) AS BIGINT) AS covered,
        |  CAST(tot.total AS BIGINT) AS total,
        |  CAST(floor(sum(r.c) * 1000000.0 / tot.total) AS BIGINT) AS frac_q6
        |FROM r JOIN k ON r.rn <= k.k CROSS JOIN tot
        |GROUP BY k.k, tot.total ORDER BY k""".stripMargin
  )
}
