package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.prom.vec_dot

/** Wave 13 — shipping the promised second halves of two stated designs:
  * the SRP-banded 100 TB variant of d126's semantic decontamination
  * (d126's own comment names exact scoring "the recall baseline for that
  * path" — d134 IS that path, with the recall measured against d126's
  * answer), and residual product quantization (Jégou et al., "Product
  * Quantization for Nearest Neighbor Search" §IV: encode the residual to
  * the coarse centroid, not the raw vector) audited head-to-head against
  * d94's raw-vector ADC at the same code budget.
  *
  * Numeric discipline as established: q6 integer quantization before any
  * cross-row arithmetic, fold-ordered doubles only inside per-row scalar
  * expressions, argmax/argmin as min/max-struct rollups with explicit id
  * tiebreaks.
  */
object DataQueries16 extends QueryModule {

  private def d2q(x: Column, c: Column): Column = graft.functions.prom.vec_sqdist_q(x, c)

  val queries: Map[String, Q] = Map[String, Q](
    // SRP-banded semantic decontamination — the 100 TB path d126
    // promises: the corpus-sized train side routes through the d37 SRP
    // bands FIRST, exact cosine is priced only on band-matched
    // (val, train) pairs, and the per-query answer is compared against
    // d126's exact-scan nearest neighbor. `hit` = the banded path found
    // the true NN (its mean over queries is band recall@1); band_nn_id
    // is null when no band matched — the miss case a production run
    // would route to a deeper probe. Scale shape: signatures are one
    // narrow pass per vector; the candidate join is train-buckets x
    // BROADCAST val-buckets (held-out/benchmark side is the bounded one,
    // the d126 discipline); exact scoring is |candidates|, not
    // |train| x |val|; per-query argmax is a max-struct rollup.
    "d134_banded_decon" -> ((s, dir) => {
      val e = embs(s, dir)
        .select(col("vec_id"), toDouble(col("embedding")).as("v"))
        .withColumn("nrm", sqrt(vec_dot(col("v"), col("v"))))
        .withColumn("split",
          when(conv(substring(md5(col("vec_id").cast("string")), 9, 5), 16, 10)
            .cast("long") % 20 === 0, "val").otherwise("train"))
      // d37 signature machinery (16 planes over 64 dims), banded 4 x 4
      // bits: for a genuinely leaked pair (cos >= 0.9, theta <= 26deg)
      // each bit agrees w.p. 1 - theta/pi ~ 0.86, so a 4-bit band
      // matches w.p. ~0.54 and at least one of 4 bands w.p. ~0.95 —
      // while arbitrary-NN recall (measured below: ~9/25 at sf0.01) is
      // the conservative lower bound, since this corpus's true NNs sit
      // near cos 0.4. Candidates here are ~1/23 of the exact cross
      // (2.7k vs 62k pairs at sf0.01); at 100 TB the knob is plane
      // count (wider sigs, narrower buckets), not band arithmetic.
      val sigs = graft.operators.VectorSearch
        .srpSignatures(embs(s, dir), "vec_id", "embedding")
      val buckets = sigs.select(col("id"), explode(array(
        (0 until 4).map(b =>
          xxhash64(lit(b), substring(col("sig"), b * 4 + 1, 4))): _*)).as("bk"))
        .join(e.select(col("vec_id").as("id"), col("split")), "id")
      val valB = buckets.filter(col("split") === "val")
        .select(col("id").as("qid"), col("bk"))
      val cand = buckets.filter(col("split") === "train")
        .select(col("id"), col("bk"))
        .join(broadcast(valB), "bk")
        .select(col("qid"), col("id")).distinct()
      val qv = e.filter(col("split") === "val")
        .select(col("vec_id").as("qid"), col("v").as("qv"), col("nrm").as("qn"))
      val bandNN = cand
        .join(e.filter(col("split") === "train")
          .select(col("vec_id").as("id"), col("v"), col("nrm")), "id")
        .join(broadcast(qv), "qid")
        .select(col("qid"), col("id"),
          floor(vec_dot(col("qv"), col("v")) / (col("qn") * col("nrm")) * lit(1000000.0))
            .cast("long").as("cos_q6"))
        .groupBy(col("qid"))
        .agg(max(struct(col("cos_q6").as("cos_q6"), (-col("id")).as("neg_id"))).as("m"))
        .select(col("qid"), (-col("m.neg_id")).as("band_nn_id"),
          col("m.cos_q6").as("band_cos_q6"))
      // exact baseline — byte-identical to d126's computation
      val exactNN = e.filter(col("split") === "train").crossJoin(broadcast(qv))
        .select(col("qid"), col("vec_id"),
          floor(vec_dot(col("qv"), col("v")) / (col("qn") * col("nrm")) * lit(1000000.0))
            .cast("long").as("cos_q6"))
        .groupBy(col("qid"))
        .agg(max(struct(col("cos_q6").as("cos_q6"), (-col("vec_id")).as("neg_id"))).as("m"))
        .select(col("qid"), (-col("m.neg_id")).as("nn_id"), col("m.cos_q6").as("cos_q6"))
      exactNN.join(bandNN, Seq("qid"), "left")
        .select(col("qid"), col("nn_id"), col("cos_q6"),
          col("band_nn_id"), col("band_cos_q6"),
          coalesce(col("band_nn_id") === col("nn_id"), lit(false)).as("hit"))
        .orderBy("qid")
    }),

    // residual product quantization (Jégou et al. §IV) head-to-head with
    // raw-vector PQ at the SAME code budget: both arms get 16 codewords
    // per subspace, drawn from the SAME 16 anchor vectors (vec_id 16..32
    // — outside both the 4 coarse centroids and the 8 probe queries);
    // the raw arm quantizes x directly, the residual arm coarse-assigns
    // x to its nearest of 4 centroids and quantizes the RESIDUAL
    // x - c(x). The residual arm's reconstruction capacity is 4 cells x
    // codebook vs codebook alone — Jégou's argument for why residual ADC
    // halves error at the same budget; measured here as recall@3
    // (res >= raw at sf0.001 / 0.01 / 0.1: 4>3, 5>2, 2=2). Query-side
    // distance tables: raw 8q x 8m x 16 codes = 1024 rows; residual
    // additionally per cell, 8q x 4 cells x 8m x 16 = 4096 rows — both
    // bounded broadcasts. ADC is priced on |corpus| x 8 code rows in
    // both arms; all distances exact integers on q6 components.
    "d135_residual_pq" -> ((s, dir) => {
      val e = DataQueries10.kmQuant(s, dir)
      val cents = e.filter(col("vec_id") < 4)
        .select(col("vec_id").as("cid"), col("xq").as("cq"))
      def subspaces(df: DataFrame, vec: String): DataFrame = {
        val keep = df.columns.filter(_ != vec).map(col)
        df.select(keep :+ explode(expr(
            s"transform(sequence(0, 7), m -> struct(m AS m, slice($vec, m*8+1, 8) AS sv))")).as("s"): _*)
          .select(keep :+ col("s.m").as("m") :+ col("s.sv").as("sv"): _*)
      }
      // ---- raw arm: d94's shape with the 16-codeword anchor codebook
      val sub0 = subspaces(e, "xq")
      val cb0 = sub0.filter(col("vec_id") >= 16 && col("vec_id") < 32)
        .select(col("vec_id").as("kid"), col("m"), col("sv").as("kv"))
      // (r22 note: persisting this shared sub-distance relation — and the
      // residual arm's rsub / the exact top-3 — was tried and REJECTED on
      // cold measurement: 2.09 → 2.54 s min-of-3-cold. The q13/r21 rule
      // again: these are narrow kernel outputs over a tiny vector table,
      // cheaper to recompute than to columnar-serialize into a cache.)
      val sc0 = sub0.join(broadcast(cb0), Seq("m"))
        .select(col("vec_id"), col("m"), col("kid"), d2q(col("sv"), col("kv")).as("d2"))
      val codes0 = sc0.groupBy(col("vec_id"), col("m"))
        .agg(min(struct(col("d2"), col("kid"))).as("a"))
        .select(col("vec_id"), col("m").as("cm"), col("a.kid").as("code"))
      val dt0 = sc0.filter(col("vec_id") >= 8 && col("vec_id") < 16)
        .select(col("vec_id").as("qid"), col("m"), col("kid"), col("d2").as("dq"))
      val adcRaw = codes0.join(broadcast(dt0),
          col("cm") === col("m") && col("code") === col("kid"))
        .filter(col("vec_id") =!= col("qid"))
        .groupBy(col("qid"), col("vec_id")).agg(sum(col("dq")).as("adc"))
      // ---- residual arm: coarse assign, encode x - c(x)
      val cellOf = e.join(broadcast(cents))
        .select(col("vec_id"), col("cid"), d2q(col("xq"), col("cq")).as("cd2"))
        .groupBy(col("vec_id"))
        .agg(min(struct(col("cd2"), col("cid"))).as("a"))
        .select(col("vec_id"), col("a.cid").as("cell"))
      val res = e.join(cellOf, "vec_id")
        .join(broadcast(cents.select(col("cid").as("cell"), col("cq"))), "cell")
        .select(col("vec_id"), col("cell"),
          zip_with(col("xq"), col("cq"), (x, c) => x - c).as("rq"))
      val rsub = subspaces(res, "rq")
      val rcb = rsub.filter(col("vec_id") >= 16 && col("vec_id") < 32)
        .select(col("vec_id").as("kid"), col("m"), col("sv").as("kv"))
      val rcodes = rsub.join(broadcast(rcb), Seq("m"))
        .select(col("vec_id"), col("cell"), col("m"), col("kid"),
          d2q(col("sv"), col("kv")).as("d2"))
        .groupBy(col("vec_id"), col("cell"), col("m"))
        .agg(min(struct(col("d2"), col("kid"))).as("a"))
        .select(col("vec_id"), col("cell"), col("m").as("cm"), col("a.kid").as("code"))
      val qs = e.filter(col("vec_id") >= 8 && col("vec_id") < 16)
        .select(col("vec_id").as("qid"), col("xq").as("qx"))
      val qres = qs.crossJoin(broadcast(cents.select(col("cid").as("qcell"), col("cq"))))
        .select(col("qid").as("vec_id"), col("qcell"),
          zip_with(col("qx"), col("cq"), (x, c) => x - c).as("qr"))
      val dtr = subspaces(qres, "qr")
        .join(broadcast(rcb), Seq("m"))
        .select(col("vec_id").as("qid"), col("qcell"), col("m"), col("kid"),
          d2q(col("sv"), col("kv")).as("dq"))
      val adcRes = rcodes.join(broadcast(dtr),
          col("cm") === col("m") && col("code") === col("kid") &&
            col("cell") === col("qcell"))
        .filter(col("vec_id") =!= col("qid"))
        .groupBy(col("qid"), col("vec_id")).agg(sum(col("dq")).as("adc"))
      def top3(df: DataFrame, ord: Column): DataFrame = {
        val w = Window.partitionBy(col("qid")).orderBy(ord, col("vec_id"))
        df.withColumn("rk", row_number().over(w)).filter(col("rk") <= 3)
          .select(col("qid"), col("vec_id"))
      }
      // the per-qid hit fragments (≤ 8 rows) broadcast into the final
      // stitches instead of planning 8-row SortMergeJoins
      val etop = top3(DataQueries10.pqExact(s, dir), col("d2"))
      def hits(top: DataFrame, name: String): DataFrame =
        etop.join(top, Seq("qid", "vec_id"), "left_semi")
          .groupBy(col("qid")).agg(count(lit(1)).as(name))
      etop.groupBy(col("qid")).agg(count(lit(1)).as("k"))
        .join(broadcast(hits(top3(adcRaw, col("adc")), "hits_raw")), Seq("qid"), "left")
        .join(broadcast(hits(top3(adcRes, col("adc")), "hits_res")), Seq("qid"), "left")
        .select(col("qid"), col("k"),
          coalesce(col("hits_raw"), lit(0L)).as("hits_raw"),
          coalesce(col("hits_res"), lit(0L)).as("hits_res"))
        .orderBy("qid")
    }),

    // span-level dedup APPLY (Lee et al.'s actual cut — d64 measures the
    // footprint, d122 picks the span length, this REMOVES the spans):
    // every word inside a 5-gram occurring in >= 2 distinct documents is
    // cut and the text rebuilt from what survives, via the public
    // TextDedup.cutDupSpans. Output carries the rebuilt text as md5 +
    // length (the d22 precedent for text-shaped results). Priced on
    // matched spans only — the d64 shape with one extra anti-join +
    // per-doc bounded reassembly.
    "d136_cut_spans" -> ((s, dir) =>
      graft.operators.TextDedup.cutDupSpans(docs(s, dir), "doc_id", "text", 5, 2)
        .select(col("doc_id"), col("n_tok"), col("n_cut"),
          md5(col("text")).as("kept_md5"),
          length(col("text")).cast("long").as("kept_len"))
        .orderBy("doc_id")),

    // BPE ENCODE — the missing apply half of the d76 train loop: the
    // trained 5-merge list (one memoized driver run shared with d76/d80)
    // encodes every document into its post-merge token stream via ONE
    // codegen'd kernel pass (no per-merge corpus scans), tokens map to
    // dense ids through the lexical-rank vocabulary, and the id arrays
    // cross the oracle as md5 of the comma-joined sequence. Closes
    // train -> encode -> pack: d137's n_tok is exactly what
    // SequencePacking bins (composition pinned in Wave7Spec).
    "d137_bpe_ids" -> ((s, dir) => {
      val merges = DataQueries9.bpeRun(s, dir)._1.map(_._2)
      // r22 (guide §5 + §2.4): the encode kernel (5 merge passes per doc)
      // fed TWO consumers (the vocab distinct and the id join) — persist it
      // once; and resolve ids through the driver-collected literal vocab map
      // (vocabulary-sized, the streaming encoder's existing contract) so the
      // id assignment is one narrow transform instead of a token-level
      // posexplode + shuffle join + per-doc collect_list reassembly. The
      // vocabularyMap collect doubles as the persist's materializing action.
      val enc = graft.sources.Caches.ephemeral(
        graft.operators.BpeTokenizer.encode(docs(s, dir), "doc_id", "text", merges))
      val vocab = graft.operators.BpeTokenizer.vocabulary(enc)
      val vmap = graft.operators.BpeTokenizer.vocabularyMap(vocab)
      graft.operators.BpeTokenizer.withTokenIdsLit(enc, "doc_id", vmap)
        .select(col("doc_id"), col("n_tok"),
          md5(concat_ws(",", transform(col("ids"), x => x.cast("string")))).as("ids_md5"))
        .orderBy("doc_id")
    })
  )

  /** Shared integer-d2 fold for the oracle SQL. */
  private def sqlD2(a: String, b: String): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), [($a[i] - $b[i]) * ($a[i] - $b[i]) FOR i IN generate_series(1, len($a))]), (acc, el) -> acc + el)"

  /** d137's oracle: the d76 unrolled training CTEs (same merges), then the
    * per-document encode chain — one list_reduce merge pass per round over
    * the (doc, word) stream, identical fold order to the kernel — vocab by
    * lexical rank, ids in (word, symbol) document order.
    */
  private def bpeIdsOracle: String = {
    val rounds = (1 to DataQueries9.BpeRounds).map { r =>
      s"""e$r AS (SELECT doc_id, wpos, list_reduce([[x] FOR x IN syms],
         |    (acc, xs) -> CASE WHEN acc[-1] = t.a AND xs[1] = t.b
         |      THEN list_append(acc[1:len(acc)-1], t.a || t.b)
         |      ELSE list_append(acc, xs[1]) END) AS syms
         |  FROM e${r - 1}, t$r t)""".stripMargin
    }
    DataQueries9.bpeCtes + ",\n" +
      """wp AS (SELECT doc_id, w, unnest(generate_series(1, len(w))) AS i
        |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)),
        |e0 AS (SELECT doc_id, i AS wpos,
        |    [substr(w[i], j, 1) FOR j IN generate_series(1, length(w[i]))] AS syms
        |  FROM wp WHERE length(w[i]) >= 1),
        |""".stripMargin +
      rounds.mkString(",\n") + ",\n" +
      s"""sy AS (SELECT doc_id, wpos, unnest(generate_series(1, len(syms))) AS spos, syms
         |  FROM e${DataQueries9.BpeRounds}),
         |sy2 AS (SELECT doc_id, wpos, spos, syms[spos] AS sym FROM sy),
         |vocab AS (SELECT sym, CAST(row_number() OVER (ORDER BY sym) AS BIGINT) AS tid
         |  FROM (SELECT DISTINCT sym FROM sy2)),
         |ids AS (SELECT s.doc_id, s.wpos, s.spos, v.tid FROM sy2 s JOIN vocab v USING (sym))
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok,
         |  md5(string_agg(tid::VARCHAR, ',' ORDER BY wpos, spos)) AS ids_md5
         |FROM ids GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "d134_banded_decon" ->
      (s"WITH ${DataQueries4.srpSigCte},\n" +
        """e AS (SELECT vec_id, [CAST(x AS DOUBLE) FOR x IN embedding] AS v,
          |    sqrt(list_reduce(list_prepend(0.0::DOUBLE, [CAST(x AS DOUBLE) * CAST(x AS DOUBLE) FOR x IN embedding]), (a, b) -> a + b)) AS nrm,
          |    CASE WHEN CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 9, 5)) AS BIGINT) % 20 = 0 THEN 'val' ELSE 'train' END AS split
          |  FROM embeddings),
          |bands AS (SELECT vec_id, b, substr(sig, b*4 + 1, 4) AS bh FROM sig CROSS JOIN (SELECT unnest([0,1,2,3]) AS b)),
          |cand AS (SELECT DISTINCT x.vec_id AS qid, y.vec_id AS id
          |  FROM bands x JOIN e ex ON x.vec_id = ex.vec_id AND ex.split = 'val'
          |  JOIN bands y ON x.b = y.b AND x.bh = y.bh
          |  JOIN e ey ON y.vec_id = ey.vec_id AND ey.split = 'train'),
          |bsc AS (SELECT c.qid, c.id,
          |    CAST(floor(list_reduce(list_prepend(0.0::DOUBLE, [q.v[i] * t.v[i] FOR i IN generate_series(1, len(q.v))]), (a, b) -> a + b) / (q.nrm * t.nrm) * 1000000.0) AS BIGINT) AS cos_q6
          |  FROM cand c JOIN e q ON c.qid = q.vec_id JOIN e t ON c.id = t.vec_id),
          |bnn AS (SELECT qid, id AS band_nn_id, cos_q6 AS band_cos_q6 FROM (
          |    SELECT qid, id, cos_q6, row_number() OVER (PARTITION BY qid ORDER BY cos_q6 DESC, id) AS rn FROM bsc) WHERE rn = 1),
          |esc AS (SELECT q.vec_id AS qid, t.vec_id AS id,
          |    CAST(floor(list_reduce(list_prepend(0.0::DOUBLE, [q.v[i] * t.v[i] FOR i IN generate_series(1, len(q.v))]), (a, b) -> a + b) / (q.nrm * t.nrm) * 1000000.0) AS BIGINT) AS cos_q6
          |  FROM e q JOIN e t ON q.split = 'val' AND t.split = 'train'),
          |enn AS (SELECT qid, id AS nn_id, cos_q6 FROM (
          |    SELECT qid, id, cos_q6, row_number() OVER (PARTITION BY qid ORDER BY cos_q6 DESC, id) AS rn FROM esc) WHERE rn = 1)
          |SELECT enn.qid, enn.nn_id, enn.cos_q6, bnn.band_nn_id, bnn.band_cos_q6,
          |  COALESCE(bnn.band_nn_id = enn.nn_id, FALSE) AS hit
          |FROM enn LEFT JOIN bnn ON enn.qid = bnn.qid ORDER BY enn.qid""".stripMargin),

    "d135_residual_pq" ->
      (s"""WITH e AS (SELECT vec_id, [CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT) FOR x IN embedding] AS xq FROM embeddings),
        |cent AS (SELECT vec_id AS cid, xq AS cq FROM e WHERE vec_id < 4),
        |ca AS (SELECT e.vec_id, c.cid, ${sqlD2("e.xq", "c.cq")} AS cd2 FROM e CROSS JOIN cent c),
        |cell AS (SELECT vec_id, cid AS cell FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cd2, cid) AS rn FROM ca) WHERE rn = 1),
        |res AS (SELECT e.vec_id, cl.cell, [e.xq[i] - c.cq[i] FOR i IN generate_series(1, len(e.xq))] AS rq
        |  FROM e JOIN cell cl USING (vec_id) JOIN cent c ON c.cid = cl.cell),
        |rsub AS (SELECT vec_id, cell, m, rq[m*8+1 : m*8+8] AS sv FROM res, (SELECT unnest(generate_series(0, 7)) AS m)),
        |rcb AS (SELECT vec_id AS kid, m, sv AS kv FROM rsub WHERE vec_id >= 16 AND vec_id < 32),
        |rsc AS (SELECT s.vec_id, s.cell, s.m, k.kid, ${sqlD2("s.sv", "k.kv")} AS d2 FROM rsub s JOIN rcb k USING (m)),
        |rcodes AS (SELECT vec_id, cell, m, kid AS code FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id, m ORDER BY d2, kid) AS rn FROM rsc) WHERE rn = 1),
        |q AS (SELECT vec_id AS qid, xq AS qx FROM e WHERE vec_id >= 8 AND vec_id < 16),
        |qres AS (SELECT q.qid, c.cid AS qcell, [q.qx[i] - c.cq[i] FOR i IN generate_series(1, len(q.qx))] AS qr FROM q CROSS JOIN cent c),
        |qsub AS (SELECT qid, qcell, m, qr[m*8+1 : m*8+8] AS qv FROM qres, (SELECT unnest(generate_series(0, 7)) AS m)),
        |dt AS (SELECT s.qid, s.qcell, s.m, k.kid, ${sqlD2("s.qv", "k.kv")} AS dq FROM qsub s JOIN rcb k USING (m)),
        |adcr AS (SELECT d.qid, c.vec_id, CAST(sum(d.dq) AS BIGINT) AS adc
        |  FROM rcodes c JOIN dt d ON d.m = c.m AND d.kid = c.code AND d.qcell = c.cell
        |  WHERE c.vec_id <> d.qid GROUP BY d.qid, c.vec_id),
        |rtop AS (SELECT qid, vec_id FROM (
        |    SELECT *, row_number() OVER (PARTITION BY qid ORDER BY adc, vec_id) AS rn FROM adcr) WHERE rn <= 3),
        |sub0 AS (SELECT vec_id, m, xq[m*8+1 : m*8+8] AS sv FROM e, (SELECT unnest(generate_series(0, 7)) AS m)),
        |cb0 AS (SELECT vec_id AS kid, m, sv AS kv FROM sub0 WHERE vec_id >= 16 AND vec_id < 32),
        |sc0 AS (SELECT s.vec_id, s.m, k.kid, ${sqlD2("s.sv", "k.kv")} AS d2 FROM sub0 s JOIN cb0 k USING (m)),
        |codes0 AS (SELECT vec_id, m, kid AS code FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id, m ORDER BY d2, kid) AS rn FROM sc0) WHERE rn = 1),
        |dt0 AS (SELECT vec_id AS qid, m, kid, d2 AS dq FROM sc0 WHERE vec_id >= 8 AND vec_id < 16),
        |adc0 AS (SELECT d.qid, c.vec_id, CAST(sum(d.dq) AS BIGINT) AS adc
        |  FROM codes0 c JOIN dt0 d ON d.m = c.m AND d.kid = c.code
        |  WHERE c.vec_id <> d.qid GROUP BY d.qid, c.vec_id),
        |atop AS (SELECT qid, vec_id FROM (
        |    SELECT *, row_number() OVER (PARTITION BY qid ORDER BY adc, vec_id) AS rn FROM adc0) WHERE rn <= 3),
        |fx AS (SELECT q.qid, x.vec_id, ${sqlD2("x.xq", "q.qx")} AS d2
        |  FROM e x, q WHERE x.vec_id <> q.qid),
        |etop AS (SELECT qid, vec_id FROM (
        |    SELECT *, row_number() OVER (PARTITION BY qid ORDER BY d2, vec_id) AS rn FROM fx) WHERE rn <= 3),
        |hr AS (SELECT e1.qid, CAST(count(*) AS BIGINT) AS n FROM etop e1 JOIN atop a ON a.qid = e1.qid AND a.vec_id = e1.vec_id GROUP BY e1.qid),
        |hs AS (SELECT e1.qid, CAST(count(*) AS BIGINT) AS n FROM etop e1 JOIN rtop r ON r.qid = e1.qid AND r.vec_id = e1.vec_id GROUP BY e1.qid),
        |ks AS (SELECT qid, CAST(count(*) AS BIGINT) AS k FROM etop GROUP BY qid)
        |SELECT ks.qid, ks.k, CAST(COALESCE(hr.n, 0) AS BIGINT) AS hits_raw,
        |  CAST(COALESCE(hs.n, 0) AS BIGINT) AS hits_res
        |FROM ks LEFT JOIN hr USING (qid) LEFT JOIN hs USING (qid)
        |ORDER BY ks.qid""".stripMargin),

    "d136_cut_spans" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |ix AS (SELECT doc_id, w, unnest(generate_series(1, len(w) - 4)) AS i FROM d WHERE len(w) >= 5),
        |shg AS (SELECT doc_id, i, w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4] AS g FROM ix),
        |df AS (SELECT g FROM (SELECT DISTINCT doc_id, g FROM shg) GROUP BY g HAVING count(*) >= 2),
        |hit AS (SELECT DISTINCT doc_id, p FROM (
        |    SELECT shg.doc_id, unnest(generate_series(shg.i, shg.i + 4)) AS p FROM shg JOIN df USING (g))),
        |wt AS (SELECT doc_id, p, w[p] AS wd FROM (
        |    SELECT doc_id, w, unnest(generate_series(1, len(w))) AS p FROM d)),
        |kept AS (SELECT wt.doc_id, string_agg(wt.wd, ' ' ORDER BY wt.p) AS kt,
        |    CAST(count(*) AS BIGINT) AS n_kept
        |  FROM wt LEFT JOIN hit ON wt.doc_id = hit.doc_id AND wt.p = hit.p
        |  WHERE hit.p IS NULL GROUP BY wt.doc_id)
        |SELECT d.doc_id, CAST(len(d.w) AS BIGINT) AS n_tok,
        |  CAST(len(d.w) - COALESCE(kept.n_kept, 0) AS BIGINT) AS n_cut,
        |  md5(COALESCE(kept.kt, '')) AS kept_md5,
        |  CAST(length(COALESCE(kept.kt, '')) AS BIGINT) AS kept_len
        |FROM d LEFT JOIN kept USING (doc_id) ORDER BY d.doc_id""".stripMargin,

    "d137_bpe_ids" -> bpeIdsOracle
  )
}
