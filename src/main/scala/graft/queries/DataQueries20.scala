package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Twentieth wave — the r13 verdict's ordered follow-ups: batched BPE merge
  * selection (the production-vocab trainer path), the binned AUC beside
  * d154's exact audit, the tie-averaged Spearman a 100 TB run would
  * publish beside d155's exact ranks, and the REAL image decode through
  * the multimodal codec seam (m08).
  */
object DataQueries20 extends QueryModule {

  private val wordsExpr = "filter(split(text, ' '), x -> length(x) >= 1)"

  /** The d79 hashed-classifier score fold (shared with d140/d154/d155). */
  private def scoreExpr =
    """aggregate(ws, CAST(0 AS BIGINT), (acc, w) -> acc +
      |  ((CAST(conv(substring(md5(w), 1, 15), 16, 10) AS BIGINT) % 64)
      |    * 2654435761 % 1000 - 500))""".stripMargin

  private def scored(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("doc_id"), expr(wordsExpr).as("ws"))
      .select(col("doc_id"), expr(scoreExpr).as("score"))

  /** d28's bigram-familiarity score (shared with d155). */
  private def bigramScore(s: SparkSession, dir: String): DataFrame = {
    val bg = docs(s, dir).select(col("doc_id"),
      explode(graft.functions.prom.ngram_g(col("text"), 2)).as("bg"))
    val counts = bg.groupBy(col("bg")).agg(count(lit(1)).as("n"))
    bg.join(counts, "bg").groupBy(col("doc_id"))
      .agg(expr("CAST(CAST(sum(n) AS DECIMAL(38,0)) * 1000000 DIV count(*) AS BIGINT)").as("sb"))
  }

  val queries: Map[String, Q] = Map[String, Q](
    // batched-selection BPE training (the Sennrich loop with the standard
    // batching trick): per round ONE vocab-bounded pair rollup, ONE
    // 96-row TakeOrdered collect, a driver-side greedy sweep accepting up
    // to 16 symbol-disjoint merges, and sequential rank-order fuse passes
    // (= the d137 applyMerges semantics, so encode(merge list) reproduces
    // the trained state exactly — BpeMergeSpec pins the identity). 8
    // rounds train 80+ merges where the per-merge d76 loop would need 80+
    // corpus rollups — the rounds ≪ merges property that makes a 32k
    // production vocab reachable. Output: (round, sel_rank, pair, cnt),
    // oracle-checked against the fully unrolled greedy in DuckDB.
    "d176_bpe_batch_train" -> ((s, dir) => {
      import s.implicits._
      DataQueries9.bpeBatchRun(s, dir)._1
        .toDF("round", "sel_rank", "pair", "cnt")
        .orderBy("round", "sel_rank")
    }),

    // binned ROC-AUC beside the exact one — the d61/d82/d92 estimate-vs-
    // exact pattern applied to the last unbinned eval: the 100 TB path
    // runs the cumulative window over the FIXED-WIDTH score bands (d140's
    // 2000-wide bins — a table bounded by the score range, not the
    // corpus), treating within-bin pairs as ties; the exact distinct-score
    // pass (d154's audit baseline) prices its error. Both AUCs come from
    // the same (score, nps, nns) rollup — one corpus pass total — and the
    // published bin_err_q6 IS the bound a 100 TB run quotes.
    "d177_auc_binned" -> ((s, dir) => {
      val rules = graft.operators.TextQuality.withQualityRules(docs(s, dir), "text")
        .select(col("doc_id"), col("keep"))
      val byScore = scored(s, dir).join(rules, "doc_id")
        .groupBy(col("score"))
        .agg(sum(when(col("keep"), 1L).otherwise(0L)).as("nps"),
          sum(when(col("keep"), 0L).otherwise(1L)).as("nns"))
        .transform(graft.sources.Caches.ephemeral)
      // exact side: banded below-count (the distinct-score table grows
      // with the corpus — ScaleWindows keeps its cumulation two-level)
      val nnBelow = graft.operators.ScaleWindows
        .bandedBelow(byScore.select(col("score"), col("nns")), "score", "nns", 2000L)
        .withColumnRenamed("below", "nn_below")
      val exact = byScore.join(nnBelow, "score")
        .agg(sum(col("nps")).as("np"), sum(col("nns")).as("nn"),
          sum(col("nps") * (lit(2) * col("nn_below") + col("nns"))).as("u2x"))
      val byBin = byScore
        .withColumn("bin", expr("(score - pmod(score, 2000)) DIV 2000"))
        .groupBy(col("bin"))
        .agg(sum(col("nps")).as("bps"), sum(col("nns")).as("bns"))
      val wb = Window.orderBy(col("bin")).rowsBetween(Window.unboundedPreceding, -1)
      val binned = byBin
        .withColumn("bb", coalesce(sum(col("bns")).over(wb), lit(0L)))
        .agg(count(lit(1)).as("n_bins"),
          sum(col("bps") * (lit(2) * col("bb") + col("bns"))).as("u2b"))
      exact.crossJoin(binned)
        .select(col("np"), col("nn"), col("n_bins"),
          expr("CAST(CAST(u2x AS DECIMAL(38,0)) * 1000000 DIV (2 * CAST(np AS DECIMAL(38,0)) * nn) AS BIGINT)")
            .as("auc_q6"),
          expr("CAST(CAST(u2b AS DECIMAL(38,0)) * 1000000 DIV (2 * CAST(np AS DECIMAL(38,0)) * nn) AS BIGINT)")
            .as("auc_bin_q6"))
        .withColumn("bin_err_q6", col("auc_q6") - col("auc_bin_q6"))
    }),

    // tie-averaged Spearman over the bounded score histograms — the twin
    // d155's verdict asked for: midranks come from the distinct-score
    // tables (doubled so they stay integers: mr2 = 2·below + cnt + 1),
    // per-doc assignment is a broadcast histogram join (no sort anywhere,
    // not even a partitioned one), and ρ is the Pearson-on-midranks
    // formula with exact DECIMAL numerators — the standard tie-corrected
    // estimator a 100 TB run publishes (per-row exact ranks are d155's
    // audit). Doubling cancels: ρ is affine-invariant. The only corpus
    // passes are the two score folds and the Σ mr2a·mr2b rollup.
    "d178_spearman_tied" -> ((s, dir) => {
      val a = scored(s, dir).withColumnRenamed("score", "sa")
      val j = graft.sources.Caches.ephemeral(a.join(bigramScore(s, dir), "doc_id"))
      // midranks from banded below-counts (ScaleWindows: the distinct-sb
      // table is near-corpus-sized, so no single-partition cumulation).
      // sb's RANGE also tracks the corpus (it scales with the largest
      // bigram frequency), so its band table is banded again — levels=2
      // keeps every globally-cumulated or force-broadcast table bounded
      // by Long-domain arithmetic, not by the data.
      def hist(score: String, bandWidth: Long, levels: Int): DataFrame = {
        val cnts = j.groupBy(col(score)).agg(count(lit(1)).as("cnt"))
        cnts.join(graft.operators.ScaleWindows
            .bandedBelow(cnts, score, "cnt", bandWidth, levels), score)
          .withColumn("mr2", lit(2) * col("below") + col("cnt") + 1)
      }
      val ha = hist("sa", 2000L, 1).transform(graft.sources.Caches.ephemeral)
      val hb = hist("sb", 10000000L, 2).transform(graft.sources.Caches.ephemeral)
      val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
      // histogram joins are PLAIN equi-joins: the sb histogram is
      // near-corpus-sized (scores are near-unique), so forcing a broadcast
      // here would ship an unbounded table to every executor — exactly the
      // class of hint this repo bans; AQE picks the strategy per actual size
      val perDoc = j
        .join(ha.select(col("sa"), col("mr2").as("mr2a")), "sa")
        .join(hb.select(col("sb"), col("mr2").as("mr2b")), "sb")
      val cross = perDoc.agg(count(lit(1)).as("n"),
        sum(dec(col("mr2a")) * col("mr2b")).as("sab"))
      // tie_mass sums cnt·(cnt−1): a corpus-scale tie group squares the
      // count, so the sum runs in DECIMAL(38,0) like the other corpus²
      // products (DuckDB's sum promotes to HUGEINT — Long-only Spark
      // arithmetic would wrap on Spark alone and diverge the engines)
      val sa = ha.agg(sum(dec(col("cnt")) * col("mr2")).as("s1a"),
        sum(dec(col("cnt")) * col("mr2") * col("mr2")).as("s2a"),
        sum(dec(col("cnt")) * (col("cnt") - 1)).cast("long").as("tie_mass_a"))
      val sb = hb.agg(sum(dec(col("cnt")) * col("mr2")).as("s1b"),
        sum(dec(col("cnt")) * col("mr2") * col("mr2")).as("s2b"),
        sum(dec(col("cnt")) * (col("cnt") - 1)).cast("long").as("tie_mass_b"))
      cross.crossJoin(sa).crossJoin(sb)
        .withColumn("num", dec(col("n")) * col("sab") - col("s1a") * col("s1b"))
        .withColumn("va", dec(col("n")) * col("s2a") - col("s1a") * col("s1a"))
        .withColumn("vb", dec(col("n")) * col("s2b") - col("s1b") * col("s1b"))
        .select(col("n"), col("tie_mass_a"), col("tie_mass_b"),
          floor(col("num").cast("double")
            / (sqrt(col("va").cast("double")) * sqrt(col("vb").cast("double")))
            * lit(1000000.0)).cast("long").as("rho_tied_q6"))
    }),

    // REAL image decode through the multimodal codec seam: deterministic
    // PNGs are synthesized per document (geometry + every pixel a pure
    // function of doc_id), ENCODED with the JDK's javax.imageio PNG
    // writer, then DECODED back with the same real reader to exact
    // integer channel statistics. The oracle recomputes the stats from
    // the generating formula with no image library at all — only a real
    // lossless encode→decode can match it, which is what retires the m05
    // "stub only" caveat (MultimodalSpec pins that the stub↔real swap
    // touches no plan code).
    "m08_image_decode" -> ((s, dir) =>
      graft.operators.Multimodal.imageStats(
        graft.operators.Multimodal.pngImagesFromDocuments(docs(s, dir)))
        .toDF()
        .orderBy("doc_id")),

    // REAL audio decode — the m08 pattern on the audio seam: 16-bit mono
    // PCM WAVs synthesized per document (every sample a pure function of
    // doc_id, hand-built RIFF header), parsed and decoded by the JDK's
    // javax.sound.sampled, reduced to exact integer sample statistics the
    // formula oracle recomputes with no audio library. With m08 this
    // retires the "multimodal codec is a stub" caveat for both image and
    // audio: the stub remains only where the container genuinely has no
    // codec (video).
    "m09_audio_decode" -> ((s, dir) =>
      graft.operators.Multimodal.audioStats(
        graft.operators.Multimodal.wavFromDocuments(docs(s, dir)))
        .toDF()
        .orderBy("doc_id")),

    // REAL multi-frame VIDEO decode + frame sampling — the last codec
    // stub retired: deterministic ANIMATED GIFs per document (frame
    // count, geometry, and every grayscale pixel a pure function of
    // doc_id; GIF's 256-entry palette makes the encoding lossless),
    // written as a real image sequence and decoded frame-by-frame by
    // javax.imageio's GIF reader. Every 2nd frame is sampled (m02's
    // flatMap shape on a real container) to exact integer gray stats the
    // oracle recomputes from the generating formula — only a real
    // sequence encode→decode can match frame counts AND per-frame pixels.
    "m10_video_decode" -> ((s, dir) =>
      graft.operators.Multimodal.videoFrameStats(
        graft.operators.Multimodal.gifVideosFromDocuments(docs(s, dir)), step = 2)
        .toDF()
        .orderBy("doc_id", "frame_idx")),

    // SentencePiece-style phrase merging — the apply_merges_words kernel
    // (words as starting symbols, merged symbols plain concatenations) as
    // an oracle-checked query: a fixed trained-order merge list is applied
    // per document in ONE codegen'd kernel pass (compiled once per thread,
    // not per row — BpeScaleSpec runs the same kernel at 1k+ merges), and
    // the DuckDB oracle replays the same greedy left-to-right fuse passes
    // as nested list_reduce folds (d176's fold-order discipline). The list
    // includes a CHAINED merge ("thedata big" fires only after "the data"
    // fused) and a self-pair ("value value") — the adversarial fold cases.
    "d179_phrase_merge" -> ((s, dir) => {
      val merges = array(Seq("the data", "big data", "thedata big",
        "query join", "join scan", "value value").map(lit): _*)
      docs(s, dir)
        .select(col("doc_id"),
          graft.functions.prom.apply_merges_words(col("text"), merges).as("toks"))
        .select(col("doc_id"), size(col("toks")).cast("long").as("n_sym"),
          md5(concat_ws(" ", col("toks"))).as("h"))
        .orderBy("doc_id")
    })
  )

  /** d176's oracle: the greedy batched trainer fully unrolled — per round
    * the pair rollup, the 96-row ranked window (QUALIFY), the greedy
    * symbol-disjoint sweep as a list_reduce over [a,b] pairs whose state
    * is the FLAT selected-symbol list (append-only lambda: DuckDB 1.0's
    * list_reduce corrupts the accumulator when a branch returns it
    * untouched, so the skip branch appends an empty list instead), and
    * the sequential rank-order fuse passes as a nested list_reduce.
    */
  private def bpeBatchOracle: String = {
    val K = DataQueries9.BatchK
    val M = DataQueries9.BatchM
    val R = DataQueries9.BatchRounds
    val rounds = (1 to R).map { r =>
      s"""p$r AS (SELECT syms[i] AS a, syms[i+1] AS b, sum(wc) AS cnt
         |  FROM (SELECT syms, wc, unnest(generate_series(1, len(syms) - 1)) AS i
         |        FROM w${r - 1} WHERE len(syms) >= 2)
         |  GROUP BY 1, 2),
         |k$r AS (SELECT a, b, CAST(cnt AS BIGINT) AS cnt, row_number() OVER (ORDER BY cnt DESC, a, b) AS rk
         |  FROM p$r QUALIFY rk <= $K),
         |l$r AS (SELECT list_reduce([[la[i], lb[i]] FOR i IN generate_series(1, len(la))],
         |    (st, c) -> st || CASE WHEN len(st) < ${2 * M}
         |        AND NOT list_contains(st, c[1]) AND NOT list_contains(st, c[2])
         |      THEN c ELSE [] END) AS st
         |  FROM (SELECT list(a ORDER BY rk) AS la, list(b ORDER BY rk) AS lb FROM k$r)),
         |s$r AS (SELECT [st[2 * i - 1] || ' ' || st[2 * i] FOR i IN generate_series(1, len(st) // 2)] AS sel FROM l$r),
         |w$r AS (SELECT list_reduce(list_prepend(syms, [string_split(m, ' ') FOR m IN s.sel]),
         |    (st, m) -> list_reduce([[x] FOR x IN st],
         |      (acc, xs) -> CASE WHEN acc[-1] = m[1] AND xs[1] = m[2]
         |        THEN list_append(acc[1:len(acc)-1], m[1] || m[2])
         |        ELSE list_append(acc, xs[1]) END)) AS syms, wc
         |  FROM w${r - 1}, s$r s),
         |o$r AS (SELECT CAST($r AS BIGINT) AS round, CAST(u.i AS BIGINT) AS sel_rank, u.sel[u.i] AS pair, k.cnt
         |  FROM (SELECT sel, unnest(generate_series(1, len(sel))) AS i FROM s$r) u
         |  JOIN k$r k ON k.a = split_part(u.sel[u.i], ' ', 1) AND k.b = split_part(u.sel[u.i], ' ', 2))""".stripMargin
    }
    """WITH w0 AS (SELECT [substr(w, i, 1) FOR i IN generate_series(1, length(w))] AS syms,
      |         CAST(count(*) AS BIGINT) AS wc
      |       FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
      |       WHERE length(w) >= 1 GROUP BY w),
      |""".stripMargin +
      rounds.mkString(",\n") + "\n" +
      (1 to R).map(r => s"SELECT * FROM o$r").mkString("\nUNION ALL ") +
      "\nORDER BY round, sel_rank"
  }

  val oracles: Map[String, String] = Map(
    "d176_bpe_batch_train" -> bpeBatchOracle,

    "d177_auc_binned" ->
      """WITH sc AS (SELECT doc_id,
        |    CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      [ (CAST(('0x' || substr(md5(x), 1, 15)) AS BIGINT) % 64) * 2654435761 % 1000 - 500
        |        FOR x IN list_filter(string_split(text, ' '), x -> length(x) >= 1) ]),
        |      (acc, v) -> acc + v) AS BIGINT) AS score
        |  FROM documents),
        |w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |b AS (SELECT doc_id, len(w) AS n_words,
        |  list_reduce(list_prepend(0, [length(x) FOR x IN w]), (acc, el) -> acc + el) AS sum_wlen,
        |  len(list_intersect(list_distinct(w), ['the','a','of','and','to'])) AS stop_hits
        |FROM w),
        |rk AS (SELECT doc_id, (n_words >= 50 AND n_words <= 100000
        |    AND 3 * n_words <= sum_wlen AND sum_wlen <= 10 * n_words
        |    AND stop_hits >= 2) AS keep FROM b),
        |bys AS (SELECT score, CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS nps,
        |    CAST(sum(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT) AS nns
        |  FROM sc JOIN rk USING (doc_id) GROUP BY score),
        |cx AS (SELECT *, COALESCE(sum(nns) OVER (ORDER BY score ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS nn_below FROM bys),
        |ex AS (SELECT CAST(sum(nps) AS BIGINT) AS np, CAST(sum(nns) AS BIGINT) AS nn,
        |    CAST(sum(nps * (2 * nn_below + nns)) AS BIGINT) AS u2x FROM cx),
        |byb AS (SELECT (score - (score % 2000 + 2000) % 2000) // 2000 AS bin,
        |    CAST(sum(nps) AS BIGINT) AS bps, CAST(sum(nns) AS BIGINT) AS bns FROM bys GROUP BY 1),
        |cb AS (SELECT *, COALESCE(sum(bns) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bb FROM byb),
        |bi AS (SELECT CAST(count(*) AS BIGINT) AS n_bins,
        |    CAST(sum(bps * (2 * bb + bns)) AS BIGINT) AS u2b FROM cb)
        |SELECT np, nn, n_bins,
        |  CAST(CAST(u2x AS HUGEINT) * 1000000 // (2 * CAST(np AS HUGEINT) * nn) AS BIGINT) AS auc_q6,
        |  CAST(CAST(u2b AS HUGEINT) * 1000000 // (2 * CAST(np AS HUGEINT) * nn) AS BIGINT) AS auc_bin_q6,
        |  CAST(CAST(u2x AS HUGEINT) * 1000000 // (2 * CAST(np AS HUGEINT) * nn)
        |    - CAST(u2b AS HUGEINT) * 1000000 // (2 * CAST(np AS HUGEINT) * nn) AS BIGINT) AS bin_err_q6
        |FROM ex CROSS JOIN bi""".stripMargin,

    "d178_spearman_tied" ->
      """WITH sa AS (SELECT doc_id,
        |    CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      [ (CAST(('0x' || substr(md5(x), 1, 15)) AS BIGINT) % 64) * 2654435761 % 1000 - 500
        |        FOR x IN list_filter(string_split(text, ' '), x -> length(x) >= 1) ]),
        |      (acc, v) -> acc + v) AS BIGINT) AS sa
        |  FROM documents),
        |w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents WHERE len(string_split(text, ' ')) >= 2),
        |bg AS (SELECT doc_id, unnest([w[i] || ' ' || w[i+1] FOR i IN generate_series(1, len(w) - 1)]) AS bg FROM w),
        |c AS (SELECT bg, CAST(count(*) AS BIGINT) AS n FROM bg GROUP BY bg),
        |sb AS (SELECT doc_id, CAST(CAST(sum(n) AS HUGEINT) * 1000000 // count(*) AS BIGINT) AS sb
        |  FROM bg JOIN c USING (bg) GROUP BY doc_id),
        |j AS (SELECT sa.doc_id, sa.sa, sb.sb FROM sa JOIN sb USING (doc_id)),
        |ha AS (SELECT sa, count(*) AS cnt,
        |    COALESCE(sum(count(*)) OVER (ORDER BY sa ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below
        |  FROM j GROUP BY sa),
        |ha2 AS (SELECT sa, cnt, 2 * below + cnt + 1 AS mr2 FROM ha),
        |hb AS (SELECT sb, count(*) AS cnt,
        |    COALESCE(sum(count(*)) OVER (ORDER BY sb ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below
        |  FROM j GROUP BY sb),
        |hb2 AS (SELECT sb, cnt, 2 * below + cnt + 1 AS mr2 FROM hb),
        |pd AS (SELECT j.doc_id, ha2.mr2 AS mr2a, hb2.mr2 AS mr2b
        |  FROM j JOIN ha2 USING (sa) JOIN hb2 USING (sb)),
        |cr AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    sum(CAST(mr2a AS HUGEINT) * mr2b) AS sab FROM pd),
        |ta AS (SELECT sum(CAST(cnt AS HUGEINT) * mr2) AS s1a,
        |    sum(CAST(cnt AS HUGEINT) * mr2 * mr2) AS s2a,
        |    CAST(sum(cnt * (cnt - 1)) AS BIGINT) AS tie_mass_a FROM ha2),
        |tb AS (SELECT sum(CAST(cnt AS HUGEINT) * mr2) AS s1b,
        |    sum(CAST(cnt AS HUGEINT) * mr2 * mr2) AS s2b,
        |    CAST(sum(cnt * (cnt - 1)) AS BIGINT) AS tie_mass_b FROM hb2),
        |fin AS (SELECT n, tie_mass_a, tie_mass_b,
        |    CAST(n AS HUGEINT) * sab - s1a * s1b AS num,
        |    CAST(n AS HUGEINT) * s2a - s1a * s1a AS va,
        |    CAST(n AS HUGEINT) * s2b - s1b * s1b AS vb
        |  FROM cr CROSS JOIN ta CROSS JOIN tb)
        |SELECT n, tie_mass_a, tie_mass_b,
        |  CAST(floor(CAST(num AS DOUBLE)
        |    / (sqrt(CAST(va AS DOUBLE)) * sqrt(CAST(vb AS DOUBLE))) * 1000000.0) AS BIGINT) AS rho_tied_q6
        |FROM fin""".stripMargin,

    "m09_audio_decode" ->
      """WITH g AS (SELECT doc_id, 64 + doc_id % 64 AS n FROM documents),
        |sm AS (SELECT doc_id, n, (31 * doc_id + 17 * i) % 65536 - 32768 AS s
        |  FROM (SELECT doc_id, n, unnest(generate_series(0, n - 1)) AS i FROM g))
        |SELECT doc_id, CAST(max(n) AS BIGINT) AS n_samples,
        |  CAST(8000 AS BIGINT) AS sample_rate,
        |  CAST(sum(abs(s)) AS BIGINT) AS sum_abs, CAST(max(abs(s)) AS BIGINT) AS max_abs,
        |  CAST(sum(s * s) AS BIGINT) AS energy
        |FROM sm GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "d179_phrase_merge" ->
      """WITH base AS (SELECT doc_id,
        |    list_filter(string_split(text, ' '), x -> length(x) >= 1) AS syms
        |  FROM documents),
        |r AS (SELECT doc_id, list_reduce(list_prepend(syms,
        |    [['the','data'], ['big','data'], ['thedata','big'],
        |     ['query','join'], ['join','scan'], ['value','value']]),
        |    (st, m) -> CASE WHEN len(st) = 0 THEN st
        |      ELSE list_reduce([[x] FOR x IN st],
        |      (acc, xs) -> CASE WHEN acc[-1] = m[1] AND xs[1] = m[2]
        |        THEN list_append(acc[1:len(acc)-1], m[1] || m[2])
        |        ELSE list_append(acc, xs[1]) END) END) AS toks
        |  FROM base)
        |SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_sym,
        |  md5(array_to_string(toks, ' ')) AS h
        |FROM r ORDER BY doc_id""".stripMargin,

    "m10_video_decode" ->
      """WITH g AS (SELECT doc_id, 8 + doc_id % 5 AS w, 8 + (doc_id * 3) % 5 AS h,
        |    2 + doc_id % 4 AS nf FROM documents),
        |fr AS (SELECT doc_id, w, h, nf, unnest(generate_series(0, nf - 1, 2)) AS f FROM g),
        |xs AS (SELECT doc_id, w, h, nf, f, unnest(generate_series(0, w - 1)) AS x FROM fr),
        |ys AS (SELECT doc_id, w, h, nf, f, x, unnest(generate_series(0, h - 1)) AS y FROM xs),
        |px AS (SELECT doc_id, f, nf, w, h,
        |    (7 * doc_id + 31 * x + 13 * y + 97 * f) % 256 AS gray FROM ys)
        |SELECT doc_id, CAST(f AS BIGINT) AS frame_idx, CAST(max(nf) AS BIGINT) AS n_frames,
        |  CAST(max(w) AS BIGINT) AS width, CAST(max(h) AS BIGINT) AS height,
        |  CAST(sum(gray) AS BIGINT) AS sum_gray, CAST(max(gray) AS BIGINT) AS max_gray
        |FROM px GROUP BY doc_id, f ORDER BY doc_id, frame_idx""".stripMargin,

    "m08_image_decode" ->
      """WITH g AS (SELECT doc_id, 8 + doc_id % 8 AS w, 8 + (doc_id * 3) % 8 AS h FROM documents),
        |xs AS (SELECT doc_id, w, h, unnest(generate_series(0, w - 1)) AS x FROM g),
        |ys AS (SELECT doc_id, w, h, x, unnest(generate_series(0, h - 1)) AS y FROM xs),
        |px AS (SELECT doc_id, w, h,
        |    (7 * doc_id + 31 * x + 13 * y) % 256 AS r,
        |    (11 * doc_id + 17 * x + 29 * y) % 256 AS gg,
        |    (5 * doc_id + 23 * x + 19 * y) % 256 AS b
        |  FROM ys)
        |SELECT doc_id, CAST(max(w) AS BIGINT) AS width, CAST(max(h) AS BIGINT) AS height,
        |  CAST(max(w) * max(h) AS BIGINT) AS n_px,
        |  CAST(sum(r) AS BIGINT) AS sum_r, CAST(sum(gg) AS BIGINT) AS sum_g,
        |  CAST(sum(b) AS BIGINT) AS sum_b, CAST(max(r + gg + b) AS BIGINT) AS max_lum3
        |FROM px GROUP BY doc_id ORDER BY doc_id""".stripMargin
  )
}
