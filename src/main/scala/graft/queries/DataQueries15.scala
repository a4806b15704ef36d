package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.prom.vec_dot

/** Wave 12 closing set — corpus-composition forensics: embedding-space
  * decontamination (the semantic complement of the d23/d50 n-gram
  * checks), unique-vocabulary attribution per source, tokenizer fertility
  * per language, and the hapax-legomena rate — the reads behind "what
  * does each slice contribute, and what leaks between slices".
  */
object DataQueries15 extends QueryModule {

  val queries: Map[String, Q] = Map[String, Q](
    // embedding-space decontamination: for each held-out (val-split)
    // vector, its nearest train-split neighbor by exact cosine, flagged
    // leaked at cos >= 0.9 — the SEMANTIC contamination check that n-gram
    // overlap (d23/d50) misses: a paraphrased benchmark item shares no
    // 5-grams but sits next to its source in embedding space. The
    // held-out side is the bounded (benchmark-sized) side and is the one
    // broadcast; per-vector argmax is a min-struct rollup, never a
    // window over the corpus. At 100 TB the train side would route
    // through the d37 SRP bands first; exact scoring here doubles as the
    // recall baseline for that path.
    "d126_semantic_decon" -> ((s, dir) => {
      val e = embs(s, dir)
        .select(col("vec_id"), toDouble(col("embedding")).as("v"))
        .withColumn("nrm", sqrt(vec_dot(col("v"), col("v"))))
        .withColumn("split",
          when(conv(substring(md5(col("vec_id").cast("string")), 9, 5), 16, 10)
            .cast("long") % 20 === 0, "val").otherwise("train"))
      val q = e.filter(col("split") === "val")
        .select(col("vec_id").as("qid"), col("v").as("qv"), col("nrm").as("qn"))
      val scored = e.filter(col("split") === "train").crossJoin(broadcast(q))
        .select(col("qid"), col("vec_id"),
          floor(vec_dot(col("qv"), col("v")) / (col("qn") * col("nrm")) * lit(1000000.0))
            .cast("long").as("cos_q6"))
      scored.groupBy(col("qid"))
        .agg(max(struct(col("cos_q6").as("cos_q6"),
          (-col("vec_id")).as("neg_id"))).as("m"))
        .select(col("qid"), (-col("m.neg_id")).as("nn_id"),
          col("m.cos_q6").as("cos_q6"),
          (col("m.cos_q6") >= 900000L).as("leaked"))
        .orderBy("qid")
    }),

    // unique-content attribution: 3-gram types whose EVERY occurrence
    // sits in one source — what that source uniquely contributes (drop it
    // and these types vanish; single WORDS are all cross-source in any
    // real corpus, phrases are the discriminating unit). One gram-level
    // rollup carrying (distinct-source count, doc frequency, the single
    // source when unique); per-source aggregation runs on the unique-gram
    // table; grams cross shuffles as the usual 60-bit longs.
    "d127_unique_vocab" -> ((s, dir) => {
      val g = docs(s, dir).select(col("doc_id"), col("source"),
        explode(graft.functions.prom.shingle_g(col("text"), 3)).as("g"))
      val perGram = g.groupBy(col("g"))
        .agg(countDistinct(col("source")).as("nsrc"),
          count(lit(1)).as("df"), min(col("source")).as("only_src"))
      perGram.filter(col("nsrc") === 1)
        .groupBy(col("only_src").as("source"))
        .agg(count(lit(1)).as("unique_types"),
          sum(col("df")).as("unique_doc_hits"))
        .orderBy("source")
    }),

    // tokenizer fertility per language: BPE-ish subword count over
    // whitespace word count (d07's two token definitions aggregated per
    // lang) — the multilingual-tokenizer budget read (high-fertility
    // languages pay more sequence length per word). Exact integer sums,
    // one DECIMAL-safe ratio on the |langs|-row rollup.
    "d128_fertility" -> ((s, dir) =>
      docs(s, dir).groupBy(col("lang"))
        .agg(sum(size(split(col("text"), " ")).cast("long")).as("ws_tokens"),
          sum(size(regexp_extract_all(col("text"),
            lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0))).cast("long")).as("bpe_tokens"))
        .select(col("lang"), col("ws_tokens"), col("bpe_tokens"),
          expr("CAST((CAST(bpe_tokens AS DECIMAL(38,0)) * 1000000) DIV ws_tokens AS BIGINT)")
            .as("fertility_q6"))
        .orderBy("lang")),

    // duplication locality: near-dup candidate pairs broken down by
    // whether the two docs share a source and/or a language — "is
    // duplication intra-site mirroring or cross-site syndication", the
    // read that decides whether dedup can shard by source (it can only
    // if cross-source pairs are rare). One join of the pair list against
    // the doc attributes on each side, then a 4-row rollup.
    "d131_dup_locality" -> ((s, dir) => {
      val pairs = DataQueries.minhashPairs(s, dir)
      val attrs = docs(s, dir).select(col("doc_id"), col("source"), col("lang"))
      pairs
        .join(attrs.as("x"), col("a") === col("x.doc_id"))
        .join(attrs.as("y"), col("b") === col("y.doc_id"))
        .groupBy((col("x.source") === col("y.source")).as("same_source"),
          (col("x.lang") === col("y.lang")).as("same_lang"))
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy("same_source", "same_lang")
    }),

    // int8-quantization recall audit (the d55 estimate-vs-exact frame for
    // the d27 storage tier): per probe query, the top-3 neighbor overlap
    // between full-precision cosine and cosine on the per-vector-scaled
    // int8 codes — per-vector scales cancel in cosine, so the only
    // error is rounding, and this measures whether 4x-smaller vectors
    // change any serving answer. Both rankings are per-query bounded
    // windows over the broadcast probe set; int8 components are exact
    // small integers in double, so the fold-ordered dot is engine-exact.
    "d133_quant_recall" -> ((s, dir) => {
      val v = transform(col("embedding"), x => x.cast("double"))
      val e = embs(s, dir).select(col("vec_id"), v.as("v"),
          array_max(transform(v, x => abs(x))).as("mx"))
        // cast back to double: vec_dot consumes array<double>, and the
        // int8 codes are exact small integers in double either way
        .withColumn("q8", transform(col("v"),
          x => floor(x * lit(127.0) / greatest(col("mx"), lit(1e-30))).cast("double")))
        .select(col("vec_id"), col("v"), col("q8"))
        .withColumn("nrm", sqrt(vec_dot(col("v"), col("v"))))
        .withColumn("n8", sqrt(vec_dot(col("q8"), col("q8"))))
      val q = e.filter(col("vec_id") >= 8 && col("vec_id") < 16)
        .select(col("vec_id").as("qid"), col("v").as("qv"), col("q8").as("q8q"),
          col("nrm").as("qn"), col("n8").as("qn8"))
      val scored = e.crossJoin(broadcast(q)).filter(col("vec_id") =!= col("qid"))
      def top3(c: Column): DataFrame = {
        val w = Window.partitionBy(col("qid")).orderBy(c.desc, col("vec_id"))
        scored.withColumn("cos", c).withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 3).select(col("qid"), col("vec_id"))
      }
      val exact = top3(vec_dot(col("qv"), col("v")) / (col("qn") * col("nrm")))
      val int8 = top3(vec_dot(col("q8q"), col("q8")) / (col("qn8") * col("n8")))
      exact.join(int8, Seq("qid", "vec_id"), "left_semi")
        .groupBy(col("qid")).agg(count(lit(1)).as("hits"))
        .join(exact.groupBy(col("qid")).agg(count(lit(1)).as("k")), Seq("qid"), "right")
        .select(col("qid"), coalesce(col("hits"), lit(0L)).as("recall3"))
        .orderBy("qid")
    }),

    // label-propagation communities over the near-dup candidate graph —
    // completing the graph trio (d15 connected components = clustering,
    // d93 PageRank = authority, this = communities): 3 synchronous
    // rounds, each node adopting the most frequent label among its
    // neighbors PLUS its own current label (the self-vote variant — a
    // bare 2-node component oscillates forever under pure synchronous
    // LPA; with the self-vote it settles to the min id in one round),
    // ties to the smallest label. Deterministic, so the unrolled DuckDB
    // oracle can vouch for every round. Per round: one shuffle on dst +
    // one (node, label) rollup + one min-struct argmax — the d93 Pregel
    // shape; only graph nodes participate, never the corpus.
    "d130_label_prop" -> ((s, dir) => {
      val pairs = DataQueries.minhashPairs(s, dir)
      val edges = pairs.select(col("a").as("src"), col("b").as("dst"))
        .unionAll(pairs.select(col("b").as("src"), col("a").as("dst")))
        .transform(graft.sources.Caches.ephemeral)
      val nodes = edges.select(col("src").as("node")).distinct()
      var labels = nodes.select(col("node"), col("node").as("lab"))
      for (_ <- 1 to 3) {
        val msgs = edges.join(labels.withColumnRenamed("node", "src"), "src")
          .select(col("dst").as("node"), col("lab"))
          .unionAll(labels)
        labels = msgs.groupBy(col("node"), col("lab"))
          .agg(count(lit(1)).as("c"))
          .groupBy(col("node"))
          .agg(min(struct((-col("c")).as("negc"), col("lab").as("lab"))).as("m"))
          .select(col("node"), col("m.lab").as("lab"))
          // truncate lineage per round (the d15/d156 discipline): the label
          // table is candidate-graph-sized, and without the checkpoint each
          // round's plan embeds all prior rounds' joins for Catalyst to
          // re-optimize (measured ~2.5 s for a 45-node graph at sf0.1)
          .transform(graft.sources.Caches.checkpointed)
      }
      labels.select(col("node").as("doc_id"), col("lab").as("community"))
        .orderBy("doc_id")
    }),

    // hapax legomena rate per language: word types occurring EXACTLY once
    // in the whole corpus, attributed to the language of their single
    // occurrence, over the language's distinct types — the
    // vocabulary-tail read behind min-frequency cutoffs (a hapax-heavy
    // slice inflates vocab without training signal). Word rollup carries
    // (total, min lang); the types denominator is a distinct (lang, word)
    // rollup; both bounded by vocabulary size.
    "d129_hapax" -> ((s, dir) => {
      val w = docs(s, dir).select(col("lang"),
        explode(split(col("text"), " ")).as("w"))
      val types = w.select(col("lang"), col("w")).distinct()
        .groupBy(col("lang")).agg(count(lit(1)).as("n_types"))
      val hapax = w.groupBy(col("w"))
        .agg(count(lit(1)).as("total"), min(col("lang")).as("lang"))
        .filter(col("total") === 1)
        .groupBy(col("lang")).agg(count(lit(1)).as("n_hapax"))
      types.join(hapax, Seq("lang"), "left")
        .select(col("lang"), col("n_types"),
          coalesce(col("n_hapax"), lit(0L)).as("n_hapax"),
          expr("CAST((CAST(coalesce(n_hapax, 0) AS DECIMAL(38,0)) * 1000000) DIV n_types AS BIGINT)")
            .as("hapax_q6"))
        .orderBy("lang")
    })
  )

  val oracles: Map[String, String] = Map(
    "d126_semantic_decon" ->
      """WITH e AS (SELECT vec_id, [CAST(x AS DOUBLE) FOR x IN embedding] AS v,
        |    sqrt(list_reduce(list_prepend(0.0::DOUBLE, [CAST(x AS DOUBLE) * CAST(x AS DOUBLE) FOR x IN embedding]), (a, b) -> a + b)) AS nrm,
        |    CASE WHEN CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 9, 5)) AS BIGINT) % 20 = 0
        |      THEN 'val' ELSE 'train' END AS split
        |  FROM embeddings),
        |q AS (SELECT vec_id AS qid, v AS qv, nrm AS qn FROM e WHERE split = 'val'),
        |sc AS (SELECT qid, vec_id,
        |    CAST(floor(list_reduce(list_prepend(0.0::DOUBLE, [qv[i] * v[i] FOR i IN generate_series(1, len(v))]), (a, b) -> a + b) / (qn * nrm) * 1000000.0) AS BIGINT) AS cos_q6
        |  FROM e CROSS JOIN q WHERE split = 'train'),
        |nn AS (SELECT qid, vec_id AS nn_id, cos_q6 FROM
        |        (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos_q6 DESC, vec_id) AS rn FROM sc)
        |      WHERE rn = 1)
        |SELECT qid, nn_id, cos_q6, cos_q6 >= 900000 AS leaked
        |FROM nn ORDER BY qid""".stripMargin,

    "d127_unique_vocab" ->
      """WITH w AS (SELECT doc_id, source, string_split(text, ' ') AS w FROM documents WHERE len(string_split(text, ' ')) >= 3),
        |g AS (SELECT DISTINCT doc_id, source, unnest([w[i]||' '||w[i+1]||' '||w[i+2] FOR i IN generate_series(1, len(w)-2)]) AS g FROM w),
        |pg AS (SELECT g, count(DISTINCT source) AS nsrc, count(*) AS df, min(source) AS only_src
        |       FROM g GROUP BY g)
        |SELECT only_src AS source, CAST(count(*) AS BIGINT) AS unique_types,
        |  CAST(sum(df) AS BIGINT) AS unique_doc_hits
        |FROM pg WHERE nsrc = 1 GROUP BY only_src ORDER BY source""".stripMargin,

    "d131_dup_locality" ->
      (s"WITH ${DataQueries.minhashPairsCte}\n" +
        """SELECT x.source = y.source AS same_source, x.lang = y.lang AS same_lang,
          |  CAST(count(*) AS BIGINT) AS n_pairs
          |FROM pairs p JOIN documents x ON p.a = x.doc_id JOIN documents y ON p.b = y.doc_id
          |GROUP BY same_source, same_lang ORDER BY same_source, same_lang""".stripMargin),

    "d133_quant_recall" ->
      """WITH e0 AS (SELECT vec_id, [CAST(x AS DOUBLE) FOR x IN embedding] AS v FROM embeddings),
        |e AS (SELECT vec_id, v,
        |    [floor(x * 127.0 / greatest(list_max([abs(y) FOR y IN v]), 1e-30)) FOR x IN v] AS q8
        |  FROM e0),
        |n AS (SELECT vec_id, v, q8,
        |    sqrt(list_reduce(list_prepend(0.0::DOUBLE, [x * x FOR x IN v]), (a, b) -> a + b)) AS nrm,
        |    sqrt(list_reduce(list_prepend(0.0::DOUBLE, [x * x FOR x IN q8]), (a, b) -> a + b)) AS n8
        |  FROM e),
        |q AS (SELECT vec_id AS qid, v AS qv, q8 AS q8q, nrm AS qn, n8 AS qn8 FROM n
        |      WHERE vec_id >= 8 AND vec_id < 16),
        |sc AS (SELECT qid, vec_id,
        |    list_reduce(list_prepend(0.0::DOUBLE, [qv[i] * v[i] FOR i IN generate_series(1, len(v))]), (a, b) -> a + b) / (qn * nrm) AS ce,
        |    list_reduce(list_prepend(0.0::DOUBLE, [q8q[i] * q8[i] FOR i IN generate_series(1, len(q8))]), (a, b) -> a + b) / (qn8 * n8) AS c8
        |  FROM n CROSS JOIN q WHERE vec_id <> qid),
        |te AS (SELECT qid, vec_id FROM
        |        (SELECT qid, vec_id, row_number() OVER (PARTITION BY qid ORDER BY ce DESC, vec_id) AS rn FROM sc)
        |      WHERE rn <= 3),
        |t8 AS (SELECT qid, vec_id FROM
        |        (SELECT qid, vec_id, row_number() OVER (PARTITION BY qid ORDER BY c8 DESC, vec_id) AS rn FROM sc)
        |      WHERE rn <= 3)
        |SELECT te.qid, CAST(count(t8.vec_id) AS BIGINT) AS recall3
        |FROM te LEFT JOIN t8 ON te.qid = t8.qid AND te.vec_id = t8.vec_id
        |GROUP BY te.qid ORDER BY te.qid""".stripMargin,

    "d130_label_prop" ->
      (s"WITH ${DataQueries.minhashPairsCte},\n" +
        """edges AS (SELECT a AS src, b AS dst FROM pairs UNION ALL SELECT b AS src, a AS dst FROM pairs),
          |l0 AS (SELECT DISTINCT src AS node, src AS lab FROM edges),
          |m1 AS (SELECT e.dst AS node, l.lab FROM edges e JOIN l0 l ON l.node = e.src UNION ALL SELECT node, lab FROM l0),
          |c1 AS (SELECT node, lab, count(*) AS c FROM m1 GROUP BY node, lab),
          |l1 AS (SELECT node, lab FROM (SELECT *, row_number() OVER (PARTITION BY node ORDER BY c DESC, lab) AS rn FROM c1) WHERE rn = 1),
          |m2 AS (SELECT e.dst AS node, l.lab FROM edges e JOIN l1 l ON l.node = e.src UNION ALL SELECT node, lab FROM l1),
          |c2 AS (SELECT node, lab, count(*) AS c FROM m2 GROUP BY node, lab),
          |l2 AS (SELECT node, lab FROM (SELECT *, row_number() OVER (PARTITION BY node ORDER BY c DESC, lab) AS rn FROM c2) WHERE rn = 1),
          |m3 AS (SELECT e.dst AS node, l.lab FROM edges e JOIN l2 l ON l.node = e.src UNION ALL SELECT node, lab FROM l2),
          |c3 AS (SELECT node, lab, count(*) AS c FROM m3 GROUP BY node, lab),
          |l3 AS (SELECT node, lab FROM (SELECT *, row_number() OVER (PARTITION BY node ORDER BY c DESC, lab) AS rn FROM c3) WHERE rn = 1)
          |SELECT node AS doc_id, lab AS community FROM l3 ORDER BY doc_id""".stripMargin),

    "d128_fertility" ->
      """WITH b AS (SELECT lang, CAST(len(string_split(text, ' ')) AS BIGINT) AS ws,
        |  CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS bpe
        |FROM documents)
        |SELECT lang, CAST(sum(ws) AS BIGINT) AS ws_tokens, CAST(sum(bpe) AS BIGINT) AS bpe_tokens,
        |  CAST((CAST(sum(bpe) AS HUGEINT) * 1000000) // sum(ws) AS BIGINT) AS fertility_q6
        |FROM b GROUP BY lang ORDER BY lang""".stripMargin,

    "d129_hapax" ->
      """WITH w AS (SELECT lang, unnest(string_split(text, ' ')) AS w FROM documents),
        |types AS (SELECT lang, count(*) AS n_types FROM (SELECT DISTINCT lang, w FROM w) GROUP BY lang),
        |hx AS (SELECT min(lang) AS lang, count(*) AS c FROM w GROUP BY w HAVING count(*) = 1),
        |h AS (SELECT lang, count(*) AS n_hapax FROM hx GROUP BY lang)
        |SELECT types.lang, CAST(types.n_types AS BIGINT) AS n_types,
        |  CAST(coalesce(h.n_hapax, 0) AS BIGINT) AS n_hapax,
        |  CAST((CAST(coalesce(h.n_hapax, 0) AS HUGEINT) * 1000000) // types.n_types AS BIGINT) AS hapax_q6
        |FROM types LEFT JOIN h ON types.lang = h.lang ORDER BY types.lang""".stripMargin
  )
}
