package graft.queries

import org.apache.spark.sql.functions._

/** Wave 12 coda — three small closing audits: chunk-level dedup savings
  * (the RAG-index read over the d45 chunker), the language-ID confusion
  * matrix (the classifier-audit read over d05's predictions), and
  * type-level val-set bigram coverage (the distinct-coverage complement
  * of d117's token-level familiarity).
  */
object DataQueries13 extends QueryModule {

  val queries: Map[String, Q] = Map[String, Q](
    // chunk-level dedup savings: d45's fixed-window chunks hashed, the
    // corpus-level duplicate-chunk mass and the docs carrying at least one
    // cross-duplicated chunk — what a RAG/embedding index saves by
    // deduplicating at CHUNK granularity (document dedup misses shared
    // chunks inside distinct docs). One chunk pass persisted; the df
    // rollup shuffles 16-byte hashes; the savings fraction divides
    // through DECIMAL (overflow-safe at any corpus size).
    "d119_chunk_dedup" -> ((s, dir) => {
      val ch = graft.operators.TextChunking
        .chunkFixed(docs(s, dir), "doc_id", "text", 200, 150)
        .select(col("doc_id"), md5(col("chunk")).as("h"))
        .transform(graft.sources.Caches.ephemeral)
      val df = ch.groupBy(col("h")).agg(count(lit(1)).as("k"))
      val tot = df.agg(sum(col("k")).as("total_chunks"),
        count(lit(1)).as("n_distinct"),
        sum(col("k") - 1).as("n_dup"))
      val docsShared = ch.join(df.filter(col("k") >= 2), "h")
        .agg(countDistinct(col("doc_id")).as("docs_with_shared"))
      tot.crossJoin(docsShared)
        .select(col("total_chunks"), col("n_distinct"), col("n_dup"),
          col("docs_with_shared"),
          expr("CAST((CAST(n_dup AS DECIMAL(38,0)) * 1000000) DIV total_chunks AS BIGINT)")
            .as("dup_frac_q6"))
    }),

    // language-ID confusion matrix: d05's stopword-argmax predictions
    // against the ground-truth lang label, plus per-cell share of the
    // true-language row — the precision/recall read behind trusting the
    // cheap classifier as a 100 TB routing filter. One narrow map, one
    // |langs|^2-bounded rollup; row totals ride a second bounded rollup.
    "d120_langid_confusion" -> ((s, dir) => {
      val pred = graft.operators.TextQuality.withLangId(docs(s, dir), "text")
        .select(col("lang"), col("pred"))
      val cells = pred.groupBy(col("lang"), col("pred"))
        .agg(count(lit(1)).as("n"))
      val rows = cells.groupBy(col("lang")).agg(sum(col("n")).as("row_n"))
      cells.join(rows, "lang")
        .select(col("lang"), col("pred"), col("n"),
          expr("CAST((CAST(n AS DECIMAL(38,0)) * 1000000) DIV row_n AS BIGINT)")
            .as("share_q6"))
        .orderBy("lang", "pred")
    }),

    // type-level val coverage: the share of DISTINCT val-split bigrams
    // present anywhere in the train split, per language — d117 measures
    // token-level familiarity (how often), this measures type-level
    // coverage (whether at all): the vocabulary-generalization gap. Two
    // distinct-bigram tables from one persisted bigram stream; coverage
    // is an anti-join-free left join + conditional count.
    "d121_val_coverage" -> ((s, dir) => {
      val spl = graft.operators.Sampling
        .withTrainValSplit(docs(s, dir), "doc_id")
      val bg = spl.select(col("lang"), col("split"),
        explode(graft.functions.prom.ngram_g(col("text"), 2)).as("bg"))
        .transform(graft.sources.Caches.ephemeral)
      val train = bg.filter(col("split") === "train").select(col("bg")).distinct()
      val valB = bg.filter(col("split") === "val")
        .select(col("lang"), col("bg")).distinct()
      valB.join(train.withColumn("seen", lit(1L)), Seq("bg"), "left")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_val_types"),
          count(col("seen")).as("n_seen"))
        .select(col("lang"), col("n_val_types"), col("n_seen"),
          expr("CAST((CAST(n_seen AS DECIMAL(38,0)) * 1000000) DIV n_val_types AS BIGINT)")
            .as("coverage_q6"))
        .orderBy("lang")
    })
  )

  val oracles: Map[String, String] = Map(
    "d119_chunk_dedup" ->
      """WITH t AS (SELECT doc_id, text, CAST(greatest(0, length(text) - 51) // 150 + 1 AS BIGINT) AS n FROM documents),
        |ch AS (SELECT doc_id, md5(substr(text, CAST(1 + s.i * 150 AS BIGINT), 200)) AS h
        |       FROM t, unnest(generate_series(0, n - 1)) AS s(i)),
        |df AS (SELECT h, count(*) AS k FROM ch GROUP BY h),
        |tot AS (SELECT sum(k) AS total_chunks, count(*) AS n_distinct, sum(k - 1) AS n_dup FROM df),
        |ds AS (SELECT count(DISTINCT ch.doc_id) AS docs_with_shared
        |       FROM ch JOIN df ON ch.h = df.h WHERE df.k >= 2)
        |SELECT CAST(total_chunks AS BIGINT) AS total_chunks, CAST(n_distinct AS BIGINT) AS n_distinct,
        |  CAST(n_dup AS BIGINT) AS n_dup, CAST(docs_with_shared AS BIGINT) AS docs_with_shared,
        |  CAST((CAST(n_dup AS HUGEINT) * 1000000) // total_chunks AS BIGINT) AS dup_frac_q6
        |FROM tot CROSS JOIN ds""".stripMargin,

    "d120_langid_confusion" ->
      """WITH t AS (SELECT lang, list_distinct(string_split(text, ' ')) AS tok FROM documents),
        |h AS (SELECT lang,
        |  len(list_intersect(tok, ['the','a','of','and','to'])) AS h_en,
        |  len(list_intersect(tok, ['der','die','das','und','ist'])) AS h_de,
        |  len(list_intersect(tok, ['el','la','de','los','y'])) AS h_es,
        |  len(list_intersect(tok, ['le','les','et','des','un'])) AS h_fr
        |FROM t),
        |p AS (SELECT lang,
        |  CASE WHEN h_en >= h_de AND h_en >= h_es AND h_en >= h_fr THEN 'en'
        |       WHEN h_de >= h_es AND h_de >= h_fr THEN 'de'
        |       WHEN h_es >= h_fr THEN 'es' ELSE 'fr' END AS pred
        |FROM h),
        |cells AS (SELECT lang, pred, count(*) AS n FROM p GROUP BY lang, pred),
        |rws AS (SELECT lang, sum(n) AS row_n FROM cells GROUP BY lang)
        |SELECT cells.lang, cells.pred, CAST(cells.n AS BIGINT) AS n,
        |  CAST((CAST(cells.n AS HUGEINT) * 1000000) // rws.row_n AS BIGINT) AS share_q6
        |FROM cells JOIN rws ON cells.lang = rws.lang
        |ORDER BY cells.lang, pred""".stripMargin,

    "d121_val_coverage" ->
      """WITH spl AS (SELECT doc_id, lang, text,
        |    CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 9, 5)) AS BIGINT) % 20 = 0
        |      THEN 'val' ELSE 'train' END AS split
        |  FROM documents),
        |w AS (SELECT lang, split, string_split(text, ' ') AS w FROM spl WHERE len(string_split(text, ' ')) >= 2),
        |bg AS (SELECT lang, split, unnest([w[i] || ' ' || w[i+1] FOR i IN generate_series(1, len(w) - 1)]) AS bg FROM w),
        |train AS (SELECT DISTINCT bg FROM bg WHERE split = 'train'),
        |valb AS (SELECT DISTINCT lang, bg FROM bg WHERE split = 'val')
        |SELECT valb.lang, CAST(count(*) AS BIGINT) AS n_val_types,
        |  CAST(count(train.bg) AS BIGINT) AS n_seen,
        |  CAST((CAST(count(train.bg) AS HUGEINT) * 1000000) // count(*) AS BIGINT) AS coverage_q6
        |FROM valb LEFT JOIN train ON valb.bg = train.bg
        |GROUP BY valb.lang ORDER BY lang""".stripMargin
  )
}
