package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Fourth wave of training-data pipeline operators: pattern redaction (the
  * PII-scrub shape), benchmark decontamination, signed-random-projection LSH
  * over embeddings (the cosine analog of MinHash banding), inverted-index
  * construction, histogram-based length-band filtering, int8 embedding
  * quantization, bigram-LM familiarity scoring, and per-stratum min-wise
  * sampling. All narrow maps or single partial-aggregatable shuffles — the
  * 100 TB shapes; every one oracle-checked against DuckDB.
  */
object DataQueries4 extends QueryModule {

  private val EmailRe = "[a-z0-9._]+@[a-z0-9.-]+"
  private val NumRe = "[0-9]+"
  private val StopRe = "\\b(the|a|of|and|to)\\b"

  /** Signed-random-projection 16-bit signature per vector (d24's core),
    * shared with d37's banded near-dup candidates — the public
    * [[graft.operators.VectorSearch]] API bound to the embeddings table.
    */
  private[queries] def srpSignatures(s: SparkSession, dir: String): DataFrame =
    graft.operators.VectorSearch
      .srpSignatures(embs(s, dir), "vec_id", "embedding")
      .select(col("id").as("vec_id"), col("sig"))

  val queries: Map[String, Q] = Map(
    // pattern redaction — the PII-scrub pipeline stage (emails, digit runs,
    // a lexicon of sensitive tokens), as a pure narrow map: per-pattern hit
    // counts plus the content hash of the redacted text. At 100 TB this is
    // zero-shuffle; the pattern set is a broadcast-sized config.
    "d22_redact" -> ((s, dir) => {
      val red = trim(regexp_replace(regexp_replace(regexp_replace(col("text"),
        EmailRe, "<email>"),
        NumRe, "<num>"),
        StopRe, "<stop>"))
      docs(s, dir).select(
        col("doc_id"),
        size(regexp_extract_all(col("text"), lit(EmailRe), lit(0))).cast("long").as("n_email"),
        size(regexp_extract_all(col("text"), lit(NumRe), lit(0))).cast("long").as("n_num"),
        size(regexp_extract_all(col("text"), lit(StopRe), lit(0))).cast("long").as("n_stop"),
        md5(red).as("red_md5"),
        length(red).cast("long").as("red_len"))
        .orderBy("doc_id")
    }),

    // benchmark decontamination: flag corpus documents sharing any word
    // 5-gram with the held-out benchmark set (source = src0). The benchmark
    // gram set is vocabulary-sized -> broadcast; the corpus side is one
    // explode pass joined against it, so the shuffle moves only matching
    // (doc, gram) hits. Grams cross the join as 64-bit hashes, not strings.
    "d23_contamination" -> ((s, dir) => {
      val grams = docs(s, dir).select(col("doc_id"), col("source"),
        explode(graft.functions.prom.shingle_g(col("text"), 5)).as("g"))
      val bench = grams.filter(col("source") === "src0")
        .select(col("g"), col("doc_id").as("bid")).distinct()
      grams.filter(col("source") =!= "src0")
        .join(broadcast(bench), "g")
        .groupBy(col("doc_id"))
        .agg(countDistinct(col("g")).as("n_shared"), min(col("bid")).as("first_bench"))
        .orderBy("doc_id")
    }),

    // signed-random-projection LSH: 16 hyperplanes with +-1 weights derived
    // from md5(plane, dim) — the cosine-similarity analog of MinHash
    // banding. Components quantized to integers BEFORE the weighted sum, so
    // the signature is accumulation-order-free and engine-exact. Plane
    // weights are a 16x64 broadcast table; the per-vector work is one
    // explode + partial-aggregatable groupBy — the scale path that replaces
    // brute-force cosine for near-neighbor blocking.
    "d24_srp_lsh" -> ((s, dir) => {
      val sigs = srpSignatures(s, dir)
      val buckets = sigs.groupBy(col("sig")).agg(count(lit(1)).as("bucket_n"))
      sigs.join(broadcast(buckets), "sig")
        .select(col("vec_id"), col("sig"), col("bucket_n"))
        .orderBy("vec_id")
    }),

    // inverted-index construction: per term, document frequency + the first
    // 10 postings. The posting preview uses the bounded TopKStruct aggregate
    // (fixed O(k) state, map-side partials) instead of collecting the full
    // posting list — at 100 TB a term's full postings don't fit an executor.
    "d25_inverted_index" -> ((s, dir) => {
      val dt = docs(s, dir)
        .select(explode(array_distinct(split(col("text"), " "))).as("term"), col("doc_id"))
      dt.groupBy(col("term"))
        .agg(count(lit(1)).as("df"),
          graft.functions.TopKStruct.topk_struct(10, struct(col("doc_id"))).as("tk"))
        .select(col("term"), col("df"),
          array_join(transform(col("tk"), x => x.getField("doc_id").cast("string")), ",")
            .as("posting10"))
        .orderBy("term")
    }),

    // histogram-based length-band filter (trim below p5 / above p95): the
    // percentile thresholds come from a cumulative window over the TINY
    // (distinct-lengths-sized) histogram, never a corpus-wide sort — the
    // single-partition window is over ~hundreds of rows regardless of SF.
    // Threshold rule in exact integer arithmetic: cum*20 >= tot  <=>
    // cum >= ceil(0.05*tot).
    "d26_length_band" -> ((s, dir) => {
      val hist = docs(s, dir).groupBy(col("n_chars")).agg(count(lit(1)).as("c"))
      val wCum = Window.orderBy(col("n_chars"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val thr = hist.withColumn("cum", sum(col("c")).over(wCum))
        .crossJoin(broadcast(hist.agg(sum(col("c")).as("tot"))))
        .agg(min(when(col("cum") * 20 >= col("tot"), col("n_chars"))).as("lo"),
          min(when(col("cum") * 20 >= col("tot") * 19, col("n_chars"))).as("hi"))
      docs(s, dir).crossJoin(broadcast(thr))
        .filter(col("n_chars").between(col("lo"), col("hi")))
        .select(col("doc_id"), col("n_chars"))
        .orderBy("doc_id")
    }),

    // int8 embedding quantization: per-vector symmetric scale 127/max|x|,
    // floor(x*scale) — every step a deterministic IEEE double op, so the
    // quantized codes are bit-exact across engines. Pure narrow map.
    "d27_quantize" -> ((s, dir) => {
      val v = transform(col("embedding"), x => x.cast("double"))
      embs(s, dir)
        .select(col("vec_id"), v.as("v"),
          array_max(transform(v, x => abs(x))).as("mx"))
        .withColumn("scale", lit(127.0) / greatest(col("mx"), lit(1e-30)))
        .select(col("vec_id"), col("mx"),
          array_join(transform(col("v"),
            x => floor(x * col("scale")).cast("string")), ",").as("q"))
        .orderBy("vec_id")
    }),

    // bigram-LM familiarity score: mean corpus frequency of the document's
    // bigrams — the integer-exact stand-in for LM perplexity filtering
    // (log-prob sums are not cross-engine exact; rational sums are). The
    // count table is vocabulary²-sized, which at web-corpus scale is NOT
    // broadcastable — the join is a plain shuffle on the 8-byte bigram hash
    // (both sides already carry longs; AQE still broadcasts when it fits).
    "d28_lm_score" -> ((s, dir) => {
      // bigrams flow as 60-bit kernel hashes (ngram_g keeps repeats — the
      // frequencies are the signal); the count table and joins move longs,
      // never bigram strings
      // (r22 note: pre-aggregating to (doc, bigram) multiplicities before
      // the frequency join — Σ c·n / Σ c in place of sum(n)/count(*) — was
      // tried and REJECTED on cold measurement: d28 0.42 → 0.66 s, d58
      // 1.27 → 1.78 s min-of-3-cold back-to-back. Within-doc bigram repeat
      // rates are too low here for the distinct-pair stream to be smaller
      // than the token stream, so the extra exchange is pure cost. The
      // token-level join stays in all five d28-shaped sites.)
      val bg = docs(s, dir).select(col("doc_id"),
        explode(graft.functions.prom.ngram_g(col("text"), 2)).as("bg"))
      val counts = bg.groupBy(col("bg")).agg(count(lit(1)).as("n"))
      bg.join(counts, "bg")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("nbg"), sum(col("n")).as("ssum"))
        .select(col("doc_id"), col("nbg"), col("ssum"),
          (col("ssum").cast("double") / col("nbg").cast("double")).as("score"))
        .orderBy("doc_id")
    }),

    // per-stratum min-wise sample: the 3 docs with smallest content hash per
    // (lang, source) block — deterministic, reproducible corpus sampling via
    // the bounded TopKStruct aggregate (O(k) state per stratum; no per-group
    // sort, no window over the corpus).
    "d29_strat_sample" -> ((s, dir) =>
      graft.operators.Sampling.minwisePerStratum(
          docs(s, dir).withColumn("h", md5(col("text"))),
          Seq("lang", "source"), "h", "doc_id", 3)
        .select(col("lang"), col("source"), col("rank"), col("doc_id"), col("h"))
        .orderBy("lang", "source", "rank")),

    // corpus mixing: down-sample every language to the smallest language's
    // share (the data-mixing stage of a training pipeline). Keep rule is
    // pure integer arithmetic on a 20-bit content-independent hash:
    // hm * c(lang) < min_c * 2^20  <=>  hash-fraction < min_c/c(lang) —
    // deterministic, stateless, pushdown-friendly; the per-lang count table
    // is broadcast-sized.
    "d30_mix" -> ((s, dir) =>
      graft.operators.Sampling.mixToSmallest(docs(s, dir), "lang", "doc_id")
        .select(col("doc_id"), col("lang"))
        .orderBy("doc_id")),

    // LSH candidate VERIFICATION — the stage after d02's candidate
    // generation in the classic dedup pipeline (generate cheap candidates,
    // verify expensively on the tiny candidate set): exact edit distance +
    // integer-exact length-normalized similarity over only the LSH pairs.
    // At 100 TB the quadratic-cost levenshtein runs on |candidates| pairs,
    // never the corpus, and the texts join in via two hash-equi joins.
    "d32_lsh_verify" -> ((s, dir) => {
      val pairs = DataQueries.minhashPairs(s, dir)
      val t = docs(s, dir).select(col("doc_id"), col("text"))
      pairs.join(t.select(col("doc_id").as("a"), col("text").as("ta")), "a")
        .join(t.select(col("doc_id").as("b"), col("text").as("tb")), "b")
        .select(col("a"), col("b"),
          levenshtein(col("ta"), col("tb")).cast("long").as("dist"),
          greatest(length(col("ta")), length(col("tb"))).cast("long").as("mxlen"))
        // similarity >= 0.8, integer-exact: 5*dist <= maxlen
        .withColumn("dup", col("dist") * 5 <= col("mxlen"))
        .orderBy("a", "b")
    }),

    // deterministic train/validation split (95/5 by content-independent
    // doc-id hash — stable under re-runs, shards, and corpus appends of new
    // ids) with per-language counts as the audit output. The split itself
    // is a stateless narrow map; only the tiny audit aggregate shuffles.
    "d33_train_split" -> ((s, dir) =>
      graft.operators.Sampling.withTrainValSplit(docs(s, dir), "doc_id")
        .groupBy(col("lang"), col("split"))
        .agg(count(lit(1)).as("n"), min(col("doc_id")).as("first_id"))
        .orderBy("lang", "split")),

    // the CAPSTONE: the full training-data prep pipeline as ONE composed
    // query — exact dedup (keep min doc per content hash) -> length-band
    // filter (thresholds from the deduped histogram) -> per-language mixing
    // (rates from the banded corpus) -> train/val split -> audit counts.
    // Every stage is the already-verified operator shape; composition adds
    // no new shuffle classes. The dedup stage is the d01 groupBy shape —
    // groupBy(h).agg(min(doc_id)) is partial-aggregatable (HashAggregate
    // with map-side combine, no sort) + a semi-join back on doc_id, where
    // the window form would shuffle AND sort the whole corpus.
    "d34_prep_pipeline" -> ((s, dir) => {
      val keepIds = docs(s, dir)
        .groupBy(md5(col("text")).as("h")).agg(min(col("doc_id")).as("doc_id"))
        .select(col("doc_id"))
      val keep = docs(s, dir).join(keepIds, Seq("doc_id"), "left_semi")
        .select(col("doc_id"), col("lang"), col("n_chars"))
      val hist = keep.groupBy(col("n_chars")).agg(count(lit(1)).as("c"))
      val wCum = Window.orderBy(col("n_chars"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val thr = hist.withColumn("cum", sum(col("c")).over(wCum))
        .crossJoin(broadcast(hist.agg(sum(col("c")).as("tot"))))
        .agg(min(when(col("cum") * 20 >= col("tot"), col("n_chars"))).as("lo"),
          min(when(col("cum") * 20 >= col("tot") * 19, col("n_chars"))).as("hi"))
      val banded = keep.crossJoin(broadcast(thr))
        .filter(col("n_chars").between(col("lo"), col("hi")))
        .select(col("doc_id"), col("lang"))
      val cnts = banded.groupBy(col("lang")).agg(count(lit(1)).as("c"))
      val mn = cnts.agg(min(col("c")).as("m"))
      val mixed = banded
        .withColumn("hm",
          conv(substring(md5(col("doc_id").cast("string")), 14, 5), 16, 10)
            .cast("long") % 1048576L)
        .join(broadcast(cnts), "lang").crossJoin(broadcast(mn))
        .filter(col("hm") * col("c") < col("m") * 1048576L)
        .select(col("doc_id"), col("lang"))
      mixed
        .withColumn("split",
          when(conv(substring(md5(col("doc_id").cast("string")), 9, 5), 16, 10)
            .cast("long") % 20 === 0, "val").otherwise("train"))
        .groupBy(col("lang"), col("split"))
        .agg(count(lit(1)).as("n"), min(col("doc_id")).as("first_id"),
          max(col("doc_id")).as("last_id"))
        .orderBy("lang", "split")
    }),

    // z-order (Morton) values over (n_chars, doc_id): the locality-
    // preserving layout key for multidimensional clustering — writing a
    // table sorted by z lets min/max-pruning serve range predicates on
    // EITHER dimension. Pure integer bit-interleave, zero shuffle.
    "d31_zorder" -> ((s, dir) => {
      val a = col("n_chars") % 1024L
      val b = col("doc_id") % 1024L
      val z = (0 until 10).map { i =>
        shiftright(a, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i)) +
          shiftright(b, i).bitwiseAND(lit(1L)) * lit(2L << (2 * i))
      }.reduce(_ + _)
      docs(s, dir).select(col("doc_id"), z.cast("long").as("z")).orderBy("doc_id")
    })
  )

  /** DuckDB CTE chain ending in `sig(vec_id, sig)` — the oracle mirror of
    * [[srpSignatures]]; d37's banding oracle extends it.
    */
  private[queries] val srpSigCte: String =
    """pd AS (SELECT p, d, CASE WHEN (instr('0123456789abcdef', substr(md5(p::VARCHAR || '_' || d::VARCHAR), 1, 1)) - 1) % 2 = 1 THEN 1 ELSE -1 END AS w
      |  FROM generate_series(0, 15) t1(p) CROSS JOIN generate_series(0, 63) t2(d)),
      |ex AS (SELECT vec_id, d, CAST(floor(CAST(embedding[d + 1] AS DOUBLE) * 1000000.0) AS BIGINT) AS xq
      |  FROM embeddings CROSS JOIN generate_series(0, 63) t(d)),
      |s AS (SELECT vec_id, p, sum(w * xq) AS s FROM ex JOIN pd USING (d) GROUP BY vec_id, p),
      |sig AS (SELECT vec_id, string_agg(CASE WHEN s > 0 THEN '1' ELSE '0' END, '' ORDER BY p) AS sig FROM s GROUP BY vec_id)""".stripMargin

  val oracles: Map[String, String] = Map(
    "d22_redact" ->
      """WITH r AS (SELECT doc_id,
        |  trim(regexp_replace(regexp_replace(regexp_replace(text,
        |    '[a-z0-9._]+@[a-z0-9.-]+', '<email>', 'g'),
        |    '[0-9]+', '<num>', 'g'),
        |    '\b(the|a|of|and|to)\b', '<stop>', 'g')) AS red
        |FROM documents)
        |SELECT d.doc_id,
        |  CAST(len(regexp_extract_all(text, '[a-z0-9._]+@[a-z0-9.-]+')) AS BIGINT) AS n_email,
        |  CAST(len(regexp_extract_all(text, '[0-9]+')) AS BIGINT) AS n_num,
        |  CAST(len(regexp_extract_all(text, '\b(the|a|of|and|to)\b')) AS BIGINT) AS n_stop,
        |  md5(red) AS red_md5, CAST(length(red) AS BIGINT) AS red_len
        |FROM documents d JOIN r ON d.doc_id = r.doc_id ORDER BY d.doc_id""".stripMargin,

    "d23_contamination" ->
      """WITH w AS (SELECT doc_id, source, string_split(text, ' ') AS w FROM documents WHERE len(string_split(text, ' ')) >= 5),
        |g AS (SELECT doc_id, source, unnest(list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4] FOR i IN generate_series(1, len(w) - 4)])) AS g FROM w),
        |bench AS (SELECT DISTINCT g, doc_id AS bid FROM g WHERE source = 'src0'),
        |corp AS (SELECT doc_id, g FROM g WHERE source <> 'src0')
        |SELECT c.doc_id, CAST(count(DISTINCT c.g) AS BIGINT) AS n_shared, min(b.bid) AS first_bench
        |FROM corp c JOIN bench b USING (g) GROUP BY c.doc_id ORDER BY c.doc_id""".stripMargin,

    "d24_srp_lsh" ->
      s"WITH $srpSigCte\nSELECT vec_id, sig, CAST(count(*) OVER (PARTITION BY sig) AS BIGINT) AS bucket_n FROM sig ORDER BY vec_id",

    "d25_inverted_index" ->
      """WITH dt AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM dt GROUP BY term),
        |top AS (SELECT term, doc_id FROM (
        |    SELECT term, doc_id, row_number() OVER (PARTITION BY term ORDER BY doc_id) AS rn FROM dt) WHERE rn <= 10)
        |SELECT t.term, max(f.df) AS df, string_agg(t.doc_id::VARCHAR, ',' ORDER BY t.doc_id) AS posting10
        |FROM top t JOIN dfreq f ON t.term = f.term GROUP BY t.term ORDER BY t.term""".stripMargin,

    "d26_length_band" ->
      """WITH hist AS (SELECT n_chars, count(*) AS c FROM documents GROUP BY n_chars),
        |cum AS (SELECT n_chars, sum(c) OVER (ORDER BY n_chars ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM hist),
        |tot AS (SELECT sum(c) AS tot FROM hist),
        |thr AS (SELECT min(CASE WHEN cum * 20 >= tot THEN n_chars END) AS lo,
        |               min(CASE WHEN cum * 20 >= tot * 19 THEN n_chars END) AS hi FROM cum, tot)
        |SELECT doc_id, n_chars FROM documents, thr WHERE n_chars BETWEEN lo AND hi ORDER BY doc_id""".stripMargin,

    "d27_quantize" ->
      """WITH e AS (SELECT vec_id, [CAST(x AS DOUBLE) FOR x IN embedding] AS v FROM embeddings),
        |m AS (SELECT vec_id, v, list_max([abs(x) FOR x IN v]) AS mx FROM e),
        |s AS (SELECT vec_id, v, mx, 127.0 / greatest(mx, 1e-30) AS scale FROM m)
        |SELECT vec_id, mx, array_to_string([CAST(floor(x * scale) AS BIGINT) FOR x IN v], ',') AS q
        |FROM s ORDER BY vec_id""".stripMargin,

    "d28_lm_score" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents WHERE len(string_split(text, ' ')) >= 2),
        |bg AS (SELECT doc_id, unnest([w[i] || ' ' || w[i+1] FOR i IN generate_series(1, len(w) - 1)]) AS bg FROM w),
        |c AS (SELECT bg, CAST(count(*) AS BIGINT) AS n FROM bg GROUP BY bg)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS nbg, CAST(sum(n) AS BIGINT) AS ssum,
        |  CAST(sum(n) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS score
        |FROM bg JOIN c USING (bg) GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "d29_strat_sample" ->
      """SELECT lang, source, rank, doc_id, h FROM (
        |  SELECT lang, source, doc_id, md5(text) AS h,
        |    CAST(row_number() OVER (PARTITION BY lang, source ORDER BY md5(text), doc_id) AS BIGINT) AS rank
        |  FROM documents)
        |WHERE rank <= 3 ORDER BY lang, source, rank""".stripMargin,

    "d30_mix" ->
      """WITH c AS (SELECT lang, CAST(count(*) AS BIGINT) AS c FROM documents GROUP BY lang),
        |m AS (SELECT min(c) AS m FROM c),
        |h AS (SELECT doc_id, lang, CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 14, 5)) AS BIGINT) % 1048576 AS hm FROM documents)
        |SELECT h.doc_id, h.lang FROM h JOIN c USING (lang) CROSS JOIN m
        |WHERE hm * c < m * 1048576 ORDER BY doc_id""".stripMargin,

    "d32_lsh_verify" ->
      (s"WITH ${DataQueries.minhashPairsCte}" +
        """ SELECT p.a, p.b,
          |  CAST(levenshtein(x.text, y.text) AS BIGINT) AS dist,
          |  CAST(greatest(length(x.text), length(y.text)) AS BIGINT) AS mxlen,
          |  levenshtein(x.text, y.text) * 5 <= greatest(length(x.text), length(y.text)) AS dup
          |FROM pairs p JOIN documents x ON p.a = x.doc_id JOIN documents y ON p.b = y.doc_id
          |ORDER BY p.a, p.b""".stripMargin),

    "d33_train_split" ->
      """WITH s AS (SELECT doc_id, lang,
        |  CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 9, 5)) AS BIGINT) % 20 = 0
        |       THEN 'val' ELSE 'train' END AS split
        |FROM documents)
        |SELECT lang, split, CAST(count(*) AS BIGINT) AS n, min(doc_id) AS first_id
        |FROM s GROUP BY lang, split ORDER BY lang, split""".stripMargin,

    "d34_prep_pipeline" ->
      """WITH keep AS (
        |  SELECT doc_id, lang, n_chars FROM (
        |    SELECT doc_id, lang, n_chars, min(doc_id) OVER (PARTITION BY md5(text)) AS keepid
        |    FROM documents) WHERE doc_id = keepid),
        |hist AS (SELECT n_chars, count(*) AS c FROM keep GROUP BY n_chars),
        |cum AS (SELECT n_chars, sum(c) OVER (ORDER BY n_chars ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM hist),
        |tot AS (SELECT sum(c) AS tot FROM hist),
        |thr AS (SELECT min(CASE WHEN cum * 20 >= tot THEN n_chars END) AS lo,
        |               min(CASE WHEN cum * 20 >= tot * 19 THEN n_chars END) AS hi FROM cum, tot),
        |banded AS (SELECT doc_id, lang FROM keep, thr WHERE n_chars BETWEEN lo AND hi),
        |cnts AS (SELECT lang, CAST(count(*) AS BIGINT) AS c FROM banded GROUP BY lang),
        |mn AS (SELECT min(c) AS m FROM cnts),
        |mixed AS (
        |  SELECT b.doc_id, b.lang FROM banded b JOIN cnts USING (lang) CROSS JOIN mn
        |  WHERE (CAST(('0x' || substr(md5(CAST(b.doc_id AS VARCHAR)), 14, 5)) AS BIGINT) % 1048576) * c < m * 1048576),
        |tagged AS (
        |  SELECT doc_id, lang,
        |    CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 9, 5)) AS BIGINT) % 20 = 0
        |         THEN 'val' ELSE 'train' END AS split
        |  FROM mixed)
        |SELECT lang, split, CAST(count(*) AS BIGINT) AS n, min(doc_id) AS first_id, max(doc_id) AS last_id
        |FROM tagged GROUP BY lang, split ORDER BY lang, split""".stripMargin,

    "d31_zorder" -> {
      val terms = (0 until 10).map { i =>
        s"(((a >> $i) & 1) * ${1L << (2 * i)}) + (((b >> $i) & 1) * ${2L << (2 * i)})"
      }.mkString(" + ")
      s"""WITH x AS (SELECT doc_id, n_chars % 1024 AS a, doc_id % 1024 AS b FROM documents)
         |SELECT doc_id, CAST($terms AS BIGINT) AS z FROM x ORDER BY doc_id""".stripMargin
    }
  )
}
