package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.prom.fingerprint64

/** Training-data pipeline operators over `documents` / `embeddings`
  * (north-star extensions, BASELINE.md): deduplication (exact, MinHash-LSH,
  * n-gram Jaccard), similarity search (brute-force cosine top-k baseline;
  * LSH-bucketed path is the scale story), text analysis (language-ID,
  * quality scoring, tokenization, fingerprinting), multimodal plumbing.
  *
  * Scale notes: every all-pairs computation is blocked (LSH band buckets /
  * lang+source blocks) so the join is a bucket-equijoin, never a cross join
  * of the corpus; signatures are computed in one aggregation pass.
  */
object DataQueries extends QueryModule {

  // --- shared shingling ----------------------------------------------------
  // Word n-gram shingling is the codegen'd kernel `prom.shingle_g(text, n)`:
  // distinct shingles (by string, first-occurrence order) reduced to their
  // 60-bit md5-prefix values in one pass. The earlier expression-chain form
  // (split once -> transform/slice/concat_ws -> array_distinct -> md5 ->
  // conv) produced identical values but materialized every shingle as a
  // string column; the oracles still mirror the md5-prefix definition.

  /** MinHash-LSH near-duplicate candidate pairs (a < b), shared by d02 and
    * the d15 dedup-cluster query. One md5 per distinct shingle, 16 minhashes
    * in a single aggregation pass, 4 band buckets.
    *
    * Candidate generation is a SHUFFLE on the band bucket, never a join:
    * each doc emits one 8-byte bucket key per band (xxhash64 of the band id
    * and its 4 minhash values — no signature strings ever materialize), docs
    * sharing a bucket meet in one reducer, and the reducer expands the
    * sorted member list into (a, b) pairs directly. No corpus-sized
    * broadcast, no self-join; pair work is proportional to co-bucketed docs
    * (quadratic only within a bucket, which is inherent to LSH candidate
    * generation in any engine — a bucket-size cap bounds it at 100 TB; the
    * synthetic corpus needs none). A bucket-key collision would merge two
    * buckets and add a spurious candidate pair — odds ~|buckets|²/2⁶⁴,
    * vanishing, and LSH candidates are verified downstream (d32) anyway.
    */
  private[queries] def minhashPairs(s: SparkSession, dir: String): DataFrame =
    // the public table-agnostic API (operators/TextDedup) runs the shapes;
    // this binding applies them to the `documents` table. shingle_g emits
    // the same 60-bit md5-prefix values the expression chain
    // conv(substring(md5(sh),1,15),16,10) produced, in one codegen'd pass.
    graft.operators.TextDedup.minhashCandidates(docs(s, dir), "doc_id", "text")

  val queries: Map[String, Q] = Map(
    // exact dedup: content-hash groups, canonical = min doc_id
    "d01_dedup_exact" -> ((s, dir) =>
      docs(s, dir)
        .groupBy(md5(col("text")).as("h"))
        .agg(count(lit(1)).as("n"), min(col("doc_id")).as("canonical"))
        .select(col("h"), col("n"), col("canonical"))
        .orderBy("h")),

    // MinHash + LSH near-dup candidates: one md5 per distinct shingle, 16
    // minhashes via linear 64-bit mixes of its prefix (Java long wrap ==
    // HUGEINT mod 2^64 in the oracle), one agg pass (no per-seed row
    // explosion) -> 4 band buckets -> bucket equijoin
    "d02_minhash_lsh" -> ((s, dir) => minhashPairs(s, dir).orderBy("a", "b")),

    // n-gram Jaccard near-dup within (lang, source) blocks; integer-exact
    // intersection/union (no float threshold ambiguity).
    // Scale shape: one explode pass, then a shuffle on the shingle itself —
    // docs sharing a shingle meet in one reducer, which emits the doc-id
    // pairs directly (sorted collect + in-array combinations). Pair work is
    // proportional to SHARED shingles; no self-join, no corpus-sized
    // broadcast, no arrays crossing a join. The 2..16 document-frequency
    // valve (SURVEY §9; the TextDedup.winnowAlignedRunsFrom window) runs
    // BEFORE the collect, so no reducer ever materializes an unbounded id
    // list for a boilerplate shingle: a 3-gram shared by 10^4 docs is
    // dropped from intersection counting (union keeps full sizes, so the
    // valve only lowers — never raises — the estimated Jaccard of
    // boilerplate-only pairs). The count pre-pass partial-aggregates
    // map-side; the semi-join moves 8-byte keys only.
    "d03_ngram_jaccard" -> ((s, dir) => {
      // shuffle key is a 64-bit hash of (block, shingle-hash), never the
      // shingle string: docs sharing a shingle still meet in one reducer but
      // the exchange moves 8-byte longs (a collision would overcount one
      // intersection by 1; odds across a corpus-sized distinct-shingle set
      // are ~|shingles|^2 / 2^61 — vanishing, and the exact-hash oracle gate
      // would catch it). shingle_g replaces the whole split/slice/concat/
      // md5-hex chain with one codegen'd kernel pass per document.
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
      val inter = pairs.groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(count(lit(1)).as("inter"))
      // sizes is per-document (corpus-proportional) — never force-broadcast
      // it; these are plain equi-joins on doc_id and AQE may still choose a
      // broadcast when the pair side or sizes genuinely fit
      inter.join(sizes.as("sa"), col("a") === col("sa.doc_id"))
        .join(sizes.as("sb"), col("b") === col("sb.doc_id"))
        .select(col("a"), col("b"), col("inter"),
          (col("sa.n") + col("sb.n") - col("inter")).as("uni"))
        .filter(col("inter") * 20 >= col("uni")) // jaccard >= 0.05, integer-exact
        .orderBy("a", "b")
    }),

    // brute-force cosine top-5 neighbors for query vectors (vec_id < 8) via
    // the public VectorSearch baseline; fold-ordered double math =>
    // bit-identical scores across engines. The broadcast of the full vector
    // set is the documented correctness baseline — d10's IVF cells are the
    // 100 TB path.
    "d04_cosine_topk" -> ((s, dir) =>
      graft.operators.VectorSearch
        .bruteForceTopK(embs(s, dir), "vec_id", "embedding", col("vec_id") < 8, 5)
        .select(col("qid"), col("rank"), col("id").as("vec_id"), col("cos"))
        .orderBy("qid", "rank")),

    // language-ID by stopword-hit scoring (argmax with fixed tie order) via
    // the shared TextQuality.withLangId narrow map (the same expressions
    // power the d120 confusion matrix and the streaming router)
    "d05_langid" -> ((s, dir) =>
      graft.operators.TextQuality.withLangId(docs(s, dir), "text")
        .select(col("doc_id"), col("h_en"), col("h_de"), col("h_es"),
          col("h_fr"), col("pred"))
        .orderBy("doc_id")),

    // quality scoring: length/punct/stopword ratios (single-division doubles
    // are IEEE-exact parity; no accumulation)
    "d06_quality" -> ((s, dir) => {
      val nTok = size(split(col("text"), " ")).cast("long")
      val nPunct = size(regexp_extract_all(col("text"), lit("[.,;:!?]"), lit(0))).cast("long")
      val nStop = size(regexp_extract_all(col("text"), lit("\\b(the|a|of|and|to)\\b"), lit(0))).cast("long")
      docs(s, dir).select(
        col("doc_id"),
        length(col("text")).cast("long").as("n_chars"),
        nTok.as("n_tokens"),
        nPunct.as("n_punct"),
        nStop.as("n_stop"),
        (nStop.cast("double") / nTok.cast("double")).as("stop_ratio"),
        (length(col("text")).cast("double") / nTok.cast("double")).as("chars_per_token"))
        .orderBy("doc_id")
    }),

    // token counting: whitespace + BPE-ish regex segmentation
    "d07_tokens" -> ((s, dir) =>
      docs(s, dir).select(
        col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("ws_tokens"),
        size(regexp_extract_all(col("text"), lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0))).cast("long").as("bpe_tokens"))
        .orderBy("doc_id")),

    // document fingerprinting: 64-bit rolling hash via custom expression
    "d08_fingerprint" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"), fingerprint64(col("text")).as("fp"))
        .orderBy("doc_id")),

    // multimodal plumbing: binary media column -> per-partition decode ->
    // typed features (graft.operators.Multimodal). The payloads here are
    // arbitrary bytes (no real container), so the seam runs the
    // deterministic TEST-DOUBLE codec the oracle mirrors; real decodes are
    // m08 (PNG), m09 (WAV), m10 (animated GIF).
    "m01_multimodal" -> ((s, dir) =>
      graft.operators.Multimodal.extractFeatures(
        graft.operators.Multimodal.mediaFromDocuments(docs(s, dir)),
        () => new graft.operators.Multimodal.FakeCodec)
        .toDF()
        .orderBy("doc_id")),

    // multimodal frame sampling: typed flatMap, every 3rd frame per item
    "m02_frame_sample" -> ((s, dir) =>
      graft.operators.Multimodal.sampleFrames(
        graft.operators.Multimodal.mediaFromDocuments(docs(s, dir)))
        .toDF()
        .orderBy("doc_id", "frame_idx")),

    // multimodal resize: aspect-preserving fit into 320x240, integer-exact
    "m03_resize" -> ((s, dir) =>
      graft.operators.Multimodal.resizePlan(
        graft.operators.Multimodal.extractFeatures(
          graft.operators.Multimodal.mediaFromDocuments(docs(s, dir)),
          () => new graft.operators.Multimodal.FakeCodec), 320L, 240L)
        .toDF()
        .orderBy("doc_id"))
  )

  /** DuckDB CTE chain ending in `pairs(a, b)` — the oracle mirror of
    * [[minhashPairs]]; d15's connected-components oracle extends it.
    */
  private[queries] val minhashPairsCte: String =
      """w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents WHERE len(string_split(text, ' ')) >= 3),
        |sh AS (SELECT DISTINCT doc_id, unnest([w[i] || ' ' || w[i+1] || ' ' || w[i+2] FOR i IN generate_series(1, len(w) - 2)]) AS sh FROM w),
        |g AS (SELECT doc_id, CAST(('0x' || substr(md5(sh), 1, 15)) AS BIGINT) AS g FROM sh),
        |hx AS (SELECT doc_id, (g::HUGEINT * 11400714819323198485::HUGEINT + 14029467366897019727::HUGEINT) % 18446744073709551616::HUGEINT AS h0, (g::HUGEINT * 15755400384260043839::HUGEINT + 9612190660084487838::HUGEINT) % 18446744073709551616::HUGEINT AS h1, (g::HUGEINT * 1663341875487337577::HUGEINT + 5194913953271955949::HUGEINT) % 18446744073709551616::HUGEINT AS h2, (g::HUGEINT * 6018027440424182931::HUGEINT + 777637246459424060::HUGEINT) % 18446744073709551616::HUGEINT AS h3, (g::HUGEINT * 10372713005361028285::HUGEINT + 14807104613356443787::HUGEINT) % 18446744073709551616::HUGEINT AS h4, (g::HUGEINT * 14727398570297873639::HUGEINT + 10389827906543911898::HUGEINT) % 18446744073709551616::HUGEINT AS h5, (g::HUGEINT * 635340061525167377::HUGEINT + 5972551199731380009::HUGEINT) % 18446744073709551616::HUGEINT AS h6, (g::HUGEINT * 4990025626462012731::HUGEINT + 1555274492918848120::HUGEINT) % 18446744073709551616::HUGEINT AS h7, (g::HUGEINT * 9344711191398858085::HUGEINT + 15584741859815867847::HUGEINT) % 18446744073709551616::HUGEINT AS h8, (g::HUGEINT * 13699396756335703439::HUGEINT + 11167465153003335958::HUGEINT) % 18446744073709551616::HUGEINT AS h9, (g::HUGEINT * 18054082321272548793::HUGEINT + 6750188446190804069::HUGEINT) % 18446744073709551616::HUGEINT AS h10, (g::HUGEINT * 3962023812499842531::HUGEINT + 2332911739378272180::HUGEINT) % 18446744073709551616::HUGEINT AS h11, (g::HUGEINT * 8316709377436687885::HUGEINT + 16362379106275291907::HUGEINT) % 18446744073709551616::HUGEINT AS h12, (g::HUGEINT * 12671394942373533239::HUGEINT + 11945102399462760018::HUGEINT) % 18446744073709551616::HUGEINT AS h13, (g::HUGEINT * 17026080507310378593::HUGEINT + 7527825692650228129::HUGEINT) % 18446744073709551616::HUGEINT AS h14, (g::HUGEINT * 2934021998537672331::HUGEINT + 3110548985837696240::HUGEINT) % 18446744073709551616::HUGEINT AS h15 FROM g),
        |sig AS (SELECT doc_id, min(CAST(CASE WHEN h0 >= 9223372036854775808::HUGEINT THEN h0 - 18446744073709551616::HUGEINT ELSE h0 END AS BIGINT)) AS m0, min(CAST(CASE WHEN h1 >= 9223372036854775808::HUGEINT THEN h1 - 18446744073709551616::HUGEINT ELSE h1 END AS BIGINT)) AS m1, min(CAST(CASE WHEN h2 >= 9223372036854775808::HUGEINT THEN h2 - 18446744073709551616::HUGEINT ELSE h2 END AS BIGINT)) AS m2, min(CAST(CASE WHEN h3 >= 9223372036854775808::HUGEINT THEN h3 - 18446744073709551616::HUGEINT ELSE h3 END AS BIGINT)) AS m3, min(CAST(CASE WHEN h4 >= 9223372036854775808::HUGEINT THEN h4 - 18446744073709551616::HUGEINT ELSE h4 END AS BIGINT)) AS m4, min(CAST(CASE WHEN h5 >= 9223372036854775808::HUGEINT THEN h5 - 18446744073709551616::HUGEINT ELSE h5 END AS BIGINT)) AS m5, min(CAST(CASE WHEN h6 >= 9223372036854775808::HUGEINT THEN h6 - 18446744073709551616::HUGEINT ELSE h6 END AS BIGINT)) AS m6, min(CAST(CASE WHEN h7 >= 9223372036854775808::HUGEINT THEN h7 - 18446744073709551616::HUGEINT ELSE h7 END AS BIGINT)) AS m7, min(CAST(CASE WHEN h8 >= 9223372036854775808::HUGEINT THEN h8 - 18446744073709551616::HUGEINT ELSE h8 END AS BIGINT)) AS m8, min(CAST(CASE WHEN h9 >= 9223372036854775808::HUGEINT THEN h9 - 18446744073709551616::HUGEINT ELSE h9 END AS BIGINT)) AS m9, min(CAST(CASE WHEN h10 >= 9223372036854775808::HUGEINT THEN h10 - 18446744073709551616::HUGEINT ELSE h10 END AS BIGINT)) AS m10, min(CAST(CASE WHEN h11 >= 9223372036854775808::HUGEINT THEN h11 - 18446744073709551616::HUGEINT ELSE h11 END AS BIGINT)) AS m11, min(CAST(CASE WHEN h12 >= 9223372036854775808::HUGEINT THEN h12 - 18446744073709551616::HUGEINT ELSE h12 END AS BIGINT)) AS m12, min(CAST(CASE WHEN h13 >= 9223372036854775808::HUGEINT THEN h13 - 18446744073709551616::HUGEINT ELSE h13 END AS BIGINT)) AS m13, min(CAST(CASE WHEN h14 >= 9223372036854775808::HUGEINT THEN h14 - 18446744073709551616::HUGEINT ELSE h14 END AS BIGINT)) AS m14, min(CAST(CASE WHEN h15 >= 9223372036854775808::HUGEINT THEN h15 - 18446744073709551616::HUGEINT ELSE h15 END AS BIGINT)) AS m15 FROM hx GROUP BY doc_id),
        |bands AS (SELECT doc_id, b.band, b.bh FROM sig, LATERAL (VALUES (0, m0 || '|' || m1 || '|' || m2 || '|' || m3) , (1, m4 || '|' || m5 || '|' || m6 || '|' || m7) , (2, m8 || '|' || m9 || '|' || m10 || '|' || m11) , (3, m12 || '|' || m13 || '|' || m14 || '|' || m15)) AS b(band, bh)),
        |pairs AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
        |          FROM bands x JOIN bands y ON x.band = y.band AND x.bh = y.bh AND x.doc_id < y.doc_id)""".stripMargin

  val oracles: Map[String, String] = Map(
    "d01_dedup_exact" ->
      """SELECT md5(text) AS h, CAST(count(*) AS BIGINT) AS n, min(doc_id) AS canonical
        |FROM documents GROUP BY md5(text) ORDER BY h""".stripMargin,

    "d02_minhash_lsh" -> s"WITH $minhashPairsCte SELECT a, b FROM pairs ORDER BY a, b",

    "d03_ngram_jaccard" ->
      """WITH w AS (SELECT doc_id, lang, source, string_split(text, ' ') AS w FROM documents WHERE len(string_split(text, ' ')) >= 3),
        |sh AS (SELECT DISTINCT doc_id, lang, source,
        |         unnest([w[i] || ' ' || w[i+1] || ' ' || w[i+2] FOR i IN generate_series(1, len(w) - 2)]) AS sh
        |       FROM w),
        |ok AS (SELECT lang, source, sh FROM sh GROUP BY lang, source, sh HAVING count(*) BETWEEN 2 AND 16),
        |f AS (SELECT s.doc_id, s.lang, s.source, s.sh FROM sh s JOIN ok o ON s.lang = o.lang AND s.source = o.source AND s.sh = o.sh),
        |inter AS (SELECT x.doc_id AS a, y.doc_id AS b, CAST(count(*) AS BIGINT) AS inter
        |  FROM f x JOIN f y ON x.lang = y.lang AND x.source = y.source AND x.sh = y.sh AND x.doc_id < y.doc_id
        |  GROUP BY x.doc_id, y.doc_id),
        |sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM sh GROUP BY doc_id)
        |SELECT i.a, i.b, i.inter, sa.n + sb.n - i.inter AS uni
        |FROM inter i JOIN sizes sa ON i.a = sa.doc_id JOIN sizes sb ON i.b = sb.doc_id
        |WHERE i.inter * 20 >= sa.n + sb.n - i.inter
        |ORDER BY a, b""".stripMargin,

    "d04_cosine_topk" ->
      """WITH e AS (SELECT vec_id, [CAST(x AS DOUBLE) FOR x IN embedding] AS v FROM embeddings),
        |n AS (SELECT vec_id, v, sqrt(list_reduce(list_prepend(0.0::DOUBLE, [x * x FOR x IN v]), (a, b) -> a + b)) AS nrm FROM e),
        |q AS (SELECT vec_id AS qid, v AS qv, nrm AS qn FROM n WHERE vec_id < 8),
        |scored AS (SELECT qid, vec_id,
        |    list_reduce(list_prepend(0.0::DOUBLE, [qv[i] * v[i] FOR i IN generate_series(1, len(v))]), (a, b) -> a + b) / (qn * nrm) AS cos
        |  FROM q JOIN n ON vec_id <> qid),
        |ranked AS (SELECT qid, vec_id, cos,
        |    CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS BIGINT) AS rank
        |  FROM scored)
        |SELECT qid, rank, vec_id, cos FROM ranked WHERE rank <= 5 ORDER BY qid, rank""".stripMargin,

    "d05_langid" ->
      """WITH t AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS tok FROM documents),
        |h AS (SELECT doc_id,
        |  CAST(len(list_intersect(tok, ['the','a','of','and','to'])) AS BIGINT) AS h_en,
        |  CAST(len(list_intersect(tok, ['der','die','das','und','ist'])) AS BIGINT) AS h_de,
        |  CAST(len(list_intersect(tok, ['el','la','de','los','y'])) AS BIGINT) AS h_es,
        |  CAST(len(list_intersect(tok, ['le','les','et','des','un'])) AS BIGINT) AS h_fr
        |FROM t)
        |SELECT doc_id, h_en, h_de, h_es, h_fr,
        |  CASE WHEN h_en >= h_de AND h_en >= h_es AND h_en >= h_fr THEN 'en'
        |       WHEN h_de >= h_es AND h_de >= h_fr THEN 'de'
        |       WHEN h_es >= h_fr THEN 'es' ELSE 'fr' END AS pred
        |FROM h ORDER BY doc_id""".stripMargin,

    "d06_quality" ->
      """SELECT doc_id,
        |  CAST(length(text) AS BIGINT) AS n_chars,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |  CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS BIGINT) AS n_punct,
        |  CAST(len(regexp_extract_all(text, '\b(the|a|of|and|to)\b')) AS BIGINT) AS n_stop,
        |  CAST(len(regexp_extract_all(text, '\b(the|a|of|and|to)\b')) AS DOUBLE) / CAST(len(string_split(text, ' ')) AS DOUBLE) AS stop_ratio,
        |  CAST(length(text) AS DOUBLE) / CAST(len(string_split(text, ' ')) AS DOUBLE) AS chars_per_token
        |FROM documents ORDER BY doc_id""".stripMargin,

    "d07_tokens" ->
      """SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
        |  CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS bpe_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,

    "d08_fingerprint" ->
      """WITH f AS (SELECT doc_id,
        |  list_reduce(list_prepend(0::HUGEINT, [unicode(c)::HUGEINT FOR c IN string_split(text, '')]),
        |    (a, b) -> (a * 31 + b) % 18446744073709551616::HUGEINT) AS h
        |FROM documents)
        |SELECT doc_id, CAST(CASE WHEN h >= 9223372036854775808::HUGEINT
        |  THEN h - 18446744073709551616::HUGEINT ELSE h END AS BIGINT) AS fp
        |FROM f ORDER BY doc_id""".stripMargin,

    "m03_resize" ->
      """WITH m AS (SELECT doc_id, CAST(strlen(text) % 640 AS BIGINT) AS w0,
        |    CAST((strlen(text) * 7) % 480 AS BIGINT) AS h0 FROM documents),
        |g AS (SELECT doc_id, w0, h0, greatest(w0, 1) AS w, greatest(h0, 1) AS h FROM m)
        |SELECT doc_id, w0 AS width, h0 AS height,
        |  CASE WHEN w <= 320 AND h <= 240 THEN w ELSE least(320 * h, 240 * w) // h END AS out_w,
        |  CASE WHEN w <= 320 AND h <= 240 THEN h ELSE least(320 * h, 240 * w) // w END AS out_h
        |FROM g ORDER BY doc_id""".stripMargin,

    "m02_frame_sample" ->
      """WITH m AS (SELECT doc_id, strlen(text) AS n FROM documents),
        |f AS (SELECT doc_id, n, unnest(generate_series(0, CAST(n // 100 AS BIGINT) - 1, 3)) AS idx
        |      FROM m WHERE n >= 100)
        |SELECT doc_id, CAST(idx AS BIGINT) AS frame_idx,
        |  CAST((n * 131 + idx * 7) % 2147483647 AS BIGINT) AS phash
        |FROM f ORDER BY doc_id, frame_idx""".stripMargin,

    "m01_multimodal" ->
      """SELECT doc_id, 'application/x-' || source AS mime,
        |  CAST(strlen(text) AS BIGINT) AS byte_len,
        |  CAST(strlen(text) % 640 AS BIGINT) AS width,
        |  CAST((strlen(text) * 7) % 480 AS BIGINT) AS height,
        |  CAST(strlen(text) // 100 AS BIGINT) AS frames
        |FROM documents ORDER BY doc_id""".stripMargin
  )
}
