package graft.queries

import org.apache.spark.sql.functions._

/** Twenty-second wave — the r16 verdict's ordered follow-ups: media
  * near-dup as a PUBLIC operator (operators/MediaDedup) with a persistable
  * hash index, exercised through the oracle gate.
  */
object DataQueries22 extends QueryModule {

  val queries: Map[String, Q] = Map[String, Q](
    // index-based media dedup — the cross-dump loop TextDedup.buildIndex/
    // dedupAgainstIndex runs for text, on the media path: the REFERENCE
    // media (doc_id % 5 == 0) is decoded ONCE into a persistable index of
    // distinct perceptual hashes (MediaDedup.buildIndex — at 100 TB the
    // index is |distinct hashes| rows regardless of corpus size, and the
    // reference is never decoded again), and the DUMP's frame hashes are
    // dropped when within Hamming 3 of any index hash. maxHamming 3 with
    // 4 x 16-bit bands is the EXACT regime (pigeonhole: <= bands-1 bit
    // flips cannot touch every band, so band-equal candidates cover every
    // close pair) — which is why the oracle below can be the pure
    // NOT EXISTS(hamming <= 3) semantics with no band arithmetic: the
    // oracle gate itself verifies the pigeonhole claim. The plan is a
    // chain of 4 left_anti equi-joins on 16-bit band keys with the
    // codegen xor+popcount as a residual — stateless, so the SAME operator
    // call dedupes a live media stream against the parquet-loaded index
    // (MediaDedup.dedupAgainstIndex on a stream; MediaDedupSpec pins
    // batch-identity).
    "m15_media_index_dedup" -> { (s, dir) =>
      val d = docs(s, dir)
      val refHashes = graft.operators.MediaDedup.frameHashes(
        graft.operators.Multimodal.gifVideosFromDocuments(
          d.filter(col("doc_id") % 5 === 0)))
      // the four band anti-joins each consume the index; materialize it once
      // (in production it's a parquet-loaded buildIndex artifact — the
      // reference media is decoded once EVER, not once per band)
      val index = graft.operators.MediaDedup.buildIndex(refHashes, "dhash")
        .transform(graft.sources.Caches.ephemeral)
      val dump = graft.operators.MediaDedup.frameHashes(
        graft.operators.Multimodal.gifVideosFromDocuments(
          d.filter(col("doc_id") % 5 =!= 0)))
      graft.operators.MediaDedup
        .dedupAgainstIndex(dump, index, "dhash", bands = 4, maxHamming = 3)
        .orderBy("doc_id", "dhash")
    })

  val oracles: Map[String, String] = Map(
    // both corpora's hashes replayed from the GIF generating formula (the
    // m11/m12 CTE: pixel gray = (7*doc_id + 31x + 13y + 97f) % 256,
    // geometry from doc_id — only a lossless real encode->decode->hash
    // matches), then the pure Hamming-3 anti-join: xor of the SIGNED
    // 64-bit hashes is bitwise-identical to the unsigned xor, so
    // bit_count(xor(...)) needs no HUGEINT detour
    "m15_media_index_dedup" ->
      """WITH g AS (SELECT doc_id, 8 + doc_id % 5 AS w, 8 + (doc_id * 3) % 5 AS h,
        |    2 + doc_id % 4 AS nfr FROM documents),
        |fi AS (SELECT doc_id, w, h, unnest(generate_series(0, nfr - 1)) AS f FROM g),
        |cyt AS (SELECT doc_id, w, h, f, unnest(generate_series(0, 7)) AS cy FROM fi),
        |bt AS (SELECT doc_id, f, cy, unnest(generate_series(0, 7)) AS cx, w, h FROM cyt),
        |bits AS (SELECT doc_id, f, cy, cx,
        |    CASE WHEN (7 * doc_id + 31 * (((cx + 1) * w) // 9) + 13 * ((cy * h) // 8) + 97 * f) % 256
        |            > (7 * doc_id + 31 * ((cx * w) // 9) + 13 * ((cy * h) // 8) + 97 * f) % 256
        |      THEN 1::HUGEINT ELSE 0::HUGEINT END AS bit FROM bt),
        |hraw AS (SELECT doc_id, f, sum(bit * (1::HUGEINT << (cy * 8 + cx))) AS hu
        |  FROM bits GROUP BY doc_id, f),
        |fr AS (SELECT DISTINCT doc_id, CAST(CASE WHEN hu >= 9223372036854775808::HUGEINT
        |    THEN hu - 18446744073709551616::HUGEINT ELSE hu END AS BIGINT) AS dhash FROM hraw),
        |idx AS (SELECT DISTINCT dhash FROM fr WHERE doc_id % 5 = 0),
        |dump AS (SELECT doc_id, dhash FROM fr WHERE doc_id % 5 <> 0)
        |SELECT d.doc_id, d.dhash FROM dump d
        |WHERE NOT EXISTS (SELECT 1 FROM idx i
        |                  WHERE bit_count(xor(d.dhash, i.dhash)) <= 3)
        |ORDER BY d.doc_id, d.dhash""".stripMargin)
}
