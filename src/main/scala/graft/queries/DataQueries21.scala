package graft.queries

import org.apache.spark.sql.functions._

/** Twenty-first wave — the r15 verdict's ordered follow-ups: media near-dup
  * candidates keyed by a REAL codec-derived perceptual hash (m11), which
  * retires the last multimodal test-double from the near-dup path.
  */
object DataQueries21 extends QueryModule {

  val queries: Map[String, Q] = Map[String, Q](
    // media near-dup where the candidate key is a REAL perceptual hash:
    // deterministic animated GIFs (the m10 fixtures) are decoded frame by
    // frame through javax.imageio and each frame reduced to a 64-bit dHash
    // over a 9x8 nearest-neighbor gray grid (Multimodal.videoFrameDHash) —
    // near-identical frames collapse to equal hashes, which is exactly the
    // bucket key m05's df-valved candidate join consumes. Shape is m05's
    // (the d81/d03 bucket-candidate discipline): valve the hash df (2..64 —
    // ubiquitous gradients never explode the join), pair media sharing
    // >= 2 frame hashes, score containment against the smaller item's
    // distinct-hash count. At 100 TB the join is priced on valved hash
    // buckets — never media x media — and the decode is one codec pass per
    // container. The decoded hash table feeds four consumers, so it is
    // materialized once (Caches.ephemeral; drained by the harness's
    // per-query release) instead of re-decoding every GIF per branch.
    "m11_video_neardup" -> { (s, dir) =>
      // thin binding of the public operators/MediaDedup API:
      // MediaDedup.frameHashes drops the decoder poison rows (frame_idx -1,
      // dhash 0 — undecodable payloads must surface in decode audits, never
      // blend into the candidate join as a shared fake hash), and
      // sharedHashPairs is the valve/pair/containment tail. The decoded
      // hash table feeds four consumers, so it is materialized once
      // (Caches.ephemeral; drained by the harness's per-query release)
      // instead of re-decoding every GIF per branch.
      val fr = graft.operators.MediaDedup.frameHashes(
        graft.operators.Multimodal.gifVideosFromDocuments(docs(s, dir)))
        .transform(graft.sources.Caches.ephemeral)
      graft.operators.MediaDedup
        .sharedHashPairs(fr, "doc_id", "dhash", dfMin = 2, dfMax = 64, minShared = 2)
        .orderBy("a", "b")
    },

    // banded HAMMING search over the perceptual hash — the d35/d48 SimHash
    // discipline applied to the media path: m11's exact-equal join only
    // finds identical frames, but near-identical frames (re-encodes, small
    // overlays) differ by a FEW dHash bits, so candidates come from
    // splitting each codec-derived 64-bit hash into 4 x 16-bit bands
    // (Hamming <= 3 guarantees one exact band by pigeonhole; <= 8 is
    // recall-best-effort, the production trade), df-valving each band
    // bucket (2..64 — structured gradients are the media twin of
    // ubiquitous shingles), pairing within buckets, and verifying EXACT
    // Hamming via one xor+popcount per candidate. At 100 TB the cost is
    // sum of valved bucket squares + one codegen'd popcount per candidate
    // — never media x media, and verification never touches pixels again.
    "m12_video_hamming" -> { (s, dir) =>
      // thin binding of MediaDedup.bandedHammingPairs (poison rows excluded
      // by frameHashes like m11: a shared dhash 0 from two corrupt payloads
      // must not manufacture a Hamming-0 "near-dup")
      val fr = graft.operators.MediaDedup.frameHashes(
        graft.operators.Multimodal.gifVideosFromDocuments(docs(s, dir)))
        .transform(graft.sources.Caches.ephemeral)
      graft.operators.MediaDedup
        .bandedHammingPairs(fr, "doc_id", "dhash",
          bands = 4, dfMin = 2, dfMax = 64, maxHamming = 8)
        .orderBy("a", "b")
    },

    // silence trim over a REAL audio decode — retires m06's stub-energy
    // stand-in the way m11/m12 retired the frame-hash one: speech-shaped
    // PCM16 WAVs (silent lead / loud middle / silent trail, all derived
    // from doc_id) are decoded by javax.sound.sampled and trimmed on exact
    // per-frame |s| sums; the oracle is the closed-form lead/trail
    // geometry, which only a lossless real decode can reproduce. One
    // decoder pass per clip, bounded per-item output — the m02/m08 seam.
    "m13_audio_trim_real" -> { (s, dir) =>
      graft.operators.Multimodal.audioTrimStats(
        graft.operators.Multimodal.wavSpeechFromDocuments(docs(s, dir)))
        .toDF()
        .orderBy("doc_id")
    },

    // per-shard media energy drift over the REAL decode — m07's audit
    // shape (d158's multimodal sibling) with the stub byte-sum energy
    // replaced by decoded pixel gray mass from the javax.imageio video
    // path: per arrival shard, gray energy per pixel as an exact-integer
    // ratio against the global mean (DECIMAL products — pixels x energy
    // crosses Long at corpus scale). One decode pass, a 4-row rollup, and
    // a one-row broadcast — the drift monitor costs nothing beyond the
    // decode a real pipeline already pays.
    "m14_mm_drift_real" -> { (s, dir) =>
      // poison rows (all -1) would add px=1 / gray=-1 to the drift sums —
      // corrupt payloads belong in a decode-failure audit, not the ratio
      val fs = graft.operators.Multimodal.videoFrameStats(
        graft.operators.Multimodal.gifVideosFromDocuments(docs(s, dir)),
        step = 1).toDF()
        .filter(col("frame_idx") >= 0)
      val sh = fs.select((col("doc_id") % 4).as("shard"),
          (col("width") * col("height")).as("px"), col("sum_gray"))
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_frames"), sum(col("px")).as("pixels"),
          sum(col("sum_gray")).as("gray"))
      val g = sh.agg(sum(col("pixels")).as("gp"), sum(col("gray")).as("gg"))
      sh.crossJoin(broadcast(g))
        .select(col("shard"), col("n_frames"), col("pixels"), col("gray"),
          expr("CAST(CAST(gray AS DECIMAL(38,0)) * gp * 1000000 DIV (CAST(pixels AS DECIMAL(38,0)) * gg) AS BIGINT)")
            .as("drift_q6"))
        .orderBy("shard")
    })

  val oracles: Map[String, String] = Map(
    // the oracle replays the dHash from the GIF generating formula (pixel
    // gray = (7*doc_id + 31x + 13y + 97f) % 256, geometry from doc_id —
    // only a lossless real encode->decode->hash matches it bit-for-bit),
    // then m05's valve/pair/containment tail over the hash key
    "m11_video_neardup" ->
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
        |nf AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nf FROM fr GROUP BY doc_id),
        |valve AS (SELECT dhash FROM (SELECT dhash, count(DISTINCT doc_id) AS df FROM fr GROUP BY dhash)
        |          WHERE df BETWEEN 2 AND 64),
        |fo AS (SELECT fr.doc_id, fr.dhash FROM fr JOIN valve USING (dhash)),
        |pairs AS (SELECT x.doc_id AS a, y.doc_id AS b, CAST(count(*) AS BIGINT) AS shared
        |          FROM fo x JOIN fo y ON x.dhash = y.dhash AND x.doc_id < y.doc_id
        |          GROUP BY 1, 2)
        |SELECT p.a, p.b, p.shared,
        |  CAST(floor(p.shared * 1000000.0 / least(na.nf, nb.nf)) AS BIGINT) AS overlap_q6
        |FROM pairs p JOIN nf na ON na.doc_id = p.a JOIN nf nb ON nb.doc_id = p.b
        |WHERE p.shared >= 2 ORDER BY p.a, p.b""".stripMargin,

    // same dHash replay from the generating formula, then the band/valve/
    // pair/popcount tail; bands extract from the UNSIGNED hu so the sign
    // bit lands in band 3 exactly like Spark's shiftrightunsigned
    "m12_video_hamming" ->
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
        |fr AS (SELECT DISTINCT doc_id, hu, CAST(CASE WHEN hu >= 9223372036854775808::HUGEINT
        |    THEN hu - 18446744073709551616::HUGEINT ELSE hu END AS BIGINT) AS dhash FROM hraw),
        |bands AS (SELECT doc_id, dhash, bnd, CAST((hu >> (16 * bnd)) & 65535 AS BIGINT) AS bv
        |  FROM fr, (SELECT unnest(generate_series(0, 3)) AS bnd)),
        |valve AS (SELECT bnd, bv FROM (SELECT bnd, bv, count(DISTINCT doc_id) AS df
        |  FROM bands GROUP BY bnd, bv) WHERE df BETWEEN 2 AND 64),
        |bo AS (SELECT bands.doc_id, bands.dhash, bands.bnd, bands.bv
        |  FROM bands JOIN valve USING (bnd, bv)),
        |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b2, x.dhash AS ha, y.dhash AS hb
        |  FROM bo x JOIN bo y ON x.bnd = y.bnd AND x.bv = y.bv AND x.doc_id < y.doc_id),
        |ver AS (SELECT a, b2, bit_count(xor(ha, hb)) AS ham FROM cand)
        |SELECT a, b2 AS b, CAST(min(ham) AS BIGINT) AS min_ham, CAST(count(*) AS BIGINT) AS n_close
        |FROM ver WHERE ham <= 8 GROUP BY a, b2 ORDER BY a, b""".stripMargin,

    // the fixture's lead/loud/trail geometry in closed form: silent frames
    // are exactly the lead = id%4 and trail = (id//4)%4 (|s| <= 32 < the
    // 1000 threshold; loud frames sum >= 8*8192)
    "m13_audio_trim_real" ->
      """SELECT doc_id,
        |  CAST(12 + doc_id % 8 AS BIGINT) AS n_frames,
        |  CAST((doc_id % 4) + ((doc_id // 4) % 4) AS BIGINT) AS n_silent,
        |  CAST(doc_id % 4 AS BIGINT) AS first_keep,
        |  CAST(12 + doc_id % 8 - 1 - ((doc_id // 4) % 4) AS BIGINT) AS last_keep,
        |  CAST(12 + doc_id % 8 - (doc_id % 4) - ((doc_id // 4) % 4) AS BIGINT) AS kept_frames
        |FROM documents ORDER BY doc_id""".stripMargin,

    // per-frame gray mass replayed from the m10 generating formula, then
    // the shard rollup + global-ratio tail in exact integer arithmetic
    "m14_mm_drift_real" ->
      """WITH g AS (SELECT doc_id, 8 + doc_id % 5 AS w, 8 + (doc_id * 3) % 5 AS h,
        |    2 + doc_id % 4 AS nfr FROM documents),
        |fr AS (SELECT doc_id, w, h, unnest(generate_series(0, nfr - 1)) AS f FROM g),
        |xs AS (SELECT doc_id, w, h, f, unnest(generate_series(0, w - 1)) AS x FROM fr),
        |ys AS (SELECT doc_id, w, h, f, x, unnest(generate_series(0, h - 1)) AS y FROM xs),
        |px AS (SELECT doc_id, f, w, h,
        |    (7 * doc_id + 31 * x + 13 * y + 97 * f) % 256 AS gray FROM ys),
        |fstats AS (SELECT doc_id, f, CAST(max(w) * max(h) AS BIGINT) AS px,
        |    CAST(sum(gray) AS BIGINT) AS sg FROM px GROUP BY doc_id, f),
        |sh AS (SELECT doc_id % 4 AS shard, CAST(count(*) AS BIGINT) AS n_frames,
        |    CAST(sum(px) AS BIGINT) AS pixels, CAST(sum(sg) AS BIGINT) AS gray
        |  FROM fstats GROUP BY 1),
        |gtot AS (SELECT sum(pixels) AS gp, sum(gray) AS gg FROM sh)
        |SELECT shard, n_frames, pixels, gray,
        |  CAST(CAST(gray AS HUGEINT) * gp * 1000000 // (CAST(pixels AS HUGEINT) * gg) AS BIGINT) AS drift_q6
        |FROM sh, gtot ORDER BY shard""".stripMargin)
}
