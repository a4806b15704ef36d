package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{MediaDedup, Multimodal}

/** The public media near-dup operator (the m05/m11/m12/m15 bindings):
  * shared-hash pairs, banded-Hamming pairs, the persistable hash index,
  * and the stream-static dedup twin's batch-identity.
  */
class MediaDedupSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def hashDf(rows: (Long, Long)*) = {
    val s = spark
    import s.implicits._
    rows.toDF("doc_id", "dhash")
  }

  test("sharedHashPairs pairs items on >= minShared valved hashes with containment score") {
    // docs 1 & 2 share hashes 10,11 (containment 2/2 = 1e6 against the
    // smaller item's 2 distinct hashes); hash 99 is ubiquitous (df 5 > dfMax
    // 4) so it creates no pairs; docs 3 & 4 share only one hash -> below
    // minShared
    val fr = hashDf(
      1L -> 10L, 1L -> 11L, 2L -> 10L, 2L -> 11L, 2L -> 12L,
      3L -> 20L, 4L -> 20L, 3L -> 21L, 4L -> 22L,
      1L -> 99L, 2L -> 99L, 3L -> 99L, 4L -> 99L, 5L -> 99L)
    val got = MediaDedup.sharedHashPairs(fr, "doc_id", "dhash",
      dfMin = 2, dfMax = 4, minShared = 2)
      .orderBy("a", "b").collect()
    assert(got.length == 1, got.mkString(","))
    assert(got(0).getLong(0) == 1L && got(0).getLong(1) == 2L)
    assert(got(0).getLong(2) == 2L) // shared
    assert(got(0).getLong(3) == 666666L) // floor(2e6 / min(3,3)) = 666666
  }

  test("bandedHammingPairs finds close pairs via band buckets and exact popcount verify") {
    // hA and hB differ in exactly 2 bits (both in band 0) -> bands 1..3
    // equal -> candidates, Hamming 2 <= 3; hC differs from hA in 20 bits
    // spread over all bands -> no equal band -> never a candidate
    val hA = 0x1111222233334444L
    val hB = hA ^ 0x3L // 2 low bits flipped
    val hC = hA ^ 0x00FF00FF00FF00FFL
    val fr = hashDf(1L -> hA, 2L -> hB, 3L -> hC)
    val got = MediaDedup.bandedHammingPairs(fr, "doc_id", "dhash",
      bands = 4, dfMin = 2, dfMax = 64, maxHamming = 3).collect()
    assert(got.length == 1, got.mkString(","))
    assert(got(0).getLong(0) == 1L && got(0).getLong(1) == 2L)
    assert(got(0).getLong(2) == 2L) // min_ham
  }

  test("frameHashes drops decoder poison rows before any join sees them") {
    val s = spark
    import s.implicits._
    val d = spark.range(3).toDF("doc_id")
    val good = Multimodal.gifVideosFromDocuments(d)
    val bad = Seq(Multimodal.MediaItem(99L, Array[Byte](1, 2, 3), "image/gif")).toDS()
    val fr = MediaDedup.frameHashes(good.union(bad))
    val ids = fr.select("doc_id").distinct().as[Long].collect().sorted
    assert(ids.toSeq == Seq(0L, 1L, 2L)) // 99's poison row filtered
    // raw decode DOES emit the poison row — the filter is what removes it
    val raw = Multimodal.videoFrameDHash(bad).collect()
    assert(raw.length == 1 && raw(0).frame_idx == -1L && raw(0).dhash == 0L)
  }

  test("dedupAgainstIndex at maxHamming <= bands-1 equals pure Hamming semantics (pigeonhole)") {
    val s = spark
    import s.implicits._
    val idx = MediaDedup.buildIndex(hashDf(
      100L -> 0x0123456789ABCDEFL, 101L -> 0x7777000011112222L), "dhash")
    // dump rows: exact hit, 3-bit hit (drop), 4-bit miss (survives at
    // maxHamming 3 even though bands match), far miss (survives)
    val dump = hashDf(
      1L -> 0x0123456789ABCDEFL,
      2L -> (0x0123456789ABCDEFL ^ 0x7L),
      3L -> (0x0123456789ABCDEFL ^ 0xFL),
      4L -> 0x5555AAAA5555AAAAL)
    val got = MediaDedup.dedupAgainstIndex(dump, idx, "dhash",
      bands = 4, maxHamming = 3)
      .select("doc_id").as[Long].collect().sorted
    assert(got.toSeq == Seq(3L, 4L), got.mkString(","))
    // brute-force cross-check: survivors are exactly the rows with no index
    // hash within Hamming 3 — the claim the banded plan must reproduce
    val idxHashes = idx.as[Long].collect()
    val brute = dump.as[(Long, Long)].collect().collect {
      case (id, h) if !idxHashes.exists(ih =>
        java.lang.Long.bitCount(h ^ ih) <= 3) => id
    }.sorted
    assert(got.toSeq == brute.toSeq)
  }

  test("appendToIndex folds survivors in; yesterday's admissions block today's dups") {
    val s = spark
    import s.implicits._
    val day0 = MediaDedup.buildIndex(hashDf(100L -> 0x1111222233334444L), "dhash")
    val day1 = hashDf(1L -> 0x1111222233334444L, 2L -> 0x5555666677778888L)
    val survivors = MediaDedup.dedupAgainstIndex(day1, day0, "dhash",
      bands = 4, maxHamming = 0)
    assert(survivors.select("doc_id").as[Long].collect().toSeq == Seq(2L))
    val day0plus = MediaDedup.appendToIndex(day0, survivors, "dhash")
    assert(day0plus.as[Long].collect().sorted.toSeq ==
      Seq(0x1111222233334444L, 0x5555666677778888L))
    // a day-2 re-submission of day-1's admitted hash is now a duplicate
    val day2 = hashDf(3L -> 0x5555666677778888L, 4L -> 0x0F0F0F0F0F0F0F0FL)
    val kept = MediaDedup.dedupAgainstIndex(day2, day0plus, "dhash",
      bands = 4, maxHamming = 0)
    assert(kept.select("doc_id").as[Long].collect().toSeq == Seq(4L))
  }

  test("stream-static mediaDedupAgainstIndex is batch-identical and stateless") {
    val s = spark
    import s.implicits._
    val idx = MediaDedup.buildIndex(hashDf(
      100L -> 0x0123456789ABCDEFL, 101L -> 0x7777000011112222L), "dhash")
    val rows = Seq(
      1L -> 0x0123456789ABCDEFL, // exact hit -> dropped
      2L -> (0x7777000011112222L ^ 0x30L), // 2 bits -> dropped
      3L -> (0x0123456789ABCDEFL ^ 0xFFL), // 8 bits > 3 -> survives
      4L -> 0x5555AAAA5555AAAAL) // far -> survives
    val batch = MediaDedup.dedupAgainstIndex(
      rows.toDF("doc_id", "dhash"), idx, "dhash", bands = 4, maxHamming = 3)
      .as[(Long, Long)].collect().sorted
    val ms = MemoryStream[(Long, Long)](spark)
    val q = MediaDedup.dedupAgainstIndex(
        ms.toDF().toDF("doc_id", "dhash"), idx, "dhash",
        bands = 4, maxHamming = 3)
      .writeStream.format("memory").queryName("media_dedup_out")
      .outputMode("append").start()
    try {
      ms.addData(rows.take(2): _*)
      q.processAllAvailable()
      ms.addData(rows.drop(2): _*)
      q.processAllAvailable()
      val streamed = spark.table("media_dedup_out")
        .as[(Long, Long)].collect().sorted
      assert(streamed.toSeq == batch.toSeq, streamed.mkString(","))
      assert(streamed.map(_._1).toSeq == Seq(3L, 4L))
      // stateless: no aggregation/dedup state operators in the plan
      assert(q.lastProgress == null ||
        q.lastProgress.stateOperators.isEmpty)
    } finally q.stop()
  }
}
