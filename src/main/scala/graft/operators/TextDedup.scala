package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Public, table-agnostic text-deduplication API — the same verified shapes
  * the d01/d02/d15/d17 queries run on the `documents` table, usable on ANY
  * DataFrame with an id and a text column. Everything here is 100 TB-shaped:
  * candidate generation is a bucket-shuffle pair expansion (no self-joins,
  * no corpus-sized broadcasts), clustering shuffles on node id, and the
  * final apply is a shuffle anti-join.
  */
object TextDedup {

  /** Per-seed odd multipliers / offsets for the linear minhash family
    * (golden-ratio multiples — any fixed odd constants work).
    */
  private val A: Array[Long] = Array.tabulate(16)(i => 0x9E3779B97F4A7C15L * (2L * i + 1L))
  private val B: Array[Long] = Array.tabulate(16)(i => 0xC2B2AE3D27D4EB4FL * (i + 1L))

  /** Unique suffix for the bloom pre-filter's transient temp views. */
  private val BloomViewSeq = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Serializes register -> analyze -> unregister so concurrent dedup calls
    * never see the temp functions vanish mid-analysis.
    */
  private val BloomLock = new Object

  /** Spark ships BloomFilterAggregate / BloomFilterMightContain as internal
    * (unregistered) Catalyst expressions for its runtime-filter rule; expose
    * them to this session under graft names so the bloom pre-filter stays an
    * in-plan distributed aggregate (never a driver-side sketch round-trip).
    *
    * The constructors are NOT a stable API across Spark versions, so the
    * binding is probed eagerly here: on a Spark where the shapes moved this
    * throws one clear "bloom pre-filter unavailable" error (callers pass
    * `bloomItems = 0` to run without the pre-filter) instead of an obscure
    * analysis-time MatchError. The functions are registered only for the
    * duration of plan analysis — [[dedupAgainst]] unregisters them before
    * returning (Datasets analyze eagerly; execution reads the resolved
    * plan, not the registry), so nothing session-global leaks.
    */
  private def registerBloom(spark: SparkSession): Unit = {
    try {
      val probe = org.apache.spark.sql.catalyst.expressions.Literal(1L)
      new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(probe, probe)
      org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(probe, probe)
      ()
    } catch {
      case e: Throwable =>
        throw new IllegalStateException(
          "bloom pre-filter unavailable: this Spark version's internal " +
            "BloomFilterAggregate/BloomFilterMightContain shapes are " +
            "incompatible; call dedupAgainst with bloomItems = 0 to run " +
            "without the pre-filter (identical results)", e)
    }
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction("graft_bloom_agg",
      { case Seq(c, n) =>
        new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(c, n)
      }, "scala_udf")
    reg.createOrReplaceTempFunction("graft_might_contain",
      { case Seq(b, v) =>
        org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(b, v)
      }, "scala_udf")
  }

  private def unregisterBloom(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    Seq("graft_bloom_agg", "graft_might_contain").foreach { n =>
      reg.dropFunction(org.apache.spark.sql.catalyst.FunctionIdentifier(n))
    }
  }

  /** Expand a sorted id array into (a, b), a &lt; b combinations. */
  private def pairExpand(ids: Column): Column =
    explode(flatten(transform(ids, (x, i) =>
      transform(slice(ids, i + 2, size(ids)), y => struct(x.as("a"), y.as("b"))))))

  /** MinHash-LSH near-duplicate candidate pairs over `(idCol, textCol)`:
    * word-shingle kernel -> 16 minhashes in one aggregation pass ->
    * `bands` bucket keys (xxhash64 of the band's minhash slice) ->
    * bucket-grouped pair expansion. Returns `(a, b)` with `a < b`.
    *
    * @param bands number of LSH bands; 16 % bands must be 0
    * @param maxBucket skew valve: buckets larger than this are dropped
    *                  (boilerplate-heavy corpora concentrate signatures; a
    *                  bucket of size k emits k(k-1)/2 pairs). 0 = no cap.
    */
  /** `(__id, bk)` — one 8-byte xxhash64 band-bucket key per (doc, band),
    * from the 16-minhash signature computed in one aggregation pass.
    */
  /** The 16-minhash signature table `(__id, m0..m15)` — ONE aggregation
    * pass (16 mins over a single 64-bit mix per shingle; shuffle volume is
    * |shingles|, never 16×). Public so estimate-fidelity audits (d62) can
    * compare signature agreement against exact Jaccard on the same values
    * the candidate generation banded.
    */
  def minhashSignatures(docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3): DataFrame = {
    val sh = docs.select(col(idCol).as("__id"),
      explode(graft.functions.prom.shingle_g(col(textCol), shingleN)).as("g"))
    val minhashes = (0 until 16)
      .map(i => min(graft.functions.prom.mix64(col("g"), A(i), B(i))).as(s"m$i"))
    sh.groupBy("__id").agg(minhashes.head, minhashes.tail: _*)
  }

  private def bandBuckets(docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int, bands: Int): DataFrame = {
    require(bands > 0 && 16 % bands == 0, s"bands must divide 16, got $bands")
    val rows = 16 / bands
    val sig = minhashSignatures(docs, idCol, textCol, shingleN)
    sig.select(col("__id"), explode(array(
      (0 until bands).map { b =>
        xxhash64(lit(b) +: (0 until rows).map(r => col(s"m${rows * b + r}")): _*)
      }: _*)).as("bk"))
  }

  /** Per-ROW band bucket keys: the same 16-minhash / banded-xxhash64 values
    * [[bandBuckets]] computes with an aggregation, derived narrowly from one
    * row's shingle array (`array_min` over the codegen'd mix instead of a
    * grouped `min`). Value-identical to the batch path — that parity is what
    * lets a STREAM join against batch-built reference buckets — but O(16 ×
    * shingles) per row with zero shuffle, which is the right trade on a
    * stream (and the wrong one on a 100 TB batch corpus, where the grouped
    * form keeps shuffle volume at |shingles|). Empty-shingle docs (fewer
    * than `shingleN` words) get an empty array — they never band-match,
    * matching the batch semantics where they emit no signature rows.
    */
  def rowBandBuckets(text: Column, shingleN: Int = 3, bands: Int = 4): Column = {
    require(bands > 0 && 16 % bands == 0, s"bands must divide 16, got $bands")
    val rows = 16 / bands
    val sh = graft.functions.prom.shingle_g(text, shingleN)
    val mins = (0 until 16).map(i =>
      array_min(transform(sh, g => graft.functions.prom.mix64(g, A(i), B(i)))))
    val bks = (0 until bands).map { b =>
      xxhash64(lit(b) +: (0 until rows).map(r => mins(rows * b + r)): _*)
    }
    when(size(sh) > 0, array(bks: _*))
      .otherwise(array().cast("array<bigint>"))
  }

  /** Streaming twin of [[dedupAgainst]]: dedupe a STREAM of new documents
    * against a STATIC reference corpus. Same decisions — drop on an exact
    * content-hash match or on sharing any LSH band bucket with a reference
    * doc — expressed as stream-static LEFT ANTI equi-joins (one per band
    * plus one for the hash), which Structured Streaming supports stateless:
    * no watermark, no stream state, and replays keep identical rows because
    * every decision is a pure function of (row, static reference). Band
    * keys come from [[rowBandBuckets]], so they equal the batch signature
    * values; the reference side is touched once per band, exactly like the
    * batch path. Also callable on a batch frame (result equals
    * [[dedupAgainst]]).
    */
  def dedupAgainstStream(docs: DataFrame, reference: DataFrame,
      idCol: String, textCol: String, shingleN: Int = 3,
      bands: Int = 4): DataFrame = {
    val refHashes = reference.select(md5(col(textCol)).as("__h")).distinct()
    val refBuckets = bandBuckets(reference, idCol, textCol, shingleN, bands)
      .select(col("bk")).distinct()
    streamAntiJoins(docs, refHashes, refBuckets, textCol, shingleN, bands)
  }

  private def streamAntiJoins(docs: DataFrame, refHashes: DataFrame,
      refBuckets: DataFrame, textCol: String, shingleN: Int,
      bands: Int): DataFrame = {
    val withBk = docs.withColumn("__bks",
      rowBandBuckets(col(textCol), shingleN, bands))
    val noNear = (0 until bands).foldLeft(withBk) { (df, b) =>
      // get() is 0-based and null-safe on the empty array; a null join key
      // never equals, so empty-shingle docs pass every band anti-join
      df.withColumn(s"__bk$b", get(col("__bks"), lit(b)))
        .join(refBuckets.withColumnRenamed("bk", s"__bk$b"),
          Seq(s"__bk$b"), "left_anti")
        .drop(s"__bk$b")
    }.drop("__bks")
    noNear.withColumn("__h", md5(col(textCol)))
      .join(refHashes, Seq("__h"), "left_anti")
      .drop("__h")
  }

  /** Persistable dedup index of a reference corpus: `(kind, key)` rows —
    * kind "hash" carries the md5 content hash, kind "band" a band-bucket
    * key rendered as a string. Build ONCE per reference corpus, write to
    * parquet, and feed [[dedupAgainstIndex]] / [[dedupAgainstIndexStream]]
    * for every subsequent dump: the reference corpus is scanned once EVER
    * instead of once per dump — at 100 TB that re-scan dominates
    * [[dedupAgainst]]'s cost, and the index is |distinct hashes| +
    * |distinct buckets| rows regardless of corpus size. Build and query
    * must agree on (shingleN, bands) — they are not recorded in the rows.
    */
  def buildIndex(reference: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, bands: Int = 4, winnowGramN: Int = 0,
      winnowWindow: Int = 4): DataFrame = {
    val base = reference
      .select(lit("hash").as("kind"), md5(col(textCol)).as("key"))
      .distinct()
      .unionAll(bandBuckets(reference, idCol, textCol, shingleN, bands)
        .select(lit("band").as("kind"), col("bk").cast("string").as("key"))
        .distinct())
    // winnowGramN > 0 adds the position-aware sketch: distinct winnowing
    // fingerprint hashes ([[winnowFingerprints]]), ~2/(winnowWindow+1) of
    // the reference's gram inventory — the kind that catches a CONTAINED
    // excerpt (the d63 case), which whole-doc hashes and minhash bands
    // miss when the host document is much larger than the shared span.
    // Build and query must agree on (winnowGramN, winnowWindow), like
    // (shingleN, bands) — none are recorded in the rows.
    if (winnowGramN <= 0) base
    else base.unionAll(
      winnowFingerprints(reference, idCol, textCol, winnowGramN, winnowWindow)
        .select(lit("winnow").as("kind"), col("g").cast("string").as("key"))
        .distinct())
  }

  /** Incremental index maintenance — the day-over-day ingestion loop:
    * fold a new batch's keys (typically the SURVIVORS of
    * [[dedupAgainstIndex]] against the current index) into the index, so
    * tomorrow's dump dedupes against reference + everything admitted so
    * far. The reference corpus is still scanned once EVER; each day adds
    * only its own batch's scan. Same (kind, key) schema, deduplicated, so
    * the index stays |distinct keys| at any history length. Must be
    * called with the same (shingleN, bands, winnow*) settings as the
    * original build — like build/query agreement, they are not recorded
    * in the rows.
    */
  def appendToIndex(index: DataFrame, newDocs: DataFrame, idCol: String,
      textCol: String, shingleN: Int = 3, bands: Int = 4,
      winnowGramN: Int = 0, winnowWindow: Int = 4): DataFrame =
    index.unionAll(buildIndex(newDocs, idCol, textCol, shingleN, bands,
      winnowGramN, winnowWindow)).distinct()

  /** [[dedupAgainst]] against a prebuilt (typically parquet-loaded)
    * [[buildIndex]] result instead of the raw reference corpus: drop dump
    * rows whose content hash or any band bucket hits the index. Batch
    * shape — grouped signatures, shuffle volume |shingles|; decisions are
    * identical to [[dedupAgainst]] with the corpus the index was built
    * from.
    */
  def dedupAgainstIndex(docs: DataFrame, index: DataFrame, idCol: String,
      textCol: String, shingleN: Int = 3, bands: Int = 4,
      winnowGramN: Int = 0, winnowWindow: Int = 4,
      winnowMinShared: Int = 2): DataFrame = {
    val refHashes = index.filter(col("kind") === "hash")
      .select(col("key").as("__h"))
    val refBuckets = index.filter(col("kind") === "band")
      .select(col("key").cast("long").as("bk"))
    val nearDropIds = bandBuckets(docs, idCol, textCol, shingleN, bands)
      .join(refBuckets, Seq("bk"), "left_semi")
      .select(col("__id").as(idCol)).distinct()
    val base = docs.withColumn("__h", md5(col(textCol)))
      .join(refHashes, Seq("__h"), "left_anti").drop("__h")
      .join(nearDropIds, Seq(idCol), "left_anti")
    // containment pass (index built with winnowGramN > 0): drop a doc when
    // >= winnowMinShared of its DISTINCT winnowed gram hashes hit the
    // index — the MOSS guarantee in cross-corpus form: a contained run of
    // winnowMinShared disjoint (winnowWindow + winnowGramN - 1)-word spans
    // always trips it. Priced on the dump's sketch (~2/(window+1) of its
    // grams) against |index winnow keys|; an equi-join, never a broadcast
    // of either corpus.
    if (winnowGramN <= 0) base
    else {
      val refWinnow = index.filter(col("kind") === "winnow")
        .select(col("key").cast("long").as("g"))
      val containedIds =
        winnowFingerprints(docs, idCol, textCol, winnowGramN, winnowWindow)
          .select(col(idCol).as("__wid"), col("g")).distinct()
          .join(refWinnow, Seq("g"), "left_semi")
          .groupBy(col("__wid")).agg(count(lit(1)).as("__shared"))
          .filter(col("__shared") >= winnowMinShared)
          .select(col("__wid").as(idCol))
      base.join(containedIds, Seq(idCol), "left_anti")
    }
  }

  /** Streaming twin of [[dedupAgainstIndex]]: the [[dedupAgainstStream]]
    * stateless stream-static anti-joins, but fed from the saved index —
    * an offline-built reference index dedupes a live dump stream with
    * batch-identical decisions and no reference corpus in sight.
    */
  def dedupAgainstIndexStream(docs: DataFrame, index: DataFrame,
      textCol: String, shingleN: Int = 3, bands: Int = 4): DataFrame =
    streamAntiJoins(docs,
      index.filter(col("kind") === "hash").select(col("key").as("__h")),
      index.filter(col("kind") === "band").select(col("key").cast("long").as("bk")),
      textCol, shingleN, bands)

  /** C4-style line-level dedup (Raffel et al. 2020, §2.2: "removed any line
    * that appeared more than once" keeping one occurrence, "discarded any
    * page with fewer than 3 sentences"): split `textCol` on the literal
    * `delim`, keep each distinct line only at its globally smallest
    * (id, position) occurrence — the deterministic stand-in for C4's
    * keep-first-occurrence rule — and drop documents left with fewer than
    * `minLines` surviving lines. Returns `(idCol, n_lines, n_kept,
    * textCol)` with the survivors re-joined in original order.
    *
    * Scale shape: lines explode linearly; the keeper election is ONE
    * two-phase `min(struct(id, pos))` rollup keyed by the line's 60-bit
    * md5-prefix hash (8-byte shuffle keys — line strings cross the shuffle
    * once, joined back by hash); reassembly sorts only each doc's
    * survivors. Nothing is all-pairs, nothing broadcasts, no window spans
    * the corpus.
    */
  def lineDedup(docs: DataFrame, idCol: String, textCol: String,
      delim: String = "\n", minLines: Int = 3): DataFrame = {
    val lines = docs.select(col(idCol).as("__id"),
        posexplode(split(col(textCol),
          java.util.regex.Pattern.quote(delim))).as(Seq("__p", "__line")))
      .filter(length(trim(col("__line"))) > 0)
      .withColumn("__h",
        conv(substring(md5(col("__line")), 1, 15), 16, 10).cast("long"))
    // the keeper election CARRIES the line string through the min-struct
    // (r22, guide §2.4 "remove shuffles outright"): (__id, __p) is unique
    // per line row, so min(struct(id, p, line)) picks exactly the row the
    // old rejoin-and-filter re-identified — same keeper, same line text,
    // even under 60-bit hash collisions (the argmin row's OWN string rides
    // along). This deletes the lines-side exchange + join the old
    // `lines JOIN keeper ON __h` shape paid, and cuts `lines` from three
    // consumers to two (keeper rollup, per-doc totals).
    val keeper = lines.groupBy(col("__h"))
      .agg(min(struct(col("__id").as("id"), col("__p").as("p"),
        col("__line").as("line"))).as("__k"))
    val kept = keeper.select(col("__k.id").as("__id"), col("__k.p").as("__p"),
      col("__k.line").as("__line"))
    val tot = lines.groupBy(col("__id")).agg(count(lit(1)).as("n_lines"))
    kept.groupBy(col("__id"))
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(struct(col("__p"), col("__line")))),
          x => x.getField("__line")), delim).as("__text"))
      .join(tot, Seq("__id"))
      .filter(col("n_kept") >= minLines)
      .select(col("__id").as(idCol), col("n_lines"), col("n_kept"),
        col("__text").as(textCol))
  }

  /** Aligned shared-run estimation over winnowed sketches — the substring
    * forensics read (Lee et al., "Deduplicating Training Data Makes
    * Language Models Better"): for every candidate pair, fingerprints
    * shared at a CONSTANT position offset (pa - pb) witness one aligned
    * run, so the best offset group's position span estimates the longest
    * shared token run — without ever comparing the texts.
    *
    * Returns `(a, b, shared, est_run, n_aligned)` for pairs sharing >=
    * `minShared` distinct fingerprint hashes: `est_run` = the best
    * aligned group's gram-start span + gramN (a lower-bound estimate of
    * the run's token length), `n_aligned` its fingerprint count.
    *
    * Scale shape: the pair expansion joins fingerprint positions on the
    * hash with the same df valve as [[winnowCandidates]] (2 <= df <=
    * `maxBucket` docs), so ubiquitous spans never explode; everything
    * after is two partial-aggregatable rollups keyed by (a, b[, offset]).
    */
  def winnowAlignedRuns(docs: DataFrame, idCol: String, textCol: String,
      gramN: Int = 3, window: Int = 4, minShared: Int = 2,
      maxBucket: Int = 16): DataFrame =
    winnowAlignedRunsFrom(
      winnowFingerprints(docs, idCol, textCol, gramN, window),
      idCol, gramN, minShared, maxBucket)

  /** [[winnowAlignedRuns]] over a precomputed [[winnowFingerprints]]
    * result (same sharing rationale as [[winnowCandidatesFrom]]); `gramN`
    * must match the sketch's.
    */
  def winnowAlignedRunsFrom(fingerprints: DataFrame, idCol: String,
      gramN: Int = 3, minShared: Int = 2, maxBucket: Int = 16): DataFrame = {
    // (r22 note: persisting fp AND the valved f — the sketch appears four
    // times in the static plan (df valve + join side, then x/y self-join
    // sides) — was tried and REJECTED on cold measurement: d190 5.19 →
    // 5.58 s, d84 2.00 → 2.17 s min-of-3-cold, same host back-to-back.
    // Runtime exchange reuse already dedups the sketch's shuffles, so the
    // two columnar cache builds were pure overhead.)
    val fp = fingerprints
      .select(col(idCol).as("__id"), col("pos"), col("g"))
    val okDf = fp.select(col("__id"), col("g")).distinct()
      .groupBy(col("g")).agg(count(lit(1)).as("__df"))
      .filter(col("__df") >= 2 &&
        (if (maxBucket > 0) col("__df") <= maxBucket else lit(true)))
      .select(col("g"))
    val f = fp.join(okDf, Seq("g"))
    // the valved position-pair frame feeds TWO rollups (byOffset and
    // shared) — persist it or the fingerprint self-join executes twice
    // (r21, guide §2.4: the exchanges were already reused, but the join
    // itself re-ran per consumer); the frame is candidate-priced
    // (df-valved: <= maxBucket^2 rows per gram), never corpus-sized
    val pr = f.as("x").join(f.as("y"),
        col("x.g") === col("y.g") && col("x.__id") < col("y.__id"))
      .select(col("x.__id").as("a"), col("y.__id").as("b"),
        col("x.pos").as("pa"), col("y.pos").as("pb"), col("x.g").as("g"))
      .transform(graft.sources.Caches.ephemeral)
    val byOffset = pr
      .groupBy(col("a"), col("b"), (col("pa") - col("pb")).as("__diff"))
      .agg(count(lit(1)).as("n_aligned"),
        (max(col("pa")) - min(col("pa")) + lit(gramN)).cast("long").as("est_run"))
    val shared = pr.groupBy(col("a"), col("b"))
      .agg(countDistinct(col("g")).as("shared"))
    byOffset.groupBy(col("a"), col("b"))
      .agg(max(struct(col("est_run"), col("n_aligned"))).as("__best"))
      .join(shared, Seq("a", "b"))
      .filter(col("shared") >= minShared)
      .select(col("a"), col("b"), col("shared"),
        col("__best.est_run").as("est_run"),
        col("__best.n_aligned").as("n_aligned"))
  }

  /** Exact longest duplicated token run per candidate pair — the forensics
    * step that closes [[winnowAlignedRuns]]'s estimate-vs-exact loop the
    * way the Jaccard verifiers close LSH's: `pairs` (any frame with `a`,
    * `b` doc ids, e.g. the d84 output) is joined to both docs'
    * POSITIONAL gram-hash streams (the same 60-bit `ngram_g` kernel the
    * winnow sketch hashes), gram-equal positions become diagonal matches
    * (diff = pos_a - pos_b), and the longest CONSECUTIVE stretch on any
    * diagonal plus gramN-1 is by definition the longest common token
    * substring — overlapping consecutive grams force every token between
    * them to match, so the gram formulation is EXACT for any run >=
    * gramN, computed with the gaps-and-islands trick (group = pos -
    * rank), never a quadratic DP. Returns `pairs`'s columns plus
    * `exact_run` (0 when the docs share no gram — i.e. every common run
    * is shorter than gramN, below the operator's stated resolution;
    * exactness rides on the same 60-bit hash collisions the whole winnow
    * family accepts). `pairs` should be unique per (a, b) — a duplicate
    * pair row returns duplicated result rows (the rejoin is on (a, b)).
    *
    * Why this exists: the winnow estimate can OVERSHOOT (its span bridges
    * same-offset gaps — two separate runs at one alignment read as one)
    * and UNDERSHOOT (winnowing selects no fingerprint in a run's first or
    * last window when neighbouring hashes are smaller), so neither
    * direction is a safe bound; the only spec-pinnable guarantee is
    * `exact_run >= gramN` for every flagged pair (each shared fingerprint
    * witnesses one gramN-token match).
    *
    * Scale shape: the gram tables are semi-joined down to the FLAGGED
    * docs before anything widens, the match join is an equi-join on
    * (pair doc, gram hash) — grams are near-unique within a doc, so the
    * fan-out is ~|shared grams| per pair where a single-TOKEN join would
    * pay cnt_a(w)*cnt_b(w) on every stopword (measured 5x slower at
    * sf0.1) — and the islands window partitions by (pair, diagonal):
    * cost is |pairs| x gram-matches (the d32/d65 verify discipline,
    * priced on candidates, never corpus^2).
    */
  def exactAlignedRuns(docs: DataFrame, idCol: String, textCol: String,
      pairs: DataFrame, gramN: Int = 3): DataFrame = {
    require(gramN >= 1, s"gramN must be positive, got $gramN")
    // the pair frame feeds THREE consumers (the id semi-join, the match
    // join, the final rejoin) and is typically itself an expensive
    // candidate computation (d190 passes the d84 corpus self-join) —
    // cache it or it re-runs per consumer (measured 2.5x the query cost)
    val p = graft.sources.Caches.ephemeral(pairs)
    val ids = p.select(col("a").as("__id"))
      .union(p.select(col("b").as("__id"))).distinct()
    // (r21 note: persisting this positional gram stream for the two match
    // sides was measured SLOWER at sf0.1 (3.64s vs 2.30s) — the cache
    // write breaks whole-stage pipelining into the match join while the
    // recompute is one cheap scan+kernel; left unpersisted deliberately.)
    val gr = docs
      .join(broadcast(ids), col(idCol) === col("__id"), "left_semi")
      .select(col(idCol).as("__id"),
        posexplode(graft.functions.prom.ngram_g(col(textCol), gramN))
          .as(Seq("__p", "__h")))
    val ga = gr.select(col("__id").as("a"), col("__p").as("__pa"), col("__h"))
    val gb = gr.select(col("__id").as("b"), col("__p").as("__pb"), col("__h"))
    // no broadcast hint on the pair list: d190 slowed down when one was
    // forced here, and without it d190 measured no slower (cold, sf0.1, 4
    // cores); the planner's size threshold decides
    val m = p.select(col("a"), col("b"))
      .join(ga, Seq("a"))
      .join(gb, Seq("b", "__h"))
      .select(col("a"), col("b"), col("__pa"), col("__pb"))
    val diag = Window.partitionBy(col("a"), col("b"), col("__diff"))
      .orderBy(col("__pa"))
    val runs = m.withColumn("__diff", col("__pa") - col("__pb"))
      .withColumn("__grp", col("__pa") - row_number().over(diag))
      .groupBy(col("a"), col("b"), col("__diff"), col("__grp"))
      .agg(count(lit(1)).as("__run"))
      .groupBy(col("a"), col("b"))
      .agg((max(col("__run")) + lit(gramN - 1)).cast("long").as("exact_run"))
    // runs is one row per flagged pair — broadcast it so the cached pair
    // frame is re-read in place instead of exchanged for an SMJ
    p.join(broadcast(runs), Seq("a", "b"), "left")
      .withColumn("exact_run", coalesce(col("exact_run"), lit(0L)))
  }

  def minhashCandidates(docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, bands: Int = 4, maxBucket: Int = 0): DataFrame =
    minhashCandidatesFromSignatures(
      minhashSignatures(docs, idCol, textCol, shingleN), bands, maxBucket)

  /** [[minhashCandidates]] over a PRECOMPUTED (typically persisted/shared)
    * [[minhashSignatures]] result — a band-config sweep (d104) bands the
    * same signature table several ways, so the signature pass (the
    * dominant cost: scan + shingle kernel + 16-min aggregation) should run
    * once and be reused.
    */
  def minhashCandidatesFromSignatures(sig: DataFrame, bands: Int = 4,
      maxBucket: Int = 0): DataFrame = {
    require(bands > 0 && 16 % bands == 0, s"bands must divide 16, got $bands")
    val rows = 16 / bands
    val buckets = sig.select(col("__id"), explode(array(
      (0 until bands).map { b =>
        xxhash64(lit(b) +: (0 until rows).map(r => col(s"m${rows * b + r}")): _*)
      }: _*)).as("bk"))
    val grouped = buckets.groupBy(col("bk"))
      .agg(sort_array(collect_list(col("__id"))).as("ids"))
      .filter(size(col("ids")) >= 2)
    val capped =
      if (maxBucket > 0) grouped.filter(size(col("ids")) <= maxBucket) else grouped
    capped
      .select(pairExpand(col("ids")).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .distinct()
  }

  /** Cluster candidate pairs into near-duplicate groups: `(id, cluster)`
    * where cluster = min reachable id (the canonical representative).
    * LSH candidate graphs are near-cliques, so min-label propagation
    * converges in O(1) rounds; pass `useAlternatingStar = true` for
    * general graphs with long chains (O(log n) rounds).
    */
  def clusters(candidates: DataFrame,
      useAlternatingStar: Boolean = false,
      // lineage-truncation seam: within-query callers keep the default
      // (blocks drained by Caches.release once the query is consumed);
      // callers that MEMOIZE the result across queries must pass a plain
      // `_.localCheckpoint()` so release can never drop blocks their
      // memoized frame still depends on (the dedupClusters contract)
      checkpoint: DataFrame => DataFrame = graft.sources.Caches.checkpointed)
      : DataFrame = {
    val edges = candidates.select(col("a").as("u"), col("b").as("v"))
    if (useAlternatingStar) {
      // the seam threads through BOTH branches: a memoizing caller that
      // flips useAlternatingStar must still get release-proof truncation
      val (assign, _) = ConnectedComponents.alternatingStar(edges, checkpoint)
      assign.select(col("node").as("id"), col("component").as("cluster"))
    } else {
      val sym = edges.unionAll(candidates.select(col("b").as("u"), col("a").as("v")))
        .transform(checkpoint)
      val sumOf = (df: DataFrame) => df.agg(sum(col("l"))).first().getLong(0)
      var labels = sym.select(col("u").as("n")).distinct()
        .withColumn("l", col("n")).cache()
      var prevSum = if (labels.isEmpty) 0L else sumOf(labels)
      var converged = labels.isEmpty
      while (!converged) {
        val prop = labels.join(sym, col("n") === col("u"))
          .select(col("v").as("n"), col("l"))
          .unionAll(labels)
          .groupBy("n").agg(min(col("l")).as("l"))
          .cache()
        val curSum = sumOf(prop)
        converged = curSum == prevSum
        labels.unpersist(blocking = false)
        labels = prop
        prevSum = curSum
      }
      labels.select(col("n").as("id"), col("l").as("cluster"))
    }
  }

  /** Cross-shard dedup — the incremental-pipeline stage that dedupes a NEW
    * dump against an EXISTING reference corpus: drop new docs whose content
    * hash already exists in the reference (exact) or that share any LSH
    * band bucket with a reference doc (near-dup candidates — verify
    * downstream if precision matters). Both decisions are hash semi/anti
    * joins; nothing is broadcast by force, nothing quadratic exists, and
    * the reference side is touched once per band.
    *
    * `bloomItems > 0` adds a bloom pre-filter: one `bloom_filter_agg` over
    * the reference hashes and one over its band buckets (fixed-size
    * summaries of the unbounded reference — broadcastable by construction),
    * and only the new-dump rows the blooms flag as probable hits enter the
    * semi-joins. Bloom filters have no false negatives, so the result is
    * IDENTICAL for any size; false positives just take the exact join. At
    * 100 TB with a low cross-dump dup rate this cuts the join shuffle from
    * |dump| to ~|actual dups|. Size `bloomItems` to the expected distinct
    * reference hashes (1% FPP at the default bits-per-item).
    */
  def dedupAgainst(docs: DataFrame, reference: DataFrame,
      idCol: String, textCol: String, shingleN: Int = 3, bands: Int = 4,
      bloomItems: Long = 0L): DataFrame = {
    val refHashes = reference.select(md5(col(textCol)).as("__h")).distinct()
    if (bloomItems <= 0L) {
      val nearDropIds = bandBuckets(docs, idCol, textCol, shingleN, bands)
        .join(bandBuckets(reference, idCol, textCol, shingleN, bands)
          .select(col("bk")), Seq("bk"), "left_semi")
        .select(col("__id").as(idCol)).distinct()
      docs.withColumn("__h", md5(col(textCol)))
        .join(refHashes, Seq("__h"), "left_anti").drop("__h")
        .join(nearDropIds, Seq(idCol), "left_anti")
    } else {
      val spark = docs.sparkSession
      BloomLock.synchronized {
        registerBloom(spark)
        val refBuckets = bandBuckets(reference, idCol, textCol, shingleN, bands)
          .select(col("bk"))
        // might_contain demands its bloom as a constant or scalar subquery, so
        // the reference blooms go in as scalar subqueries over temp views —
        // lazily planned, materialized once by subquery reuse, never collected
        // here. Datasets analyze eagerly, so the views (and the temp
        // functions) can drop on return.
        val n = BloomViewSeq.incrementAndGet()
        val (vh, vb) = (s"graft_bloom_ref_h_$n", s"graft_bloom_ref_b_$n")
        refHashes.createOrReplaceTempView(vh)
        refBuckets.createOrReplaceTempView(vb)
        try {
          // definite bloom-misses can't semi-match, so only probable hits
          // join; the drop-id set prices the final anti-join at ~|dups|
          val exactDropIds = docs.select(col(idCol), md5(col(textCol)).as("__h"))
            .filter(expr(
              s"graft_might_contain((SELECT graft_bloom_agg(xxhash64(__h), ${bloomItems}L) FROM $vh), xxhash64(__h))"))
            .join(refHashes, Seq("__h"), "left_semi").select(col(idCol))
          val nearDropIds = bandBuckets(docs, idCol, textCol, shingleN, bands)
            .filter(expr(
              s"graft_might_contain((SELECT graft_bloom_agg(xxhash64(bk), ${bloomItems}L) FROM $vb), xxhash64(bk))"))
            .join(refBuckets, Seq("bk"), "left_semi")
            .select(col("__id").as(idCol))
          docs.join(exactDropIds.unionAll(nearDropIds).distinct(), Seq(idCol), "left_anti")
        } finally {
          unregisterBloom(spark)
          spark.catalog.dropTempView(vh)
          spark.catalog.dropTempView(vb)
        }
      }
    }
  }

  /** Full dedup apply: drop exact duplicates (non-minimum id per content
    * hash) and near-duplicates (non-canonical cluster members), keep the
    * rest. The drop set is dup-rate-proportional, so the final step is a
    * shuffle anti-join (AQE still broadcasts when it genuinely fits).
    *
    * `precomputedClusters` is the persist seam for pipelines that already
    * ran [[clusters]] (a dedup report, a savings audit, the apply itself):
    * the CC iteration is the priciest stage of the family at scale, so a
    * pipeline should run it ONCE, persist the (id, cluster) result, and
    * hand it to every downstream consumer instead of re-deriving it.
    */
  def applyDedup(docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, precomputedClusters: Option[DataFrame] = None): DataFrame = {
    val cls = precomputedClusters.getOrElse(
      clusters(minhashCandidates(docs, idCol, textCol, shingleN)))
    val dropNear = cls
      .filter(col("id") =!= col("cluster")).select(col("id").as(idCol))
    val hashed = docs.select(col(idCol), md5(col(textCol)).as("__h"))
    val keep = hashed.groupBy(col("__h")).agg(min(col(idCol)).as("__keep"))
    val dropExact = hashed.join(keep, "__h")
      .filter(col(idCol) =!= col("__keep")).select(col(idCol))
    docs.join(dropNear.unionAll(dropExact).distinct(), Seq(idCol), "left_anti")
  }

  /** ExactSubstr-style duplicated-span coverage (Lee et al., "Deduplicating
    * Training Data Makes Language Models Better"): per document, how many
    * word positions sit inside a `gramN`-gram that also occurs in at least
    * one OTHER document, plus the floor-quantized coverage fraction
    * (`dup_frac_q6` in millionths). This is the POSITIONAL footprint a
    * span-level dedup pass would cut — the decision input for cutting
    * spans instead of whole documents.
    *
    * Scale shape: the document-frequency side rides the per-doc-distinct
    * kernel (`shingle_g`, one rollup of 8-byte hashes); the positional side
    * (`ngram_g` + posexplode) joins the df>=2 gram list on the hash, so the
    * gramN-times position fan-out is priced on MATCHED spans only. No
    * corpus-sized broadcast, no global (doc, gram) distinct.
    *
    * Output: `(idCol, n_tok, dup_pos, dup_frac_q6)`, one row per input doc
    * (docs shorter than `gramN` words report zero coverage).
    */
  def dupSpanCoverage(docs: DataFrame, idCol: String, textCol: String,
      gramN: Int = 5): DataFrame = {
    require(gramN >= 1, s"gramN must be positive, got $gramN")
    val base = docs.select(col(idCol).as("__id"),
      size(split(col(textCol), " ")).cast("long").as("n_tok"),
      graft.functions.prom.ngram_g(col(textCol), gramN).as("__gs"))
    val pos = base.select(col("__id"), posexplode(col("__gs")).as(Seq("__i", "__g")))
    val dup = docs
      .select(explode(graft.functions.prom.shingle_g(col(textCol), gramN)).as("__g"))
      .groupBy(col("__g")).agg(count(lit(1)).as("__df"))
      .filter(col("__df") >= 2)
    val cov = pos.join(dup.select(col("__g")), Seq("__g"))
      .select(col("__id"),
        explode(sequence(col("__i"), col("__i") + lit(gramN - 1))).as("__p"))
      .groupBy(col("__id")).agg(countDistinct(col("__p")).as("dup_pos"))
    base.select(col("__id"), col("n_tok"))
      .join(cov, Seq("__id"), "left")
      .select(col("__id").as(idCol), col("n_tok"),
        coalesce(col("dup_pos"), lit(0L)).as("dup_pos"),
        floor(coalesce(col("dup_pos"), lit(0L)) * lit(1000000L) / col("n_tok"))
          .cast("long").as("dup_frac_q6"))
  }

  /** Span-level dedup APPLY — [[dupSpanCoverage]]'s measurement turned into
    * the transformation Lee et al. actually run: rebuild each document's
    * text with every word position removed that sits inside a `gramN`-gram
    * occurring in at least `minDf` DISTINCT documents. Cross-document
    * boilerplate (headers, licenses, syndicated passages) disappears from
    * every copy; document-unique content is untouched.
    *
    * Scale shape (the d64 pricing): document frequency rides the per-doc
    * distinct kernel (`shingle_g`, one rollup of 8-byte hashes); the
    * positional fan-out (`ngram_g` + posexplode -> covered positions) is
    * priced on MATCHED spans only, never the corpus; the rebuild is one
    * anti-join of word positions against covered positions plus a per-doc
    * sorted collect (bounded by document length, the same bound
    * [[filterLines]] relies on). No corpus-sized broadcast anywhere.
    *
    * Output: `(idCol, n_tok, n_cut, textCol)` — one row per input doc;
    * docs shorter than `gramN` words pass through unchanged; a fully
    * duplicated doc comes back with empty text and `n_cut = n_tok`.
    */
  def cutDupSpans(docs: DataFrame, idCol: String, textCol: String,
      gramN: Int = 5, minDf: Int = 2): DataFrame = {
    require(gramN >= 1, s"gramN must be positive, got $gramN")
    require(minDf >= 2, s"minDf below 2 would cut every word, got $minDf")
    val base = docs.select(col(idCol).as("__id"), col(textCol).as("__text"),
      graft.functions.prom.ngram_g(col(textCol), gramN).as("__gs"))
    val pos = base.select(col("__id"), posexplode(col("__gs")).as(Seq("__i", "__g")))
    val dup = docs
      .select(explode(graft.functions.prom.shingle_g(col(textCol), gramN)).as("__g"))
      .groupBy(col("__g")).agg(count(lit(1)).as("__df"))
      .filter(col("__df") >= minDf)
      .select(col("__g"))
    val cut = pos.join(dup, Seq("__g"))
      .select(col("__id"),
        explode(sequence(col("__i"), col("__i") + lit(gramN - 1))).as("__p"))
      .distinct()
    val words = base.select(col("__id"),
      posexplode(split(col("__text"), " ")).as(Seq("__p", "__w")))
    val kept = words.join(cut, Seq("__id", "__p"), "left_anti")
      .groupBy(col("__id"))
      .agg(concat_ws(" ", transform(
          array_sort(collect_list(struct(col("__p"), col("__w")))),
          x => x.getField("__w"))).as("__kept"),
        count(lit(1)).as("__n_kept"))
    base.select(col("__id"),
        size(split(col("__text"), " ")).cast("long").as("n_tok"))
      .join(kept, Seq("__id"), "left")
      .select(col("__id").as(idCol), col("n_tok"),
        (col("n_tok") - coalesce(col("__n_kept"), lit(0L))).as("n_cut"),
        coalesce(col("__kept"), lit("")).as(textCol))
  }

  /** Pick each near-dup cluster's best member — the curation rule production
    * pipelines use instead of keep-min-id: the canonical copy should be the
    * highest-QUALITY one (longest text, best LM score, ...), ties to the
    * smaller id. `clusters` is [[clusters]]' `(id, cluster)` output (or any
    * equivalent assignment); `quality` maps each id to an orderable score.
    *
    * One window sorted within cluster partitions — cluster sizes are
    * bounded by the LSH bucket caps upstream, so the per-partition sort
    * never grows with the corpus.
    *
    * Output: `(cluster, rep, rep_quality, n_docs)`, one row per cluster.
    */
  def clusterRepresentatives(clusters: DataFrame, quality: DataFrame,
      idCol: String = "id", clusterCol: String = "cluster",
      qualityCol: String = "quality"): DataFrame = {
    val j = clusters.select(col(idCol).as("__id"), col(clusterCol).as("__c"))
      .join(quality.select(col(idCol).as("__id"), col(qualityCol).as("__q")), Seq("__id"))
    val w = Window.partitionBy(col("__c")).orderBy(col("__q").desc, col("__id"))
    j.withColumn("__rn", row_number().over(w))
      .withColumn("n_docs", count(lit(1)).over(Window.partitionBy(col("__c"))))
      .filter(col("__rn") === 1)
      .select(col("__c").as(clusterCol), col("__id").as("rep"),
        col("__q").as("rep_quality"), col("n_docs"))
  }

  /** Winnowing fingerprint selection (Schleimer, Wilkerson & Aiken,
    * "Winnowing: Local Algorithms for Document Fingerprinting", SIGMOD '03 —
    * the MOSS algorithm): hash every word `gramN`-gram in document order,
    * slide a `window`-wide window over the hash sequence, and select each
    * window's minimum hash, ties to the RIGHTMOST position (the paper's
    * rule — a rightmost min is reselected by the most following windows, so
    * it minimizes the fingerprint count). Guarantees any shared word run of
    * `window + gramN - 1` or more words yields a shared fingerprint, at
    * ~2/(window+1) expected density — the position-aware sketch between
    * "hash everything" (d54/d64) and "16 minhashes" (d02).
    *
    * Scale shape: grams cross every shuffle as codegen'd 60-bit md5-prefix
    * longs (`ngram_g`); the window fan-out is a fixed `window`× explode of
    * 8-byte rows; the per-window rightmost-argmin is ONE partial-
    * aggregatable `min(struct(hash, -pos))` rollup keyed on (doc, window
    * start), and the final fingerprint distinct re-shuffles only selected
    * rows (~2/(window+1) of grams). No corpus broadcast, no per-doc sort,
    * nothing grows with corpus size except linearly.
    *
    * Docs with fewer than `window` grams (but at least `gramN` words)
    * winnow over a single window spanning the whole doc — their global
    * min — so every non-degenerate doc yields at least one fingerprint.
    *
    * Output: `(idCol, pos, g)` — the selected 0-based gram positions and
    * their 60-bit gram hashes, one row per fingerprint.
    */
  def winnowFingerprints(docs: DataFrame, idCol: String, textCol: String,
      gramN: Int = 3, window: Int = 4): DataFrame = {
    require(gramN >= 1, s"gramN must be positive, got $gramN")
    require(window >= 1, s"window must be positive, got $window")
    val pos = docs.select(col(idCol).as("__id"),
        graft.functions.prom.ngram_g(col(textCol), gramN).as("__gs"))
      .select(col("__id"), size(col("__gs")).as("__n"),
        posexplode(col("__gs")).as(Seq("__p", "__g")))
    // window starts this gram participates in: [p-window+1, min(p, n-window)]
    // clamped at 0; start <= end always holds (p <= n-1), so `sequence`
    // never flips into its descending mode.
    val wins = pos.select(col("__id"), col("__p"), col("__g"),
      explode(sequence(
        greatest(col("__p") - lit(window - 1), lit(0)),
        least(col("__p"), greatest(col("__n") - lit(window), lit(0))))).as("__ws"))
    wins.groupBy(col("__id"), col("__ws"))
      .agg(min(struct(col("__g").as("g"), (-col("__p")).as("np"))).as("__m"))
      .select(col("__id"), col("__m.g").as("g"), (-col("__m.np")).as("pos"))
      .distinct()
      .select(col("__id").as(idCol), col("pos"), col("g"))
  }

  /** Candidate near-dup pairs from shared winnowing fingerprints — the MOSS
    * matching step: docs whose winnowed sketches ([[winnowFingerprints]])
    * share at least `minShared` distinct gram hashes. The guarantee runs
    * through: two docs sharing `minShared` disjoint word runs of length
    * `window + gramN - 1` always pair, at sketch cost ~2/(window+1) of the
    * full gram inventory.
    *
    * Same bucket-shuffle shape as the d03 candidate generation: group by
    * fingerprint hash, expand sorted id lists into (a &lt; b) pairs, count
    * shared hashes per pair. `maxBucket` is the boilerplate valve — a hash
    * selected by k docs emits k(k-1)/2 pairs, so ubiquitous spans are
    * dropped rather than exploded (0 = no cap).
    *
    * Output: `(a, b, shared)` with `a < b`, shared >= `minShared`.
    */
  def winnowCandidates(docs: DataFrame, idCol: String, textCol: String,
      gramN: Int = 3, window: Int = 4, minShared: Int = 2,
      maxBucket: Int = 16): DataFrame =
    winnowCandidatesFrom(
      winnowFingerprints(docs, idCol, textCol, gramN, window),
      idCol, minShared, maxBucket)

  /** [[winnowCandidates]] over a PRECOMPUTED (typically persisted/shared)
    * [[winnowFingerprints]] result — the sketch is the dominant cost, so
    * pipelines running several winnowing consumers (density, pairs,
    * aligned runs) should compute it once and pass it here.
    */
  def winnowCandidatesFrom(fingerprints: DataFrame, idCol: String,
      minShared: Int = 2, maxBucket: Int = 16): DataFrame = {
    val fp = fingerprints
      .select(col(idCol).as("__id"), col("g")).distinct()
    val grouped = fp.groupBy(col("g"))
      .agg(sort_array(collect_list(col("__id"))).as("ids"))
      .filter(size(col("ids")) >= 2)
    val valved =
      if (maxBucket > 0) grouped.filter(size(col("ids")) <= maxBucket) else grouped
    valved.select(pairExpand(col("ids")).as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
  }

  /** Prefix-filtering similarity join (the PPJoin/AllPairs candidate rule —
    * Bayardo et al. WWW'07, Xiao et al. WWW'08): for Jaccard threshold
    * `tNum/tDen`, two gram sets of sizes na, nb can only reach the
    * threshold if their `n - ceil(t*n) + 1` RAREST grams (by global
    * document frequency, ties by gram value) intersect — so candidate
    * generation joins only on prefix grams, then the exact inter/union
    * verify runs on candidates alone. EXACT-COMPLETE (no LSH false
    * negatives): every pair with true Jaccard >= t is returned.
    *
    * Scale shape: one df rollup over the gram table; the rank window is
    * PARTITIONED BY document (per-doc gram counts are bounded by doc
    * length, never a corpus sort); candidate expansion is the d03
    * bucket-shuffle on prefix grams only — and prefix grams are by
    * construction the globally RAREST, so bucket fan-out is naturally
    * tiny (boilerplate grams rank last and never enter a prefix);
    * verification is an equi-join priced on |candidates| x grams/doc.
    *
    * Returns `(a, b, inter, uni)` with `a < b` and
    * `inter * tDen >= uni * tNum` (Jaccard >= t, integer-exact).
    */
  def prefixFilterPairs(docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, tNum: Int = 4, tDen: Int = 5): DataFrame = {
    require(tNum > 0 && tDen >= tNum, s"need 0 < tNum/tDen <= 1")
    // the gram table feeds THREE consumers (df rollup, the ranked prefix,
    // the candidate-doc array build); persist it once or the
    // scan+shingle+distinct subtree re-executes per consumer
    val g = docs.select(col(idCol).as("__id"),
      explode(graft.functions.prom.shingle_g(col(textCol), shingleN)).as("g"))
      .transform(graft.sources.Caches.ephemeral)
    val dfreq = g.groupBy(col("g")).agg(count(lit(1)).as("df"))
    // per-doc DISTINCT gram sets as one array row per doc (shingle_g is
    // already distinct-per-doc): the verify step consumes these instead of
    // re-joining the exploded gram table per side — the old shape joined
    // |cand| x |grams(a)| exploded rows against (b, g) and hash-aggregated
    // the ~1M-row product back down (measured ~35% of the query); here the
    // join stays |cand| rows wide and one codegen'd array_intersect per
    // candidate does the counting (r21, guide §2.3/§3: shuffle candidate
    // ids + one bounded array per doc, never the exploded gram product).
    // Arrays are bounded per doc (distinct grams <= doc tokens), the same
    // bound the gram table itself carries.
    // (r21 note: a per-doc collect_list+sort_array+slice form of this
    // prefix was measured SLOWER than the row_number window at sf0.1
    // (2.79s vs 2.32s min-of-N) — the window's partitioned sort beats the
    // per-row struct-array allocation; kept as the window.)
    // r22 (guide §2.3/§5): the per-doc gram count n comes from a second
    // window over the SAME __id partitioning (no exchange added — the
    // row_number exchange is shared) instead of a join against a sizes
    // table, which also lets the doc-gram arrays below be built for
    // CANDIDATE docs only rather than the whole corpus.
    val win = Window.partitionBy(col("__id"))
    val ranked = g.join(dfreq, "g")
      .withColumn("n", count(lit(1)).over(win).cast("long"))
      .withColumn("rk", row_number().over(
        win.orderBy(col("df"), col("g"))))
    // prefix length n - ceil(t*n) + 1; ceil(tNum*n/tDen) = (tNum*n + tDen-1) div tDen
    val prefix = ranked.filter(
      col("rk") <= col("n") - expr(s"($tNum * n + ${tDen - 1}) div $tDen") + 1)
    // the candidate list feeds the id semi-join AND the verify join —
    // persist it or the whole prefix pipeline re-executes (it is
    // prefix-rarity-valved: tiny by construction)
    val cand = prefix.groupBy(col("g"))
      .agg(sort_array(collect_list(col("__id"))).as("ids"))
      .filter(size(col("ids")) >= 2)
      .select(pairExpand(col("ids")).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .distinct()
      .transform(graft.sources.Caches.ephemeral)
    // per-doc DISTINCT gram sets for the CANDIDATE docs only (shingle_g is
    // already distinct-per-doc, and verification inner-joins on candidate
    // ids, so restricting the arrays changes nothing): the collect_list
    // shuffle and the cached arrays are candidate-priced, never
    // corpus-sized — the r21 full-corpus array table inflated the verify
    // side at 32 cores (VERDICT r21 item 2's width concern)
    val candIds = cand.select(col("a").as("__id"))
      .union(cand.select(col("b").as("__id"))).distinct()
    // no broadcast hint: the candidate set has no bound by construction,
    // so the planner's size threshold decides
    val docGrams = g.join(candIds, Seq("__id"), "left_semi")
      .groupBy(col("__id"))
      .agg(collect_list(col("g")).as("__gs"))
      .transform(graft.sources.Caches.ephemeral)
    // exact |A ∩ B| per candidate: both sides' gram sets are distinct, so
    // size(array_intersect) equals the old per-gram equi-join row count;
    // sizes ride the SAME arrays (size(__gs)) — the two sizes joins the
    // old shape paid are a projection now
    cand
      .join(docGrams.select(col("__id").as("a"), col("__gs").as("__ga")), Seq("a"))
      .join(docGrams.select(col("__id").as("b"), col("__gs").as("__gb")), Seq("b"))
      .select(col("a"), col("b"),
        size(array_intersect(col("__ga"), col("__gb"))).cast("long").as("inter"),
        (size(col("__ga")) + size(col("__gb"))).cast("long").as("__nab"))
      .select(col("a"), col("b"), col("inter"),
        (col("__nab") - col("inter")).as("uni"))
      .filter(col("inter") * tDen >= col("uni") * tNum)
  }
}
