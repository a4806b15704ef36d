package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Streaming analogs of the batch north-star operators.
  *
  * These are thin, deliberately declarative wrappers: watermark + built-in
  * stateful operators, so Spark manages state stores, spill, and recovery.
  * At scale the state is partitioned by the grouping key across executors —
  * the same shuffle key the batch versions use.
  */
object StreamOps {

  /** Streaming exact deduplication: drops rows whose `keys` repeat within the
    * watermark horizon (the streaming twin of d01 exact dedup; e.g. key =
    * series_key + timestamp for remote_write samples re-delivered by
    * at-least-once sources).
    */
  def dedupWithinWatermark(df: DataFrame, eventTimeCol: String, delay: String,
      keys: Seq[String]): DataFrame =
    df.withWatermark(eventTimeCol, delay)
      .dropDuplicatesWithinWatermark(keys)

  /** Event-time tumbling-window counts+sums per key with late-data bound
    * `delay` (the streaming twin of q11). Append-mode emission happens when
    * the watermark passes the window end.
    */
  def tumblingAgg(df: DataFrame, eventTimeCol: String, delay: String,
      width: String, key: String, valueCol: String): DataFrame =
    df.withWatermark(eventTimeCol, delay)
      .groupBy(window(col(eventTimeCol), width).as("w"), col(key))
      .agg(count(lit(1)).as("n"), sum(col(valueCol)).as("v"))
      .select(col("w.start").as("w_start"), col(key), col("n"), col("v"))

  /** Gap-based session windows per key with watermarked state eviction (the
    * streaming twin of q17). A session closes — and emits, in append mode —
    * once the watermark passes its end.
    */
  def sessionAgg(df: DataFrame, eventTimeCol: String, delay: String,
      gap: String, key: String): DataFrame =
    df.withWatermark(eventTimeCol, delay)
      .groupBy(session_window(col(eventTimeCol), gap).as("w"), col(key))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("s_start"), col("w.end").as("s_end"), col(key), col("n"))

  /** Streaming pattern redaction (the streaming twin of d22): a pure narrow
    * map, so the identical expression tree runs on a stream with no state,
    * no watermark, and no shuffle. `patterns` are (regex, replacement)
    * applied in order; the redacted text lands in `<textCol>_red`.
    */
  def redact(df: DataFrame, textCol: String,
      patterns: Seq[(String, String)]): DataFrame =
    df.withColumn(s"${textCol}_red",
      patterns.foldLeft(col(textCol)) { case (c, (re, tag)) =>
        regexp_replace(c, re, tag)
      })

  /** Streaming corpus mixing (the streaming twin of d30): a stateless
    * integer hash-fraction filter against a broadcast per-stratum rate
    * table (stream-static join — the rate table is recomputed offline and
    * swapped per deployment, never accumulated in stream state). Keeps a
    * row when hash20(id) * c < m * 2^20, i.e. with probability m/c for its
    * stratum; deterministic per id, so replays keep identical rows.
    * `rates` must carry (stratumCol, c, m).
    */
  def mixFilter(stream: DataFrame, rates: DataFrame, stratumCol: String,
      idCol: String): DataFrame =
    stream.join(broadcast(rates), stratumCol)
      .withColumn("hm",
        conv(substring(md5(col(idCol).cast("string")), 14, 5), 16, 10)
          .cast("long") % 1048576L)
      .filter(col("hm") * col("c") < col("m") * 1048576L)
      .drop("hm", "c", "m")

  /** Streaming quality-rule filter (the streaming twin of d39): the
    * Gopher-style keep predicate via the shared TextQuality narrow map —
    * no state, no shuffle; replay gives identical keeps.
    */
  def qualityFilter(df: DataFrame, textCol: String,
      minWords: Int = 50, maxWords: Int = 100000): DataFrame =
    graft.operators.TextQuality
      .withQualityRules(df, textCol, minWords, maxWords)
      .filter(col("keep")).drop("keep")

  /** Streaming embedding-drift sums (d158's twin): per-shard per-dim
    * integer component sums — the quantize-before-sum discipline makes the
    * state MERGEABLE (a long sum per (shard, dim) merges across triggers
    * and executors like any counter), which is exactly why d158's batch
    * shape uses sum vectors instead of means. Run in update/complete mode;
    * the bounded |shards|×dims state is the whole drift monitor, and the
    * final cosine against a static global centroid is driver-side math on
    * that bounded table. Batch-identical sums pinned in Wave10Spec.
    */
  def embedDriftSums(df: DataFrame, idCol: String, vecCol: String,
      shards: Int = 4): DataFrame =
    df.select((col(idCol) % shards).as("shard"),
        posexplode(col(vecCol)).as(Seq("d", "x")))
      .select(col("shard"), col("d").cast("long").as("d"),
        floor(col("x").cast("double") * 1000000.0).cast("long").as("xq"))
      .groupBy(col("shard"), col("d"))
      .agg(sum(col("xq")).as("sv"))

  /** Streaming rendezvous router (d148's twin): per-row highest-random-
    * weight shard assignment over `shards` buckets — the elastic stream
    * router whose defining property (adding a shard moves keys ONLY to
    * the new shard) d148 audits in batch. One narrow argmax over a
    * literal range per row: no state, no shuffle, batch-identical
    * assignments on a live stream.
    */
  def rendezvousRoute(df: DataFrame, idCol: String, shards: Int): DataFrame =
    df.withColumn("shard", expr(
      s"""array_max(transform(sequence(0, ${shards - 1}), s -> struct(
         |  CAST(conv(substring(md5(concat(CAST($idCol AS STRING), ':', CAST(s AS STRING))), 1, 15), 16, 10) AS BIGINT) AS h,
         |  CAST(s AS BIGINT) AS s))).s""".stripMargin))

  /** Streaming BPE encode (the streaming twin of d137): the trained merge
    * list applied by the same codegen'd kernel pass as the batch
    * [[graft.operators.BpeTokenizer.encode]], token ids resolved through a
    * LITERAL vocabulary map (vocab-bounded — the
    * `BpeTokenizer.vocabularyMap` collect the trainer already pays) so the
    * whole operator is one stateless narrow projection: no joins, no
    * aggregation state, identical ids on a batch corpus and a live stream.
    * Unknown tokens map to 0 (the batch path's reserved unk id).
    * Output: `(idCol, n_tok, ids)` — the exact [[withTokenIds]] shape a
    * downstream packing stage consumes.
    */
  def encodeBpe(df: DataFrame, idCol: String, textCol: String,
      merges: Seq[String], vocab: Map[String, Long]): DataFrame = {
    val m = array(merges.map(lit): _*)
    val ks = vocab.keys.toSeq.sorted
    val vmap = map_from_arrays(
      array(ks.map(lit): _*), array(ks.map(k => lit(vocab(k))): _*))
    df.select(col(idCol),
        graft.functions.prom.apply_merges(col(textCol), m).as("__toks"))
      .select(col(idCol), size(col("__toks")).cast("long").as("n_tok"),
        transform(col("__toks"),
          t => coalesce(element_at(vmap, t), lit(0L))).as("ids"))
  }

  /** Live language-ID confusion counts (the streaming twin of d120):
    * per event-time window, (true label, predicted) counts — the drift
    * monitor on the classifier a 100 TB pipeline routes by. Watermarked
    * windowed aggregation; state is |windows|x|langs|² counters, merged
    * across triggers/shards like any long sum.
    */
  def langidConfusion(df: DataFrame, eventTimeCol: String, delay: String,
      windowLen: String, labelCol: String, textCol: String): DataFrame =
    graft.operators.TextQuality.withLangId(df, textCol)
      .withWatermark(eventTimeCol, delay)
      .groupBy(window(col(eventTimeCol), windowLen), col(labelCol), col("pred"))
      .agg(count(lit(1)).as("n"))

  final case class FunnelEvent(user_id: Long, event_type: String, ts_ms: Long)

  final case class FunnelTransition(
      user_id: Long, stage: Int, stage_name: String, ts_ms: Long)

  /** Per-user funnel state. */
  final case class FunnelState(stage: Int, lastTsMs: Long)

  /** Streaming ordered-conversion funnel (the streaming twin of q43) as
    * explicit per-user GroupState: stage k advances only on the k-th stage
    * name with event time STRICTLY after the previous advance, emitting one
    * transition row per advance. State is two numbers per live user,
    * hash-partitioned by the groupByKey shuffle. Within a trigger the
    * group's events are processed in event-time order; across triggers
    * this is a processing-order funnel (a stage event arriving after a
    * later trigger already advanced past it cannot advance retroactively —
    * the standard live-funnel semantics; the q43 batch query is the
    * retrospective exact answer).
    */
  def funnelState(ds: org.apache.spark.sql.Dataset[FunnelEvent],
      stages: Seq[String]): org.apache.spark.sql.Dataset[FunnelTransition] = {
    import org.apache.spark.sql.{Encoders => E}
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    implicit val outEnc = E.product[FunnelTransition]
    implicit val stEnc = E.product[FunnelState]
    implicit val keyEnc = E.scalaLong
    ds.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, it: Iterator[FunnelEvent],
            state: org.apache.spark.sql.streaming.GroupState[FunnelState]) =>
          var st = state.getOption.getOrElse(FunnelState(0, Long.MinValue))
          val out = scala.collection.mutable.ArrayBuffer.empty[FunnelTransition]
          it.toSeq.sortBy(e => (e.ts_ms, e.event_type)).foreach { e =>
            if (st.stage < stages.length && e.event_type == stages(st.stage)
                && e.ts_ms > st.lastTsMs) {
              st = FunnelState(st.stage + 1, e.ts_ms)
              out += FunnelTransition(user, st.stage, e.event_type, e.ts_ms)
            }
          }
          state.update(st)
          out.iterator
      }
  }

  final case class ContribEvent(user_id: Long, event_id: Long, ts_ms: Long)

  final case class ContribKept(user_id: Long, event_id: Long, ts_ms: Long,
      kept_rank: Int)

  /** Live per-user contribution cap (the streaming half of d193's
    * user-level DP pipeline / `Privacy.clipContributions`): each user's
    * first `c` events pass, everything after is dropped — one Int of
    * GroupState per live user, hash-partitioned by the groupByKey
    * shuffle, so a live `noisedRelease` over the survivors keeps the
    * user-level L1 sensitivity <= c that its noise is calibrated for.
    *
    * Semantics honesty (the [[funnelState]] precedent): the live cap
    * keeps the first c by PROCESSING order (event-time-ordered within a
    * trigger, arrival-ordered across triggers), while the batch
    * `clipContributions` keeps the md5-order top-c retrospectively — the
    * KEPT SETS can differ between live and replay, but the property the
    * DP release needs (at most c rows per user, so one user moves any
    * count by at most c) holds identically on both paths. Use the batch
    * clip where the release must be replayable cell-exactly; use this
    * where the release is live.
    */
  def clipRoute(ds: org.apache.spark.sql.Dataset[ContribEvent],
      c: Int): org.apache.spark.sql.Dataset[ContribKept] = {
    require(c >= 1, s"contribution bound must be >= 1, got $c")
    import org.apache.spark.sql.{Encoders => E}
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    implicit val outEnc = E.product[ContribKept]
    implicit val stEnc = E.scalaInt
    implicit val keyEnc = E.scalaLong
    ds.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, it: Iterator[ContribEvent],
            state: org.apache.spark.sql.streaming.GroupState[Int]) =>
          var n = state.getOption.getOrElse(0)
          val out = scala.collection.mutable.ArrayBuffer.empty[ContribKept]
          it.toSeq.sortBy(e => (e.ts_ms, e.event_id)).foreach { e =>
            if (n < c) {
              n += 1
              out += ContribKept(user, e.event_id, e.ts_ms, n)
            }
          }
          state.update(n)
          out.iterator
      }
  }

  /** Per-window mergeable histogram sketch (the streaming twin of d92): a
    * fixed `nBins`-bin width-`binWidth` histogram of `valueCol` per
    * event-time tumbling window — the length/latency monitor a streaming
    * ingest keeps. One row per (window, bin); histograms merge by adding
    * counts (what the windowed groupBy already does across partitions and
    * triggers), so per-shard partials combine map-side exactly like any
    * long sum, and downstream quantile estimation is the bounded d92 read
    * over at most `nBins` rows per window. Values above the top bin clamp
    * into it (the d92 rule).
    */
  def histogramSketch(df: DataFrame, eventTimeCol: String, delay: String,
      width: String, valueCol: String, binWidth: Long,
      nBins: Int = 64): DataFrame =
    df.withWatermark(eventTimeCol, delay)
      .groupBy(window(col(eventTimeCol), width).as("w"),
        least(floor(col(valueCol) / binWidth), lit(nBins - 1L)).cast("long")
          .as("bin"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("w_start"), col("bin"), col("n"))

  /** Per-window count-min sketch (the streaming twin of q47): the 4 x 32
    * counter cells of [[graft.functions.CountMin]] per event-time tumbling
    * window over `keyCol` — the heavy-key frequency monitor whose live
    * state NEVER grows with key cardinality (|windows| x 128 rows, the
    * point of the sketch). Cells merge by adding counts, which the
    * windowed groupBy already does across partitions and triggers, so
    * per-shard partials combine map-side exactly like any long sum — and
    * a batch replay of the same data produces the identical cell table
    * (StreamOpsSpec pins it). Point reads estimate a key's frequency as
    * min over the 4 rows at its hashed buckets — q47's broadcast-join
    * read, deterministic never-underestimate.
    */
  def countMinSketch(df: DataFrame, eventTimeCol: String, delay: String,
      width: String, keyCol: String): DataFrame =
    df.withWatermark(eventTimeCol, delay)
      .select(col(eventTimeCol), col(keyCol),
        explode(graft.functions.CountMin.params).as("h"))
      .groupBy(window(col(eventTimeCol), width).as("w"),
        col("h.j").as("j"),
        graft.functions.CountMin.bucket(col(keyCol), col("h.a"), col("h.b"))
          .as("bucket"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("w.start").as("w_start"), col("j"), col("bucket"), col("cnt"))

  /** Per-window HyperLogLog registers (the streaming twin of q49/q50 and
    * the distinct-count sibling of [[countMinSketch]]): one row per
    * (window, touched register) holding max(rho) — the register value IS
    * a max, so per-shard partials and late triggers combine register-wise
    * exactly like the classic HLL merge, and live state is
    * |windows| x <=256 rows no matter how many distinct keys flow. The
    * cardinality read is [[graft.functions.Hll.estimate]] over one
    * window's rows (floats live only in the read; the mergeable state is
    * exact integers — StreamOpsSpec pins cells == a batch replay and the
    * read == the batch estimate).
    */
  def hllSketch(df: DataFrame, eventTimeCol: String, delay: String,
      width: String, keyCol: String): DataFrame = {
    val (reg, rho) = graft.functions.Hll.regRho(col(keyCol))
    df.withWatermark(eventTimeCol, delay)
      .select(col(eventTimeCol), reg.as("register"), rho.as("rho"))
      .groupBy(window(col(eventTimeCol), width).as("w"), col("register"))
      .agg(max(col("rho")).as("rho"))
      .select(col("w.start").as("w_start"), col("register"), col("rho"))
  }

  /** Per-window quantile sketch (the streaming twin of q53/q54 and the
    * quantile sibling of [[hllSketch]]/[[countMinSketch]]): one row per
    * (window, touched log-linear bucket) with its count — the bucket
    * counts are plain long sums, so per-shard partials and late triggers
    * merge map-side and across restarts like any counter, and live state
    * is |windows| x <= ~1.9k rows no matter how many values flow. The
    * quantile read is [[graft.functions.QSketch.quantileReads]] over one
    * window's rows (integer state crosses engines exactly; StreamOpsSpec
    * pins cells == a batch replay and the read == the batch read).
    * Values must be positive longs (the QSketch contract — the plan
    * raises otherwise).
    */
  def qsketch(df: DataFrame, eventTimeCol: String, delay: String,
      width: String, valueCol: String): DataFrame =
    df.withWatermark(eventTimeCol, delay)
      .groupBy(window(col(eventTimeCol), width).as("w"),
        graft.functions.QSketch.bucketLo(col(valueCol)).as("bucket_lo"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("w.start").as("w_start"), col("bucket_lo"), col("cnt"))

  /** [[qsketch]] for signed/zero values (q56's live twin): same windowed
    * count aggregation over the SIGNED bucket key, read per window by
    * [[graft.functions.QSketch.quantileReadsSigned]].
    */
  def qsketchSigned(df: DataFrame, eventTimeCol: String, delay: String,
      width: String, valueCol: String): DataFrame =
    df.withWatermark(eventTimeCol, delay)
      .groupBy(window(col(eventTimeCol), width).as("w"),
        graft.functions.QSketch.bucketKeySigned(col(valueCol)).as("bucket_key"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("w.start").as("w_start"), col("bucket_key"), col("cnt"))

  /** Live t-closeness cells (the streaming half of the d184/d186 release
    * gate): per event-time tumbling window, one row per (window, qi...,
    * sensitive value) with its count — plain mergeable long sums, so
    * per-shard partials combine map-side and across triggers like any
    * counter, and live state is |windows x classes x values| rows,
    * nothing corpus-sized. The distance read is
    * [[graft.operators.Privacy.tClosenessOfCells]] over the emitted
    * cells with `w_start` passed as just another QI column — per-window
    * TV distance of the arriving metadata against the published cohort,
    * the drift monitor a release dashboard shows live (StreamOpsSpec
    * pins cells == a batch replay and the read == the batch
    * tClosenessWith of the same window's rows).
    */
  def tClosenessCells(df: DataFrame, eventTimeCol: String, delay: String,
      width: String, qi: Seq[Column], sensitive: Column): DataFrame = {
    val grouped = df.withWatermark(eventTimeCol, delay)
      .groupBy(window(col(eventTimeCol), width).as("w") +:
        qi :+ sensitive.as("sens"): _*)
      .agg(count(lit(1)).as("cv"))
    // the cell schema claims sens/cv/w_start: a QI column reusing sens/cv
    // emits duplicate-named columns (caught by the distinct-size check),
    // but one named w_start would be silently REPLACED by the rename below
    // — so refuse it explicitly BEFORE the withColumn (the noisedRelease
    // guard, ADVICE r19)
    require(!grouped.columns.contains("w_start") &&
        grouped.columns.toSeq.distinct.size == grouped.columns.length,
      s"QI column names collide with the claimed cell columns " +
      s"(w, sens, cv, w_start): ${grouped.columns.mkString(", ")}")
    grouped
      .withColumn("w_start", col("w.start"))
      .drop("w")
  }

  /** Live noised release (d188's streaming twin): per event-time tumbling
    * window, per-class counts carrying the SAME deterministic two-sided-
    * geometric noise the batch release draws —
    * [[graft.operators.Privacy.noisedCounts]] is a stateless narrow map
    * over the windowed aggregation, so the stream equals a batch replay
    * row-for-row (StreamOpsSpec pins it) and a live dashboard publishes
    * noised counts whose noise never re-randomizes across triggers or
    * restarts (re-publication cannot be averaged away). The window start
    * (as epoch seconds) joins the noise key — each window is its own
    * release cell, so two windows of the same class draw INDEPENDENT
    * noise and the per-window budget accounting stays per-release. State
    * is the windowed aggregation's |windows x classes| rows.
    */
  def noisedRelease(df: DataFrame, eventTimeCol: String, delay: String,
      width: String, keys: Seq[Column], releaseTag: String,
      epsNum: Long, epsDen: Long): DataFrame = {
    val grouped = df.withWatermark(eventTimeCol, delay)
      .groupBy(window(col(eventTimeCol), width).as("w") +: keys: _*)
      .agg(count(lit(1)).as("cnt"))
    // guard BEFORE the w_start rename: withColumn would silently REPLACE a
    // key column already named w_start (dropping it from the noise key and
    // the output) rather than produce the duplicate the distinct-size
    // check below could catch (ADVICE r19) — so refuse the claimed names
    // (w, cnt, w_start) up front, mirroring noisedCounts' claimed-name
    // guard. The distinct-size check stays as the general duplicate net.
    require(!grouped.columns.contains("w_start") &&
        grouped.columns.toSeq.distinct.size == grouped.columns.length,
      s"key column names collide with the claimed cell columns " +
      s"(w, cnt, w_start): ${grouped.columns.mkString(", ")}")
    val cells = grouped
      .withColumn("w_start", col("w.start").cast("long"))
      .drop("w")
    val keyNames = cells.columns.filterNot(Set("cnt", "w_start").contains).toSeq
    graft.operators.Privacy.noisedCounts(cells, "w_start" +: keyNames, "cnt",
      releaseTag, epsNum, epsDen)
  }

  /** Live token-yield ledger (d166's streaming sibling, composed from the
    * deployed twins): each arriving doc runs the filter-waterfall narrow
    * map, is tagged duplicate-vs-new against a STATIC reference corpus by
    * exact content hash (the d41/TextDedup.dedupAgainstStream stream-static shape —
    * no stream state for the dedup decision), and a watermarked
    * event-time window rolls up the funnel a pipeline dashboard shows
    * live: docs seen, docs passing the cascade, genuinely-new survivors,
    * and the token mass each stage kept. Every aggregate is a long sum —
    * mergeable across triggers and shards like any counter — so the
    * monitor's state is |windows| rows, nothing corpus-sized.
    */
  def liveYield(stream: DataFrame, textCol: String, eventTimeCol: String,
      delay: String, width: String, reference: DataFrame): DataFrame = {
    val wf = graft.operators.TextQuality.withFilterWaterfall(stream, textCol)
      .withColumn("__h", md5(col(textCol)))
    val ref = reference.select(md5(col(textCol)).as("__h")).distinct()
      .withColumn("__dup", lit(true))
    wf.join(ref, Seq("__h"), "left")
      .withColumn("__pass", col("rule_order") === 5L)
      .withColumn("__new", col("__pass") && col("__dup").isNull)
      .withWatermark(eventTimeCol, delay)
      .groupBy(window(col(eventTimeCol), width).as("w"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("__pass"), 1L).otherwise(0L)).as("n_pass"),
        sum(when(col("__new"), 1L).otherwise(0L)).as("n_new"),
        sum(col("n_words")).as("raw_tokens"),
        sum(when(col("__new"), col("n_words")).otherwise(0L)).as("kept_tokens"))
      .select(col("w.start").as("w_start"), col("n_docs"), col("n_pass"),
        col("n_new"), col("raw_tokens"), col("kept_tokens"))
  }
}
