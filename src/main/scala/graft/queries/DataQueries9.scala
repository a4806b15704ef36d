package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.prom.vec_dot
import graft.sources.Caches

/** Ninth wave: iterative tokenizer training. d70 computes the FIRST BPE
  * merge's pair table; a real trainer loops merge -> recount. d76 runs that
  * loop — the k-means/connected-components driver-loop pattern applied to
  * tokenizer training: per round ONE vocab-bounded partial-agg rollup, ONE
  * single-row argmax collect, and a narrow per-word fold that applies the
  * merge. Nothing corpus-sized ever reaches the driver; the working set is
  * the (symbols, word-count) vocabulary table, which is Heaps'-law bounded,
  * not corpus-bounded, and each round's merge is a codegen'd array fold.
  */
object DataQueries9 extends QueryModule {

  /** Rounds of the BPE training loop (Sennrich et al.: merge the most
    * frequent adjacent symbol pair, recount, repeat). Fixed small so the
    * unrolled DuckDB oracle stays tractable; the Spark loop itself is
    * O(rounds) jobs of vocab-bounded work.
    */
  private[queries] val BpeRounds = 5

  /** The word -> (symbols, weight) base table: distinct words with their
    * corpus frequencies, symbols = characters. BPE statistics are weighted
    * per distinct word, so the loop's working set is the vocabulary, never
    * the corpus.
    */
  private def bpeBase(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) >= 1)
      .groupBy("w").agg(count(lit(1)).as("wc"))
      .select(
        expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))").as("syms"),
        col("wc"))

  /** Left-to-right greedy merge of adjacent pair (a, b) in a symbol array,
    * as a codegen'd fold: seed with the first symbol, then either fuse the
    * incoming symbol into the accumulator's tail (tail == a && x == b) or
    * append. The seed-with-first shape keeps the fold total (no empty-array
    * tail probe) and mirrors DuckDB's list_reduce init semantics exactly —
    * cross-engine parity needs identical fold order, the d55/d73 rule.
    */
  private[graft] def mergePair(syms: Column, a: String, b: String): Column =
    aggregate(
      slice(syms, lit(2), size(syms) - 1),
      array(element_at(syms, 1)),
      (acc, x) =>
        when(element_at(acc, -1) === lit(a) && x === lit(b),
          concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
          .otherwise(concat(acc, array(x))))

  /** One memoized training run per (session, dir) — the driver-side twin
    * of the ivfAssigned/clustersMemo discipline: d76, d80 and the d137
    * encode all read the same trained merges, and the result is a few
    * dozen DRIVER-side scalars (no cached RDDs to leak), so the memo is
    * bounded by construction. Stopped sessions are purged on access.
    */
  private val bpeMemo = Caches.memo[(Seq[(Long, String, Long)], Seq[(Long, Long)])]()

  private[graft] def bpeRun(s: SparkSession, dir: String)
      : (Seq[(Long, String, Long)], Seq[(Long, Long)]) =
    bpeMemo((s, dir))(bpeRunOnce(s, dir))

  /** Batched-selection BPE training (the r13-ordered production-vocab
    * path): per round ONE pair rollup, ONE bounded top-K collect
    * ([[BatchK]] rows — a TakeOrdered, not the corpus), then a
    * DRIVER-side greedy sweep down the ranked window selecting up to
    * [[BatchM]] merges whose symbols are pairwise DISJOINT (the standard
    * batching trick: symbol-disjoint merges commute, so one round's batch
    * equals applying them sequentially in rank order — which is exactly
    * how both the in-round apply and the d137 `applyMerges` encode kernel
    * run them, keeping train/encode parity exact). Rank-1 is always
    * selected, so every round makes progress; a [[BpeRounds]]-style
    * per-merge loop would cost one corpus rollup PER MERGE — this costs
    * one per ~12 merges, which is what makes a 32k-merge production vocab
    * reachable (rounds ≪ merges, pinned in BpeMergeSpec).
    */
  private[graft] val BatchK = 96 // ranked candidate window per round
  private[graft] val BatchM = 16 // max merges accepted per round
  private[graft] val BatchRounds = 8

  private val bpeBatchMemo = Caches.memo[(Seq[(Long, Long, String, Long)], Seq[(Long, Long)])]()

  private[graft] def bpeBatchRun(s: SparkSession, dir: String)
      : (Seq[(Long, Long, String, Long)], Seq[(Long, Long)]) =
    bpeBatchMemo((s, dir))(bpeBatchRunOnce(s, dir))

  private def bpeBatchRunOnce(s: SparkSession, dir: String)
      : (Seq[(Long, Long, String, Long)], Seq[(Long, Long)]) =
    bpeBatchTrain(bpeBase(s, dir), BatchK, BatchM, BatchRounds, Int.MaxValue)

  /** The batched-selection training loop over an arbitrary `(syms, wc)`
    * base table — unit-agnostic (symbols can be characters, words, or any
    * strings), so the SAME machinery trains char-level subword merges
    * (d176's 96/16/8 configuration) and production-scale runs
    * (BpeScaleSpec drives it past 1,000 merges in ~2 dozen rounds at
    * K=4096 / M=48 on the sf0.01 corpus at the phrase level). Stops early
    * once `targetMerges` have been accepted or a round selects nothing.
    */
  private[graft] def bpeBatchTrain(base: DataFrame, batchK: Int, batchM: Int,
      maxRounds: Int, targetMerges: Int)
      : (Seq[(Long, Long, String, Long)], Seq[(Long, Long)]) = {
    def total(df: DataFrame): Long =
      df.agg(sum(col("wc") * size(col("syms")))).collect()(0).getLong(0)
    // eager localCheckpoint, not persist: each round stacks one fold
    // Project PER accepted merge, so a production run (70 rounds x 48
    // merges) would grow a 3,000-Project lineage — task serialization
    // stack-overflows around ~1,000. Truncating the plan each round keeps
    // the serialized stage O(batchM) deep regardless of round count.
    // Dataset.unpersist is a NO-OP for localCheckpoint'ed frames (it only
    // clears CacheManager entries; the checkpoint persists at the RDD
    // level), so each superseded round's blocks must be dropped at the RDD
    // level via Caches.checkpointWithRdds' backing-RDD handles once the
    // next round is materialized — otherwise a 70-round production run
    // accumulates every round's corpus in the block manager until the
    // ContextCleaner happens to GC it.
    def checkpointTracked(df: DataFrame)
        : (DataFrame, Seq[org.apache.spark.rdd.RDD[_]]) =
      graft.sources.Caches.checkpointWithRdds(df)
    def dropBlocks(rdds: Seq[org.apache.spark.rdd.RDD[_]]): Unit =
      rdds.foreach(_.unpersist(blocking = false))
    var (words, blocks) = checkpointTracked(base)
    var accepted = 0
    var exhausted = false
    val merges = Seq.newBuilder[(Long, Long, String, Long)]
    val totals = Seq.newBuilder[(Long, Long)]
    totals += ((0L, total(words)))
    for (r <- 1 to maxRounds if accepted < targetMerges && !exhausted) {
      // bounded TakeOrdered collect: the K-row ranked candidate window
      val top = words
        .filter(size(col("syms")) >= 2)
        .select(explode(expr(
          "transform(sequence(1, size(syms) - 1), i -> struct(syms[i-1] AS a, syms[i] AS b))")).as("p"),
          col("wc"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("wc")).as("cnt"))
        .orderBy(col("cnt").desc, col("a"), col("b"))
        .limit(batchK)
        .collect()
        .map(row => (row.getString(0), row.getString(1), row.getLong(2)))
      // greedy sweep: accept a candidate iff its symbols are untouched by
      // every ALREADY-ACCEPTED higher-ranked merge (pairwise disjoint)
      val sel = Seq.newBuilder[(String, String, Long)]
      val used = scala.collection.mutable.Set.empty[String]
      var taken = 0
      val it = top.iterator
      while (taken < batchM && it.hasNext) {
        val (a, b, cnt) = it.next()
        if (!used(a) && !used(b)) {
          sel += ((a, b, cnt)); used += a; used += b; taken += 1
        }
      }
      val selected = sel.result()
      accepted += selected.size
      selected.zipWithIndex.foreach { case ((a, b, cnt), i) =>
        merges += ((r.toLong, (i + 1).toLong, a + " " + b, cnt))
      }
      // apply the batch as sequential rank-order fuse passes — identical
      // semantics to the d137 applyMerges kernel's pass-per-merge loop.
      // One stacked Project PER MERGE (each fold reads the child's bound
      // `syms` attribute): composing the folds as one nested Column would
      // replicate the inner expression 3x per level (slice/size/element_at
      // all reference it) — a 3^16 tree that OOMs Catalyst. CollapseProject
      // keeps the stack intact because the multiply-referenced aggregate
      // is not a cheap expression.
      val applied = selected.foldLeft(words) { case (df, (a, b, _)) =>
        df.select(mergePair(col("syms"), a, b).as("syms"), col("wc"))
      }
      if (selected.isEmpty) {
        // no adjacent pairs remain anywhere in the corpus (the greedy sweep
        // always accepts the top candidate when one exists): stop without
        // another rollup OR totals entry — the corpus is unchanged, so the
        // total is provably the previous round's value, and appending a
        // duplicate would both waste a full corpus pass and break the
        // strictly-decreasing compression-curve invariant consumers assert
        exhausted = true
      } else {
        val (ck, newBlocks) = checkpointTracked(applied)
        words = ck // eager: materialized before the superseded blocks drop
        totals += ((r.toLong, total(words)))
        dropBlocks(blocks)
        blocks = newBlocks
      }
    }
    dropBlocks(blocks)
    (merges.result(), totals.result())
  }

  /** Run the BPE training loop once: per round the argmax pair (the merge)
    * and, after applying it, the corpus token total Σ wc·|syms| — the
    * single number the compression curve (d80) reads. Totals double as the
    * materialization barrier: each round's count-style action runs before
    * the previous round unpersists, so lineage never recomputes from the
    * corpus scan.
    */
  private def bpeRunOnce(s: SparkSession, dir: String)
      : (Seq[(Long, String, Long)], Seq[(Long, Long)]) = {
    def total(df: DataFrame): Long =
      df.agg(sum(col("wc") * size(col("syms")))).collect()(0).getLong(0)
    var words = bpeBase(s, dir).persist()
    val merges = Seq.newBuilder[(Long, String, Long)]
    val totals = Seq.newBuilder[(Long, Long)]
    totals += ((0L, total(words)))
    for (r <- 1 to BpeRounds) {
      val top = words
        .filter(size(col("syms")) >= 2)
        .select(explode(expr(
          "transform(sequence(1, size(syms) - 1), i -> struct(syms[i-1] AS a, syms[i] AS b))")).as("p"),
          col("wc"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("wc")).as("cnt"))
        .orderBy(col("cnt").desc, col("a"), col("b"))
        .limit(1)
        .collect()(0)
      val (a, b, cnt) = (top.getString(0), top.getString(1), top.getLong(2))
      merges += ((r.toLong, a + " " + b, cnt))
      val prev = words
      words = prev.select(mergePair(col("syms"), a, b).as("syms"), col("wc")).persist()
      totals += ((r.toLong, total(words)))
      prev.unpersist(blocking = false)
    }
    words.unpersist(blocking = false)
    (merges.result(), totals.result())
  }

  val queries: Map[String, Q] = Map[String, Q](
    // the BPE training loop: k rounds of (count adjacent symbol pairs
    // weighted by word frequency -> take the argmax -> apply the merge).
    // Each round's rollup is partial-aggregatable over a key domain bounded
    // by the live symbol vocabulary; only the single winning (pair, count)
    // row is collected per round — the same driver-loop discipline as the
    // k-means step (d18) and connected components (d15).
    "d76_bpe_merges" -> ((s, dir) => {
      import s.implicits._
      bpeRun(s, dir)._1.toDF("round", "pair", "cnt").orderBy("round")
    }),

    // the BPE ENCODE curve — what the trainer's merges buy at application
    // time: corpus token count Σ wc·|syms| after 0..k merges, the
    // compression read a tokenizer team uses to pick vocab size. Same loop
    // (the encode pass IS the training pass's apply step run corpus-wide);
    // per round the total is one sum over the vocab table, exact integers
    // throughout.
    "d80_bpe_encode" -> ((s, dir) => {
      import s.implicits._
      bpeRun(s, dir)._2.toDF("round", "total_tokens").orderBy("round")
    }),

    // C4 line-level dedup (Raffel et al. §2.2): the testdata has no
    // sentence punctuation (word-soup by construction — TESTDATA.md forbids
    // regenerating it), so the binding SEGMENTS deterministically into
    // 8-word "sentences" joined by newline, then runs the real operator:
    // TextDedup.lineDedup keeps each distinct line only at its globally
    // first (doc, pos) occurrence and drops docs left with < 3 lines. The
    // operator is the deliverable — delimiter-parameterized, the keeper
    // election one min-struct rollup over 60-bit line hashes; the
    // segmentation is just what makes it oracle-checkable on this corpus.
    "d77_line_dedup" -> ((s, dir) => {
      val ws = split(col("text"), " ")
      val sents = docs(s, dir).select(col("doc_id"),
        array_join(transform(
          sequence(lit(0), floor((size(ws) - lit(1)) / lit(8)).cast("int")),
          i => array_join(slice(ws, i * lit(8) + lit(1), lit(8)), " ")),
          "\n").as("text"))
      graft.operators.TextDedup.lineDedup(sents, "doc_id", "text", "\n", 3)
        .orderBy("doc_id")
    }),

    // product-quantization codes (Jégou et al., "Product Quantization for
    // Nearest Neighbor Search"): split each 64-dim embedding into 8
    // subvectors, assign each to the nearest of 4 sub-centroids (vectors
    // id < 4, the d10/d18 centroid convention) by exact Euclidean
    // distance, and report the code string + total quantized
    // reconstruction error. The 8x4 sub-codebook is a bounded broadcast;
    // scoring is a per-(vector, subspace) narrow map; the argmin is one
    // two-phase min-struct rollup — at 100 TB this is the memory-8x
    // compression pass an ANN serving tier runs over the full corpus.
    // Per-sub errors are floor*1e6-quantized BEFORE the cross-sub sum
    // (the d57/d73 rule), so totals are accumulation-order-exact.
    "d78_pq_codes" -> ((s, dir) => {
      val sub = embs(s, dir)
        .select(col("vec_id"), expr("transform(embedding, x -> cast(x as double))").as("v"))
        .select(col("vec_id"), explode(expr(
          "transform(sequence(0, 7), m -> struct(m AS m, slice(v, m*8+1, 8) AS sv))")).as("s"))
        .select(col("vec_id"), col("s.m").as("m"), col("s.sv").as("sv"))
      val cent = sub.filter(col("vec_id") < 4)
        .select(col("vec_id").as("cid"), col("m"), col("sv").as("cv"))
      val scored = sub.join(broadcast(cent), Seq("m"))
        .select(col("vec_id"), col("m"), col("cid"),
          ((vec_dot(col("sv"), col("sv")) + vec_dot(col("cv"), col("cv"))) -
            lit(2.0) * vec_dot(col("sv"), col("cv"))).as("d2"))
      scored.groupBy(col("vec_id"), col("m"))
        .agg(min(struct(col("d2"), col("cid"))).as("a"))
        .select(col("vec_id"), col("m"), col("a.cid").as("code"),
          floor(col("a.d2") * lit(1000000.0)).cast("long").as("eq"))
        .groupBy(col("vec_id"))
        .agg(
          array_join(transform(
            array_sort(collect_list(struct(col("m"), col("code")))),
            x => x.getField("code").cast("string")), "-").as("codes"),
          sum(col("eq")).as("err_q6"))
        .orderBy("vec_id")
    }),

    // feature-hashing linear classifier scoring — the fastText/CCNet-style
    // model-based quality filter SHAPE with a deterministic stub model:
    // each token hashes into one of 64 buckets (60-bit md5 prefix, the
    // repo-wide hash), each bucket carries a fixed INTEGER weight
    // ((j * 2654435761) % 1000 - 500), and the doc's score is the exact
    // integer sum over token occurrences. A real deployment swaps the
    // weight formula for a broadcast weight table; the plumbing under
    // audit — hashing trick, occurrence-weighted linear score, threshold
    // label — is identical. Zero shuffle: score and count are per-doc
    // array folds inside one narrow projection.
    "d79_hash_classifier" -> ((s, dir) =>
      docs(s, dir)
        .select(col("doc_id"),
          expr("filter(split(text, ' '), w -> length(w) >= 1)").as("ws"))
        .select(col("doc_id"),
          size(col("ws")).cast("long").as("n_tokens"),
          expr(
            """aggregate(ws, CAST(0 AS BIGINT), (acc, w) -> acc +
              |  ((CAST(conv(substring(md5(w), 1, 15), 16, 10) AS BIGINT) % 64)
              |    * 2654435761 % 1000 - 500))""".stripMargin).as("score"))
        .withColumn("keep", col("score") >= 0L)
        .orderBy("doc_id"))
  ) ++ Map[String, Q](
    // content-defined chunking (the FastCDC/rsync family): chunk
    // boundaries fall where a token's hash lands in a fixed residue class
    // (h % 8 == 0), so identical content produces identical chunks at ANY
    // offset — the property fixed-window chunking (d45) lacks and the
    // reason storage/dataset-versioning dedup uses CDC. Per doc: chunk
    // count, chunks shared with >= 1 other doc (by 60-bit content hash),
    // and the shared fraction. Chunk assembly uses a PER-DOC running-sum
    // window (doc-bounded, the d42 packing discipline — never a global
    // window); the cross-doc df is one two-phase rollup on 8-byte hashes.
    "d81_cdc_chunks" -> { (s: SparkSession, dir: String) =>
      import org.apache.spark.sql.expressions.Window
      val w = docs(s, dir)
        .select(col("doc_id"),
          posexplode(expr("filter(split(text, ' '), x -> length(x) >= 1)"))
            .as(Seq("p", "w")))
        .withColumn("b",
          (conv(substring(md5(col("w")), 1, 15), 16, 10).cast("long") % 8 === 0L)
            .cast("int"))
      val win = Window.partitionBy(col("doc_id")).orderBy(col("p"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val chunks = w
        .withColumn("cix", coalesce(sum(col("b")).over(win), lit(0)))
        .groupBy(col("doc_id"), col("cix"))
        .agg(conv(substring(md5(array_join(transform(
            array_sort(collect_list(struct(col("p"), col("w")))),
            x => x.getField("w")), " ")), 1, 15), 16, 10).cast("long").as("ch"))
        // feeds BOTH the df rollup and the rejoin (r22, guide §5 — the d84
        // persist rule: a window+agg output with per-token md5 reassembly is
        // expensive to recompute and chunk-table-sized to hold)
        .transform(graft.sources.Caches.ephemeral)
      val df = chunks.select(col("doc_id"), col("ch")).distinct()
        .groupBy(col("ch")).agg(countDistinct(col("doc_id")).as("ndocs"))
      chunks.join(df, Seq("ch"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_chunks"),
          sum(when(col("ndocs") >= 2, 1L).otherwise(0L)).as("n_shared"))
        .select(col("doc_id"), col("n_chunks"), col("n_shared"),
          floor(col("n_shared") * lit(1000000L) / col("n_chunks")).cast("long")
            .as("shared_frac_q6"))
        .orderBy("doc_id")
    },

    // Count-Min sketch audit (Cormode & Muthukrishnan) — the d61/d55
    // estimate-vs-exact pattern applied to the mergeable counting sketch a
    // streaming pipeline would keep per shard: depth 2 x width 64, rows
    // built as TWO bounded partial-agg rollups (64 rows each, broadcast
    // back), estimates = min over rows, audited against the exact top-20.
    // CMS guarantees est >= exact; `overcount` is the collision cost the
    // width buys. Everything is exact integers — the sketch itself is
    // deterministic data, so the audit cross-checks engines bit-for-bit.
    "d82_cms_audit" -> { (s: SparkSession, dir: String) =>
      def bucket(r: Int, w: Column): Column =
        conv(substring(md5(concat(lit(r.toString), lit(":"), w)), 1, 15), 16, 10)
          .cast("long") % 64
      val c = docs(s, dir)
        .select(explode(split(col("text"), " ")).as("w"))
        .filter(length(col("w")) >= 1)
        .groupBy("w").agg(count(lit(1)).as("c"))
      def sketch(r: Int): DataFrame = c
        .groupBy(bucket(r, col("w")).as(s"b$r"))
        .agg(sum(col("c")).as(s"s$r"))
      val top = c.orderBy(col("c").desc, col("w")).limit(20)
        .withColumn("b0", bucket(0, col("w")))
        .withColumn("b1", bucket(1, col("w")))
      top.join(broadcast(sketch(0)), Seq("b0"))
        .join(broadcast(sketch(1)), Seq("b1"))
        .select(col("w"), col("c").as("exact"),
          least(col("s0"), col("s1")).as("est"))
        .withColumn("overcount", col("est") - col("exact"))
        .orderBy(col("exact").desc, col("w"))
    },

    // Heaps'-law vocabulary growth curve: token and distinct-type counts
    // over the first k documents, k in {100, 250, 500} — the
    // types-vs-tokens read behind vocab-size planning (and d74's pruning
    // rationale). Scale shape: types@k come from the per-word FIRST
    // OCCURRENCE table (vocab-bounded — never re-scanning the corpus per
    // k), tokens@k from the per-doc count table (doc-bounded); the k table
    // is 3 fixed rows.
    "d83_heaps_curve" -> { (s: SparkSession, dir: String) =>
      import s.implicits._
      val ks = broadcast(Seq(100L, 250L, 500L).toDF("k"))
      val words = docs(s, dir)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        .filter(length(col("w")) >= 1)
      val types = words.groupBy("w").agg(min(col("doc_id")).as("fd"))
        .join(ks, col("fd") < col("k"))
        .groupBy("k").agg(count(lit(1)).as("types"))
      val tokens = words.groupBy("doc_id").agg(count(lit(1)).as("n"))
        .join(ks, col("doc_id") < col("k"))
        .groupBy("k").agg(sum(col("n")).as("tokens"))
      tokens.join(types, Seq("k"))
        .select(col("k"), col("tokens"), col("types"),
          floor(col("types") * lit(1000000L) / col("tokens")).cast("long").as("ttr_q6"))
        .orderBy("k")
    },

    // the tokenizer-path capstone (the d34 pattern for the packing side):
    // length filter -> sentence segmentation -> C4 line dedup -> token
    // recount on the DEDUPED text -> greedy next-fit packing, composing
    // lineDedup + packGreedy end-to-end. Every stage keeps its own scale
    // shape (narrow filter, min-struct keeper rollup, per-shard fold), so
    // the composition adds no new shuffle class — what a production
    // "clean and pack" job actually runs before training.
    "d85_pack_capstone" -> { (s: SparkSession, dir: String) =>
      val ws = split(col("text"), " ")
      val sents = docs(s, dir)
        .filter(size(split(col("text"), " ")) >= 24)
        .select(col("doc_id"),
          array_join(transform(
            sequence(lit(0), floor((size(ws) - lit(1)) / lit(8)).cast("int")),
            i => array_join(slice(ws, i * lit(8) + lit(1), lit(8)), " ")),
            "\n").as("text"))
      val ded = graft.operators.TextDedup.lineDedup(sents, "doc_id", "text", "\n", 3)
      val toked = ded.select(col("doc_id"),
        size(split(col("text"), "[\\n ]")).cast("long").as("n_tok"))
      graft.operators.SequencePacking.packGreedy(toked, "doc_id", "n_tok", 256, 8)
        .orderBy("doc_id")
    },

    // sequence-length planning curve: packing efficiency (fill fraction,
    // sequence count) at seqLen 128/256/512 — the "what context length
    // wastes least compute" read, produced by the SAME per-shard greedy
    // next-fit fold as d43 run at three budgets. Each run is one corpus
    // pass + a shards-row prefix sum; the curve is 3 aggregate rows. A
    // doc longer than the budget packs alone (fill can exceed 1e6 at
    // L=128 — that overflow is exactly what the curve is for).
    "d88_seqlen_curve" -> { (s: SparkSession, dir: String) =>
      val toked = docs(s, dir).select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tok"))
      Seq(128, 256, 512).map { l =>
        graft.operators.SequencePacking.packGreedy(toked, "doc_id", "n_tok", l, 8)
          .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("tot_tok"),
            (max(col("seq")) + lit(1L)).as("n_seqs"))
          .select(lit(l.toLong).as("seq_len"), col("n_docs"), col("n_seqs"),
            floor(col("tot_tok") * lit(1000000L) / (col("n_seqs") * lit(l.toLong)))
              .cast("long").as("fill_q6"))
      }.reduce(_ unionAll _).orderBy("seq_len")
    },

    // b-bit minhash audit (Li & Koenig, "b-Bit Minwise Hashing"): keeping
    // only each signature slot's LOWEST BIT costs 1/64th the index memory;
    // the price is estimator variance — P(bit agree) = (1+J)/2, so
    // J_1bit = 2*agree/16 - 1. On the d02 candidate pairs, the 1-bit and
    // full-slot estimates side by side with exact Jaccard — d62's audit
    // frame extended to the compressed regime a 100 TB index actually
    // ships. Same equi-join shapes; all outputs exact integers.
    "d87_bbit_minhash" -> { (s: SparkSession, dir: String) =>
      val pairs = DataQueries.minhashPairs(s, dir)
      val sig = graft.operators.TextDedup
        .minhashSignatures(docs(s, dir), "doc_id", "text")
      val agree16 = (0 until 16)
        .map(i => when(col(s"x.m$i") === col(s"y.m$i"), 1L).otherwise(0L))
        .reduce(_ + _)
      val agree1 = (0 until 16)
        .map(i => when(col(s"x.m$i").bitwiseAND(lit(1L)) ===
          col(s"y.m$i").bitwiseAND(lit(1L)), 1L).otherwise(0L))
        .reduce(_ + _)
      val sh = docs(s, dir).select(col("doc_id"),
        explode(array_distinct(graft.functions.prom.shingle_g(col("text"), 3))).as("g"))
      val sz = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
      val iv = pairs
        .join(sh.select(col("doc_id").as("a"), col("g")), Seq("a"))
        .join(sh.select(col("doc_id").as("b"), col("g")), Seq("b", "g"))
        .groupBy(col("a"), col("b")).agg(count(lit(1)).as("inter"))
      pairs.join(sig.as("x"), col("a") === col("x.__id"))
        .join(sig.as("y"), col("b") === col("y.__id"))
        .select(col("a"), col("b"), agree1.as("agree1"), agree16.as("agree16"))
        .join(iv, Seq("a", "b"), "left")
        .join(sz.select(col("doc_id").as("a"), col("n").as("na")), Seq("a"))
        .join(sz.select(col("doc_id").as("b"), col("n").as("nb")), Seq("b"))
        .select(col("a"), col("b"), col("agree1"), col("agree16"),
          floor((col("agree1") * 2 - 16) * lit(1000000L) / 16).cast("long").as("est1_q6"),
          floor(col("agree16") * lit(1000000L) / 16).cast("long").as("est16_q6"),
          floor(coalesce(col("inter"), lit(0L)) * lit(1000000L) /
            (col("na") + col("nb") - coalesce(col("inter"), lit(0L))))
            .cast("long").as("jacc_q6"))
        .orderBy("a", "b")
    },

    // dedup-cluster-aware train/val split — the leakage guard a plain
    // per-doc split (d33) lacks: near-duplicate documents MUST co-travel
    // into the same split or the val set leaks into train through its
    // near-dups. The split key is the near-dup cluster label (min doc_id,
    // from the shared persisted d15 clusters) for clustered docs and the
    // doc's own id for singletons; the hash-window rule is d33's, applied
    // to the key — so membership stays stable under re-runs and appends.
    "d86_cluster_split" -> { (s: SparkSession, dir: String) =>
      val cl = DataQueries3.dedupClusters(s, dir)
      val keyed = docs(s, dir).select(col("doc_id"))
        .join(cl, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("cluster"), col("doc_id")).as("cluster_key"))
      graft.operators.Sampling.withTrainValSplit(keyed, "cluster_key")
        .select(col("doc_id"), col("cluster_key"), col("split"))
        .orderBy("doc_id")
    },

    // aligned shared-run estimation — the substring forensics step after
    // d72's pair detection (Lee et al.'s "what exactly is duplicated"
    // question): fingerprints shared at a constant position offset witness
    // one aligned run, so the best offset group's span estimates the
    // longest shared token run without ever comparing texts. Same df
    // valve as d72; two partial-agg rollups after the position join.
    // NOTE: d84 deliberately does NOT read the shared persisted sketch
    // (DataQueries8.winnowFp): its fingerprint SELF-join lets Catalyst
    // reuse one exchange for both sides of the fused recompute, which
    // measures consistently faster than two scans of the cached relation
    // (2.2s vs 2.6-2.8s at sf0.1) — the memo wins only for the
    // single-consumer shapes (d69/d72).
    "d84_winnow_runs" -> { (s: SparkSession, dir: String) =>
      graft.operators.TextDedup
        .winnowAlignedRuns(docs(s, dir), "doc_id", "text",
          gramN = 3, window = 4, minShared = 2, maxBucket = 16)
        .orderBy("a", "b")
    }
  )

  /** The oracle unrolls the same loop: per round a pair-count CTE, a LIMIT 1
    * argmax CTE, and a list_reduce merge CTE (init = first symbol, identical
    * fold order to the Spark kernel).
    */
  private[queries] def bpeCtes: String = {
    val base =
      """w0 AS (SELECT [substr(w, i, 1) FOR i IN generate_series(1, length(w))] AS syms,
        |         CAST(count(*) AS BIGINT) AS wc
        |       FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        |       WHERE length(w) >= 1 GROUP BY w)""".stripMargin
    val rounds = (1 to BpeRounds).map { r =>
      s"""p$r AS (SELECT syms[i] AS a, syms[i+1] AS b, sum(wc) AS cnt
         |  FROM (SELECT syms, wc, unnest(generate_series(1, len(syms) - 1)) AS i
         |        FROM w${r - 1} WHERE len(syms) >= 2)
         |  GROUP BY 1, 2),
         |t$r AS (SELECT a, b, cnt FROM p$r ORDER BY cnt DESC, a, b LIMIT 1),
         |w$r AS (SELECT list_reduce([[x] FOR x IN syms],
         |    (acc, xs) -> CASE WHEN acc[-1] = t.a AND xs[1] = t.b
         |      THEN list_append(acc[1:len(acc)-1], t.a || t.b)
         |      ELSE list_append(acc, xs[1]) END) AS syms, wc
         |  FROM w${r - 1}, t$r t)""".stripMargin
    }
    s"WITH $base,\n${rounds.mkString(",\n")}"
  }

  private def bpeOracle: String = {
    val selects = (1 to BpeRounds).map { r =>
      s"SELECT CAST($r AS BIGINT) AS round, a || ' ' || b AS pair, CAST(cnt AS BIGINT) AS cnt FROM t$r"
    }
    s"$bpeCtes\n${selects.mkString("\nUNION ALL ")}\nORDER BY round"
  }

  /** The encode-curve oracle shares the unrolled loop CTEs and reads one
    * SUM per round's vocabulary state.
    */
  private def bpeEncodeOracle: String = {
    val selects = (0 to BpeRounds).map { r =>
      s"SELECT CAST($r AS BIGINT) AS round, CAST(sum(wc * len(syms)) AS BIGINT) AS total_tokens FROM w$r"
    }
    s"$bpeCtes\n${selects.mkString("\nUNION ALL ")}\nORDER BY round"
  }

  /** One recursive next-fit block per budget (the d43 CTE parameterized by
    * L), then one aggregate row each.
    */
  private def seqLenCurveOracle: String = {
    val ls = Seq(128, 256, 512)
    val blocks = ls.map { l =>
      s"""b$l AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok, doc_id % 8 AS shard FROM documents),
         |n$l AS (SELECT doc_id, n_tok, shard, row_number() OVER (PARTITION BY shard ORDER BY doc_id) AS rn FROM b$l),
         |r$l AS (
         |  SELECT shard, rn, doc_id, n_tok, n_tok AS fill, CAST(0 AS BIGINT) AS bin FROM n$l WHERE rn = 1
         |  UNION ALL
         |  SELECT n.shard, n.rn, n.doc_id, n.n_tok,
         |    CASE WHEN r.fill + n.n_tok <= $l THEN r.fill + n.n_tok ELSE n.n_tok END,
         |    CASE WHEN r.fill + n.n_tok <= $l THEN r.bin ELSE r.bin + 1 END
         |  FROM r$l r JOIN n$l n ON n.shard = r.shard AND n.rn = r.rn + 1),
         |t$l AS (SELECT shard, max(bin) + 1 AS nseq FROM r$l GROUP BY shard),
         |a$l AS (SELECT CAST($l AS BIGINT) AS seq_len, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST((SELECT sum(nseq) FROM t$l) AS BIGINT) AS n_seqs,
         |  CAST(floor(sum(n_tok) * 1000000.0 / ((SELECT sum(nseq) FROM t$l) * $l)) AS BIGINT) AS fill_q6
         |  FROM r$l)""".stripMargin
    }
    "WITH RECURSIVE " + blocks.mkString(",\n") + "\n" +
      ls.map(l => s"SELECT * FROM a$l").mkString("\nUNION ALL ") + "\nORDER BY seq_len"
  }

  /** The d84 winnow-pair CTEs (fingerprints -> df-valved pairs -> per-offset
    * aligned groups -> best offset per pair), shared with the d190 exact-run
    * forensics oracle so the pair set the exact pass audits can never drift
    * from the pair set d84 reports.
    */
  private[queries] val winnowRunCtes: String =
    (s"${DataQueries8.winnowCte}," +
      """fp AS (SELECT DISTINCT doc_id, i, h FROM sel),
        |dfh AS (SELECT h FROM (SELECT h, count(DISTINCT doc_id) AS df FROM fp GROUP BY h)
        |        WHERE df BETWEEN 2 AND 16),
        |fo AS (SELECT f.doc_id, f.i, f.h FROM fp f JOIN dfh USING (h)),
        |pr AS (SELECT x.doc_id AS a, y.doc_id AS b, x.i AS pa, y.i AS pb, x.h AS h
        |       FROM fo x JOIN fo y ON x.h = y.h AND x.doc_id < y.doc_id),
        |gg AS (SELECT a, b, pa - pb AS diff, CAST(count(*) AS BIGINT) AS n_aligned,
        |         CAST(max(pa) - min(pa) + 3 AS BIGINT) AS est_run
        |       FROM pr GROUP BY a, b, pa - pb),
        |sh AS (SELECT a, b, CAST(count(DISTINCT h) AS BIGINT) AS shared FROM pr GROUP BY a, b),
        |best AS (SELECT a, b, est_run, n_aligned FROM (
        |    SELECT gg.*, row_number() OVER (PARTITION BY a, b
        |      ORDER BY est_run DESC, n_aligned DESC, diff) AS rn FROM gg)
        |  WHERE rn = 1)""".stripMargin)

  val oracles: Map[String, String] = Map(
    "d76_bpe_merges" -> bpeOracle,
    "d80_bpe_encode" -> bpeEncodeOracle,
    "d88_seqlen_curve" -> seqLenCurveOracle,

    "d77_line_dedup" ->
      """WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |sent AS (SELECT doc_id, i AS p, array_to_string(w[i*8+1 : i*8+8], ' ') AS line
        |  FROM (SELECT doc_id, w,
        |          unnest(generate_series(0, CAST(floor((len(w) - 1) / 8.0) AS BIGINT))) AS i
        |        FROM ws)),
        |l AS (SELECT doc_id, p, line FROM sent WHERE length(trim(line)) > 0),
        |kept AS (SELECT doc_id, p, line FROM (
        |    SELECT l.*, row_number() OVER (PARTITION BY line ORDER BY doc_id, p) AS rn FROM l)
        |  WHERE rn = 1),
        |tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines FROM l GROUP BY doc_id),
        |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
        |          string_agg(line, chr(10) ORDER BY p) AS text
        |        FROM kept GROUP BY doc_id)
        |SELECT a.doc_id, t.n_lines, a.n_kept, a.text
        |FROM agg a JOIN tot t USING (doc_id) WHERE a.n_kept >= 3
        |ORDER BY a.doc_id""".stripMargin,

    "d78_pq_codes" ->
      """WITH e AS (SELECT vec_id, [CAST(x AS DOUBLE) FOR x IN embedding] AS v FROM embeddings),
        |sub AS (SELECT vec_id, m, v[m*8+1 : m*8+8] AS sv
        |  FROM e, (SELECT unnest(generate_series(0, 7)) AS m)),
        |cent AS (SELECT vec_id AS cid, m, sv AS cv FROM sub WHERE vec_id < 4),
        |sc AS (SELECT s.vec_id, s.m, c.cid,
        |    (list_reduce(list_prepend(0.0::DOUBLE, [s.sv[i] * s.sv[i] FOR i IN generate_series(1, len(s.sv))]), (x, y) -> x + y)
        |     + list_reduce(list_prepend(0.0::DOUBLE, [c.cv[i] * c.cv[i] FOR i IN generate_series(1, len(c.cv))]), (x, y) -> x + y))
        |     - 2.0 * list_reduce(list_prepend(0.0::DOUBLE, [s.sv[i] * c.cv[i] FOR i IN generate_series(1, len(s.sv))]), (x, y) -> x + y) AS d2
        |  FROM sub s JOIN cent c USING (m)),
        |amin AS (SELECT vec_id, m, cid, d2 FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id, m ORDER BY d2, cid) AS rn FROM sc)
        |  WHERE rn = 1)
        |SELECT vec_id,
        |  string_agg(CAST(cid AS VARCHAR), '-' ORDER BY m) AS codes,
        |  CAST(sum(CAST(floor(d2 * 1000000.0) AS BIGINT)) AS BIGINT) AS err_q6
        |FROM amin GROUP BY vec_id ORDER BY vec_id""".stripMargin,

    "d81_cdc_chunks" ->
      """WITH ws AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> length(x) >= 1) AS w FROM documents),
        |t AS (SELECT doc_id, w, unnest(generate_series(1, len(w))) AS i FROM ws),
        |b AS (SELECT doc_id, i - 1 AS p, w[i] AS tok,
        |    CASE WHEN CAST(('0x' || substr(md5(w[i]), 1, 15)) AS BIGINT) % 8 = 0 THEN 1 ELSE 0 END AS b
        |  FROM t),
        |cx AS (SELECT doc_id, p, tok,
        |    COALESCE(sum(b) OVER (PARTITION BY doc_id ORDER BY p
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cix
        |  FROM b),
        |chunks AS (SELECT doc_id, cix,
        |    CAST(('0x' || substr(md5(string_agg(tok, ' ' ORDER BY p)), 1, 15)) AS BIGINT) AS ch
        |  FROM cx GROUP BY doc_id, cix),
        |df AS (SELECT ch, count(DISTINCT doc_id) AS ndocs FROM chunks GROUP BY ch)
        |SELECT c.doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
        |  CAST(sum(CASE WHEN d.ndocs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
        |  CAST(floor(sum(CASE WHEN d.ndocs >= 2 THEN 1 ELSE 0 END) * 1000000.0 / count(*)) AS BIGINT) AS shared_frac_q6
        |FROM chunks c JOIN df d USING (ch)
        |GROUP BY c.doc_id ORDER BY c.doc_id""".stripMargin,

    "d85_pack_capstone" ->
      """WITH RECURSIVE ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents
        |  WHERE len(string_split(text, ' ')) >= 24),
        |sent AS (SELECT doc_id, i AS p, array_to_string(w[i*8+1 : i*8+8], ' ') AS line
        |  FROM (SELECT doc_id, w,
        |          unnest(generate_series(0, CAST(floor((len(w) - 1) / 8.0) AS BIGINT))) AS i
        |        FROM ws)),
        |l AS (SELECT doc_id, p, line FROM sent WHERE length(trim(line)) > 0),
        |kept AS (SELECT doc_id, p, line FROM (
        |    SELECT l.*, row_number() OVER (PARTITION BY line ORDER BY doc_id, p) AS rn FROM l)
        |  WHERE rn = 1),
        |sv AS (SELECT doc_id, CAST(sum(len(string_split(line, ' '))) AS BIGINT) AS n_tok
        |       FROM kept GROUP BY doc_id HAVING count(*) >= 3),
        |b AS (SELECT doc_id, n_tok, doc_id % 8 AS shard FROM sv),
        |n AS (SELECT doc_id, n_tok, shard, row_number() OVER (PARTITION BY shard ORDER BY doc_id) AS rn FROM b),
        |r AS (
        |  SELECT shard, rn, doc_id, n_tok, n_tok AS fill, CAST(0 AS BIGINT) AS bin FROM n WHERE rn = 1
        |  UNION ALL
        |  SELECT n.shard, n.rn, n.doc_id, n.n_tok,
        |    CASE WHEN r.fill + n.n_tok <= 256 THEN r.fill + n.n_tok ELSE n.n_tok END AS fill,
        |    CASE WHEN r.fill + n.n_tok <= 256 THEN r.bin ELSE r.bin + 1 END AS bin
        |  FROM r JOIN n ON n.shard = r.shard AND n.rn = r.rn + 1
        |),
        |t AS (SELECT shard, max(bin) + 1 AS nseq FROM r GROUP BY shard),
        |bs AS (SELECT shard, COALESCE(sum(nseq) OVER (ORDER BY shard ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS base FROM t)
        |SELECT r.doc_id, r.n_tok, r.shard, CAST(bs.base + r.bin AS BIGINT) AS seq
        |FROM r JOIN bs USING (shard) ORDER BY doc_id""".stripMargin,

    "d87_bbit_minhash" ->
      (s"WITH ${DataQueries.minhashPairsCte}," +
        """sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM sh GROUP BY doc_id),
          |iv AS (SELECT p.a, p.b, CAST(count(*) AS BIGINT) AS inter
          |  FROM pairs p JOIN sh x ON x.doc_id = p.a JOIN sh y ON y.doc_id = p.b AND y.sh = x.sh
          |  GROUP BY p.a, p.b),
          |es AS (SELECT p.a, p.b, CAST(""".stripMargin +
        (0 until 16).map(i =>
          s"(CASE WHEN (x.m$i & 1) = (y.m$i & 1) THEN 1 ELSE 0 END)").mkString(" + ") +
        " AS BIGINT) AS agree1, CAST(" +
        (0 until 16).map(i =>
          s"(CASE WHEN x.m$i = y.m$i THEN 1 ELSE 0 END)").mkString(" + ") +
        """ AS BIGINT) AS agree16
          |  FROM pairs p JOIN sig x ON x.doc_id = p.a JOIN sig y ON y.doc_id = p.b)
          |SELECT es.a, es.b, es.agree1, es.agree16,
          |  CAST(floor((es.agree1 * 2 - 16) * 1000000.0 / 16) AS BIGINT) AS est1_q6,
          |  CAST(floor(es.agree16 * 1000000.0 / 16) AS BIGINT) AS est16_q6,
          |  CAST(floor(COALESCE(iv.inter, 0) * 1000000.0 /
          |    (sa.n + sb.n - COALESCE(iv.inter, 0))) AS BIGINT) AS jacc_q6
          |FROM es LEFT JOIN iv ON es.a = iv.a AND es.b = iv.b
          |JOIN sz sa ON sa.doc_id = es.a JOIN sz sb ON sb.doc_id = es.b
          |ORDER BY es.a, es.b""".stripMargin),

    "d86_cluster_split" ->
      ("WITH RECURSIVE " + DataQueries.minhashPairsCte + """,
        |edges AS (SELECT a AS u, b AS v FROM pairs UNION ALL SELECT b, a FROM pairs),
        |nodes AS (SELECT DISTINCT u AS n FROM edges),
        |walk(n, l) AS (
        |  SELECT n, n FROM nodes
        |  UNION
        |  SELECT e.v, w.l FROM walk w JOIN edges e ON e.u = w.n),
        |cl AS (SELECT n AS doc_id, min(l) AS cluster FROM walk GROUP BY n),
        |a AS (SELECT d.doc_id, COALESCE(cl.cluster, d.doc_id) AS cluster_key
        |      FROM documents d LEFT JOIN cl ON d.doc_id = cl.doc_id)
        |SELECT doc_id, cluster_key,
        |  CASE WHEN CAST(('0x' || substr(md5(CAST(cluster_key AS VARCHAR)), 9, 5)) AS BIGINT) % 20 = 0
        |       THEN 'val' ELSE 'train' END AS split
        |FROM a ORDER BY doc_id""".stripMargin),

    "d84_winnow_runs" ->
      (s"WITH $winnowRunCtes\n" +
        """SELECT sh.a, sh.b, sh.shared, best.est_run, best.n_aligned
          |FROM sh JOIN best USING (a, b) WHERE sh.shared >= 2
          |ORDER BY sh.a, sh.b""".stripMargin),

    "d82_cms_audit" ->
      """WITH t AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
        |c AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM t WHERE length(w) >= 1 GROUP BY w),
        |h AS (SELECT w, c,
        |    CAST(('0x' || substr(md5('0:' || w), 1, 15)) AS BIGINT) % 64 AS b0,
        |    CAST(('0x' || substr(md5('1:' || w), 1, 15)) AS BIGINT) % 64 AS b1
        |  FROM c),
        |s0 AS (SELECT b0, sum(c) AS s0 FROM h GROUP BY b0),
        |s1 AS (SELECT b1, sum(c) AS s1 FROM h GROUP BY b1),
        |top AS (SELECT w, c, b0, b1 FROM h ORDER BY c DESC, w LIMIT 20)
        |SELECT top.w, top.c AS exact,
        |  CAST(least(s0.s0, s1.s1) AS BIGINT) AS est,
        |  CAST(least(s0.s0, s1.s1) - top.c AS BIGINT) AS overcount
        |FROM top JOIN s0 USING (b0) JOIN s1 USING (b1)
        |ORDER BY exact DESC, w""".stripMargin,

    "d83_heaps_curve" ->
      """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
        |f AS (SELECT doc_id, w FROM t WHERE length(w) >= 1),
        |fd AS (SELECT w, min(doc_id) AS fd FROM f GROUP BY w),
        |dt AS (SELECT doc_id, count(*) AS n FROM f GROUP BY doc_id),
        |ks AS (SELECT unnest([100, 250, 500]) AS k),
        |ty AS (SELECT k, CAST(count(*) AS BIGINT) AS types FROM fd JOIN ks ON fd < k GROUP BY k),
        |tk AS (SELECT k, CAST(sum(n) AS BIGINT) AS tokens FROM dt JOIN ks ON doc_id < k GROUP BY k)
        |SELECT CAST(tk.k AS BIGINT) AS k, tk.tokens, ty.types,
        |  CAST(floor(ty.types * 1000000.0 / tk.tokens) AS BIGINT) AS ttr_q6
        |FROM tk JOIN ty USING (k) ORDER BY k""".stripMargin,

    "d79_hash_classifier" ->
      """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
        |f AS (SELECT doc_id, w,
        |    (CAST(('0x' || substr(md5(w), 1, 15)) AS BIGINT) % 64) * 2654435761 % 1000 - 500 AS wt
        |  FROM t WHERE length(w) >= 1)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |  CAST(sum(wt) AS BIGINT) AS score, sum(wt) >= 0 AS keep
        |FROM f GROUP BY doc_id ORDER BY doc_id""".stripMargin
  )
}
