package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.prom.vec_dot

/** Sixth wave: sequence packing — the last mile of a training-data pipeline,
  * where filtered/deduped/mixed documents become fixed-length training
  * sequences. Both shapes bind the public
  * [[graft.operators.SequencePacking]] API to the documents table with
  * whitespace token counts, seqLen=256, 8 shards.
  */
object DataQueries6 extends QueryModule {

  private def withTok(df: DataFrame): DataFrame =
    df.select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n_tok"))

  val queries: Map[String, Q] = Map(
    // concat-and-chunk packing (documents may span sequence boundaries):
    // per-shard cumulative sums (bounded windows), a shards-row prefix-sum
    // for global ids, zero padding waste — the GPT-style pretraining layout.
    "d42_seq_pack" -> ((s, dir) =>
      graft.operators.SequencePacking
        .packChunked(withTok(docs(s, dir)), "doc_id", "n_tok", 256, 8)
        .orderBy("doc_id")),

    // greedy next-fit packing (documents never split; a sequence closes when
    // the next doc does not fit): the per-shard fold emits each doc's bin,
    // global ids from the same shards-row prefix-sum.
    "d43_pack_greedy" -> ((s, dir) =>
      graft.operators.SequencePacking
        .packGreedy(withTok(docs(s, dir)), "doc_id", "n_tok", 256, 8)
        .orderBy("doc_id")),

    // fixed-window chunking with overlap (200-char windows every 150 chars):
    // the context-window stage for retrieval/embedding pipelines, as a pure
    // narrow map + per-row explode — zero shuffle, full tail coverage.
    "d45_chunk_text" -> ((s, dir) =>
      graft.operators.TextChunking
        .chunkFixed(docs(s, dir), "doc_id", "text", 200, 150)
        .select(col("doc_id"), col("chunk_idx"), col("start"), col("chunk_len"),
          md5(col("chunk")).as("chunk_md5"))
        .orderBy("doc_id", "chunk_idx")),

    // capped greedy packing: next-fit with a max-docs-per-sequence knob (the
    // attention-mask constraint — a sequence closes after 4 docs even when
    // more would fit). Same per-shard O(n) kernel fold as d43, one extra
    // condition; the cap binds here (~8 short docs would fit 256 tokens).
    "d47_pack_capped" -> ((s, dir) =>
      graft.operators.SequencePacking
        .packGreedy(withTok(docs(s, dir)), "doc_id", "n_tok", 256, 8,
          maxDocsPerSeq = 4)
        .orderBy("doc_id")),

    // embedding truncation + renormalization (the "matryoshka" storage
    // tier): keep the first 16 of 64 dims and rescale to unit norm — the
    // cheap-retrieval representation pipelines store alongside the full
    // vector. A pure narrow map; the norm is the codegen'd fold-ordered
    // vec_dot (bit-identical across engines), and components are quantized
    // to integers before stringifying so no float rendering crosses the
    // oracle.
    "d51_truncate_embed" -> ((s, dir) => {
      val v = transform(col("embedding"), x => x.cast("double"))
      embs(s, dir)
        .select(col("vec_id"), slice(v, 1, 16).as("t"))
        .withColumn("nrm",
          sqrt(graft.functions.prom.vec_dot(col("t"), col("t"))))
        .select(col("vec_id"), col("nrm"),
          array_join(transform(col("t"),
            x => floor(x * lit(1000000.0) / greatest(col("nrm"), lit(1e-30)))
              .cast("string")), ",").as("q"))
        .orderBy("vec_id")
    }),

    // per-doc contamination fraction — the thresholding variant of d23's
    // benchmark decontamination: score EVERY dump doc by the share of its
    // distinct 5-gram shingles that appear in the benchmark (src0), and
    // keep docs under 50% overlap (partial-contamination policy, vs d23's
    // any-hit report). Grams cross the join as the codegen'd 60-bit hashes;
    // the benchmark gram set is fixed-size and broadcast, the rest is one
    // partial-aggregatable groupBy per doc.
    "d50_contamination_frac" -> ((s, dir) => {
      val grams = docs(s, dir).select(col("doc_id"), col("source"),
        explode(graft.functions.prom.shingle_g(col("text"), 5)).as("g"))
      val bench = grams.filter(col("source") === "src0")
        .select(col("g"), lit(true).as("hit")).distinct()
      grams.filter(col("source") =!= "src0")
        .join(broadcast(bench), Seq("g"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_grams"),
          sum(when(col("hit"), 1L).otherwise(0L)).as("n_shared"))
        .withColumn("contam_frac",
          col("n_shared").cast("double") / col("n_grams").cast("double"))
        .withColumn("keep", col("contam_frac") < 0.5)
        .orderBy("doc_id")
    }),

    // tokenizer-prep: build a 256-word vocabulary (top corpus frequencies,
    // ties by word) and account each document's out-of-vocabulary tokens —
    // the coverage audit run before committing to a tokenizer. The vocab is
    // a TakeOrdered over the word aggregate (bounded 256 rows at any corpus
    // size — broadcast by construction, like the 25-row nation dim); the
    // per-doc accounting is one explode + broadcast join + groupBy(doc).
    "d49_token_ids" -> ((s, dir) => {
      val words = docs(s, dir)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      val vocab = words.groupBy(col("w")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("w")).limit(256)
        .select(col("w"), lit(true).as("in_vocab"))
      words.join(broadcast(vocab), Seq("w"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tok"),
          sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
        .withColumn("oov_rate",
          col("n_oov").cast("double") / col("n_tok").cast("double"))
        .orderBy("doc_id")
    }),

    // per-domain rate capping: keep at most 10 docs per source (domain),
    // chosen by deterministic md5(id) order — the web-corpus curation step
    // that stops any one domain from dominating the mix. Shape =
    // Sampling.minwisePerStratum (bounded TopKStruct aggregate): O(k) state
    // per domain with map-side partials, no per-group sort, no window over
    // the corpus; reproducible across engines, re-runs, and appends.
    "d46_domain_cap" -> ((s, dir) => {
      val d = docs(s, dir)
        .withColumn("h", md5(col("doc_id").cast("string")))
      graft.operators.Sampling
        .minwisePerStratum(d, Seq("source"), "h", "doc_id", 10)
        .select(col("source"), col("rank"), col("doc_id"))
        .orderBy("source", "rank")
    }),

    // BM25 ranking over the corpus for a fixed 3-term query (the retrieval
    // scorer the d25 inverted index exists to serve). Shape: one narrow map
    // computes per-doc tf/dl; a ONE-ROW aggregate (N, Σdl, per-term df) is
    // broadcast back; scoring is another narrow map; the final top-20 is a
    // TakeOrderedAndProject — O(k) per partition, no corpus sort. At 100 TB
    // the same plan stands: stats row stays one row, scoring stays narrow.
    // Cross-engine determinism: tf/df/dl/N are integer-valued doubles (exact
    // sums in any order), the 3 contributions add in fixed left-to-right
    // order, and the score is published floored to 1e-6 quanta so a
    // last-ulp ln() difference between runtimes cannot surface.
    "d52_bm25" -> ((s, dir) => {
      val terms = Seq("join", "scan", "vector")
      val d = docs(s, dir)
        .select(col("doc_id"), split(col("text"), " ").as("w"))
        .withColumn("dl", size(col("w")).cast("double"))
      val tf = terms.zipWithIndex.foldLeft(d) { case (df, (t, i)) =>
        df.withColumn(s"tf$i",
          size(filter(col("w"), x => x === lit(t))).cast("double"))
      }
      val aggCols = count(lit(1)).cast("double").as("n") +:
        sum(col("dl")).as("sumdl") +:
        terms.indices.map(i =>
          sum(when(col(s"tf$i") > 0, 1.0).otherwise(0.0)).as(s"df$i"))
      val stats = tf.agg(aggCols.head, aggCols.tail: _*)
      val scored = tf.crossJoin(broadcast(stats))
        .withColumn("avgdl", col("sumdl") / col("n"))
      // Okapi BM25, k1=1.2 b=0.75: idf * tf*(k1+1) / (tf + k1*(1-b+b*dl/avgdl))
      def contrib(i: Int) =
        log(lit(1.0) + (col("n") - col(s"df$i") + lit(0.5)) / (col(s"df$i") + lit(0.5))) *
          (col(s"tf$i") * lit(2.2)) /
          (col(s"tf$i") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl")))
      scored
        .withColumn("score", contrib(0) + contrib(1) + contrib(2))
        .select(col("doc_id"), floor(col("score") * lit(1000000.0)).as("score_q6"))
        .orderBy(col("score_q6").desc, col("doc_id")).limit(20)
    }),

    // temperature-scaled language mixing weights (the mT5/XLM-R alpha=0.3
    // upsampling rule): per-language corpus share p, weight p^alpha,
    // published relative to the dominant language (w / max(w)) — max is
    // order-independent, so no cross-engine float-sum enters the result,
    // and the 1e-6 quantization absorbs any last-ulp pow() skew. ONE
    // corpus scan + groupBy(lang); everything after runs in a
    // single-partition window over the aggregated rows, which is bounded
    // by the language cardinality (dozens) at any corpus size — the same
    // tiny-side window shape as d26's histogram thresholds.
    "d53_temp_mix" -> ((s, dir) => {
      val all = Window.partitionBy(lit(0))
      docs(s, dir).groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
        .withColumn("n_total", sum(col("n_docs")).over(all))
        .withColumn("w",
          pow(col("n_docs").cast("double") / col("n_total").cast("double"), lit(0.3)))
        .withColumn("wmax", max(col("w")).over(all))
        .select(col("lang"), col("n_docs"),
          floor(col("w") / col("wmax") * lit(1000000.0)).as("w_q6"))
        .orderBy("lang")
    }),

    // cross-document repeated n-gram audit (the exact-substring dedup
    // signal of Lee et al.'s "Deduplicating Training Data Makes Language
    // Models Better"): per doc, how many of its distinct 8-gram shingles
    // appear in at least one OTHER document. Per-doc dedup is a narrow
    // array_distinct (no global distinct shuffle); grams cross the one
    // shuffle as codegen'd 60-bit hashes; the gram-frequency side is a
    // partial-aggregatable self-rollup co-partitioned with the join — no
    // broadcast of anything corpus-sized.
    "d54_repeated_grams" -> ((s, dir) => {
      val dg = docs(s, dir).select(col("doc_id"),
        explode(array_distinct(graft.functions.prom.shingle_g(col("text"), 8))).as("g"))
      val gdf = dg.groupBy(col("g")).agg(count(lit(1)).as("ndocs"))
      dg.join(gdf.filter(col("ndocs") >= 2).select(col("g"), lit(true).as("rep")),
          Seq("g"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_grams"),
          sum(when(col("rep"), 1L).otherwise(0L)).as("n_repeated"))
        .withColumn("rep_frac",
          col("n_repeated").cast("double") / col("n_grams").cast("double"))
        .orderBy("doc_id")
    }),

    // ANN recall audit — the index-quality gate a similarity pipeline runs
    // before trusting its approximate path: per query vector, recall@3 of
    // the IVF cell-restricted top-3 (d10's shape) against the exact
    // brute-force top-3. The IVF side joins on cell (partitioned, never
    // broadcast); the exact side broadcasts only the FIXED 8-query probe
    // set against the corpus — ground truth over a bounded probe sample is
    // exactly how production recall audits price this at any corpus size.
    // Cosines are the bit-identical left-fold kernel; ranks tie-break on
    // vec_id; recall is a ratio of small exact integers.
    "d55_ann_recall" -> ((s, dir) => {
      // shared persisted IVF index — one copy per (session, dir) with
      // d10/d11, LRU-bounded (see DataQueries2.ivfAssigned)
      val assigned = DataQueries2.ivfAssigned(s, dir)
      val q = assigned.filter(col("id") >= 8 && col("id") < 16)
        .select(col("id").as("qid"), col("v").as("qv"), col("nrm").as("qn"), col("cell"))
      def top3(scored: DataFrame): DataFrame = {
        val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id"))
        scored.withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 3).select(col("qid"), col("vec_id"))
      }
      val ivf = top3(q.join(assigned, Seq("cell"))
        .filter(col("id") =!= col("qid"))
        .select(col("qid"), col("id").as("vec_id"),
          (vec_dot(col("qv"), col("v")) / (col("qn") * col("nrm"))).as("cos")))
      val exact = top3(assigned.join(broadcast(q.drop("cell")),
          col("id") =!= col("qid"))
        .select(col("qid"), col("id").as("vec_id"),
          (vec_dot(col("qv"), col("v")) / (col("qn") * col("nrm"))).as("cos")))
      val hits = exact.join(ivf, Seq("qid", "vec_id"), "left_semi")
        .groupBy(col("qid")).agg(count(lit(1)).as("n_hits"))
      exact.groupBy(col("qid")).agg(count(lit(1)).as("k"))
        .join(hits, Seq("qid"), "left")
        .select(col("qid"), coalesce(col("n_hits"), lit(0L)).as("n_hits"),
          (coalesce(col("n_hits"), lit(0L)).cast("double") /
            col("k").cast("double")).as("recall"))
        .orderBy("qid")
    }),

    // SemDeDup (Abbas et al. 2023): semantic near-dup pruning inside IVF
    // coarse cells — drop a vector when a smaller-id same-cell neighbor has
    // cosine >= 0.4 (this corpus's near-dup band, see d11), keep the min-id
    // representative. Binds the public VectorSearch.semanticDedup to the
    // SAME persisted IVF assignment d10/d11/d55 share, so the only new work
    // is the cell equijoin (partitioned, never broadcast) + an id anti-side
    // left join. At 100 TB pruning prices at Σ cell², never corpus².
    "d56_semdedup" -> ((s, dir) =>
      graft.operators.VectorSearch
        .semanticDedup(DataQueries2.ivfAssigned(s, dir), 0.4)
        .select(col("id").as("vec_id"), col("cell").cast("long").as("cell"),
          col("kept"))
        .orderBy("vec_id")),

    // DSIR-style importance weights (Xie et al. 2023): per-doc sum of
    // smoothed unigram log-ratios ln p_target/p_raw, target = the 'src0'
    // slice. Tokens cross the shuffle as codegen'd 60-bit hashes (never
    // strings); the vocab stats table is ONE partial-aggregatable groupBy;
    // corpus totals are a one-row broadcast; the per-word log-ratio is
    // quantized to 1e-6 BEFORE the per-doc sum, so the published weight is
    // an integer sum — exact in any accumulation order, and a last-ulp
    // ln() skew between engines never crosses the oracle. Same two-shuffle
    // shape as d28 — vocab-sized state, never corpus-sized broadcasts.
    "d57_dsir_weights" -> ((s, dir) => {
      val tk = docs(s, dir).select(col("doc_id"), col("source"),
        explode(graft.functions.prom.ngram_g(col("text"), 1)).as("g"))
      val st = tk.groupBy(col("g")).agg(count(lit(1)).as("cr"),
        sum(when(col("source") === "src0", 1L).otherwise(0L)).as("ct"))
      val tot = st.agg(count(lit(1)).as("v"), sum(col("cr")).as("tr"),
        sum(col("ct")).as("tt"))
      val qlr = st.crossJoin(broadcast(tot))
        .select(col("g"),
          floor((log(col("ct") + 1) - log(col("tt") + col("v"))
            - log(col("cr") + 1) + log(col("tr") + col("v")))
            * lit(1000000.0)).cast("long").as("qlr"))
      tk.join(qlr, Seq("g"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tok"), sum(col("qlr")).as("w_q6"))
        .orderBy("doc_id")
    }),

    // CCNet-style perplexity bucketing (Wenzek et al. 2020): per language,
    // rank docs by the d28 bigram-LM fluency score and cut head/middle/tail
    // terciles — the standard quality-tier split a filtering pipeline
    // trains on. The score is a ratio of exact integers (engine-
    // deterministic), ties break on doc_id, so the terciles are total-order
    // stable. EXACT ntile(3) semantics WITHOUT the per-language sort (at
    // 100 TB one language is ~half the corpus, and AQE cannot split a
    // window partition): each doc's rank is below-count arithmetic over
    // the (lang, DISTINCT score) table — banded two-level because the
    // mean-frequency score range tracks the corpus (ScaleWindows) — plus a
    // doc_id tiebreak row_number PARTITIONED by the near-unique score
    // (d155's shape), and the tercile boundary is q44's closed form in the
    // per-language count. Same integers ntile(3) assigns; the formerly
    // documented approx_percentile shortcut is unnecessary.
    "d58_ppl_buckets" -> ((s, dir) => {
      val bg = docs(s, dir).select(col("doc_id"), col("lang"),
        explode(graft.functions.prom.ngram_g(col("text"), 2)).as("bg"))
      val counts = bg.groupBy(col("bg")).agg(count(lit(1)).as("n"))
      val scored = bg.join(counts, Seq("bg"))
        .groupBy(col("doc_id"), col("lang"))
        .agg(count(lit(1)).as("nbg"), sum(col("n")).as("ssum"))
        .select(col("doc_id"), col("lang"),
          (col("ssum").cast("double") / col("nbg").cast("double")).as("score"))
      val cnts = scored.groupBy(col("lang"), col("score"))
        .agg(count(lit(1)).as("cnt"))
      val below = graft.operators.ScaleWindows
        .bandedBelowBy(cnts, Seq("lang"), "score", "cnt", 10000L, levels = 2)
      val tot = cnts.groupBy(col("lang")).agg(sum(col("cnt")).as("n"))
      val wtie = Window.partitionBy(col("lang"), col("score")).orderBy(col("doc_id"))
      scored
        .join(cnts, Seq("lang", "score"))
        .join(below, Seq("lang", "score"))
        .join(broadcast(tot), "lang")
        // descending rank = docs with strictly HIGHER score + tiebreak
        // position among equals: above = n - below_asc - cnt
        .withColumn("rnk",
          col("n") - col("below") - col("cnt") + row_number().over(wtie).cast("long"))
        .withColumn("bucket",
          when(col("rnk") <= expr("n DIV 3 + least(1, n % 3)"), "head")
            .when(col("rnk") <= expr("2 * (n DIV 3) + least(2, n % 3)"), "middle")
            .otherwise("tail"))
        .select(col("doc_id"), col("lang"), col("score"), col("bucket"))
        .orderBy("doc_id")
    }),

    // T5-style span-corruption mask statistics (Raffel et al. 2020): a
    // span of 3 tokens starts wherever the 20-bit id:pos hash falls under
    // 0.15 — the same content-independent md5 recipe as Sampling (chars
    // 19-23, a window disjoint from sample/split/mix), so masks are
    // reproducible across engines, re-runs and shards. The only non-narrow
    // step is a per-doc 3-row sliding max (bounded by doc length, never a
    // corpus sort); counts are exact integers.
    "d59_span_mask" -> ((s, dir) => {
      val tok = docs(s, dir).select(col("doc_id"),
        posexplode(split(col("text"), " ")).as(Seq("pos", "w")))
      val h = conv(substring(md5(concat(col("doc_id").cast("string"), lit(":"),
        col("pos").cast("string"))), 19, 5), 16, 10).cast("long") % 1048576L
      val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
        .rowsBetween(-2, 0)
      tok.withColumn("st", when(h < 157286L, 1L).otherwise(0L))
        .withColumn("msk", max(col("st")).over(w))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tok"), sum(col("msk")).as("n_masked"))
        .withColumn("mask_rate",
          col("n_masked").cast("double") / col("n_tok").cast("double"))
        .orderBy("doc_id")
    }),

    // per-doc unigram Shannon entropy — the repetitiveness/diversity
    // quality signal (low entropy = looping text). Two partial-aggregatable
    // groupBys (doc×word counts, then per-doc rollup); each word's
    // c·ln(c) term is quantized to 1e-6 BEFORE the per-doc sum, so s_q is
    // an exact integer in any accumulation order and the published tercile
    // ent_q6 = floor(ln(n)·1e6) - s_q/n is engine-deterministic (ln ulp
    // absorbed by the quanta, the division floor exact below 2^53).
    "d60_entropy" -> ((s, dir) => {
      val wc = docs(s, dir)
        .select(col("doc_id"), explode(graft.functions.prom.ngram_g(col("text"), 1)).as("g"))
        .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
        .withColumn("tq",
          floor(col("c").cast("double") * log(col("c").cast("double"))
            * lit(1000000.0)).cast("long"))
      wc.groupBy(col("doc_id"))
        .agg(sum(col("c")).as("n_tok"), sum(col("tq")).as("s_q"))
        .withColumn("ent_q6",
          floor(log(col("n_tok").cast("double")) * lit(1000000.0)).cast("long")
            - floor(col("s_q").cast("double") / col("n_tok").cast("double")).cast("long"))
        .orderBy("doc_id")
    }),

    // distinct-shingle cardinality audit per source — q13's sketch
    // bound-check pattern on the text corpus: the EXACT distinct 5-gram
    // count crosses the oracle, and each engine's own HLL estimate must
    // land within 5% of it (the check, not the sketch internals, is the
    // published value). At 100 TB the exact distinct is the cost ceiling
    // and the sketch is the production path — this query IS the audit
    // that licenses swapping one for the other.
    "d61_gram_sketch" -> ((s, dir) => {
      val dg = docs(s, dir).select(col("source"),
        explode(array_distinct(graft.functions.prom.shingle_g(col("text"), 5))).as("g"))
        .distinct() // two-phase distinct (q13's shape) — no Expand duplication
      dg.groupBy(col("source"))
        .agg(count(lit(1)).as("exact_d"),
          approx_count_distinct(col("g"), 0.02).as("approx_d"))
        .select(col("source"), col("exact_d"),
          (abs(col("approx_d") - col("exact_d")).cast("double")
            <= col("exact_d").cast("double") * lit(0.05)).as("sketch_ok"))
        .orderBy("source")
    }),

    // asymmetric containment (excerpt/quote detection): pairs where the
    // smaller doc's distinct 5-gram set is >= 50% inside the other's —
    // the overlap Jaccard-thresholded dedup (d03) misses when a short doc
    // is quoted inside a long one. Candidate pairs come from the d03
    // bucket-shuffle shape on the SHINGLE itself (docs sharing a 5-gram
    // meet in one reducer), with a document-frequency cap of 16 as the
    // boilerplate/skew valve — pair fan-out is bounded per gram, grams
    // cross the shuffle as codegen'd 60-bit hashes, and the integer
    // threshold inter*2 >= min(na, nb) needs no float comparison.
    "d63_containment" -> ((s, dir) => {
      val sh = docs(s, dir).select(col("doc_id"),
        explode(array_distinct(graft.functions.prom.shingle_g(col("text"), 5))).as("g"))
      val sz = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
      val pairs = sh.groupBy(col("g"))
        .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
        .filter(size(col("ids")) >= 2 && size(col("ids")) <= 16)
        .select(DataQueries5.pairExpand(col("ids")).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(count(lit(1)).as("inter"))
      pairs
        .join(sz.select(col("doc_id").as("a"), col("n").as("na")), Seq("a"))
        .join(sz.select(col("doc_id").as("b"), col("n").as("nb")), Seq("b"))
        .filter(col("inter") * 2 >= least(col("na"), col("nb")))
        .select(col("a"), col("b"), col("inter"), col("na"), col("nb"))
        .orderBy("a", "b")
    }),

    // MinHash fidelity audit — the third of the estimate-vs-exact audit
    // trio (d55 recall for IVF, d61 HLL bound, this for the dedup index):
    // on each d02 candidate pair, the number of agreeing signature slots
    // (est16/16 estimates Jaccard) next to the EXACT shingle-set
    // intersection/union. Signatures come from the public
    // TextDedup.minhashSignatures (the same values candidate banding
    // used); the exact side is priced on |pairs| via equi-joins — at
    // 100 TB the audit costs candidates, never corpus².
    "d62_minhash_fidelity" -> ((s, dir) => {
      val pairs = DataQueries.minhashPairs(s, dir)
      val sig = graft.operators.TextDedup
        .minhashSignatures(docs(s, dir), "doc_id", "text")
      val est = (0 until 16)
        .map(i => when(col(s"x.m$i") === col(s"y.m$i"), 1L).otherwise(0L))
        .reduce(_ + _)
      val es = pairs
        .join(sig.as("x"), col("a") === col("x.__id"))
        .join(sig.as("y"), col("b") === col("y.__id"))
        .select(col("a"), col("b"), est.as("est16"))
      val sh = docs(s, dir).select(col("doc_id"),
        explode(array_distinct(graft.functions.prom.shingle_g(col("text"), 3))).as("g"))
      val sz = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
      val iv = pairs
        .join(sh.select(col("doc_id").as("a"), col("g")), Seq("a"))
        .join(sh.select(col("doc_id").as("b"), col("g")), Seq("b", "g"))
        .groupBy(col("a"), col("b")).agg(count(lit(1)).as("inter"))
      es.join(iv, Seq("a", "b"), "left")
        .join(sz.select(col("doc_id").as("a"), col("n").as("na")), Seq("a"))
        .join(sz.select(col("doc_id").as("b"), col("n").as("nb")), Seq("b"))
        .select(col("a"), col("b"), col("est16"),
          coalesce(col("inter"), lit(0L)).as("inter"),
          (col("na") + col("nb") - coalesce(col("inter"), lit(0L))).as("uni"))
        .orderBy("a", "b")
    }),

    // multimodal sequence packing — the vision-language last mile: each
    // item's sequence cost comes from the DECODED media features (bytes/4
    // text-ish tokens + 16 patch tokens per frame, the interleaved
    // image-text budget), then the same greedy next-fit kernel as d43
    // packs them at seqLen=512. Composes the typed per-partition codec
    // path (m01's mapPartitions plumbing) with the per-shard O(n) fold —
    // the costing is a narrow map over features, packing adds no joins.
    "m04_mm_pack" -> ((s, dir) => {
      val feats = graft.operators.Multimodal.extractFeatures(
          graft.operators.Multimodal.mediaFromDocuments(docs(s, dir)),
          () => new graft.operators.Multimodal.FakeCodec).toDF()
        .select(col("doc_id"),
          (col("byte_len") / lit(4L) + col("frames") * lit(16L))
            .cast("long").as("n_tok"))
      graft.operators.SequencePacking
        .packGreedy(feats, "doc_id", "n_tok", 512, 8)
        .orderBy("doc_id")
    }),

    // packing-efficiency audit: per shard, how many sequences the greedy
    // packing produced and how many pad tokens they waste (a sequence over
    // seqLen is a single oversized doc — no padding). The input is the d43
    // shape; the audit itself is two bounded aggregations.
    "d44_pack_report" -> ((s, dir) => {
      val f = graft.operators.SequencePacking
        .packGreedy(withTok(docs(s, dir)), "doc_id", "n_tok", 256, 8)
        .groupBy(col("shard"), col("seq"))
        .agg(sum(col("n_tok")).as("fill"), count(lit(1)).as("nd"))
      f.groupBy(col("shard"))
        .agg(count(lit(1)).as("n_seqs"), sum(col("nd")).as("n_docs"),
          sum(col("fill")).as("n_tokens"),
          sum(when(col("fill") <= 256, lit(256) - col("fill")).otherwise(0L)).as("waste"))
        .orderBy("shard")
    })
  )

  val oracles: Map[String, String] = Map(
    "d63_containment" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents WHERE len(string_split(text, ' ')) >= 5),
        |sh AS (SELECT doc_id, unnest(list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4] FOR i IN generate_series(1, len(w) - 4)])) AS g FROM w),
        |sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM sh GROUP BY doc_id),
        |gd AS (SELECT g, count(*) AS df FROM sh GROUP BY g),
        |pr AS (SELECT x.doc_id AS a, y.doc_id AS b, CAST(count(*) AS BIGINT) AS inter
        |  FROM sh x JOIN sh y ON x.g = y.g AND x.doc_id < y.doc_id
        |  JOIN gd ON gd.g = x.g AND gd.df BETWEEN 2 AND 16
        |  GROUP BY x.doc_id, y.doc_id)
        |SELECT pr.a, pr.b, pr.inter, sa.n AS na, sb.n AS nb
        |FROM pr JOIN sz sa ON sa.doc_id = pr.a JOIN sz sb ON sb.doc_id = pr.b
        |WHERE pr.inter * 2 >= least(sa.n, sb.n)
        |ORDER BY pr.a, pr.b""".stripMargin,

    "d62_minhash_fidelity" ->
      (s"WITH ${DataQueries.minhashPairsCte}," +
        """sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM sh GROUP BY doc_id),
          |iv AS (SELECT p.a, p.b, CAST(count(*) AS BIGINT) AS inter
          |  FROM pairs p JOIN sh x ON x.doc_id = p.a JOIN sh y ON y.doc_id = p.b AND y.sh = x.sh
          |  GROUP BY p.a, p.b),
          |es AS (SELECT p.a, p.b, CAST(""".stripMargin +
        (0 until 16).map(i =>
          s"(CASE WHEN x.m$i = y.m$i THEN 1 ELSE 0 END)").mkString(" + ") +
        """ AS BIGINT) AS est16
          |  FROM pairs p JOIN sig x ON x.doc_id = p.a JOIN sig y ON y.doc_id = p.b)
          |SELECT es.a, es.b, es.est16, COALESCE(iv.inter, 0) AS inter,
          |  sa.n + sb.n - COALESCE(iv.inter, 0) AS uni
          |FROM es LEFT JOIN iv ON es.a = iv.a AND es.b = iv.b
          |JOIN sz sa ON sa.doc_id = es.a JOIN sz sb ON sb.doc_id = es.b
          |ORDER BY es.a, es.b""".stripMargin),

    "m04_mm_pack" ->
      """WITH RECURSIVE b AS (SELECT doc_id,
        |    CAST(strlen(text) // 4 + (strlen(text) // 100) * 16 AS BIGINT) AS n_tok,
        |    doc_id % 8 AS shard FROM documents),
        |n AS (SELECT doc_id, n_tok, shard, row_number() OVER (PARTITION BY shard ORDER BY doc_id) AS rn FROM b),
        |r AS (
        |  SELECT shard, rn, doc_id, n_tok, n_tok AS fill, CAST(0 AS BIGINT) AS bin FROM n WHERE rn = 1
        |  UNION ALL
        |  SELECT n.shard, n.rn, n.doc_id, n.n_tok,
        |    CASE WHEN r.fill + n.n_tok <= 512 THEN r.fill + n.n_tok ELSE n.n_tok END AS fill,
        |    CASE WHEN r.fill + n.n_tok <= 512 THEN r.bin ELSE r.bin + 1 END AS bin
        |  FROM r JOIN n ON n.shard = r.shard AND n.rn = r.rn + 1
        |),
        |t AS (SELECT shard, max(bin) + 1 AS nseq FROM r GROUP BY shard),
        |bs AS (SELECT shard, COALESCE(sum(nseq) OVER (ORDER BY shard ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS base FROM t)
        |SELECT r.doc_id, r.n_tok, r.shard, CAST(bs.base + r.bin AS BIGINT) AS seq
        |FROM r JOIN bs USING (shard) ORDER BY doc_id""".stripMargin,

    "d59_span_mask" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |tok AS (SELECT doc_id, s.i - 1 AS pos FROM t, unnest(generate_series(1, len(w))) AS s(i)),
        |m AS (SELECT doc_id, pos,
        |    CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || CAST(pos AS VARCHAR)), 19, 5)) AS BIGINT) % 1048576 < 157286 THEN 1 ELSE 0 END AS st
        |  FROM tok),
        |k AS (SELECT doc_id, max(st) OVER (PARTITION BY doc_id ORDER BY pos ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS msk FROM m)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok, CAST(sum(msk) AS BIGINT) AS n_masked,
        |  CAST(sum(msk) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mask_rate
        |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "d60_entropy" ->
      """WITH tk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
        |wc AS (SELECT doc_id, w, CAST(count(*) AS BIGINT) AS c FROM tk GROUP BY doc_id, w),
        |q AS (SELECT doc_id, c,
        |    CAST(floor(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE)) * 1000000.0) AS BIGINT) AS tq
        |  FROM wc),
        |d AS (SELECT doc_id, sum(c) AS n_tok, sum(tq) AS s_q FROM q GROUP BY doc_id)
        |SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tok, CAST(s_q AS BIGINT) AS s_q,
        |  CAST(floor(ln(CAST(n_tok AS DOUBLE)) * 1000000.0) AS BIGINT)
        |    - CAST(floor(CAST(s_q AS DOUBLE) / CAST(n_tok AS DOUBLE)) AS BIGINT) AS ent_q6
        |FROM d ORDER BY doc_id""".stripMargin,

    "d61_gram_sketch" ->
      """WITH w AS (SELECT doc_id, source, string_split(text, ' ') AS w FROM documents WHERE len(string_split(text, ' ')) >= 5),
        |g AS (SELECT doc_id, source, unnest(list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4] FOR i IN generate_series(1, len(w) - 4)])) AS g FROM w)
        |SELECT source, CAST(count(DISTINCT g) AS BIGINT) AS exact_d,
        |  abs(CAST(approx_count_distinct(g) AS DOUBLE) - CAST(count(DISTINCT g) AS DOUBLE))
        |    <= CAST(count(DISTINCT g) AS DOUBLE) * 0.05 AS sketch_ok
        |FROM g GROUP BY source ORDER BY source""".stripMargin,

    "d56_semdedup" ->
      """WITH e AS (SELECT vec_id, [CAST(x AS DOUBLE) FOR x IN embedding] AS v,
        |    sqrt(list_reduce(list_prepend(0.0::DOUBLE, [CAST(x AS DOUBLE) * CAST(x AS DOUBLE) FOR x IN embedding]), (a, b) -> a + b)) AS nrm
        |  FROM embeddings),
        |cents AS (SELECT vec_id AS cid, v AS cv, nrm AS cn FROM e WHERE vec_id < 4),
        |scoredcells AS (SELECT e.vec_id, e.v, e.nrm, c.cid,
        |    list_reduce(list_prepend(0.0::DOUBLE, [e.v[i] * c.cv[i] FOR i IN generate_series(1, len(e.v))]), (a, b) -> a + b) / (e.nrm * c.cn) AS ccos
        |  FROM e CROSS JOIN cents c),
        |assigned AS (SELECT vec_id, v, nrm, cid AS cell FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS rn FROM scoredcells)
        |  WHERE rn = 1),
        |dr AS (SELECT DISTINCT y.vec_id AS id
        |  FROM assigned x JOIN assigned y ON x.cell = y.cell AND x.vec_id < y.vec_id
        |  WHERE list_reduce(list_prepend(0.0::DOUBLE, [x.v[i] * y.v[i] FOR i IN generate_series(1, len(x.v))]), (a, b) -> a + b) / (x.nrm * y.nrm) >= 0.4)
        |SELECT a.vec_id, CAST(a.cell AS BIGINT) AS cell, dr.id IS NULL AS kept
        |FROM assigned a LEFT JOIN dr ON a.vec_id = dr.id ORDER BY vec_id""".stripMargin,

    "d57_dsir_weights" ->
      """WITH tk AS (SELECT doc_id, source, unnest(string_split(text, ' ')) AS w FROM documents),
        |st AS (SELECT w, CAST(count(*) AS BIGINT) AS cr,
        |    CAST(sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS BIGINT) AS ct
        |  FROM tk GROUP BY w),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS v, sum(cr) AS tr, sum(ct) AS tt FROM st),
        |q AS (SELECT w,
        |    CAST(floor((ln(ct + 1) - ln(tt + v) - ln(cr + 1) + ln(tr + v)) * 1000000.0) AS BIGINT) AS qlr
        |  FROM st, tot)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok, CAST(sum(qlr) AS BIGINT) AS w_q6
        |FROM tk JOIN q USING (w) GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "d58_ppl_buckets" ->
      """WITH w AS (SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents WHERE len(string_split(text, ' ')) >= 2),
        |bg AS (SELECT doc_id, lang, unnest([w[i] || ' ' || w[i+1] FOR i IN generate_series(1, len(w) - 1)]) AS bg FROM w),
        |c AS (SELECT bg, CAST(count(*) AS BIGINT) AS n FROM bg GROUP BY bg),
        |sc AS (SELECT doc_id, lang, CAST(sum(n) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS score
        |  FROM bg JOIN c USING (bg) GROUP BY doc_id, lang),
        |b AS (SELECT doc_id, lang, score,
        |    ntile(3) OVER (PARTITION BY lang ORDER BY score DESC, doc_id) AS nt FROM sc)
        |SELECT doc_id, lang, score,
        |  CASE nt WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket
        |FROM b ORDER BY doc_id""".stripMargin,

    "d55_ann_recall" ->
      """WITH e AS (SELECT vec_id, [CAST(x AS DOUBLE) FOR x IN embedding] AS v,
        |    sqrt(list_reduce(list_prepend(0.0::DOUBLE, [CAST(x AS DOUBLE) * CAST(x AS DOUBLE) FOR x IN embedding]), (a, b) -> a + b)) AS nrm
        |  FROM embeddings),
        |cents AS (SELECT vec_id AS cid, v AS cv, nrm AS cn FROM e WHERE vec_id < 4),
        |scoredcells AS (SELECT e.vec_id, e.v, e.nrm, c.cid,
        |    list_reduce(list_prepend(0.0::DOUBLE, [e.v[i] * c.cv[i] FOR i IN generate_series(1, len(e.v))]), (a, b) -> a + b) / (e.nrm * c.cn) AS ccos
        |  FROM e CROSS JOIN cents c),
        |assigned AS (SELECT vec_id, v, nrm, cid AS cell FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS rn FROM scoredcells)
        |  WHERE rn = 1),
        |q AS (SELECT vec_id AS qid, v AS qv, nrm AS qn, cell FROM assigned WHERE vec_id >= 8 AND vec_id < 16),
        |ivfs AS (SELECT qid, a.vec_id, list_reduce(list_prepend(0.0::DOUBLE, [qv[i] * v[i] FOR i IN generate_series(1, len(v))]), (a, b) -> a + b) / (qn * a.nrm) AS cos
        |  FROM q JOIN assigned a USING (cell) WHERE a.vec_id <> qid),
        |ivfr AS (SELECT qid, vec_id FROM (
        |    SELECT qid, vec_id, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rn FROM ivfs) WHERE rn <= 3),
        |exs AS (SELECT qid, a.vec_id, list_reduce(list_prepend(0.0::DOUBLE, [qv[i] * v[i] FOR i IN generate_series(1, len(v))]), (a, b) -> a + b) / (qn * a.nrm) AS cos
        |  FROM q, assigned a WHERE a.vec_id <> qid),
        |exr AS (SELECT qid, vec_id FROM (
        |    SELECT qid, vec_id, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rn FROM exs) WHERE rn <= 3),
        |hits AS (SELECT x.qid, count(*) AS n FROM exr x JOIN ivfr i ON x.qid = i.qid AND x.vec_id = i.vec_id GROUP BY x.qid),
        |kk AS (SELECT qid, count(*) AS k FROM exr GROUP BY qid)
        |SELECT kk.qid, CAST(COALESCE(h.n, 0) AS BIGINT) AS n_hits,
        |  CAST(COALESCE(h.n, 0) AS DOUBLE) / CAST(kk.k AS DOUBLE) AS recall
        |FROM kk LEFT JOIN hits h ON kk.qid = h.qid ORDER BY kk.qid""".stripMargin,

    "d53_temp_mix" ->
      """WITH c AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs FROM documents GROUP BY lang),
        |t AS (SELECT sum(n_docs) AS n_total FROM c),
        |w AS (SELECT lang, n_docs, pow(CAST(n_docs AS DOUBLE) / CAST(n_total AS DOUBLE), 0.3) AS w FROM c, t),
        |m AS (SELECT max(w) AS wmax FROM w)
        |SELECT lang, n_docs, CAST(floor(w / wmax * 1000000.0) AS BIGINT) AS w_q6
        |FROM w, m ORDER BY lang""".stripMargin,

    "d54_repeated_grams" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents WHERE len(string_split(text, ' ')) >= 8),
        |g AS (SELECT doc_id, unnest(list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4] || ' ' || w[i+5] || ' ' || w[i+6] || ' ' || w[i+7] FOR i IN generate_series(1, len(w) - 7)])) AS g FROM w),
        |d AS (SELECT g, count(*) AS ndocs FROM g GROUP BY g)
        |SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
        |  CAST(sum(CASE WHEN d.ndocs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_repeated,
        |  CAST(sum(CASE WHEN d.ndocs >= 2 THEN 1 ELSE 0 END) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS rep_frac
        |FROM g JOIN d USING (g) GROUP BY g.doc_id ORDER BY doc_id""".stripMargin,

    "d52_bm25" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |t AS (SELECT doc_id, CAST(len(w) AS DOUBLE) AS dl,
        |  CAST(len(list_filter(w, x -> x = 'join')) AS DOUBLE) AS tf0,
        |  CAST(len(list_filter(w, x -> x = 'scan')) AS DOUBLE) AS tf1,
        |  CAST(len(list_filter(w, x -> x = 'vector')) AS DOUBLE) AS tf2 FROM d),
        |st AS (SELECT CAST(count(*) AS DOUBLE) AS n, sum(dl) AS sumdl,
        |  sum(CASE WHEN tf0 > 0 THEN 1.0 ELSE 0.0 END) AS df0,
        |  sum(CASE WHEN tf1 > 0 THEN 1.0 ELSE 0.0 END) AS df1,
        |  sum(CASE WHEN tf2 > 0 THEN 1.0 ELSE 0.0 END) AS df2 FROM t),
        |sc AS (SELECT doc_id,
        |  ln(1.0 + (n - df0 + 0.5) / (df0 + 0.5)) * (tf0 * 2.2) / (tf0 + 1.2 * (0.25 + 0.75 * dl / (sumdl / n)))
        |  + ln(1.0 + (n - df1 + 0.5) / (df1 + 0.5)) * (tf1 * 2.2) / (tf1 + 1.2 * (0.25 + 0.75 * dl / (sumdl / n)))
        |  + ln(1.0 + (n - df2 + 0.5) / (df2 + 0.5)) * (tf2 * 2.2) / (tf2 + 1.2 * (0.25 + 0.75 * dl / (sumdl / n))) AS score
        |FROM t, st)
        |SELECT doc_id, CAST(floor(score * 1000000.0) AS BIGINT) AS score_q6
        |FROM sc ORDER BY score_q6 DESC, doc_id LIMIT 20""".stripMargin,

    "d51_truncate_embed" ->
      """WITH e AS (SELECT vec_id, [CAST(x AS DOUBLE) FOR x IN embedding[1:16]] AS t FROM embeddings),
        |n AS (SELECT vec_id, t, sqrt(list_reduce(list_prepend(0.0::DOUBLE, [x * x FOR x IN t]), (a, b) -> a + b)) AS nrm FROM e)
        |SELECT vec_id, nrm,
        |  array_to_string([CAST(floor(x * 1000000.0 / greatest(nrm, 1e-30)) AS BIGINT) FOR x IN t], ',') AS q
        |FROM n ORDER BY vec_id""".stripMargin,

    "d50_contamination_frac" ->
      """WITH w AS (SELECT doc_id, source, string_split(text, ' ') AS w FROM documents WHERE len(string_split(text, ' ')) >= 5),
        |g AS (SELECT doc_id, source, unnest(list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4] FOR i IN generate_series(1, len(w) - 4)])) AS g FROM w),
        |bench AS (SELECT DISTINCT g FROM g WHERE source = 'src0'),
        |corp AS (SELECT doc_id, g FROM g WHERE source <> 'src0'),
        |sc AS (SELECT c.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
        |  CAST(sum(CASE WHEN b.g IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS n_shared
        |FROM corp c LEFT JOIN bench b ON c.g = b.g GROUP BY c.doc_id)
        |SELECT doc_id, n_grams, n_shared,
        |  CAST(n_shared AS DOUBLE) / CAST(n_grams AS DOUBLE) AS contam_frac,
        |  CAST(n_shared AS DOUBLE) / CAST(n_grams AS DOUBLE) < 0.5 AS keep
        |FROM sc ORDER BY doc_id""".stripMargin,

    "d49_token_ids" ->
      """WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
        |v AS (SELECT w FROM (SELECT w, count(*) AS n FROM w GROUP BY w ORDER BY n DESC, w LIMIT 256)),
        |j AS (SELECT w.doc_id, CASE WHEN v.w IS NULL THEN 1 ELSE 0 END AS oov FROM w LEFT JOIN v ON w.w = v.w)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok, CAST(sum(oov) AS BIGINT) AS n_oov,
        |  CAST(sum(oov) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS oov_rate
        |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "d46_domain_cap" ->
      """SELECT source, CAST(rn AS BIGINT) AS rank, doc_id FROM (
        |  SELECT source, doc_id,
        |    row_number() OVER (PARTITION BY source ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |  FROM documents)
        |WHERE rn <= 10 ORDER BY source, rank""".stripMargin,

    "d45_chunk_text" ->
      """WITH t AS (SELECT doc_id, text, CAST(greatest(0, length(text) - 51) // 150 + 1 AS BIGINT) AS n FROM documents)
        |SELECT doc_id, CAST(s.i AS BIGINT) AS chunk_idx, CAST(1 + s.i * 150 AS BIGINT) AS start,
        |  CAST(length(substr(text, CAST(1 + s.i * 150 AS BIGINT), 200)) AS BIGINT) AS chunk_len,
        |  md5(substr(text, CAST(1 + s.i * 150 AS BIGINT), 200)) AS chunk_md5
        |FROM t, unnest(generate_series(0, n - 1)) AS s(i)
        |ORDER BY doc_id, chunk_idx""".stripMargin,

    "d42_seq_pack" ->
      """WITH b AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok, doc_id % 8 AS shard FROM documents),
        |c AS (SELECT doc_id, n_tok, shard, sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM b),
        |t AS (SELECT shard, (max(cum) + 255) // 256 AS nseq FROM c GROUP BY shard),
        |bs AS (SELECT shard, COALESCE(sum(nseq) OVER (ORDER BY shard ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS base FROM t)
        |SELECT c.doc_id, c.n_tok, c.shard,
        |  CAST(bs.base + (c.cum - c.n_tok) // 256 AS BIGINT) AS first_seq,
        |  CAST(bs.base + (c.cum - 1) // 256 AS BIGINT) AS last_seq,
        |  CAST((c.cum - c.n_tok) % 256 AS BIGINT) AS seq_off
        |FROM c JOIN bs USING (shard) ORDER BY doc_id""".stripMargin,

    "d43_pack_greedy" ->
      """WITH RECURSIVE b AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok, doc_id % 8 AS shard FROM documents),
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

    "d47_pack_capped" ->
      """WITH RECURSIVE b AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok, doc_id % 8 AS shard FROM documents),
        |n AS (SELECT doc_id, n_tok, shard, row_number() OVER (PARTITION BY shard ORDER BY doc_id) AS rn FROM b),
        |r AS (
        |  SELECT shard, rn, doc_id, n_tok, n_tok AS fill, CAST(0 AS BIGINT) AS bin, CAST(1 AS BIGINT) AS nd FROM n WHERE rn = 1
        |  UNION ALL
        |  SELECT n.shard, n.rn, n.doc_id, n.n_tok,
        |    CASE WHEN r.fill + n.n_tok <= 256 AND r.nd < 4 THEN r.fill + n.n_tok ELSE n.n_tok END AS fill,
        |    CASE WHEN r.fill + n.n_tok <= 256 AND r.nd < 4 THEN r.bin ELSE r.bin + 1 END AS bin,
        |    CASE WHEN r.fill + n.n_tok <= 256 AND r.nd < 4 THEN r.nd + 1 ELSE CAST(1 AS BIGINT) END AS nd
        |  FROM r JOIN n ON n.shard = r.shard AND n.rn = r.rn + 1
        |),
        |t AS (SELECT shard, max(bin) + 1 AS nseq FROM r GROUP BY shard),
        |bs AS (SELECT shard, COALESCE(sum(nseq) OVER (ORDER BY shard ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS base FROM t)
        |SELECT r.doc_id, r.n_tok, r.shard, CAST(bs.base + r.bin AS BIGINT) AS seq
        |FROM r JOIN bs USING (shard) ORDER BY doc_id""".stripMargin,

    "d44_pack_report" ->
      """WITH RECURSIVE b AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok, doc_id % 8 AS shard FROM documents),
        |n AS (SELECT doc_id, n_tok, shard, row_number() OVER (PARTITION BY shard ORDER BY doc_id) AS rn FROM b),
        |r AS (
        |  SELECT shard, rn, doc_id, n_tok, n_tok AS fill, CAST(0 AS BIGINT) AS bin FROM n WHERE rn = 1
        |  UNION ALL
        |  SELECT n.shard, n.rn, n.doc_id, n.n_tok,
        |    CASE WHEN r.fill + n.n_tok <= 256 THEN r.fill + n.n_tok ELSE n.n_tok END AS fill,
        |    CASE WHEN r.fill + n.n_tok <= 256 THEN r.bin ELSE r.bin + 1 END AS bin
        |  FROM r JOIN n ON n.shard = r.shard AND n.rn = r.rn + 1
        |),
        |f AS (SELECT shard, bin, CAST(sum(n_tok) AS BIGINT) AS fill, CAST(count(*) AS BIGINT) AS nd FROM r GROUP BY shard, bin)
        |SELECT shard, CAST(count(*) AS BIGINT) AS n_seqs, CAST(sum(nd) AS BIGINT) AS n_docs,
        |  CAST(sum(fill) AS BIGINT) AS n_tokens,
        |  CAST(sum(CASE WHEN fill <= 256 THEN 256 - fill ELSE 0 END) AS BIGINT) AS waste
        |FROM f GROUP BY shard ORDER BY shard""".stripMargin
  )
}
