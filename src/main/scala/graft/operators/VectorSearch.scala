package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.prom.vec_dot

/** Public table-agnostic embedding-similarity API — the verified d04/d24/d37
  * shapes for ANY DataFrame with an id and an `Array[Float/Double]` vector
  * column. The scale path is SRP banding (candidates from a bucket-shuffle
  * pair expansion, exact cosine priced on |candidates| only); the
  * brute-force top-k exists as the documented correctness baseline.
  */
object VectorSearch {

  private def toDouble(a: Column): Column = transform(a, x => x.cast("double"))

  private def pairExpand(ids: Column): Column =
    explode(flatten(transform(ids, (x, i) =>
      transform(slice(ids, i + 2, size(ids)), y => struct(x.as("a"), y.as("b"))))))

  /** `(id, v: array<double>, nrm)` — the normalized working set. */
  def normalized(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    df.select(col(idCol).as("id"), toDouble(col(vecCol)).as("v"))
      .withColumn("nrm", sqrt(vec_dot(col("v"), col("v"))))

  /** Signed-random-projection signatures: `planes` hyperplanes over `dims`
    * dimensions with ±1 weights derived from md5(plane, dim); components
    * integer-quantized BEFORE the weighted sum, so signatures are
    * accumulation-order-free (engine- and partition-order-exact). The plane
    * table is a fixed planes×dims broadcast; per-vector work is one explode
    * + partial-aggregatable groupBy. Returns `(id, sig)` with sig a
    * `planes`-char bit string.
    */
  def srpSignatures(df: DataFrame, idCol: String, vecCol: String,
      planes: Int = 16, dims: Int = 64): DataFrame = {
    val s = df.sparkSession
    val planeTable = s.range(planes).select(col("id").as("p"))
      .crossJoin(s.range(dims).select(col("id").as("d")))
      .select(col("p"), col("d"),
        when(conv(substring(md5(concat(col("p").cast("string"), lit("_"),
          col("d").cast("string"))), 1, 1), 16, 10).cast("long") % 2 === 1, 1L)
          .otherwise(-1L).as("w"))
    val ex = df
      .select(col(idCol).as("id"), posexplode(col(vecCol)).as(Seq("d", "x")))
      .select(col("id"), col("d").cast("long").as("d"),
        floor(col("x").cast("double") * lit(1000000.0)).as("xq"))
    val bits = ex.join(broadcast(planeTable), "d")
      .groupBy(col("id"), col("p"))
      .agg(sum(col("w") * col("xq")).as("sc"))
      .select(col("id"), col("p"),
        when(col("sc") > 0, "1").otherwise("0").as("bit"))
    bits.groupBy(col("id"))
      .agg(sort_array(collect_list(struct(col("p"), col("bit")))).as("l"))
      .select(col("id"),
        array_join(transform(col("l"), x => x.getField("bit")), "").as("sig"))
  }

  /** SRP-banded near-neighbor candidate pairs `(a, b)`, a &lt; b: signature
    * split into `bands` buckets, docs sharing a bucket pair-expanded in the
    * reducer (no join anywhere). `maxBucket` is the skew valve (0 = off).
    */
  def srpCandidates(df: DataFrame, idCol: String, vecCol: String,
      planes: Int = 16, dims: Int = 64, bands: Int = 2,
      maxBucket: Int = 0): DataFrame = {
    require(bands > 0 && planes % bands == 0, s"bands must divide $planes, got $bands")
    val width = planes / bands
    val sigs = srpSignatures(df, idCol, vecCol, planes, dims)
    val buckets = sigs.select(col("id"), explode(array(
      (0 until bands).map(b =>
        xxhash64(lit(b), substring(col("sig"), b * width + 1, width))): _*)).as("bk"))
    val grouped = buckets.groupBy(col("bk"))
      .agg(sort_array(collect_list(col("id"))).as("ids"))
      .filter(size(col("ids")) >= 2)
    val capped =
      if (maxBucket > 0) grouped.filter(size(col("ids")) <= maxBucket) else grouped
    capped
      .select(pairExpand(col("ids")).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .distinct()
  }

  /** Exact fold-ordered cosine on ONLY the candidate pairs — two hash
    * equi-joins, neither side force-broadcast. Returns `(a, b, cos)`.
    */
  def cosineVerify(pairs: DataFrame, df: DataFrame,
      idCol: String, vecCol: String): DataFrame = {
    val n = normalized(df, idCol, vecCol)
    pairs
      .join(n.select(col("id").as("a"), col("v").as("va"), col("nrm").as("na")), "a")
      .join(n.select(col("id").as("b"), col("v").as("vb"), col("nrm").as("nb")), "b")
      .select(col("a"), col("b"),
        (vec_dot(col("va"), col("vb")) / (col("na") * col("nb"))).as("cos"))
  }

  /** IVF coarse assignment — the 100 TB blocking path: every vector joins
    * the broadcast centroid table (vocabulary-sized) and keeps its nearest
    * cell by cosine. Returns `(id, v, nrm, cell)`; downstream candidate
    * work (top-k, near-dup pairs) is cell-equijoined, so per-query work is
    * corpus/cells, never corpus². Persist the result when both sides of a
    * candidate join reuse it.
    */
  def ivfAssign(vectors: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame, centroidIdCol: String, centroidVecCol: String): DataFrame = {
    val e = normalized(vectors, idCol, vecCol)
    val c = normalized(centroids, centroidIdCol, centroidVecCol)
      .select(col("id").as("cid"), col("v").as("cv"), col("nrm").as("cn"))
    val scored = e.join(broadcast(c))
      .select(col("id"), col("v"), col("nrm"), col("cid"),
        (vec_dot(col("v"), col("cv")) / (col("nrm") * col("cn"))).as("ccos"))
    val w = Window.partitionBy(col("id")).orderBy(col("ccos").desc, col("cid"))
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("id"), col("v"), col("nrm"), col("cid").as("cell"))
  }

  /** SemDeDup-style semantic pruning over an [[ivfAssign]] result: within
    * each coarse cell a vector is dropped when some SMALLER-id vector of
    * the same cell has cosine >= `tau` — the distributed min-id
    * simplification of the per-cluster greedy sweep in Abbas et al. 2023
    * ("SemDeDup"); every near-dup pair keeps exactly its min-id
    * representative, no sequential scan. The candidate join is the cell
    * equijoin — partitioned by cell, never a broadcast — so pruning prices
    * at Σ cell² per cell, never corpus². Returns `(id, cell, kept)` for
    * every input vector.
    */
  def semanticDedup(assigned: DataFrame, tau: Double): DataFrame = {
    val dropped = assigned.as("x").join(assigned.as("y"),
        col("x.cell") === col("y.cell") && col("x.id") < col("y.id"))
      .filter(vec_dot(col("x.v"), col("y.v")) / (col("x.nrm") * col("y.nrm")) >= tau)
      .select(col("y.id").as("id")).distinct()
    assigned.join(dropped.withColumn("dup", lit(true)), Seq("id"), "left")
      .select(col("id"), col("cell"),
        not(coalesce(col("dup"), lit(false))).as("kept"))
  }

  /** Brute-force cosine top-k for the rows matching `queryPred` — the
    * CORRECTNESS BASELINE (broadcasts the full vector set; fine for
    * side-sized corpora and oracle checks, NOT the 100 TB path — use
    * srpCandidates or an IVF-cell blocking there). Returns
    * `(qid, rank, id, cos)`.
    */
  def bruteForceTopK(df: DataFrame, idCol: String, vecCol: String,
      queryPred: Column, k: Int): DataFrame = {
    val n = normalized(df, idCol, vecCol)
    // queryPred resolves against the CALLER's frame (their own column
    // names), so filter before the internal rename to id/v/nrm.
    val q = normalized(df.filter(queryPred), idCol, vecCol)
      .select(col("id").as("qid"), col("v").as("qv"), col("nrm").as("qn"))
    val scored = q.join(broadcast(n), col("id") =!= col("qid"))
      .select(col("qid"), col("id"),
        (vec_dot(col("qv"), col("v")) / (col("qn") * col("nrm"))).as("cos"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("id"), col("cos"))
  }
}
