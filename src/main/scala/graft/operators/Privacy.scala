package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Privacy release gates for corpus metadata: k-anonymity auditing,
  * global-recoding generalization, and l-diversity — the checks a corpus
  * with user-linked metadata needs before that metadata can ship alongside
  * the text. Public and table-agnostic (the TextDedup/VectorSearch/
  * MediaDedup pattern): point them at any DataFrame; the d180-d182 queries
  * are thin bindings of these calls to the testdata tables, so the DuckDB
  * oracle gate verifies the APIs themselves.
  *
  * Scale posture: every call is one-or-few hash aggregations over the
  * quasi-identifier (QI) columns. Class tables are |distinct QI
  * combinations| rows — orders below the corpus — and join back by
  * BROADCAST, so the corpus side is never re-shuffled (the alternative,
  * count-over-partition windows, would pay one corpus shuffle per
  * generalization level). At 100 TB the levers are the QI arity and band
  * widths, which bound the class-table size, not the corpus size.
  */
object Privacy {

  /** Equivalence-class audit: one row per distinct combination of `qi`
    * with its `class_size` and `at_risk` = size < k (the classes whose
    * members a linker could re-identify). One hash aggregation.
    */
  def kAnonymityAudit(df: DataFrame, qi: Seq[Column], k: Int): DataFrame =
    df.groupBy(qi: _*)
      .agg(count(lit(1)).as("class_size"))
      .withColumn("at_risk", col("class_size") < k)

  /** Global-recoding generalization ladder: each row settles at the
    * SMALLEST level (index into `levels`) whose equivalence class over
    * that level's columns reaches `k`; the LAST level is the
    * unconditional fallback (its class size is never consulted — make it
    * coarse enough to always satisfy k). Returns the input plus
    * `settle_level` (int) and `class_key` (the settled level's key values
    * joined with '|'). Per consulted level: one tiny aggregation builds
    * the class-size table, broadcast-joined back — zero corpus
    * re-shuffles.
    *
    * Columns named `sz0..szN` are claimed internally.
    *
    * NULL semantics: NULL QI values form first-class equivalence classes
    * (class sizes match null-safely). `class_key` uses concat_ws, which
    * skips NULLs — two classes at one level differing only in WHICH
    * column is NULL share a key string (disambiguate with a sentinel
    * recode upstream if that matters to the consumer); settle decisions
    * are unaffected (they read the sizes, not the key).
    */
  def generalizeLadder(df: DataFrame, levels: Seq[Seq[String]], k: Int): DataFrame =
    generalizeLadderWith(df, levels, k, df)

  /** Broadcast guard default for [[generalizeLadderWith]]: 2M class rows
    * (~100 MB broadcast at typical QI widths). A sane QI ladder sits
    * orders below this; a pathological near-unique QI hits the guard's
    * clear error instead of OOMing the driver under a forced broadcast.
    */
  val DefaultMaxClassRows: Long = 2L << 20

  /** [[generalizeLadder]] with class sizes computed from `reference`
    * instead of `df` itself — the cross-dump/production shape: today's
    * rows settle against the published cohort's statistics (so the same
    * row always lands in the same class regardless of which dump carries
    * it), and because every step is a stateless broadcast join the SAME
    * call generalizes a live STREAM against a static reference
    * (PrivacySpec runs it on one; a class absent from the reference counts
    * as size 0 — maximally identifying — and falls through the ladder).
    * Broadcast-guarded at [[DefaultMaxClassRows]].
    */
  def generalizeLadderWith(df: DataFrame, levels: Seq[Seq[String]], k: Int,
      reference: DataFrame): DataFrame =
    generalizeLadderWith(df, levels, k, reference, DefaultMaxClassRows)

  /** [[generalizeLadderWith]] with an explicit broadcast guard: each
    * level's class table is cached and COUNTED before the forced
    * `broadcast()` (the count's work is the same aggregation the join
    * consumes, so the guard adds one tiny action, not a second corpus
    * pass), and a level whose class count exceeds `maxClassRows` fails
    * with a clear message naming the level — the self-policing 100 TB
    * posture: the QI arity bounds the class table, and a near-unique QI
    * choice degrades to an actionable error instead of a driver OOM.
    */
  def generalizeLadderWith(df: DataFrame, levels: Seq[Seq[String]], k: Int,
      reference: DataFrame, maxClassRows: Long): DataFrame = {
    require(levels.size >= 2, "need at least one consulted level plus the fallback")
    val consulted = levels.dropRight(1)
    val sized = consulted.zipWithIndex.foldLeft(df) { case (acc, (ks, lvl)) =>
      val sizes = graft.sources.Caches.ephemeral(
        reference.groupBy(ks.map(col): _*).agg(count(lit(1)).as(s"sz$lvl")))
      val n = sizes.count()
      if (n > maxClassRows)
        throw new IllegalArgumentException(
          s"generalization level $lvl (${ks.mkString(", ")}) has $n equivalence " +
          s"classes, above the broadcast guard of $maxClassRows: a near-unique " +
          s"quasi-identifier would OOM the driver as a forced broadcast — " +
          s"coarsen the level or raise maxClassRows")
      // null-safe join: a NULL QI value is a first-class equivalence class
      // (groupBy counts it as one), so a row carrying it must match its
      // own class-size row — a plain name-based join would never match
      // NULL and the row would silently fall to the fallback even when
      // its true class reaches k (fail-safe direction, but it diverges
      // from the documented window-count semantics on corpora with NULLs).
      // The size side RENAMES its keys (__sz_*): sizes shares lineage with
      // acc in the self-reference case, where renamed keys are robust and
      // alias-qualified resolution is not
      val sizesR = sizes.select(
        ks.map(n2 => col(n2).as(s"__sz_$n2")) :+ col(s"sz$lvl"): _*)
      val joined = acc.join(broadcast(sizesR),
        ks.map(n2 => col(n2) <=> col(s"__sz_$n2")).reduce(_ && _), "left")
      ks.foldLeft(joined)((d, n2) => d.drop(s"__sz_$n2"))
    }
    val settle = consulted.indices.foldRight(lit(levels.size - 1): Column) {
      case (lvl, rest) => when(col(s"sz$lvl") >= k, lvl).otherwise(rest)
    }
    val keyed = sized.withColumn("settle_level", settle)
    val classKey = levels.zipWithIndex.foldRight(lit(null).cast("string"): Column) {
      case ((ks, lvl), rest) =>
        when(col("settle_level") === lvl, concat_ws("|", ks.map(col): _*))
          .otherwise(rest)
    }
    keyed.withColumn("class_key", classKey)
      .drop(consulted.indices.map(l => s"sz$l"): _*)
  }

  /** l-diversity: per `qi` class, the number of DISTINCT `sensitive`
    * values and `diverse_ok` = that count >= l. A class can be k-anonymous
    * yet leak the sensitive attribute when every member shares one value.
    * One hash aggregation.
    *
    * NULL semantics: `countDistinct` follows SQL and does NOT count NULL
    * as a sensitive value (a class of all-NULL sensitives has l_distinct
    * 0 — maximally non-diverse, the conservative reading); NULL QI values
    * form first-class classes via groupBy. Note this differs from the
    * t-closeness family, which treats NULL as a first-class histogram
    * BUCKET — distance needs mass accounted somewhere, diversity counts
    * disclosures and a NULL discloses nothing.
    */
  def lDiversity(df: DataFrame, qi: Seq[Column], sensitive: Column, l: Int): DataFrame =
    df.groupBy(qi: _*)
      .agg(count(lit(1)).as("class_size"),
        countDistinct(sensitive).as("l_distinct"))
      .withColumn("diverse_ok", col("l_distinct") >= l)

  /** t-closeness — the k-anonymity/l-diversity capstone: per `qi` class,
    * the total-variation (L1/2) distance between the class's distribution
    * over `sensitive` and the CORPUS distribution, in exact integer
    * quanta. A class can be k-anonymous AND l-diverse yet still leak: if
    * its sensitive values skew far from the corpus baseline, membership
    * alone is informative. Returns one row per class with `class_size`,
    * `tv_num` = sum over sensitive values v of
    * |count(class,v)*N - count(corpus,v)*n_class| (the TV distance is
    * tv_num / (2*n_class*N), kept as an exact BIGINT numerator so an
    * oracle replays it hash-identically), and `t_ok` = distance <=
    * tNum/tDen via the cross-multiplied integer compare.
    *
    * Shape: two hash aggregations over the corpus (per-cell and
    * per-value), then everything downstream operates on CELL tables —
    * |classes x values| rows, orders below the corpus — with the
    * per-value histogram and per-class sizes joined back by BROADCAST
    * and the absent-cell mass recovered arithmetically (a value missing
    * from a class contributes count(corpus,v)*n_class, computed as
    * (N - sum of the class's PRESENT global counts)*n_class rather than
    * materializing zero-cells). Integer bound: the NUMERATOR products
    * reach count*N <= N^2 — exact in int64 up to ~3e9 corpus rows, beyond
    * which pre-aggregate into coarser sensitive bands; the `t_ok` compare
    * itself reaches 2*tDen*n*N and is therefore evaluated in
    * decimal(38,0), where it is exact at ANY corpus size (a silent int64
    * wrap there would flip the release verdict fail-open).
    *
    * NULL semantics: a NULL in a QI column is a first-class equivalence
    * class and a NULL sensitive value is a first-class histogram bucket —
    * the internal joins are null-safe, so missing-value rows are audited,
    * never silently dropped (dropping them would pass an unchecked class).
    */
  def tCloseness(df: DataFrame, qi: Seq[Column], sensitive: Column,
      tNum: Long, tDen: Long): DataFrame =
    tClosenessWith(df, qi, sensitive, tNum, tDen, df)

  /** Output/internal column names the t-closeness family claims; a QI
    * column with one of these names (or a `__` prefix) would collide with
    * the pipeline's own columns, so the entry points refuse it loudly.
    */
  private val TClaimedCols = Set("cv", "gv", "gv0", "class_size", "n_total",
    "m_values", "present_num", "present_g", "tv_num", "emd_num", "t_ok",
    "diff", "cum")

  private def guardQiNames(qiNames: Seq[String]): Unit = {
    val bad = qiNames.filter(n => TClaimedCols.contains(n) || n.startsWith("__"))
    require(bad.isEmpty,
      s"QI column name(s) ${bad.mkString(", ")} collide with names the " +
      s"t-closeness pipeline claims (${TClaimedCols.toSeq.sorted.mkString(", ")} " +
      s"and the __ prefix) — rename them upstream")
  }

  /** The shared first phase of the t-closeness family: the class x value
    * cell counts over `df` (cached — they feed the class sizes AND the
    * distance terms), the derived QI output names, and the per-value
    * histogram over `reference` (cached — it feeds the join AND the
    * total). Refuses an EMPTY reference: n_total = 0 would make every
    * verdict vacuously/NULL-ly pass — a fail-open release gate pointed at
    * a cohort that does not exist (a wrong filter, a stale path).
    * Everything after the two corpus aggregations is cell-table algebra.
    */
  private def sensCells(df: DataFrame, qi: Seq[Column], sensitive: Column,
      reference: DataFrame): (DataFrame, Seq[String], DataFrame) = {
    val cells = graft.sources.Caches.ephemeral(
      df.groupBy((qi :+ sensitive.as("__sens")): _*)
        .agg(count(lit(1)).as("cv")))
    val qiNames = cells.columns.dropRight(2).toSeq
    guardQiNames(qiNames)
    val global = graft.sources.Caches.ephemeral(
      reference.groupBy(sensitive.as("__sens")).agg(count(lit(1)).as("gv")))
    require(!global.isEmpty,
      "the reference corpus is empty — refusing a vacuous privacy verdict " +
      "(every class would pass t-closeness against a cohort that does not exist)")
    (cells, qiNames, global)
  }

  /** Per-class sizes from a normalized cell table — defined ONCE so the
    * TV and EMD variants can never drift.
    */
  private def classesOf(cells: DataFrame, qiNames: Seq[String]): DataFrame =
    cells.groupBy(qiNames.map(col): _*).agg(sum(col("cv")).as("class_size"))


  /** [[tCloseness]] with the baseline distribution computed from
    * `reference` instead of `df` itself — the cross-dump/production shape
    * (the d183 pattern): today's dump's classes are audited against the
    * PUBLISHED cohort's sensitive histogram, so the release gate measures
    * leakage relative to what an attacker already holds. The distance per
    * class is sum over v of |p_class(v) - p_ref(v)| / 2 with p_class =
    * cv/n_class and p_ref = gv/N_ref, kept exact as `tv_num` = sum of
    * |cv*N_ref - gv*n_class| (a value the reference has never seen
    * contributes its full cv*N_ref — maximally surprising mass). Same
    * all-broadcast cell-table shape as the self-audit.
    */
  def tClosenessWith(df: DataFrame, qi: Seq[Column], sensitive: Column,
      tNum: Long, tDen: Long, reference: DataFrame): DataFrame = {
    require(tDen > 0 && tNum >= 0, s"need a non-negative t = tNum/tDen, got $tNum/$tDen")
    val (cells, qiNames, global) = sensCells(df, qi, sensitive, reference)
    tvFromCells(cells, qiNames, global, tNum, tDen)
  }

  /** [[tClosenessWith]] over PRE-AGGREGATED cells instead of raw rows:
    * `cells` holds one row per (qi..., sensitive value) with its count —
    * the shape a windowed STREAMING aggregation emits
    * (StreamOps.tClosenessCells), a shard rollup ships, or a prior
    * groupBy produced. The window-start column is just another QI column
    * here, so per-window live distances are this exact call over the
    * emitted cells (StreamOpsSpec pins stream cells -> this read ==
    * the batch tClosenessWith of the same window's rows). The reference
    * histogram is aggregated from `reference` via `sensitive`; cell
    * counts are summed per (class, value) first, so duplicate cell rows
    * (per-shard partials) merge correctly. QI columns must not use the
    * pipeline's claimed names (cv, gv, class_size, n_total, tv_num,
    * t_ok, ... or a `__` prefix) — refused loudly; an empty reference is
    * refused too (a vacuous pass would be a fail-open gate).
    */
  def tClosenessOfCells(cells: DataFrame, qi: Seq[String], sensCol: String,
      cvCol: String, tNum: Long, tDen: Long,
      reference: DataFrame, sensitive: Column): DataFrame = {
    require(tDen > 0 && tNum >= 0, s"need a non-negative t = tNum/tDen, got $tNum/$tDen")
    guardQiNames(qi)
    val norm = graft.sources.Caches.ephemeral(
      cells.groupBy(qi.map(col) :+ col(sensCol).as("__sens"): _*)
        .agg(sum(col(cvCol).cast("long")).as("cv")))
    val global = graft.sources.Caches.ephemeral(
      reference.groupBy(sensitive.as("__sens")).agg(count(lit(1)).as("gv")))
    require(!global.isEmpty,
      "the reference corpus is empty — refusing a vacuous privacy verdict " +
      "(every class would pass t-closeness against a cohort that does not exist)")
    tvFromCells(norm, qi, global, tNum, tDen)
  }

  /** The shared TV distance read over a normalized cell table
    * (qi..., __sens, cv) against a (__sens, gv) histogram. Null-safe
    * joins throughout: NULL QI values are first-class classes and a NULL
    * sensitive value is a first-class histogram bucket. The global join
    * is LEFT: a value the reference has never seen carries gv = 0 (its
    * whole cv*N_ref lands in the distance); the absent-cell direction
    * (reference value missing from the class) stays arithmetic via
    * present_g.
    */
  private def tvFromCells(cells: DataFrame, qiNames: Seq[String],
      global: DataFrame, tNum: Long, tDen: Long): DataFrame = {
    val totals = global.agg(sum(col("gv")).as("n_total")) // one row
    // the small join sides RENAME their key columns (__cl_* / __g_sens)
    // instead of relying on frame aliases: classes/global derive from the
    // same lineage as cells, and alias-qualified resolution over a
    // self-join is fragile (shared attribute ids) where plain unique
    // names are not
    val classes = classesOf(cells, qiNames)
      .select(qiNames.map(n => col(n).as(s"__cl_$n")) :+ col("class_size"): _*)
    val hist = global.select(col("__sens").as("__g_sens"), col("gv"))
    cells
      .join(broadcast(classes),
        qiNames.map(n => col(n) <=> col(s"__cl_$n")).reduce(_ && _))
      .join(broadcast(hist), col("__sens") <=> col("__g_sens"), "left")
      .crossJoin(broadcast(totals)) // one-row stat broadcast (bounded)
      .withColumn("gv0", coalesce(col("gv"), lit(0L)))
      .groupBy((qiNames :+ "class_size").map(col): _*)
      .agg(
        sum(abs(col("cv") * col("n_total") - col("gv0") * col("class_size")))
          .as("present_num"),
        sum(col("gv0")).as("present_g"),
        max(col("n_total")).as("n_total"))
      .withColumn("tv_num",
        col("present_num") + (col("n_total") - col("present_g")) * col("class_size"))
      // the verdict compare in decimal(38,0): it reaches 2*tDen*n*N, which
      // wraps int64 long before the numerators do — and with ANSI off a
      // wrap is SILENT and fail-open
      .withColumn("t_ok",
        col("tv_num").cast("decimal(38,0)") * tDen <=
          lit(2L).cast("decimal(38,0)") * tNum * col("class_size") * col("n_total"))
      .select((qiNames.map(col) :+ col("class_size") :+ col("tv_num") :+ col("t_ok")): _*)
  }

  /** Ordinal t-closeness — [[tCloseness]]'s sibling for ORDERED sensitive
    * attributes (ages, salary bands, scores): per `qi` class, the Earth
    * Mover's Distance between the class's distribution over `sensitive`
    * and the corpus distribution, where mass moved BETWEEN ADJACENT
    * values costs one step (the standard numeric-attribute t-closeness
    * measure — TV treats "one band off" and "nine bands off" the same;
    * EMD charges the travel). In integer quanta: `emd_num` = sum over the
    * ordered value grid of |running cumulative of (count(class,v)*N -
    * count(corpus,v)*n_class)|; the distance is emd_num /
    * ((m-1)*n_class*N) for m distinct sensitive values, and `t_ok`
    * compares it to tNum/tDen cross-multiplied, all in exact int64.
    *
    * Shape: the same two corpus aggregations as [[tCloseness]], then a
    * DENSE class x value grid (|classes| x m rows — absent cells matter
    * to the cumulative sum, so they materialize here, still orders below
    * the corpus) built by a broadcast cross of the class table with the
    * value histogram, a broadcast left join of the cell counts, and ONE
    * window partitioned by class over the grid (a bounded-table shuffle,
    * never the corpus). Same int64 bound as [[tCloseness]].
    *
    * NULL grid position: a NULL sensitive value is a first-class bucket
    * (as in [[tCloseness]]) but EMD must also place it ON the travel
    * axis, and an unordered value has no natural position — this family
    * pins it explicitly to the BOTTOM of the grid (`asc_nulls_first`,
    * matched by `NULLS FIRST` in the query oracles, because Spark and
    * DuckDB DEFAULT to opposite ends and an unpinned grid would make the
    * cumulative sums engine-dependent). Consequence: missing-value mass
    * is priced as one step below the lowest real band — maximally distant
    * from the high bands. If that charge is wrong for a consumer (e.g.
    * NULL means "band unknown", not "below every band"), recode NULL to a
    * chosen band — or pre-filter it — upstream; the TV sibling is
    * position-free and needs no such choice.
    */
  def tClosenessOrdinal(df: DataFrame, qi: Seq[Column], sensitive: Column,
      tNum: Long, tDen: Long): DataFrame =
    tClosenessOrdinalWith(df, qi, sensitive, tNum, tDen, df)

  /** [[tClosenessOrdinal]] with the baseline histogram computed from
    * `reference` — the cross-dump EMD (the [[tClosenessWith]] production
    * shape for ORDERED sensitive attributes): today's dump's classes pay
    * per-band travel against the PUBLISHED cohort's distribution. The
    * ordered value grid is the UNION of the dump's and the reference's
    * distinct values (a dump value the reference lacks still occupies a
    * grid position — its mass must travel somewhere — with gv = 0; a
    * reference value absent from the dump contributes through the dense
    * grid's zero cells as in the self-audit), and m counts that union.
    */
  def tClosenessOrdinalWith(df: DataFrame, qi: Seq[Column], sensitive: Column,
      tNum: Long, tDen: Long, reference: DataFrame): DataFrame = {
    require(tDen > 0 && tNum >= 0, s"need a non-negative t = tNum/tDen, got $tNum/$tDen")
    val (cells, qiNames, refHist) = sensCells(df, qi, sensitive, reference)
    val classes = classesOf(cells, qiNames)
    // the ordered grid axis: union of both sides' values, with the
    // reference count read null-safely (0 for reference-unseen values).
    // In the SELF-audit the union provably equals the corpus's own value
    // set, so that path skips the union/distinct/join entirely and keeps
    // the d185 cost
    val global =
      if (reference eq df) refHist
      else graft.sources.Caches.ephemeral {
        val vals = refHist.select(col("__sens"))
          .union(cells.select(col("__sens"))).distinct()
        val histR = refHist.select(col("__sens").as("__g_sens"), col("gv"))
        vals.join(broadcast(histR), col("__sens") <=> col("__g_sens"), "left")
          .select(col("__sens"), coalesce(col("gv"), lit(0L)).as("gv"))
      }
    val totals = global.agg(sum(col("gv")).as("n_total"),
      count(lit(1)).as("m_values")) // one row
    // the travel axis: NULLS FIRST explicitly (Spark's asc default, but
    // DuckDB's is NULLS LAST — the oracle pins the same end, and the
    // scaladoc documents the NULL band as the grid's bottom)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(qiNames.map(col): _*).orderBy(col("__sens").asc_nulls_first)
    // the dense |classes| x m grid (absent cells matter to the cumulative
    // sum); the cell join is null-safe on BOTH the QI and the sensitive
    // value so missing-value rows stay first-class. The cell side RENAMES
    // its key columns (__c_*) — classes/cells share lineage, and renamed
    // keys sidestep the self-join resolution fragility frame aliases hit
    val cellsR = cells.select(
      qiNames.map(n => col(n).as(s"__c_$n")) ++
        Seq(col("__sens").as("__c_sens"), col("cv")): _*)
    classes.crossJoin(broadcast(global))
      .join(broadcast(cellsR),
        qiNames.map(n => col(n) <=> col(s"__c_$n")).reduce(_ && _) &&
          (col("__sens") <=> col("__c_sens")),
        "left")
      .crossJoin(broadcast(totals)) // one-row stat broadcast (bounded)
      .withColumn("diff",
        coalesce(col("cv"), lit(0L)) * col("n_total") -
          col("gv") * col("class_size"))
      .withColumn("cum", sum(col("diff")).over(w))
      .groupBy((qiNames :+ "class_size").map(col): _*)
      .agg(sum(abs(col("cum"))).as("emd_num"),
        max(col("n_total")).as("n_total"),
        max(col("m_values")).as("m_values"))
      // decimal(38,0) verdict compare, as in [[tClosenessWith]]
      .withColumn("t_ok",
        col("emd_num").cast("decimal(38,0)") * tDen <=
          lit(tNum).cast("decimal(38,0)") * (col("m_values") - 1L) *
            col("class_size") * col("n_total"))
      .select((qiNames.map(col) :+ col("class_size") :+ col("emd_num") :+ col("t_ok")): _*)
  }

  /** Resolution of the release-noise inverse-CDF: the uniform draw is 24
    * bits (6 md5 hex chars), so each noise atom's probability is quantized
    * to multiples of 2^-24.
    */
  val NoiseScale: Long = 1L << 24

  /** Inverse-CDF table for the two-sided geometric ("discrete Laplace")
    * distribution with parameter alpha = exp(-(epsNum/epsDen)/sensitivity)
    * — the integer-valued noise an (epsilon)-DP count release adds. Returns
    * ascending `(z, hi)` pairs meaning "a 24-bit uniform u falls on noise z
    * iff u < hi and u >= the previous pair's hi"; zero-width atoms are
    * pruned and the last `hi` is exactly [[NoiseScale]]. The table is
    * computed ONCE driver-side and baked into both the Spark plan and the
    * query oracles as integer literals, so the mechanism is engine-exact by
    * construction — no runtime exp/log whose ulp could diverge between
    * engines. Tails beyond the table's reach (total mass < 2^-25) collapse
    * into the extreme atoms: the realized distribution deviates from the
    * ideal geometric by < 2^-24 per atom, the resolution's honest limit.
    *
    * Refuses a budget so small the table would exceed 2 x 4096 atoms
    * (epsilon/sensitivity below ~0.002): a CASE chain that long is a plan
    * bug, not a release — coarsen the release or raise epsilon.
    */
  def geometricThresholds(epsNum: Long, epsDen: Long,
      sensitivity: Long = 1L): Seq[(Long, Long)] = {
    require(epsNum > 0 && epsDen > 0 && sensitivity > 0,
      s"need a positive epsilon = epsNum/epsDen and sensitivity, got $epsNum/$epsDen, $sensitivity")
    // StrictMath, not Math: the determinism claim ("the same cell draws
    // the same noise across re-runs") extends across JVMs and hardware
    // only if the table itself is bit-identical everywhere — Math.exp/pow
    // may use platform intrinsics that differ by an ulp, which can shift
    // a rounded threshold by one and flip a cell's draw between machines
    val alpha = StrictMath.exp(-(epsNum.toDouble / epsDen) / sensitivity)
    val scale = NoiseScale.toDouble
    // P(Z <= z): alpha^(-z)/(1+alpha) below zero, 1 - alpha^(z+1)/(1+alpha)
    // from zero up (two-sided geometric: P(z) = (1-alpha)/(1+alpha)*alpha^|z|)
    def cdf(z: Long): Double =
      if (z < 0) StrictMath.pow(alpha, -z.toDouble) / (1.0 + alpha)
      else 1.0 - StrictMath.pow(alpha, z.toDouble + 1.0) / (1.0 + alpha)
    var zMax = 0L
    while (math.rint(scale * cdf(zMax)) < scale && zMax < 4096) zMax += 1
    require(zMax < 4096,
      s"epsilon/sensitivity = ($epsNum/$epsDen)/$sensitivity is too small for " +
      s"the ${24}-bit inverse-CDF table (more than ${2 * 4096 + 1} atoms) — " +
      "coarsen the release or raise epsilon")
    val raw = (-zMax to zMax).map { z =>
      val hi = if (z == zMax) NoiseScale
        else math.min(math.rint(scale * cdf(z)).toLong, NoiseScale)
      (z, hi)
    }
    // rint of a monotone CDF is monotone; equal neighbours are zero-width
    // atoms (unreachable tails at this resolution) — prune them
    raw.foldLeft(Vector.empty[(Long, Long)]) { case (acc, (z, hi)) =>
      if (hi <= acc.lastOption.map(_._2).getOrElse(0L)) acc else acc :+ (z, hi)
    }
  }

  /** Sequential composition of release budgets: the exact rational sum of
    * `(epsNum, epsDen)` parts, reduced. Releases over the same individuals
    * spend additively (parallel composition over DISJOINT populations would
    * spend the max — that bookkeeping is the caller's, this is the
    * conservative default a release ledger wants).
    */
  def composeBudget(parts: Seq[(Long, Long)]): (Long, Long) = {
    require(parts.nonEmpty, "no budget parts to compose")
    val (n, d) = parts.foldLeft((BigInt(0), BigInt(1))) { case ((an, ad), (pn, pd)) =>
      require(pn >= 0 && pd > 0, s"bad budget part $pn/$pd")
      val nn = an * pd + BigInt(pn) * ad
      val nd = ad * pd
      val g = nn.gcd(nd)
      (nn / g, nd / g)
    }
    require(n.isValidLong && d.isValidLong, s"composed budget $n/$d overflows long")
    (n.toLong, d.toLong)
  }

  /** Noised count release: adds two-sided-geometric noise (the
    * [[geometricThresholds]] mechanism at epsilon = epsNum/epsDen and the
    * given L1 `sensitivity`) to `countCol`, keyed DETERMINISTICALLY on the
    * release tag + the cell's key columns — md5 chars 1-6 of
    * `"dp:<tag>|" + concat_ws("|", keys)` as the 24-bit uniform. The same
    * cell always draws the same noise across re-runs, shards and dumps, so
    * repeated publication cannot be averaged away, and the whole mechanism
    * replays engine-exactly in a SQL oracle (the `Sampling` discipline; the
    * `dp:` prefix keys a digest no Sampling window ever hashes, and the tag
    * decorrelates releases — two releases of the same cells MUST use
    * distinct tags or their noise is identical, correlated, and the second
    * release is free information).
    *
    * Honesty note: with a PUBLIC tag this is the reproducible-release
    * mechanism, not formal DP — an adversary who knows the tag recomputes
    * the noise. The DP guarantee needs a secret salt folded into the
    * digest (a keyed PRF in place of the public hash) —
    * [[noisedCountsSalted]] is exactly that; this variant fixes the tag
    * so the oracle gate can replay the draw, and the epsilon ledger
    * ([[composeBudget]] / [[composeBudgetParallel]]) prices the salted
    * mechanism identically.
    *
    * Returns `released` plus `noise` and `released_count` =
    * max(0, count + noise) (the non-negativity clamp is post-processing —
    * DP-safe). One narrow map over the released cell table: no shuffle, no
    * join; the CASE chain is bounded by the threshold table
    * (|atoms| <= 2*4096+1, typically ~70 at epsilon 1/2).
    *
    * Key-encoding caveats (both inherited from concat_ws, both fixed by a
    * sentinel recode upstream): NULL key components are SKIPPED (the
    * [[generalizeLadder]] class_key caveat), so two cells differing only
    * in WHICH key column is NULL share a draw; and a '|' INSIDE a key
    * VALUE injects the delimiter — keys ('x|y','z') and ('x','y|z')
    * concatenate identically and draw identical, correlated noise within
    * one release (the tag is checked for '|', key values are not — an
    * in-engine escape would have to replay byte-identically in the SQL
    * oracle, so the discipline is: recode keys that can contain '|'
    * before releasing).
    */
  def noisedCounts(released: DataFrame, keyCols: Seq[String], countCol: String,
      releaseTag: String, epsNum: Long, epsDen: Long,
      sensitivity: Long = 1L): DataFrame =
    noisedCountsWithPrefix(released, keyCols, countCol, releaseTag,
      s"dp:$releaseTag|", epsNum, epsDen, sensitivity)

  /** [[noisedCounts]] with the draw keyed through a SECRET salt — the
    * keyed-PRF upgrade the public-tag scaladoc defers: folding a salt the
    * adversary does not hold into the digest makes the draw
    * computationally unpredictable to them, which is what the formal DP
    * claim needs (with the public tag, anyone can recompute the noise).
    * Everything else is identical — same threshold table, same
    * determinism ("same salt + same tag + same cell" always draws the
    * same noise, so re-publication still costs no budget), same narrow
    * map. The salted digest prefix is `dp!<salt>!<tag>|` — disjoint from
    * every public `dp:` digest by the third byte, and unambiguous because
    * the salt must be '!'-free ('|'-free too, and non-empty; a salt
    * ambiguity would let two distinct (salt, tag) pairs share draws).
    * PrivacySpec pins: same salt => identical draw, distinct salts =>
    * decorrelated noise, and the public path byte-unchanged. NOTE the
    * oracle gate can only replay the PUBLIC mechanism (a secret in
    * checked-in SQL would not be a secret); salted releases verify
    * through the spec's self-consistency pins instead.
    */
  def noisedCountsSalted(released: DataFrame, keyCols: Seq[String],
      countCol: String, releaseTag: String, salt: String,
      epsNum: Long, epsDen: Long, sensitivity: Long = 1L): DataFrame = {
    require(salt.nonEmpty && !salt.contains("|") && !salt.contains("!"),
      "salt must be non-empty and '|'/'!'-free (it delimits the salted keyspace)")
    noisedCountsWithPrefix(released, keyCols, countCol, releaseTag,
      s"dp!$salt!$releaseTag|", epsNum, epsDen, sensitivity)
  }

  private def noisedCountsWithPrefix(released: DataFrame, keyCols: Seq[String],
      countCol: String, releaseTag: String, digestPrefix: String,
      epsNum: Long, epsDen: Long, sensitivity: Long): DataFrame = {
    require(releaseTag.nonEmpty && !releaseTag.contains("|"),
      s"release tag '$releaseTag' must be non-empty and '|'-free (it delimits the keyspace)")
    val claimed = Set("noise", "released_count", "__u24")
    val clash = released.columns.filter(claimed.contains)
    require(clash.isEmpty,
      s"released frame already has column(s) ${clash.mkString(", ")} the noise pipeline claims")
    val thr = geometricThresholds(epsNum, epsDen, sensitivity)
    val u = conv(substring(md5(concat(lit(digestPrefix),
      concat_ws("|", keyCols.map(col): _*))), 1, 6), 16, 10).cast("long")
    // inverse-CDF lookup as TWO array literals + one filter/size bracket
    // (the Hll.biasOf discipline, r20's 199-arm when-chain lesson): the
    // when-chain form at eps=1/4 is 125 arms (347 at sensitivity=3) and
    // costs ~0.3-0.9 s of Catalyst/codegen time PER INVOCATION; the
    // bracket is a handful of expression nodes. The interpreted HOF scans
    // ≤~350 longs per ROW, but noise applies to RELEASED AGGREGATES
    // (histogram cells, never the corpus), so that is nanoseconds.
    // Semantics are identical: his is strictly increasing with last =
    // NoiseScale > any u24, so the first arm u24 < hi_i equals the count
    // of his <= u24, and element_at(zs, i+1) is that arm's z.
    val noiseCol =
      if (thr.size == 1) lit(thr.head._1)
      else {
        // the bracket's bounds safety rides on geometricThresholds'
        // invariant (ADVICE r21): his strictly increasing, last = NoiseScale
        // > any 24-bit draw — violated, element_at would return NULL noise
        // in non-ANSI mode (silent corruption), so fail loudly at plan
        // build instead
        require(thr.last._2 == NoiseScale,
          s"geometricThresholds must end at NoiseScale=$NoiseScale, got ${thr.last._2}")
        require(thr.map(_._2).sliding(2).forall(w => w(0) < w(1)),
          "geometricThresholds his must be strictly increasing")
        val hiLit = lit(thr.map(_._2).toArray)
        val zLit = lit(thr.map(_._1).toArray)
        element_at(zLit,
          (size(filter(hiLit, h => col("__u24") >= h)) + lit(1)))
      }
    released.withColumn("__u24", u)
      .withColumn("noise", noiseCol)
      .withColumn("released_count",
        greatest(lit(0L), col(countCol).cast("long") + col("noise")))
      .drop("__u24")
  }

  /** Parallel composition of release budgets: the exact rational MAX of
    * the parts, reduced — the spend when the releases cover DISJOINT
    * units of adjacency (e.g. per-window event-level releases, where one
    * event lands in exactly one window: an adjacent dataset differing in
    * one event differs in one window's release only, so the family's
    * guarantee is the worst single window, not the sum). The disjointness
    * is about the ADJACENCY UNIT: per-day releases are parallel for
    * event-level DP but NOT for user-level DP when one user spans days —
    * there the unit (a user) touches many windows and [[composeBudget]]'s
    * sequential sum is the honest ledger.
    */
  def composeBudgetParallel(parts: Seq[(Long, Long)]): (Long, Long) = {
    require(parts.nonEmpty, "no budget parts to compose")
    parts.foreach { case (pn, pd) =>
      require(pn >= 0 && pd > 0, s"bad budget part $pn/$pd") }
    val (n, d) = parts.reduce { (a, b) =>
      if (BigInt(a._1) * b._2 >= BigInt(b._1) * a._2) a else b
    }
    val g = BigInt(n).gcd(BigInt(d))
    ((BigInt(n) / g).toLong, (BigInt(d) / g).toLong)
  }

  /** Deterministic per-user contribution bound — the clip that turns a
    * row-level count release into a USER-LEVEL guarantee: keeps at most
    * `c` rows per `userCol`, chosen by md5 order of `rowKeyCol` (ties
    * broken by the key itself), so the kept set is a pure function of the
    * data — identical across re-runs, shards and dumps, and replayable by
    * a SQL oracle (the Sampling discipline). After the clip, one user
    * entering or leaving moves ANY count over the kept rows by at most c,
    * which is exactly the L1 `sensitivity = c` a [[noisedCounts]] release
    * over `events`-shaped data (one user, many rows) must charge — noise
    * calibrated to sensitivity 1 on UNCLIPPED rows under-protects by up
    * to the user's full row count (PrivacySpec pins the gap).
    *
    * Shape: one window partitioned by user (a single corpus shuffle on
    * the user key — the same shuffle any per-user aggregation pays), and
    * because the filter is `row_number <= c`, Catalyst plans a
    * WindowGroupLimit BEFORE the exchange: each map task keeps only its
    * own top-c per user, so the shuffle ships at most c rows per user
    * per input partition — not the corpus (PlanSpec pins the two-node
    * pushdown; this is why the clip is the declarative filter rather
    * than a bespoke aggregator).
    */
  def clipContributions(df: DataFrame, userCol: String, rowKeyCol: String,
      c: Int): DataFrame = {
    require(c >= 1, s"contribution bound must be >= 1, got $c")
    require(!df.columns.contains("__clip_rn"),
      "the clip claims the internal column __clip_rn — rename it upstream")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(userCol))
      .orderBy(md5(col(rowKeyCol).cast("string")), col(rowKeyCol))
    df.withColumn("__clip_rn", row_number().over(w))
      .filter(col("__clip_rn") <= c)
      .drop("__clip_rn")
  }
}
