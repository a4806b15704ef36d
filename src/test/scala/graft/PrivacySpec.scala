package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Privacy

/** The public privacy operators (k-anonymity audit, generalization ladder,
  * l-diversity) on a crafted frame where every settle decision is known by
  * construction. The d180-d182 queries bind these same calls to the
  * testdata tables and go through the DuckDB oracle gate.
  */
class PrivacySpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  // (g, sub, sens): B|x is 5-anonymous at the finest level; A needs one
  // generalization step (A|x=4, A|y=2, but g=A is 6); C (2 rows) falls
  // through to the fallback
  private def df = {
    val s = spark
    import s.implicits._
    (Seq.fill(4)(("A", "x")) ++ Seq.fill(2)(("A", "y")) ++
      Seq.fill(5)(("B", "x")) ++ Seq(("C", "x"), ("C", "y")))
      .zipWithIndex
      .map { case ((g, sub), i) => (g, sub, i % 3) }
      .toDF("g", "sub", "sens")
      .withColumn("all", lit("*"))
  }

  test("kAnonymityAudit: class sizes and at-risk flags") {
    val out = Privacy.kAnonymityAudit(df, Seq(col("g"), col("sub")), k = 5)
      .collect().map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getBoolean(3)))).toMap
    assert(out == Map(
      ("A", "x") -> (4L, true), ("A", "y") -> (2L, true),
      ("B", "x") -> (5L, false),
      ("C", "x") -> (1L, true), ("C", "y") -> (1L, true)))
  }

  test("generalizeLadder: rows settle at the smallest level reaching k") {
    val out = Privacy.generalizeLadder(df,
        Seq(Seq("g", "sub"), Seq("g"), Seq("all")), k = 5)
      .select("g", "sub", "settle_level", "class_key")
      .collect().map(r => ((r.getString(0), r.getString(1)),
        (r.getInt(2), r.getString(3)))).toSet
    assert(out == Set(
      (("B", "x"), (0, "B|x")),  // 5-anonymous at the finest level
      (("A", "x"), (1, "A")),    // fine classes 4 and 2 < k; g=A is 6
      (("A", "y"), (1, "A")),
      (("C", "x"), (2, "*")),    // g=C is 2 < k: unconditional fallback
      (("C", "y"), (2, "*"))))
    // the fallback level's class size is never consulted: no szN columns leak
    val cols = Privacy.generalizeLadder(df,
      Seq(Seq("g", "sub"), Seq("g"), Seq("all")), k = 5).columns.toSet
    assert(!cols.exists(_.startsWith("sz")), cols.toString)
  }

  test("generalizeLadderWith: reference sizes decide; absent classes fall through") {
    val s = spark
    import s.implicits._
    // dump carries a class the reference has never seen ("D","z") — size 0,
    // maximally identifying, must fall through to the fallback even though
    // the dump itself has it
    val dump = Seq(("B", "x"), ("D", "z"), ("A", "y"))
      .toDF("g", "sub").withColumn("all", lit("*"))
    val out = Privacy.generalizeLadderWith(dump,
        Seq(Seq("g", "sub"), Seq("g"), Seq("all")), k = 5, reference = df)
      .select("g", "sub", "settle_level", "class_key")
      .collect().map(r => ((r.getString(0), r.getString(1)),
        (r.getInt(2), r.getString(3)))).toSet
    assert(out == Set(
      (("B", "x"), (0, "B|x")), // reference class of 5 at the finest level
      (("A", "y"), (1, "A")),   // A|y is 2 in the reference; g=A is 6
      (("D", "z"), (2, "*"))))  // unseen anywhere: falls to the fallback
  }

  test("generalizeRoute: a live stream settles identically to the batch call") {
    val s = spark
    import s.implicits._
    val rows = Seq(("B", "x"), ("A", "x"), ("D", "z"), ("C", "y"))
    val levels = Seq(Seq("g", "sub"), Seq("g"), Seq("all"))
    val ms = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(String, String)](spark)
    val q = Privacy.generalizeLadderWith(
        ms.toDF().toDF("g", "sub").withColumn("all", lit("*")), levels, 5, df)
      .select("g", "sub", "settle_level", "class_key")
      .writeStream.format("memory").queryName("gen_route_out")
      .outputMode("append").start()
    try {
      ms.addData(rows: _*)
      q.processAllAvailable()
      val live = spark.table("gen_route_out").collect()
        .map(r => (r.getString(0), r.getString(1), r.getInt(2), r.getString(3))).toSet
      val batch = Privacy.generalizeLadderWith(
          rows.toDF("g", "sub").withColumn("all", lit("*")), levels, 5, df)
        .select("g", "sub", "settle_level", "class_key")
        .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2), r.getString(3))).toSet
      assert(live == batch && live.nonEmpty, s"live=$live batch=$batch")
    } finally q.stop()
  }

  test("generalizeLadder: a NULL-QI class settles by its true size, not the fallback") {
    val s = spark
    import s.implicits._
    // five rows share the (null, "x") class — 5-anonymous at the finest
    // level; a non-null-safe size join would give them sz0 = NULL and
    // silently drop them to the fallback
    val rows = (Seq.fill(5)((Option.empty[String], "x")) ++
      Seq((Option("B"), "x"), (Option("B"), "y")))
      .toDF("g", "sub").withColumn("all", lit("*"))
    val out = Privacy.generalizeLadder(rows,
        Seq(Seq("g", "sub"), Seq("all")), k = 5)
      .select("g", "sub", "settle_level")
      .collect().map(r => ((Option(r.getString(0)), r.getString(1)), r.getInt(2))).toSet
    assert(out == Set(
      ((None, "x"), 0),        // its own class of 5: settles at the finest level
      ((Some("B"), "x"), 1),   // classes of 1: the fallback
      ((Some("B"), "y"), 1)), out.toString)
  }

  test("generalizeLadderWith: a near-unique QI hits the broadcast guard, not a driver OOM") {
    val s = spark
    import s.implicits._
    // every row its own equivalence class at the finest level: with a
    // tight guard the forced broadcast must fail with an actionable
    // message instead of materializing the class table on the driver
    val wide = (0 until 64).map(i => (s"u$i", "x")).toDF("g", "sub")
      .withColumn("all", lit("*"))
    val e = intercept[IllegalArgumentException] {
      Privacy.generalizeLadderWith(wide, Seq(Seq("g", "sub"), Seq("all")),
        k = 5, reference = wide, maxClassRows = 16L)
    }
    assert(e.getMessage.contains("broadcast guard") &&
      e.getMessage.contains("64") && e.getMessage.contains("level 0"),
      e.getMessage)
    // the same ladder passes under the default guard
    val ok = Privacy.generalizeLadderWith(wide, Seq(Seq("g", "sub"), Seq("all")),
      k = 5, reference = wide)
    assert(ok.count() == 64L)
  }

  test("tCloseness: exact integer TV numerators, including absent-cell mass") {
    // hand-computed on `df` (N=13; global sens histogram 0->5, 1->4, 2->4):
    //   A (n=6, cells 0:2,1:2,2:2): |26-30|+|26-24|+|26-24| = 8
    //   B (n=5, cells 0:2,1:2,2:1): |26-25|+|26-20|+|13-20| = 14
    //   C (n=2, cells 2:1,0:1; v=1 ABSENT contributes gv*n = 4*2 = 8):
    //     |13-10|+|13-8| + 8 = 16
    // t = 1/4: A 32<=156 ok, B 56<=130 ok, C 64>52 leaks
    val out = Privacy.tCloseness(df, Seq(col("g")), col("sens"), tNum = 1L, tDen = 4L)
      .collect().map(r => (r.getString(0),
        (r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    assert(out("A") == ((6L, 8L, true)), out.toString)
    assert(out("B") == ((5L, 14L, true)), out.toString)
    assert(out("C") == ((2L, 16L, false)), out.toString)
  }

  test("tClosenessWith: reference histogram decides; unseen values carry full mass") {
    val s = spark
    import s.implicits._
    // reference = df (N=13, global 0:5, 1:4, 2:4); dump class D holds one
    // baseline value and one the reference has NEVER seen (sens=7):
    //   present: |1*13 - 5*2| = 3 (v0), |1*13 - 0*2| = 13 (v7, gv=0 via
    //   the LEFT join); present_g = 5, absent mass (13-5)*2 = 16
    //   -> tv_num = 32, distance 32/52 ~ 0.62: leaks at t = 1/4
    val dump = Seq(("D", 0), ("D", 7)).toDF("g", "sens")
    val out = Privacy.tClosenessWith(dump, Seq(col("g")), col("sens"),
        tNum = 1L, tDen = 4L, reference = df)
      .collect().map(r => (r.getString(0),
        (r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    assert(out("D") == ((2L, 32L, false)), out.toString)
    // self-reference degenerates to the plain audit
    val self = Privacy.tClosenessWith(df, Seq(col("g")), col("sens"), 1L, 4L, df)
      .collect().map(r => (r.getString(0), r.getLong(2))).toMap
    assert(self == Map("A" -> 8L, "B" -> 14L, "C" -> 16L), self.toString)
  }

  test("tClosenessOrdinal: exact EMD numerators over the dense value grid") {
    // same df (N=13, global 0->5, 1->4, 2->4, m=3), per-class diffs
    // cv*N - gv*n cumulated in sens order:
    //   A (n=6, cells 2,2,2): diffs -4,+2,+2 -> cums -4,-2,0 -> emd 6
    //   B (n=5, cells 2,2,1): diffs +1,+6,-7 -> cums  1, 7,0 -> emd 8
    //   C (n=2, cells 1,0,1): diffs +3,-8,+5 -> cums  3,-5,0 -> emd 8
    //     (v=1 is ABSENT from C: the dense grid materializes its zero)
    // t = 1/10 against (m-1)*n*N: A 60<=156 ok, B 80<=130 ok, C 80>52
    val out = Privacy.tClosenessOrdinal(df, Seq(col("g")), col("sens"),
        tNum = 1L, tDen = 10L)
      .collect().map(r => (r.getString(0),
        (r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    assert(out("A") == ((6L, 6L, true)), out.toString)
    assert(out("B") == ((5L, 8L, true)), out.toString)
    assert(out("C") == ((2L, 8L, false)), out.toString)
    // the ordinal point: TV is travel-blind — P (off-mass at band 1) and
    // R (same off-mass at band 3) score IDENTICAL tv_num 40 against the
    // corpus (P 0,0,0,1; R 0,0,0,3; F 2,2,2,2 => N=12, global
    // 0:6,1:1,2:4,3:1) — while EMD separates them by where the mass sits
    // on the band axis (hand-cumulated: P cums 12,20,4,0 -> 36; R cums
    // 12,8,-8,0 -> 28: R's far band is nearer the corpus median that F
    // pulls to band 2, so it travels LESS)
    val s = spark
    import s.implicits._
    val corpus = (Seq.fill(3)(("P", 0)) ++ Seq(("P", 1)) ++
      Seq.fill(3)(("R", 0)) ++ Seq(("R", 3)) ++
      Seq.fill(4)(("F", 2))).toDF("g2", "sens2")
    val emd = Privacy.tClosenessOrdinal(corpus, Seq(col("g2")), col("sens2"), 1L, 10L)
      .collect().map(r => (r.getString(0), r.getLong(2))).toMap
    val tv = Privacy.tCloseness(corpus, Seq(col("g2")), col("sens2"), 1L, 10L)
      .collect().map(r => (r.getString(0), r.getLong(2))).toMap
    assert(tv("P") == 40L && tv("R") == 40L,
      s"TV conflates the two shift geometries by design: $tv")
    assert(emd("P") == 36L && emd("R") == 28L,
      s"EMD must separate them by travel: $emd")
  }

  test("tClosenessOrdinalWith: the union grid prices travel for reference-unseen values") {
    val s = spark
    import s.implicits._
    // dump class D = {0:1, 7:1} vs reference df (values 0,1,2; N=13,
    // gv 5,4,4). Union grid 0,1,2,7 (m=4); diffs cv*13 - gv*2 =
    // +3,-8,-8,+13 -> cums 3,-5,-13,0 -> emd_num 21. t = 1/4:
    // 21*4 = 84 > 1*(4-1)*2*13 = 78 -> leaks (the unseen band must
    // travel the whole axis). A grid built from the reference alone
    // would DROP value 7 and miss that mass entirely.
    val dump = Seq(("D", 0), ("D", 7)).toDF("g", "sens")
    val out = Privacy.tClosenessOrdinalWith(dump, Seq(col("g")), col("sens"),
        tNum = 1L, tDen = 4L, reference = df)
      .collect().map(r => (r.getString(0),
        (r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    assert(out("D") == ((2L, 21L, false)), out.toString)
    // self-reference degenerates to the plain ordinal audit
    val self = Privacy.tClosenessOrdinalWith(df, Seq(col("g")), col("sens"),
        1L, 10L, df)
      .collect().map(r => (r.getString(0), r.getLong(2))).toMap
    assert(self == Map("A" -> 6L, "B" -> 8L, "C" -> 8L), self.toString)
  }

  test("t-closeness refuses an empty reference and claimed QI names instead of passing vacuously") {
    val s = spark
    import s.implicits._
    val dump = Seq(("D", 0), ("D", 7)).toDF("g", "sens")
    // an empty cohort (wrong filter, stale path) must fail LOUD: with
    // n_total = 0 every class would pass t-closeness (0 <= 0, or a NULL
    // verdict a leak-filter never sees) — a fail-open release gate
    val emptyRef = df.filter(lit(false))
    val e1 = intercept[IllegalArgumentException] {
      Privacy.tClosenessWith(dump, Seq(col("g")), col("sens"), 1L, 4L, emptyRef)
    }
    assert(e1.getMessage.contains("reference corpus is empty"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      Privacy.tClosenessOrdinalWith(dump, Seq(col("g")), col("sens"), 1L, 4L, emptyRef)
    }
    assert(e2.getMessage.contains("reference corpus is empty"), e2.getMessage)
    val e3 = intercept[IllegalArgumentException] {
      Privacy.tClosenessOfCells(dump.groupBy("g", "sens").count(),
        Seq("g"), "sens", "count", 1L, 4L, emptyRef, col("sens"))
    }
    assert(e3.getMessage.contains("reference corpus is empty"), e3.getMessage)
    // a QI column named after a pipeline-claimed column collides with the
    // internals — refused with the claimed list in the message
    val e4 = intercept[IllegalArgumentException] {
      Privacy.tCloseness(dump.withColumnRenamed("g", "cv"),
        Seq(col("cv")), col("sens"), 1L, 4L)
    }
    assert(e4.getMessage.contains("collide"), e4.getMessage)
  }

  test("t-closeness audits NULL quasi-identifiers and NULL sensitive values as first-class") {
    // a plain (non-null-safe) join would silently DROP the null-QI class
    // from the audit (fail-open) and double-count null sensitive mass.
    // corpus: (null,0)x2 (null,null)x1 (Z,0)x1 (Z,null)x2 => N=6, global
    // histogram {0:3, null:3}; both classes (n=3) have tv_num
    // |2*6-3*3| + |1*6-3*3| = 6 and emd_num |±3| + |0| = 3
    val s = spark
    import s.implicits._
    val corpus = Seq(
      (Option.empty[String], Option(0)), (None, Option(0)), (None, Option.empty[Int]),
      (Option("Z"), Option(0)), (Option("Z"), None), (Option("Z"), None))
      .toDF("g", "sens")
    val tv = Privacy.tCloseness(corpus, Seq(col("g")), col("sens"), 1L, 4L)
      .collect().map(r => (Option(r.getString(0)),
        (r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    assert(tv.keySet == Set(None, Some("Z")),
      s"the NULL-QI class must appear in the audit: $tv")
    assert(tv(None) == ((3L, 6L, true)) && tv(Some("Z")) == ((3L, 6L, true)), tv.toString)
    val emd = Privacy.tClosenessOrdinal(corpus, Seq(col("g")), col("sens"), 1L, 4L)
      .collect().map(r => (Option(r.getString(0)),
        (r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    assert(emd(None) == ((3L, 3L, true)) && emd(Some("Z")) == ((3L, 3L, true)), emd.toString)
  }

  test("tClosenessOrdinal: the NULL band sits at the BOTTOM of the travel axis") {
    // three-band grid where the NULL band's position CHANGES the answer:
    // corpus E:{null:1, 1:1} F:{0:2, 1:2} => N=6, global {null:1, 0:2, 1:3}.
    // Grid pinned NULLS FIRST (null, 0, 1); diffs cv*N - gv*n:
    //   E (n=2): null +4, 0 -4, 1 0 -> cums 4, 0, 0 -> emd_num 4
    //   F (n=4): null -4, 0 +4, 1 0 -> cums -4, 0, 0 -> emd_num 4
    // a NULLS-LAST grid (DuckDB's asc default) would cumulate (0, 1, null)
    // and read 8 for BOTH classes — the exact cross-engine divergence this
    // pin (asc_nulls_first in Privacy, NULLS FIRST in the d185/d187
    // oracles) exists to prevent
    val s = spark
    import s.implicits._
    val corpus = Seq(
      (Option("E"), Option.empty[Int]), (Option("E"), Option(1)),
      (Option("F"), Option(0)), (Option("F"), Option(0)),
      (Option("F"), Option(1)), (Option("F"), Option(1)))
      .toDF("g", "sens")
    val emd = Privacy.tClosenessOrdinal(corpus, Seq(col("g")), col("sens"), 1L, 4L)
      .collect().map(r => (r.getString(0), r.getLong(2))).toMap
    assert(emd == Map("E" -> 4L, "F" -> 4L),
      s"NULL must cumulate as the grid's FIRST band (a NULLS-LAST axis reads 8): $emd")
    // and the cross-dump grid places a dump-only NULL band the same way:
    // dump D:{null:1, 1:1} vs reference F-rows-only {0:2, 1:2} (N=4,
    // union grid null,0,1 with gv null:0). diffs: null 1*4-0*2=+4,
    // 0 0-2*2=-4, 1 1*4-2*2=0 -> cums 4, 0, 0 -> emd_num 4 (NULLS LAST: 8)
    val dump = Seq((Option("D"), Option.empty[Int]), (Option("D"), Option(1)))
      .toDF("g", "sens")
    val ref = corpus.filter(col("g") === "F")
    val cross = Privacy.tClosenessOrdinalWith(dump, Seq(col("g")), col("sens"),
        1L, 4L, reference = ref)
      .collect().map(r => (r.getString(0), r.getLong(2))).toMap
    assert(cross == Map("D" -> 4L),
      s"the union grid must also pin NULL first: $cross")
  }

  test("geometricThresholds: a valid, symmetric, zero-moded 24-bit inverse CDF") {
    val thr = Privacy.geometricThresholds(1L, 2L)
    // covers the full 24-bit range, strictly increasing, z ascending
    assert(thr.last._2 == Privacy.NoiseScale, thr.last.toString)
    assert(thr.map(_._2) == thr.map(_._2).sorted && thr.map(_._2).distinct.size == thr.size)
    assert(thr.map(_._1) == thr.map(_._1).sorted)
    // atom widths: mode at z = 0; near-symmetric (rounding allows 1 quantum)
    val widths = thr.zip(0L +: thr.map(_._2).init)
      .map { case ((z, hi), lo) => (z, hi - lo) }
    assert(widths.maxBy(_._2)._1 == 0L, widths.toString)
    val wm = widths.toMap
    widths.foreach { case (z, w) =>
      wm.get(-z).foreach(w2 => assert(math.abs(w - w2) <= 1L, s"asymmetric at z=$z: $w vs $w2")) }
    // width ratio alpha = exp(-1/2): width(1)/width(0) within 1% of 0.6065
    val ratio = wm(1L).toDouble / wm(0L)
    assert(math.abs(ratio - math.exp(-0.5)) < 0.01, ratio.toString)
    // a budget too small for the table is refused with an actionable message
    val e = intercept[IllegalArgumentException](Privacy.geometricThresholds(1L, 10000L))
    assert(e.getMessage.contains("coarsen the release or raise epsilon"), e.getMessage)
    // a huge epsilon degenerates to the single zero atom (noise below the
    // 24-bit resolution) — and the single-atom release is still total
    assert(Privacy.geometricThresholds(30L, 1L) == Seq((0L, Privacy.NoiseScale)))
    val s = spark
    import s.implicits._
    val one = Privacy.noisedCounts(Seq(("k", 5L)).toDF("k", "cnt"),
      Seq("k"), "cnt", "t", 30L, 1L).collect().head
    assert(one.getLong(2) == 0L && one.getLong(3) == 5L, one.toString)
  }

  test("noisedCounts: deterministic md5-keyed draw, JVM-replayable, clamped at zero") {
    val s = spark
    import s.implicits._
    // the expected noise recomputed OUTSIDE Spark: md5 chars 1-6 of
    // "dp:t|<key>" as a 24-bit int through the same threshold table
    val thr = Privacy.geometricThresholds(1L, 2L)
    def expectedNoise(key: String): Long = {
      val dig = java.security.MessageDigest.getInstance("MD5")
        .digest(s"dp:t|$key".getBytes("UTF-8"))
      val hex = dig.map("%02x".format(_)).mkString.substring(0, 6)
      val u = java.lang.Long.parseLong(hex, 16)
      thr.find(u < _._2).get._1
    }
    val keys = (0 until 256).map(i => s"k$i")
    val df = keys.map(k => (k, 2L)).toDF("k", "cnt").repartition(5)
    val out = Privacy.noisedCounts(df, Seq("k"), "cnt", "t", 1L, 2L)
      .collect().map(r => r.getString(0) -> (r.getLong(2), r.getLong(3))).toMap
    keys.foreach { k =>
      val z = expectedNoise(k)
      assert(out(k) == ((z, math.max(0L, 2L + z))), s"$k: ${out(k)} vs noise $z")
    }
    // with count 2 and eps 1/2 some draws MUST clamp (negative noise < -2)
    assert(keys.exists(k => expectedNoise(k) < -2L), "test needs a clamping key")
    assert(out.values.forall(_._2 >= 0L))
    // a different tag decorrelates; the same tag replays identically
    val out2 = Privacy.noisedCounts(df.repartition(2), Seq("k"), "cnt", "t", 1L, 2L)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(keys.forall(k => out2(k) == out(k)._1), "same tag must replay")
    val outB = Privacy.noisedCounts(df, Seq("k"), "cnt", "t2", 1L, 2L)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(keys.exists(k => outB(k) != out(k)._1), "distinct tags must decorrelate")
    // claimed-name and tag guards refuse loudly
    intercept[IllegalArgumentException](
      Privacy.noisedCounts(df.withColumn("noise", lit(0)), Seq("k"), "cnt", "t", 1L, 2L))
    intercept[IllegalArgumentException](
      Privacy.noisedCounts(df, Seq("k"), "cnt", "a|b", 1L, 2L))
  }

  test("noisedCounts: the realized draw matches the geometric distribution, not just the mechanics") {
    // 4096 deterministic keys through the eps=1 mechanism: the zero-noise
    // fraction must sit near P(0) = (1-alpha)/(1+alpha) and the sign split
    // must be near-even. Deterministic (md5 draws), so the tolerances are
    // one-time checks, not flaky statistics: with n=4096 the binomial sd
    // of the zero-fraction is ~0.0074 — a ±0.03 band is ~4 sd.
    val s = spark
    import s.implicits._
    val n = 4096
    val df = (0 until n).map(i => (s"cell$i", 10L)).toDF("k", "cnt")
    val zs = Privacy.noisedCounts(df, Seq("k"), "cnt", "dist", 1L, 1L)
      .select("noise").collect().map(_.getLong(0))
    val alpha = math.exp(-1.0)
    val p0 = (1 - alpha) / (1 + alpha)
    val frac0 = zs.count(_ == 0L).toDouble / n
    assert(math.abs(frac0 - p0) < 0.03, s"zero fraction $frac0 vs expected $p0")
    val fracPos = zs.count(_ > 0L).toDouble / n
    val fracNeg = zs.count(_ < 0L).toDouble / n
    assert(math.abs(fracPos - fracNeg) < 0.03, s"sign skew: +$fracPos vs -$fracNeg")
    // mean near zero (the unbiasedness the clamp deliberately trades away
    // is measured pre-clamp, on the raw noise column)
    assert(math.abs(zs.sum.toDouble / n) < 0.15, s"mean ${zs.sum.toDouble / n}")
  }

  test("consistency repair: Hamilton over noised bins sums exactly to the noised total") {
    // the d192 composition on a crafted frame: bins (3,1,0), repaired to a
    // noised total of 7 — Hamilton bases (5,1,0) leave 1 unit, which goes
    // to the largest remainder (band b, rem 3): repaired (5,2,0) sums 7
    // while naive per-bin rounding of 7*(3/4, 1/4, 0) would give (5,1,0)=6
    val s = spark
    import s.implicits._
    val bins = Seq(("a", 3L), ("b", 1L), ("c", 0L)).toDF("band", "noised_bin")
    val out = graft.operators.Allocation.apportion(bins, "band", "noised_bin", 7L)
      .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(out == Map("a" -> 5L, "b" -> 2L, "c" -> 0L), out.toString)
    assert(out.values.sum == 7L, "repaired release must sum to the released total")
  }

  test("composeBudget: exact rational sequential composition") {
    assert(Privacy.composeBudget(Seq((1L, 2L), (1L, 4L))) == ((3L, 4L)))
    assert(Privacy.composeBudget(Seq((1L, 4L), (1L, 4L))) == ((1L, 2L)))
    assert(Privacy.composeBudget(Seq((2L, 6L), (1L, 3L), (0L, 5L))) == ((2L, 3L)))
    intercept[IllegalArgumentException](Privacy.composeBudget(Seq.empty))
    intercept[IllegalArgumentException](Privacy.composeBudget(Seq((1L, 0L))))
  }

  test("composeBudgetParallel: disjoint-window releases spend the max, not the sum") {
    // three per-window releases at 1/2, 1/4, 1/2 over disjoint event
    // populations: the family's guarantee is the worst window, 1/2 —
    // where the sequential ledger would charge 5/4 (the d194 point)
    val parts = Seq((1L, 2L), (1L, 4L), (1L, 2L))
    assert(Privacy.composeBudgetParallel(parts) == ((1L, 2L)))
    assert(Privacy.composeBudget(parts) == ((5L, 4L)))
    // exact rational compare (no float): 3/7 > 2/5; result reduced
    assert(Privacy.composeBudgetParallel(Seq((2L, 5L), (3L, 7L))) == ((3L, 7L)))
    assert(Privacy.composeBudgetParallel(Seq((2L, 4L))) == ((1L, 2L)))
    intercept[IllegalArgumentException](Privacy.composeBudgetParallel(Seq.empty))
    intercept[IllegalArgumentException](
      Privacy.composeBudgetParallel(Seq((1L, 0L))))
  }

  test("noisedCountsSalted: same salt same draw, distinct salts decorrelate, public path untouched") {
    val s = spark
    import s.implicits._
    val cells = (0 until 16).map(i => (s"k$i", 100L + i)).toDF("k", "cnt")
    def draws(df: org.apache.spark.sql.DataFrame): Map[String, Long] =
      df.collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    val pub = draws(Privacy.noisedCounts(cells, Seq("k"), "cnt", "t", 1L, 2L))
    val s1 = draws(Privacy.noisedCountsSalted(cells, Seq("k"), "cnt", "t",
      "alpha", 1L, 2L))
    val s1b = draws(Privacy.noisedCountsSalted(cells, Seq("k"), "cnt", "t",
      "alpha", 1L, 2L))
    val s2 = draws(Privacy.noisedCountsSalted(cells, Seq("k"), "cnt", "t",
      "beta", 1L, 2L))
    // (a) same salt => the identical draw (re-publication costs no budget)
    assert(s1 == s1b)
    // (b) distinct salts => decorrelated noise (16 cells: identical draw
    // vectors would mean the salt never reached the digest)
    assert(s1 != s2, s"salts alpha/beta drew identically: $s1")
    // (c) the public path is byte-unchanged and disjoint from the salted
    // keyspace (prefix dp: vs dp!)
    assert(pub == draws(Privacy.noisedCounts(cells, Seq("k"), "cnt", "t", 1L, 2L)))
    assert(pub != s1, "salted draw must not coincide with the public draw")
    // (d) malformed salts refused: the delimiters would make two distinct
    // (salt, tag) pairs share a keyspace
    intercept[IllegalArgumentException](Privacy.noisedCountsSalted(
      cells, Seq("k"), "cnt", "t", "", 1L, 2L))
    intercept[IllegalArgumentException](Privacy.noisedCountsSalted(
      cells, Seq("k"), "cnt", "t", "a|b", 1L, 2L))
    intercept[IllegalArgumentException](Privacy.noisedCountsSalted(
      cells, Seq("k"), "cnt", "t", "a!b", 1L, 2L))
  }

  test("clipContributions: deterministic md5-order top-c; unclipped releases under-protect") {
    val s = spark
    import s.implicits._
    // user 1 contributes FIVE 'x' events; users 2/3 are small
    val ev = Seq(
      (1L, 101L, "x"), (1L, 102L, "x"), (1L, 103L, "x"), (1L, 104L, "x"),
      (1L, 105L, "x"), (2L, 201L, "x"), (2L, 202L, "y"), (3L, 301L, "y"))
      .toDF("user_id", "event_id", "event_type")
    val clipped = Privacy.clipContributions(ev, "user_id", "event_id", 3)
    val kept = clipped.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // per-user cap holds; small users keep everything
    assert(kept.count(_._1 == 1L) == 3 && kept.count(_._1 == 2L) == 2 &&
      kept.count(_._1 == 3L) == 1, kept.toString)
    // the kept set is the md5-order top-3 — a plain-JVM replay agrees
    // (the oracle's ORDER BY md5(CAST(event_id AS VARCHAR)))
    def md5hex(x: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val expect1 = Seq(101L, 102L, 103L, 104L, 105L)
      .sortBy(id => (md5hex(id.toString), id)).take(3).toSet
    assert(kept.filter(_._1 == 1L).map(_._2) == expect1)
    // determinism across re-runs (same plan, same draw — the clip is a
    // pure function of the data)
    assert(Privacy.clipContributions(ev, "user_id", "event_id", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet == kept)
    // the sensitivity pin: removing user 1 moves the 'x' cell by 5 on
    // UNCLIPPED rows (noise at sensitivity 1 or even 3 under-protects)
    // but by exactly c = 3 after the clip — the L1 bound the d193
    // release charges
    def hist(df: org.apache.spark.sql.DataFrame): Map[String, Long] =
      df.groupBy("event_type").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    val without1 = ev.filter(col("user_id") =!= 1L)
    val unclippedDelta =
      (hist(ev).getOrElse("x", 0L) - hist(without1).getOrElse("x", 0L))
    val clippedDelta =
      (hist(clipped).getOrElse("x", 0L) -
        hist(Privacy.clipContributions(without1, "user_id", "event_id", 3))
          .getOrElse("x", 0L))
    assert(unclippedDelta == 5L, s"user 1 moves the unclipped cell by $unclippedDelta")
    assert(clippedDelta == 3L, s"the clip must bound user 1's movement to 3, got $clippedDelta")
    intercept[IllegalArgumentException](
      Privacy.clipContributions(ev, "user_id", "event_id", 0))
  }

  test("lDiversity: distinct sensitive values per class") {
    val out = Privacy.lDiversity(df, Seq(col("g")), col("sens"), l = 3)
      .collect().map(r => (r.getString(0),
        (r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    // sens cycles 0,1,2 by row index: A (rows 0-5) sees all 3; B (rows
    // 6-10) sees 0,1,2 too; C (rows 11-12) sees only 2 values
    assert(out("A") == ((6L, 3L, true)))
    assert(out("B") == ((5L, 3L, true)))
    assert(out("C") == ((2L, 2L, false)))
  }
}
