package graft.bench

import Wire.Sample

/** Output checks: every generated sample arrives once (as a multiset), the
  * topic key ignores the replica label, and every downstream POST honours
  * the remote_write batching contract.
  */
object Check {

  /** 64-bit fingerprint of a sample: tenant, sorted labels, value bits (all
    * NaNs are one value, as `Double.doubleToLongBits` has it) and timestamp.
    */
  def fingerprint(s: Sample): Long = {
    var h = 0xcbf29ce484222325L
    def mixChar(c: Int): Unit = { h ^= c; h *= 0x100000001b3L }
    def mixString(x: String): Unit = {
      var i = 0
      while (i < x.length) { mixChar(x.charAt(i)); i += 1 }
      mixChar(0x10000) // terminator no UTF-16 unit can produce
    }
    def mixLong(v: Long): Unit = { var i = 0; while (i < 8) { mixChar(((v >>> (8 * i)) & 0xff).toInt); i += 1 } }
    mixString(s.tenant)
    s.labels.foreach { case (k, v) => mixString(k); mixString(v) }
    mixLong(java.lang.Double.doubleToLongBits(s.value))
    mixLong(s.ts)
    // splitmix64 finaliser spreads the FNV state over all 64 bits
    h = (h ^ (h >>> 30)) * 0xbf58476d1ce4e5b9L
    h = (h ^ (h >>> 27)) * 0x94d049bb133111ebL
    h ^ (h >>> 31)
  }

  /** How the observed multiset differs from the expected one. A duplicate is
    * an extra copy of an expected sample (at-least-once replay waste); an
    * unexpected sample matches nothing that was sent.
    */
  final case class Diff(missing: Long, duplicates: Long, unexpected: Long)

  def diff(expected: Array[Long], observed: Array[Long]): Diff = {
    val e = expected.sorted; val o = observed.sorted
    var i = 0; var j = 0
    var missing = 0L; var dup = 0L; var unexpected = 0L
    while (i < e.length || j < o.length) {
      if (j == o.length || (i < e.length && e(i) < o(j))) { missing += 1; i += 1 }
      else if (i == e.length || o(j) < e(i)) {
        // an extra copy of the previous expected value is a duplicate
        if (i > 0 && e(i - 1) == o(j)) dup += 1 else unexpected += 1
        j += 1
      } else { i += 1; j += 1 }
    }
    Diff(missing, dup, unexpected)
  }

  /** Series (identified without the replica label) whose messages carry more
    * than one topic key: each one splits a series across partitions.
    */
  def replicaSplits(messages: Iterator[(String, Sample)], replica: String): Int = {
    val keyOf = new java.util.HashMap[java.lang.Long, String]()
    val split = new java.util.HashSet[java.lang.Long]()
    messages.foreach { case (key, s) =>
      val id = java.lang.Long.valueOf(fingerprint(
        Sample(s.tenant, s.labels.filter(_._1 != replica), 0.0, 0L)))
      val prior = keyOf.putIfAbsent(id, key)
      if (prior != null && prior != key) split.add(id)
    }
    split.size
  }

  /** Contract breaches of one downstream remote_write POST. */
  def postViolations(tenantHeader: String, series: Seq[Wire.Series], batchSize: Int): Seq[String] = {
    val out = Seq.newBuilder[String]
    if (tenantHeader == null || tenantHeader.isEmpty) out += "no X-Scope-OrgID"
    if (series.isEmpty) out += "empty POST"
    val n = series.map(_.points.length).sum
    if (n > batchSize) out += s"$n samples exceed batch size $batchSize"
    series.foreach { s =>
      val names = s.labels.map(_._1)
      if (!names.sameElements(names.sorted)) out += s"labels not sorted: ${names.mkString(",")}"
    }
    out.result()
  }

  /** The samples of a decoded POST, attributed to its tenant. */
  def samplesOf(tenant: String, series: Seq[Wire.Series]): Seq[Sample] =
    series.flatMap { s =>
      val labels = s.labels.sortBy(_._1)
      s.points.map { case (v, t) => Sample(tenant, labels, v, t) }
    }
}
