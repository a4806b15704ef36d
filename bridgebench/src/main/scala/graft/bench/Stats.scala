package graft.bench

/** The benchmark's arithmetic, kept apart so its tests can pin it. */
object Stats {

  /** A percentile is reported only when at least this many samples lie
    * strictly beyond it; below that it is a guess about one or two outliers.
    */
  val MinBeyond = 10

  /** Nearest-rank `q`-quantile (0 < q < 1) of `xs`, or None when fewer than
    * [[MinBeyond]] samples lie beyond its rank.
    */
  def percentile(xs: Seq[Double], q: Double): Option[Double] = {
    require(q > 0 && q < 1, s"quantile $q outside (0, 1)")
    val n = xs.size
    val rank = math.ceil(q * n - 1e-9).toInt // 1-based
    if (n == 0 || n - rank < MinBeyond) None
    else Some(xs.sorted.apply(rank - 1))
  }

  /** Delay past the batching contract of one downstream POST, in ms.
    *
    * A batch that reached `batchSize` was owed as soon as its newest sample
    * was due, so its delay runs from there. A smaller batch left on the
    * deadline, which is owed `maxDelayMs` after its oldest sample was due.
    * Either way the window the contract grants is not counted.
    */
  def freshMs(arrivalMs: Double, dueMs: Seq[Double], batchSize: Int, maxDelayMs: Long): Double = {
    require(dueMs.nonEmpty, "a POST carries at least one sample")
    if (dueMs.size >= batchSize) arrivalMs - dueMs.max
    else arrivalMs - (dueMs.min + maxDelayMs)
  }

  /** Failed operations over attempted ones. An operation is one POST the
    * benchmark sent or one sample it expects at the far end.
    */
  def errorRatio(failed: Long, attempted: Long): Double = {
    require(attempted > 0, "nothing attempted")
    require(failed >= 0 && failed <= attempted, s"$failed failed of $attempted")
    failed.toDouble / attempted
  }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}
