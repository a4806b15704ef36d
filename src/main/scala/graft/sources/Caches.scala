package graft.sources

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session-scoped registry for EPHEMERAL persists — caches that exist only
  * so one query's plan can consume a subtree twice (the d101/d117/d122
  * shape), as opposed to the bounded cross-query memos (ivfAssigned,
  * dedupClusters, winnowFp), which own their lifecycle.
  *
  * A query closure persists through [[ephemeral]]; the harness (Bench,
  * Verify — or any composed pipeline) calls [[release]] once the returned
  * plan has been fully consumed. Without the release call behavior is
  * exactly the old persist-and-leave; with it, a long-lived session
  * accumulates no cached blocks (`CacheSpec` pins this).
  *
  * [[checkpointed]] is the same contract for the iterative loops'
  * per-round lineage truncation (d15/d130/d156): `localCheckpoint` blocks
  * are NOT drained by `DataFrame.unpersist` bookkeeping and are otherwise
  * only freed when the RDD is GC'd via ContextCleaner, so a long-lived
  * session would accumulate storage blocks round by round. Registering the
  * checkpointed RDD here lets [[release]] drop the blocks explicitly.
  * 100 TB caveat (documented where the loops make their scale claims):
  * localCheckpoint data is executor-local and unrecoverable on executor
  * loss — under dynamic allocation or preemption a cluster run should
  * flip these call sites to reliable `checkpoint()` on the cluster FS;
  * the loop discipline (truncate lineage every round) is identical.
  *
  * Sessions are weak keys: a stopped/collected session drops its list.
  *
  * The cross-query memos are [[Memo]]s, made by [[memo]].
  */
object Caches {

  /** A bounded cross-query memo: one value per key, built on first use and
    * shared by every later query that asks for it. The (session, dir) memos
    * that [[memo]] makes hold what several queries over one corpus read (the
    * IVF cell assignment, the dedup clusters, the winnowing sketch, the
    * trained BPE merges, the WordPiece lexicon). A dir's data is assumed
    * immutable within a session; [[invalidate]] drops an entry after a
    * rewrite.
    *
    * It cannot grow with JVM lifetime: on every access the entries whose key
    * is `stale` (a stopped session: its cached blocks died with the context)
    * are dropped, and past 8 entries the least recently used entry
    * is evicted and `release`d. The build runs under the memo's lock, so two
    * queries asking for one key build it once.
    */
  final class Memo[K, V](stale: K => Boolean, release: V => Unit) {
    private val maxEntries = 8
    private val m = new java.util.LinkedHashMap[K, V](16, 0.75f, true) // access order = LRU order

    def apply(key: K)(build: => V): V = m.synchronized {
      m.entrySet().removeIf(e => stale(e.getKey))
      Option(m.get(key)).getOrElse {
        val v = build
        m.put(key, v)
        if (m.size > maxEntries) {
          val it = m.entrySet().iterator()
          val oldest = it.next()
          it.remove()
          release(oldest.getValue)
        }
        v
      }
    }

    /** Drop and release the entry for `key`, if there is one. */
    def invalidate(key: K): Unit = m.synchronized {
      Option(m.remove(key)).foreach(release)
    }
  }

  /** A memo keyed by (session, dir). `release` frees an evicted or
    * invalidated value: [[unpersist]] for a persisted frame, nothing for a
    * driver-side value.
    */
  def memo[V](release: V => Unit = (_: V) => ()): Memo[(SparkSession, String), V] =
    new Memo[(SparkSession, String), V](_._1.sparkContext.isStopped, release)

  /** Unpersist without blocking; a failure (a stopped context) is ignored. */
  def unpersist(df: DataFrame): Unit =
    try { df.unpersist(blocking = false); () }
    catch { case _: Exception => () }

  private val reg =
    new java.util.WeakHashMap[SparkSession, java.util.ArrayList[DataFrame]]

  private val ckReg =
    new java.util.WeakHashMap[SparkSession, java.util.ArrayList[RDD[_]]]

  /** Persist `df` and register it for the session-wide [[release]]. */
  def ephemeral(df: DataFrame): DataFrame = {
    df.persist()
    reg.synchronized {
      reg.computeIfAbsent(df.sparkSession,
        _ => new java.util.ArrayList[DataFrame]).add(df)
    }
    df
  }

  /** Eagerly localCheckpoint `df` (truncating lineage — the iterative-loop
    * plan-depth discipline) and register the checkpoint's storage blocks
    * for the session-wide [[release]]. Must only be released after the
    * consuming query has fully materialized: a truncated-lineage RDD
    * cannot be recomputed once its blocks are dropped — the same
    * consume-then-release contract [[ephemeral]] already carries.
    */
  def checkpointed(df: DataFrame): DataFrame = {
    val (c, rdds) = checkpointWithRdds(df)
    ckReg.synchronized {
      val list = ckReg.computeIfAbsent(c.sparkSession,
        _ => new java.util.ArrayList[RDD[_]])
      rdds.foreach(list.add)
    }
    c
  }

  /** Eagerly localCheckpoint `df` and hand back the checkpoint's backing
    * RDDs WITHOUT registering them: callers that manage block lifetime
    * themselves (e.g. the BPE trainer's per-round supersede-and-drop loop)
    * unpersist these directly. Dataset.unpersist is a no-op for
    * localCheckpoint'ed frames — the RDD handle is the only lever that
    * actually drops the blocks.
    */
  def checkpointWithRdds(df: DataFrame): (DataFrame, Seq[RDD[_]]) = {
    val c = df.localCheckpoint()
    val rdds = c.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }
    (c, rdds)
  }

  /** Unpersist every ephemeral cache and drop every registered checkpoint
    * block for `spark` since the last release. Safe to call between
    * queries: cross-query memos are NOT registered here and keep their
    * caches.
    */
  def release(spark: SparkSession): Unit = {
    val drained = reg.synchronized {
      val l = reg.remove(spark)
      if (l == null) java.util.Collections.emptyList[DataFrame] else l
    }
    drained.forEach(unpersist(_))
    val ckDrained = ckReg.synchronized {
      val l = ckReg.remove(spark)
      if (l == null) java.util.Collections.emptyList[RDD[_]] else l
    }
    ckDrained.forEach { rdd =>
      try { rdd.unpersist(blocking = false); () }
      catch { case _: Exception => () }
    }
  }

  /** Registered-but-unreleased count for `spark` (test surface). */
  def ephemeralCount(spark: SparkSession): Int = reg.synchronized {
    val l = reg.get(spark)
    if (l == null) 0 else l.size
  }

  /** Registered-but-unreleased checkpoint RDD count (test surface). */
  def checkpointCount(spark: SparkSession): Int = ckReg.synchronized {
    val l = ckReg.get(spark)
    if (l == null) 0 else l.size
  }
}
