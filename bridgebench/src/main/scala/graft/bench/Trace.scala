package graft.bench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.streaming.StreamingQueryListener

/** In-memory spans, recorded from the benchmark's own code around its calls
  * into each layer. Times are `System.nanoTime` readings.
  */
object Trace {

  final case class Span(id: Long, parent: Long, traceId: String, layer: String,
      name: String, startNs: Long, endNs: Long)

  @volatile var enabled = false
  private val ids = new AtomicLong(0L)
  private val spans = new ConcurrentLinkedQueue[Span]()

  /** Offset that turns an epoch-millisecond reading into a nanoTime one. */
  val epochToNano: Long = System.nanoTime() - System.currentTimeMillis() * 1000000L

  def record(layer: String, name: String, traceId: String, startNs: Long, endNs: Long,
      parent: Long = 0L): Long = {
    val id = ids.incrementAndGet()
    if (enabled) spans.add(Span(id, parent, traceId, layer, name, startNs, endNs))
    id
  }

  def span[T](layer: String, name: String, traceId: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally record(layer, name, traceId, t0, System.nanoTime())
  }

  def all: Seq[Span] = spans.asScala.toSeq

  /** Self time per layer in ms: each span's duration less the part of its
    * interval that its children cover.
    */
  def selfTimeByLayer(ss: Seq[Span]): Seq[(String, Double, Int)] = {
    val children = ss.filter(_.parent != 0L).groupBy(_.parent)
    ss.groupBy(_.layer).toSeq.map { case (layer, xs) =>
      val self = xs.map { s =>
        val covered = children.getOrElse(s.id, Nil)
          .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
          .filter { case (a, b) => b > a }.sortBy(_._1)
          .foldLeft((0L, Long.MinValue)) { case ((sum, reach), (a, b)) =>
            val from = math.max(a, reach)
            (sum + math.max(0L, b - from), math.max(reach, b))
          }._1
        (s.endNs - s.startNs - covered) / 1e6
      }.sum
      (layer, self, xs.size)
    }.sortBy(-_._2)
  }
}

/** One finished trigger of an App query, as its progress event reports it. */
final case class TriggerProgress(query: String, batchId: Long, startEpochMs: Long,
    durationMs: Map[String, Long], rows: Long, stateCommitMs: Long, stateUpdateMs: Long,
    stateRows: Long, stateBytes: Long, seenNs: Long)

/** Reads trigger phases of the CLI's queries through Spark's public listener
  * API. It is registered by class name through
  * `spark.sql.streaming.streamingQueryListeners`, so the session App.main
  * builds picks it up with no change to the program.
  */
class PhaseListener extends StreamingQueryListener {
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val src = p.sources.headOption.map(_.description).getOrElse("")
    val query =
      if (src.contains("HttpRemoteWrite")) "produce"
      else if (src.contains("Broker")) "consume"
      else "other"
    val st = p.stateOperators.toSeq
    PhaseListener.events.add(TriggerProgress(query, p.batchId,
      java.time.Instant.parse(p.timestamp).toEpochMilli,
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
      p.numInputRows,
      st.map(_.commitTimeMs).sum, st.map(_.allUpdatesTimeMs).sum,
      st.map(_.numRowsTotal).sum, st.map(_.memoryUsedBytes).sum,
      System.nanoTime()))
  }
}

object PhaseListener {
  val events = new ConcurrentLinkedQueue[TriggerProgress]()
  def of(query: String): Seq[TriggerProgress] = events.asScala.filter(_.query == query).toSeq
  /** Input rows `query` has read in the triggers reported since `sinceNs`. */
  def rows(query: String, sinceNs: Long): Long =
    events.asScala.iterator.filter(t => t.query == query && t.seenNs >= sinceNs).map(_.rows).sum
}
