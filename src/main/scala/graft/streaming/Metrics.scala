package graft.streaming

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder, LongAdder}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Observability side channel (operator #17, pkg/metrics/metrics.go:8-59).
  *
  * The reference's five instruments, re-expressed for Spark's execution model:
  * distributed counts flow through `Dataset.observe` (aggregated by Spark per
  * micro-batch, surfaced via StreamingQueryListener on the driver); sink-side
  * counters (sent/failed samples, retryable failures, POST durations) are
  * counted by the remote_write writer's tasks in the JVM that runs them,
  * one registry per process as in the reference. The registry renders
  * Prometheus text format for a /metrics endpoint.
  */
object Metrics {

  final class Histogram {
    val count = new LongAdder
    val sum = new DoubleAdder
    // prometheus default buckets (metrics.go uses DefBuckets)
    val bucketBounds: Array[Double] =
      Array(0.005, 0.01, 0.025, 0.05, 0.1, 0.25, 0.5, 1, 2.5, 5, 10)
    val buckets: Array[LongAdder] = Array.fill(bucketBounds.length)(new LongAdder)
    def observe(v: Double): Unit = {
      count.increment(); sum.add(v)
      var i = 0
      while (i < bucketBounds.length) { if (v <= bucketBounds(i)) buckets(i).increment(); i += 1 }
    }
  }

  private val counters = new ConcurrentHashMap[String, AtomicLong]()
  private val histograms = new ConcurrentHashMap[String, Histogram]()

  /** Label values escaped as the text format requires: `\`, `"`, newline. */
  private def key(name: String, labels: Seq[(String, String)]): String =
    if (labels.isEmpty) name
    else name + labels.map { case (k, v) =>
      val escaped = v.replace("\\", "\\\\").replace("\"", "\\\"").replace("\n", "\\n")
      s"""$k="$escaped""""
    }.mkString("{", ",", "}")

  def inc(name: String, labels: (String, String)*): Unit = add(name, 1L, labels: _*)

  def add(name: String, delta: Long, labels: (String, String)*): Unit =
    counters.computeIfAbsent(key(name, labels), _ => new AtomicLong()).addAndGet(delta)

  def observeDuration(name: String, seconds: Double, labels: (String, String)*): Unit =
    histograms.computeIfAbsent(key(name, labels), _ => new Histogram).observe(seconds)

  def get(name: String, labels: (String, String)*): Long = {
    val c = counters.get(key(name, labels))
    if (c == null) 0L else c.get()
  }

  def reset(): Unit = { counters.clear(); histograms.clear() }

  /** Prometheus text exposition of the registry: each family's samples
    * together, after the family's one `# TYPE` line.
    */
  def render(): String = {
    val sb = new StringBuilder
    def families[V](m: ConcurrentHashMap[String, V]): Seq[(String, Seq[(String, V)])] =
      m.asScala.toSeq.groupBy { case (k, _) => k.takeWhile(_ != '{') }
        .toSeq.sortBy(_._1).map { case (family, series) => family -> series.sortBy(_._1) }
    families(counters).foreach { case (family, series) =>
      sb.append(s"# TYPE $family counter\n")
      series.foreach { case (k, v) => sb.append(s"$k ${v.get()}\n") }
    }
    families(histograms).foreach { case (family, series) =>
      sb.append(s"# TYPE $family histogram\n")
      series.foreach { case (k, h) =>
        val labels = k.drop(family.length)
        val inner = if (labels.isEmpty) "" else labels.stripPrefix("{").stripSuffix("}") + ","
        var cum = 0L
        h.bucketBounds.zip(h.buckets).foreach { case (b, c) =>
          cum += c.sum()
          sb.append(s"""${family}_bucket{${inner}le="$b"} $cum""").append('\n')
        }
        sb.append(s"""${family}_bucket{${inner}le="+Inf"} ${h.count.sum()}""").append('\n')
        sb.append(s"${family}_sum$labels ${h.sum.sum()}\n")
        sb.append(s"${family}_count$labels ${h.count.sum()}\n")
      }
    }
    sb.toString
  }

  /** Attach a received-samples observation to a produce-path DataFrame
    * (metrics.go: received_samples_total). Distributed-safe: Spark computes
    * the count per micro-batch, the listener folds it into the registry.
    */
  def observeReceived(df: DataFrame, name: String = "received"): DataFrame =
    df.observe(name, count(lit(1)).as("received_samples"))

  /** Folds `observe` results from streaming progress into the registry. */
  final class Listener extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val obs = e.progress.observedMetrics
      obs.forEach { (_, row) =>
        val schema = row.schema
        var i = 0
        while (i < schema.length) {
          val f = schema(i)
          if (f.name == "received_samples" && !row.isNullAt(i))
            add("received_samples_total", row.getLong(i))
          i += 1
        }
      }
    }
  }
}
