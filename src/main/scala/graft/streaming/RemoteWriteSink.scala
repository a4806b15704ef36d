package graft.streaming

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.ForeachWriter

import graft.functions.PromKernel
import graft.model.Model.Sample

/** remote_write egress (operator #16, remote/write.go:79-236): each batch is
  * already its prompb entries joined (one single-sample TimeSeries per
  * sample, labels sorted by name — write.go:251-284, encoded before the
  * batcher); snappy-compress, POST with tenant header; error classes drive
  * ack-vs-retry.
  */
object RemoteWriteSink {

  sealed trait StoreResult
  case object Ok extends StoreResult
  /** => keep batch, replay (write.go:198-206: retry + backpressure). */
  final case class Recoverable(msg: String) extends StoreResult
  /** => log, count failed, ack anyway (write.go:207-228: prevent redelivery loops). */
  final case class Fatal(msg: String) extends StoreResult

  /** Transport abstraction so the sink is testable without a network. */
  trait Client extends Serializable {
    def store(tenantId: String, body: Array[Byte]): StoreResult
    /** Value of the `remote` metrics label (metrics.go labels the sent/
      * failed/retry instruments {remote, tenant}). */
    def remoteName: String = "remote_write"
  }

  /** Production transport: POST to a remote_write endpoint with the tenant
    * header and UA the reference sends (write.go:83-94, version.go:7-16).
    * `timeoutMs` is the CLI's `--send-timeout` (consume.go:40-41), applied
    * to both connect and request.
    */
  final class HttpClient(endpoint: String, val timeoutMs: Long) extends Client {
    override def remoteName: String = endpoint
    // looked up, not held: the client is captured in the query's closures and
    // deserialized by every task, and a client of its own per copy would cost
    // each task a selector thread and a fresh connection
    private[graft] def http: java.net.http.HttpClient = HttpClient.shared(timeoutMs)

    override def store(tenantId: String, body: Array[Byte]): StoreResult = {
      try {
        val b = java.net.http.HttpRequest.newBuilder(java.net.URI.create(endpoint))
          .timeout(java.time.Duration.ofMillis(timeoutMs))
          .header("Content-Encoding", "snappy")
          .header("Content-Type", "application/x-protobuf")
          .header("X-Prometheus-Remote-Write-Version", "0.1.0")
          .header("User-Agent", "prometheus-pulsar-remote-write-spark/0.1.0")
        val req = (if (tenantId.nonEmpty) b.header("X-Scope-OrgID", tenantId) else b)
          .POST(java.net.http.HttpRequest.BodyPublishers.ofByteArray(body))
          .build()
        val resp = http.send(req, java.net.http.HttpResponse.BodyHandlers.ofString())
        val code = resp.statusCode()
        // 5xx/429 are retryable (prometheus remote client semantics); other
        // non-2xx are permanent
        if (code / 100 == 2) Ok
        else if (code == 429 || code / 100 == 5) Recoverable(s"HTTP $code")
        else Fatal(s"HTTP $code: ${resp.body().take(256)}")
      } catch {
        // network errors are retryable
        case e: Exception => Recoverable(e.toString)
      }
    }
  }

  object HttpClient {
    private val clients = new ConcurrentHashMap[java.lang.Long, java.net.http.HttpClient]()

    /** One java.net.http client per JVM and connect timeout. */
    private def shared(timeoutMs: Long): java.net.http.HttpClient =
      clients.computeIfAbsent(timeoutMs, _ => java.net.http.HttpClient.newBuilder()
        .connectTimeout(java.time.Duration.ofMillis(timeoutMs)).build())
  }

  /** One sample's remote_write entry, labels sorted by name: the Scala twin
    * of [[graft.operators.PromPipeline.remoteWriteEntries]] over the same
    * [[PromKernel.seriesEntry]].
    */
  def entry(s: Sample): Array[Byte] = {
    val names = s.labels.keys.toArray
    PromKernel.seriesEntry(names, names.map(s.labels), s.value, s.timestampMs)
  }

  /** The POST body (write.go:186-192): the entries joined, which is the
    * batch's WriteRequest, snappy-compressed.
    */
  def body(entries: Seq[Array[Byte]]): Array[Byte] = {
    val out = new Array[Byte](entries.iterator.map(_.length).sum)
    var pos = 0
    entries.foreach { e => System.arraycopy(e, 0, out, pos, e.length); pos += e.length }
    PromKernel.snappyCompress(out)
  }

  /** The POST body of `samples`, as the reference re-encodes a batch. */
  def encodeBody(samples: Seq[Sample]): Array[Byte] = body(samples.map(entry))

  /** Deliver tenant batches one POST at a time, so a tenant's batches land
    * in order. Recoverable errors throw — Spark fails the micro-batch
    * without committing offsets, and it replays: the reference's
    * stop-consumption backpressure (write.go:124-133). Fatal errors
    * ack-and-skip. Returns (sentSamples, failedSamples).
    */
  def deliver(client: Client)(batches: Iterator[TenantBatcher.Batch]): (Long, Long) = {
    var sent = 0L
    var failed = 0L
    batches.foreach { b =>
      val payload = PromKernel.snappyCompress(b.body)
      val t0 = System.nanoTime()
      val result = client.store(b.tenantId, payload)
      // sent_batch_duration_seconds (metrics.go, observed at write.go:186-192)
      Metrics.observeDuration("sent_batch_duration_seconds", (System.nanoTime() - t0) / 1e9,
        "remote" -> client.remoteName, "tenant" -> b.tenantId)
      result match {
        case Ok => sent += b.size
        case Recoverable(msg) =>
          // retryable_failed_writes (metrics.go:42-48): count the recoverable
          // failure BEFORE the replay-triggering throw (write.go:198-206).
          // The increment lands in the worker JVM's registry — one registry
          // per process, same as the reference; local mode folds into /metrics
          // directly, a cluster scrapes each executor's exposition.
          Metrics.inc("retryable_failed_writes",
            "remote" -> client.remoteName, "tenant" -> b.tenantId)
          throw new RuntimeException(s"retryable remote_write failure (replaying batch): $msg")
        case Fatal(msg) =>
          // log + count + ack anyway (write.go:222-228)
          System.err.println(s"[remote-write] dropping batch tenant=${b.tenantId} n=${b.size}: $msg")
          failed += b.size
      }
    }
    (sent, failed)
  }

  /** The consume query's sink, run by the micro-batch's own tasks (no
    * second execution, nothing collected to the driver): each task
    * [[deliver]]s its partition's batches serially, in order, like the
    * reference's one send loop, and counts sent_samples_total and
    * failed_samples_total in its JVM's registry, next to
    * retryable_failed_writes. A retryable failure throws from `process`,
    * which fails the micro-batch before its offsets commit.
    */
  def writer(client: Client): ForeachWriter[TenantBatcher.Batch] = new ForeachWriter[TenantBatcher.Batch] {
    override def open(partitionId: Long, epochId: Long): Boolean = true

    override def process(b: TenantBatcher.Batch): Unit = {
      val (sent, failed) = deliver(client)(Iterator.single(b))
      Metrics.add("sent_samples_total", sent)
      Metrics.add("failed_samples_total", failed)
    }

    override def close(errorOrNull: Throwable): Unit = ()
  }
}
