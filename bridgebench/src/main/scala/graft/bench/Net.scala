package graft.bench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

/** remote_write client with Prometheus' retry rules: 429 and 5xx (and a
  * broken connection) are retried with bounded exponential backoff; any
  * other 4xx fails at once. A request still unaccepted at `deadlineNs` fails.
  */
final class RemoteWriteClient(url: String) {
  private val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1)
    .connectTimeout(java.time.Duration.ofSeconds(10)).build()
  val retries = new LongAdder
  val bodyBytes = new LongAdder
  val busyNs = new LongAdder

  private def once(tenant: String, body: Array[Byte]): Int = {
    val req = HttpRequest.newBuilder(URI.create(url))
      .timeout(java.time.Duration.ofSeconds(30))
      .header("Content-Encoding", "snappy")
      .header("Content-Type", "application/x-protobuf")
      .header("X-Prometheus-Remote-Write-Version", "0.1.0")
      .header("X-Scope-OrgID", tenant)
      .POST(HttpRequest.BodyPublishers.ofByteArray(body)).build()
    val t0 = System.nanoTime()
    try http.send(req, HttpResponse.BodyHandlers.discarding()).statusCode()
    catch { case _: java.io.IOException => -1 }
    finally busyNs.add(System.nanoTime() - t0)
  }

  /** Sends until accepted; true on a 2xx. */
  def post(tenant: String, body: Array[Byte], deadlineNs: Long): Boolean = {
    var backoffMs = 30L
    while (true) {
      val code = once(tenant, body)
      bodyBytes.add(body.length.toLong)
      if (code / 100 == 2) return true
      val retryable = code == -1 || code == 429 || code / 100 == 5
      if (!retryable || System.nanoTime() + backoffMs * 1000000L > deadlineNs) return false
      retries.increment()
      Thread.sleep(backoffMs)
      backoffMs = math.min(backoffMs * 2, 1000L)
    }
    false
  }

  /** Readiness: the status of one attempt, -1 while nothing listens. */
  def tryOnce(tenant: String, body: Array[Byte]): Int = once(tenant, body)
}

/** The downstream remote_write endpoint the consume query POSTs to. It
  * answers 200 at once, then counts the POST's samples and spools the body;
  * the checks read the spool after the timed region.
  */
final class Endpoint {
  import Endpoint.Delivery

  val busyNs = new LongAdder
  val lastArrivalNs = new AtomicLong(0L)
  val samples = new AtomicLong(0L)
  private val posts = new AtomicLong(0L)
  private val spool = new Spool("endpoint")
  private val server = com.sun.net.httpserver.HttpServer.create(
    new java.net.InetSocketAddress("127.0.0.1", 0), 0)
  server.createContext("/api/v1/write", ex => {
    val t0 = System.nanoTime()
    val body = ex.getRequestBody.readAllBytes()
    val arrival = System.nanoTime()
    val tenant = ex.getRequestHeaders.getFirst("X-Scope-OrgID")
    ex.sendResponseHeaders(200, -1)
    ex.close()
    val t1 = System.nanoTime()
    busyNs.add(t1 - t0)
    Trace.record("streaming.sink", "endpoint.delivery", s"post-${posts.incrementAndGet()}", t0, t1)
    // counted after the response, so the sink does not wait for it
    val n = Wire.decodeWriteRequest(Wire.unsnappy(body)).map(_.points.length.toLong).sum
    spool.write(arrival, if (tenant == null) "" else tenant, body)
    lastArrivalNs.accumulateAndGet(arrival, math.max)
    samples.addAndGet(n)
  })
  server.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(4))
  server.start()

  def url: String = s"http://127.0.0.1:${server.getAddress.getPort}/api/v1/write"

  /** Every POST received, decoded. Call it once the queries have stopped. */
  lazy val all: Seq[Delivery] = spool.read().map { r =>
    Delivery(r.ns, r.key, r.bytes, Wire.decodeWriteRequest(Wire.unsnappy(r.bytes)))
  }.toVector
}

object Endpoint {
  final case class Delivery(arrivalNs: Long, tenant: String, body: Array[Byte],
      series: Vector[Wire.Series])
}
