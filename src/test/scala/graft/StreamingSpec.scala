package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.model.Model.Sample
import graft.streaming.{Metrics, RemoteWriteSink, TenantBatcher}
import graft.streaming.TenantBatcher.{Batch, Config}

/** Batcher scenarios ported from the reference's pkg/remote/write_test.go
  * (FIXTURES.md §5) + remote_write sink retry/ack semantics.
  */
class StreamingSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def sample(tenant: String, ts: Long = 0L, v: Double = 1.0): Sample =
    Sample(ts, v, Map("__name__" -> "foo"), tenant)

  private def collected(name: String): Seq[Batch] = {
    val s = spark
    import s.implicits._
    spark.table(name).as[Batch].collect().toSeq
  }

  /** Poll until `cond` holds (processing-time timeouts keep scheduling
    * micro-batches, so processAllAvailable-style barriers don't apply).
    */
  private def await(cond: => Boolean, timeoutMs: Long = 30000L): Unit = {
    val t0 = System.currentTimeMillis()
    while (!cond && System.currentTimeMillis() - t0 < timeoutMs) Thread.sleep(50)
    assert(cond, s"condition not met within ${timeoutMs}ms")
  }

  private def runScenario(name: String, cfg: Config)(
      steps: (MemoryStream[Sample], String) => Unit): Seq[Batch] = {
    implicit val sampleEnc: org.apache.spark.sql.Encoder[Sample] =
      org.apache.spark.sql.Encoders.product[Sample]
    val ms = MemoryStream[Sample](spark)
    val q = TenantBatcher(ms.toDS(), cfg)
      .writeStream.format("memory").queryName(name).outputMode("append")
      // reference checkInterval=100ms (write.go:69)
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("100 milliseconds"))
      .start()
    try steps(ms, name)
    finally q.stop()
    collected(name)
  }

  test("flush on size (write_test.go: 2 samples, BatchSize=2 -> 1 request)") {
    val got = runScenario("b_size", Config(batchSize = 2, batchMaxDelayMs = 3600000L)) { (ms, name) =>
      ms.addData(sample(""), sample(""))
      await(collected(name).size == 1)
    }
    assert(got.map(b => (b.tenantId, b.size, b.reason)) == Seq(("", 2, "size")))
    assert(got.head.entries.size == 2)
  }

  test("flush on size per tenant (3 tenants -> 3 requests)") {
    val got = runScenario("b_tenant", Config(batchSize = 2, batchMaxDelayMs = 3600000L)) { (ms, name) =>
      for (t <- Seq("", "team-a", "team-b")) ms.addData(sample(t), sample(t))
      await(collected(name).size == 3)
    }
    assert(got.map(b => (b.tenantId, b.size, b.reason)).sortBy(_._1)
      == Seq(("", 2, "size"), ("team-a", 2, "size"), ("team-b", 2, "size")))
  }

  test("flush on deadline (1 sample under BatchSize, tiny delay)") {
    val got = runScenario("b_deadline", Config(batchSize = 100, batchMaxDelayMs = 1L)) { (ms, name) =>
      ms.addData(sample("team-a"))
      await(collected(name).exists(_.tenantId == "team-a"))
    }
    val teamA = got.filter(_.tenantId == "team-a")
    assert(teamA.map(b => (b.size, b.reason)) == Seq((1, "deadline")))
  }

  test("oversized arrival splits into batchSize chunks") {
    val got = runScenario("b_split", Config(batchSize = 2, batchMaxDelayMs = 1L)) { (ms, name) =>
      ms.addData((1 to 5).map(i => sample("t", ts = i.toLong)): _*)
      await(collected(name).filter(_.tenantId == "t").map(_.size).sum == 5)
    }
    val t = got.filter(_.tenantId == "t")
    assert(t.map(_.size).sum == 5)
    assert(t.count(_.reason == "size") == 2)
    assert(t.count(_.reason == "deadline") == 1)
  }

  // --- sink semantics (write.go:194-236) -----------------------------------

  private class ScriptedClient(results: RemoteWriteSink.StoreResult*) extends RemoteWriteSink.Client {
    val calls = scala.collection.mutable.ArrayBuffer.empty[(String, Array[Byte])]
    private var i = -1
    override def store(t: String, b: Array[Byte]): RemoteWriteSink.StoreResult = {
      calls += ((t, b)); i += 1; results(math.min(i, results.size - 1))
    }
  }

  private def batch(tenant: String, ts: Long = 0L): Batch =
    Batch(tenant, Seq(RemoteWriteSink.entry(sample(tenant, ts))), "size")

  test("recoverable error replays the batch (throw, no ack)") {
    Metrics.reset()
    val c = new ScriptedClient(RemoteWriteSink.Recoverable("503"))
    val b = batch("t")
    val e = intercept[RuntimeException](RemoteWriteSink.deliver(c)(Iterator(b)))
    assert(e.getMessage.contains("retryable"))
    // retryable_failed_writes (metrics.go:42-48) counted before the throw
    assert(Metrics.get("retryable_failed_writes",
      "remote" -> "remote_write", "tenant" -> "t") == 1L)
    assert(Metrics.render().contains("retryable_failed_writes"))
    // replay (what Spark does after the failed micro-batch) succeeds
    val c2 = new ScriptedClient(RemoteWriteSink.Ok)
    assert(RemoteWriteSink.deliver(c2)(Iterator(b)) == ((1L, 0L)))
  }

  test("unrecoverable error drops the batch but keeps going (ack anyway)") {
    val c = new ScriptedClient(RemoteWriteSink.Fatal("400"), RemoteWriteSink.Ok)
    val b1 = batch("t")
    val b2 = batch("t", ts = 1)
    assert(RemoteWriteSink.deliver(c)(Iterator(b1, b2)) == ((1L, 1L)))
    assert(c.calls.size == 2)
  }

  test("a recoverable POST stops the partition: no later batch is sent before the replay") {
    Metrics.reset()
    val c = new ScriptedClient(RemoteWriteSink.Ok, RemoteWriteSink.Recoverable("503"),
      RemoteWriteSink.Ok)
    val e = intercept[RuntimeException](
      RemoteWriteSink.deliver(c)(Iterator(batch("t"), batch("t", ts = 1), batch("t", ts = 2))))
    assert(e.getMessage.contains("retryable"))
    // sent after the recoverable one, ts = 2 would land before the replay's
    // re-send of ts = 1, which the receiver rejects as out of order
    assert(c.calls.size == 2)
    assert(Metrics.get("retryable_failed_writes",
      "remote" -> "remote_write", "tenant" -> "t") == 1L)
  }

  test("HttpClient copies deserialized in tasks share one java.net.http client") {
    def roundTrip(c: RemoteWriteSink.HttpClient): RemoteWriteSink.HttpClient = {
      val bytes = new java.io.ByteArrayOutputStream()
      val out = new java.io.ObjectOutputStream(bytes)
      out.writeObject(c); out.close()
      new java.io.ObjectInputStream(new java.io.ByteArrayInputStream(bytes.toByteArray))
        .readObject().asInstanceOf[RemoteWriteSink.HttpClient]
    }
    val c = new RemoteWriteSink.HttpClient("http://localhost:9/api/v1/write", 1234L)
    val (a, b) = (roundTrip(c), roundTrip(c))
    assert(a ne b)
    assert(a.http eq b.http)
    assert(a.http eq c.http)
    assert(new RemoteWriteSink.HttpClient("http://localhost:9/x", 4321L).http ne a.http,
      "another timeout gets its own client")
  }

  test("receiver: max-connection-age stamps Connection: close (handlers.go:42-49)") {
    val r = graft.sources.HttpRemoteWriteSource.receiver(19460, "/write", validate = false,
      maxConnectionAgeMs = 50L)
    try {
      val http = java.net.http.HttpClient.newHttpClient() // keep-alive reuse
      def send(): java.net.http.HttpResponse[Void] =
        http.send(java.net.http.HttpRequest.newBuilder(
          java.net.URI.create("http://localhost:19460/write"))
          .POST(java.net.http.HttpRequest.BodyPublishers.ofByteArray("x".getBytes)).build(),
          java.net.http.HttpResponse.BodyHandlers.discarding())
      val first = send()
      assert(first.statusCode() == 200)
      assert(!first.headers().firstValue("connection").isPresent)
      Thread.sleep(120)
      val second = send()
      assert(second.headers().firstValue("connection").orElse("") == "close",
        second.headers().map().toString)
    } finally graft.sources.HttpRemoteWriteSource.shutdown(19460)
  }

  test("receiver: /debug/pprof JVM facade (server.go:84-92), disabled when asked") {
    def get(port: Int): java.net.http.HttpResponse[String] =
      java.net.http.HttpClient.newHttpClient().send(
        java.net.http.HttpRequest.newBuilder(
          java.net.URI.create(s"http://localhost:$port/debug/pprof/")).GET().build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())
    graft.sources.HttpRemoteWriteSource.receiver(19461, "/write", validate = false)
    try {
      val resp = get(19461)
      assert(resp.statusCode() == 200)
      assert(resp.body().contains("# heap used="), resp.body().take(200))
      assert(resp.body().contains("thread "), resp.body().take(200))
    } finally graft.sources.HttpRemoteWriteSource.shutdown(19461)
    graft.sources.HttpRemoteWriteSource.receiver(19462, "/write", validate = false, pprof = false)
    try assert(get(19462).statusCode() == 404)
    finally graft.sources.HttpRemoteWriteSource.shutdown(19462)
  }

  test("HTTP client: tenant header + UA propagated, status mapped to error class") {
    val received = new java.util.concurrent.ConcurrentLinkedQueue[(String, String, String)]()
    val codes = new java.util.concurrent.atomic.AtomicInteger(0)
    val statuses = Array(200, 500, 400)
    val server = com.sun.net.httpserver.HttpServer.create(new java.net.InetSocketAddress(0), 0)
    server.createContext("/write", { exchange =>
      received.add((
        exchange.getRequestHeaders.getFirst("X-Scope-OrgID"),
        exchange.getRequestHeaders.getFirst("User-Agent"),
        exchange.getRequestHeaders.getFirst("Content-Encoding")))
      exchange.sendResponseHeaders(statuses(codes.getAndIncrement() % 3), -1)
      exchange.close()
    })
    server.start()
    try {
      val url = s"http://localhost:${server.getAddress.getPort}/write"
      val client = new RemoteWriteSink.HttpClient(url)
      val body = RemoteWriteSink.encodeBody(Seq(sample("my-org-id")))
      assert(client.store("my-org-id", body) == RemoteWriteSink.Ok)
      assert(client.store("my-org-id", body).isInstanceOf[RemoteWriteSink.Recoverable])
      assert(client.store("my-org-id", body).isInstanceOf[RemoteWriteSink.Fatal])
      val (tenant, ua, enc) = received.poll()
      assert(tenant == "my-org-id")
      assert(ua == "prometheus-pulsar-remote-write-spark/0.1.0")
      assert(enc == "snappy")
      // body round-trips through the wire codec
      val decoded = graft.functions.PromKernel.decodeWriteRequest(
        graft.functions.PromKernel.snappyUncompress(body))
      assert(decoded.timeseries.size == 1 && decoded.timeseries.head.samples.size == 1)
    } finally server.stop(0)
  }
}
