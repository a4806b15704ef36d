package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.Poll.await
import graft.functions.PromKernel
import graft.operators.PromPipeline
import graft.streaming._

/** Real-broker integration tests, gated exactly like the reference's
  * (integration/integration_test.go:52-58 `TEST_PULSAR_URL` +
  * `skipWithoutPulsar`): without the env var every test CANCELS cleanly;
  * with it, the reflection-bound pulsar-client paths — producer Factory,
  * driver KeyShared PulsarCursor, and the executor-pull consume chain —
  * run against the real broker. This is the spec the sandbox cannot
  * execute (no broker, no pulsar-client jar) but any environment with a
  * broker can, making the real-Pulsar claim testable the day one exists:
  *
  *   TEST_PULSAR_URL=pulsar://localhost:6650 sbt "testOnly graft.PulsarIntegrationSpec"
  *
  * (the pulsar-client jar must be on the test classpath; the reflection
  * binding fails fast with a clear message otherwise.)
  */
class PulsarIntegrationSpec extends AnyFunSuite {

  private val pulsarUrl = sys.env.getOrElse("TEST_PULSAR_URL", "")

  /** Mirrors the reference's skipWithoutPulsar (integration_test.go:54-58). */
  private def skipWithoutPulsar(): Unit =
    assume(pulsarUrl.nonEmpty,
      "integration test skipped: no pulsar URL in TEST_PULSAR_URL")

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** Random per-run topic like the reference's metrics-test-<rand>. */
  private def randTopic(): String =
    "metrics-test-" + java.lang.Long.toHexString(System.nanoTime())

  private def writeRequestBody(
      series: (Map[String, String], Seq[(Double, Long)])*): Array[Byte] = {
    val req = PromKernel.PbWriteRequest(series.map { case (labels, samples) =>
      PromKernel.PbTimeSeries(
        labels.toSeq.sortBy(_._1).map { case (k, v) => PromKernel.PbLabel(k, v) },
        samples.map { case (v, ts) => PromKernel.PbSample(v, ts) })
    })
    PromKernel.snappyCompress(PromKernel.encodeWriteRequest(req))
  }

  private def post(url: String, body: Array[Byte], basicUser: Option[String]): Int = {
    val http = java.net.http.HttpClient.newHttpClient()
    val b = java.net.http.HttpRequest.newBuilder(java.net.URI.create(url))
      .POST(java.net.http.HttpRequest.BodyPublishers.ofByteArray(body))
    basicUser.foreach { u =>
      b.header("Authorization", "Basic " +
        java.util.Base64.getEncoder.encodeToString(s"$u:pass".getBytes))
    }
    http.send(b.build(),
      java.net.http.HttpResponse.BodyHandlers.discarding()).statusCode()
  }

  test("real broker: produce path publishes keyed messages (TEST_PULSAR_URL)") {
    skipWithoutPulsar()
    val topic = randTopic()
    val cfg = PulsarSink.Config.from(Flags("pulsar.url" -> pulsarUrl, "topic" -> topic))
    // subscribe BEFORE producing (the reference's consumer-first ordering):
    // without a subscription the broker retains nothing to verify against
    val cursor = new graft.sources.BrokerSource.PulsarCursor(cfg, s"it-$topic")
    cursor.poll()

    val port = 19231
    val src = spark.readStream.format("graft.sources.HttpRemoteWriteProvider")
      .option("web.listen-port", port.toString).load()
    val out = PromPipeline.produce(src, "json")
    val q = out.writeStream
      .foreach(KeyedSink.writer(new PulsarSink.Factory(cfg)))
      .outputMode("append").start()
    try {
      await({ try post(s"http://localhost:$port/write",
        writeRequestBody((Map("__name__" -> "node_cpu_seconds_total",
          "instance" -> "instance0", "__replica__" -> "a"), Seq((0.5, 10001L)))),
        Some("my-org-id")) == 200
      catch { case _: Exception => false } }, 20000L)
      post(s"http://localhost:$port/write",
        writeRequestBody((Map("__name__" -> "node_cpu_seconds_total",
          "instance" -> "instance0", "__replica__" -> "b"), Seq((0.7, 10002L)))),
        Some("my-org-id"))

      await({ cursor.poll() >= 2L }, 60000L)
      val msgs = cursor.range(0L, cursor.poll())
      assert(msgs.length >= 2)
      assert(msgs.map(_.key).distinct.length == 1,
        "replica labels must not split the partition key")
      val payloads = msgs.map(m => new String(m.payload, "UTF-8"))
      assert(payloads.forall(_.contains("\"tenant_id\":\"my-org-id\"")))
      assert(payloads.exists(_.contains("[10.001,\"0.5\"]")))
      assert(payloads.exists(_.contains("[10.002,\"0.7\"]")))
      // exercise the individual-ack path (KeyShared forbids cumulative)
      cursor.commit(msgs.length.toLong)
    } finally {
      q.stop()
      graft.sources.HttpRemoteWriteSource.shutdown(port)
    }
  }

  test("real broker: executor-pull consume chain delivers tenant batches (TEST_PULSAR_URL)") {
    skipWithoutPulsar()
    val s = spark
    import s.implicits._
    val topic = randTopic()
    val cfg = PulsarSink.Config.from(Flags("pulsar.url" -> pulsarUrl, "topic" -> topic))

    val received = new java.util.concurrent.ConcurrentLinkedQueue[(String, Array[Byte])]()
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress(0), 0)
    server.createContext("/api/v1/write", { ex =>
      received.add((ex.getRequestHeaders.getFirst("X-Scope-OrgID"),
        ex.getRequestBody.readAllBytes()))
      ex.sendResponseHeaders(200, -1); ex.close()
    })
    server.start()

    // the executor-pull real-broker source (App consume's --pulsar.url +
    // --pulsar.executor-consumers=true surface)
    val broker = spark.readStream.format("graft.sources.BrokerSourceProvider")
      .option("topic", topic).option("pulsar.subscription", s"it-$topic")
      .option("readers", "2")
      .option("pulsar.url", pulsarUrl)
      .option("pulsar.executor-consumers", "true")
      .load()
    val samples = PromPipeline.deserialize(
        broker.withColumn("payload", col("payload").cast("string")), 0, col("payload"))
      .filter(col("sample").isNotNull).select("sample.*")
      .as[graft.model.Model.Sample]
    val client = new RemoteWriteSink.HttpClient(
      s"http://localhost:${server.getAddress.getPort}/api/v1/write", 30000L)
    val q = TenantBatcher(samples, TenantBatcher.Config(2, 500L))
      .writeStream
      .foreachBatch { (ds: org.apache.spark.sql.Dataset[TenantBatcher.Batch], _: Long) =>
        ds.mapPartitions { it =>
          Iterator.single(RemoteWriteSink.deliver(client)(it))
        }(org.apache.spark.sql.Encoders.product[(Long, Long)]).collect()
        ()
      }.start()
    try {
      // produce directly through the reflection-bound Factory (the
      // reference's pulsarClient.CreateProducer + produceBatch)
      val producer = new PulsarSink.Factory(cfg).create(0L)
      try {
        Seq(
          ("k0", PromKernel.promJson(10001L, 0.5, Array("__name__", "instance"), Array("up", "i0"), "team-a")),
          ("k1", PromKernel.promJson(10002L, 0.6, Array("__name__", "instance"), Array("up", "i1"), "team-a")),
          ("k2", PromKernel.promJson(10003L, 0.7, Array("__name__", "instance"), Array("up", "i2"), "team-b"))
        ).foreach { case (k, p) => producer.sendAsync(k, p.getBytes("UTF-8")) }
        producer.flush()
      } finally producer.close()

      await(received.asScala.map(_._1).toSet == Set("team-a", "team-b"), 90000L)
      val reqs = received.asScala.toSeq.map { case (tenant, body) =>
        tenant -> PromKernel.decodeWriteRequest(PromKernel.snappyUncompress(body))
      }
      assert(reqs.flatMap(_._2.timeseries).forall(_.samples.size == 1),
        "one single-sample series per sample")
      assert(reqs.flatMap(_._2.timeseries).map(_.samples.head.value).toSet
        .subsetOf(Set(0.5, 0.6, 0.7)))
    } finally {
      q.stop()
      server.stop(0)
    }
  }

  private implicit class QueueOps[A](q: java.util.concurrent.ConcurrentLinkedQueue[A]) {
    def asScala: Iterable[A] =
      scala.jdk.CollectionConverters.CollectionHasAsScala(q).asScala
  }
}
