package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.Poll.await
import graft.functions.PromKernel
import graft.operators.PromPipeline
import graft.streaming._

/** Real-broker integration tests, gated exactly like the reference's
  * (integration/integration_test.go:52-58 `TEST_PULSAR_URL` +
  * `skipWithoutPulsar`): without the env var every test CANCELS cleanly;
  * with it, the reflection-bound pulsar-client paths — producer Factory
  * and driver KeyShared PulsarCursor — run against the real broker. A
  * build without a broker or the pulsar-client jar cannot execute it; any
  * environment with a broker can, making the real-Pulsar claim testable:
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
}
