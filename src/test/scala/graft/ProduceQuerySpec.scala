package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.Poll.await
import graft.functions.PromKernel
import graft.functions.PromKernel._
import graft.operators.PromPipeline
import graft.sources.HttpRemoteWriteSource
import graft.streaming.{InMemoryBroker, KeyedSink}

/** The produce query as `App.produce` runs it ([[PromPipeline.produce]]):
  * receiver -> streaming query -> keyed topic.
  */
class ProduceQuerySpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def freePort(): Int = { val s = new java.net.ServerSocket(0); try s.getLocalPort finally s.close() }

  private def body(series: (Seq[(String, String)], Seq[(Double, Long)])*): Array[Byte] =
    snappyCompress(encodeWriteRequest(PbWriteRequest(series.map { case (labels, samples) =>
      PbTimeSeries(labels.map { case (k, v) => PbLabel(k, v) }, samples.map { case (v, t) => PbSample(v, t) })
    })))

  private def start(port: Int, topic: String) = {
    InMemoryBroker.clear(topic)
    PromPipeline.produce(spark.readStream.format("graft.sources.HttpRemoteWriteProvider")
        .option("web.listen-port", port.toString).load(), "json")
      .writeStream.foreach(KeyedSink.writer(new InMemoryBroker.Factory(topic)))
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("100 milliseconds"))
      .start()
  }

  test("a repeated label name is accepted, published last-wins, and the query keeps running") {
    val port = freePort()
    val topic = "dup-labels"
    val q = start(port, topic)
    val http = java.net.http.HttpClient.newHttpClient()
    def post(b: Array[Byte]): Int =
      http.send(java.net.http.HttpRequest.newBuilder(java.net.URI.create(s"http://127.0.0.1:$port/write"))
        .header("X-Scope-OrgID", "team-d")
        .POST(java.net.http.HttpRequest.BodyPublishers.ofByteArray(b)).build(),
        java.net.http.HttpResponse.BodyHandlers.discarding()).statusCode()
    val dup = Seq("__name__" -> "up", "job" -> "a", "job" -> "b")
    try {
      // retry only while the receiver is still coming up, so each request
      // is accepted exactly once
      val t0 = System.currentTimeMillis()
      var code = 0
      while (code != 200 && System.currentTimeMillis() - t0 < 15000L)
        code = try post(body((dup, Seq((1.0, 1000L))))) catch { case _: java.io.IOException => Thread.sleep(50); 0 }
      assert(code == 200)
      assert(post(body((Seq("__name__" -> "up", "job" -> "c"), Seq((2.0, 2000L))))) == 200)
      await(InMemoryBroker.topic(topic).size >= 2)
      val msgs = InMemoryBroker.drain(topic)
      assert(msgs.size == 2)
      assert(q.isActive && q.exception.isEmpty)
      val first = msgs.find(m => new String(m.payload, "UTF-8").contains("\"value\":[1,")).get
      assert(new String(first.payload, "UTF-8") ==
        """{"value":[1,"1"],"metric":{"__name__":"up","job":"b"},"tenant_id":"team-d"}""")
      // the key is the last-wins label map's series key
      val m = Map("__name__" -> "up", "job" -> "b")
      assert(first.key == PromKernel.seriesKey(m.keys.toArray, m.keys.toArray.map(m), "team-d",
        Array("__replica__")))
      assert(msgs.exists(m => new String(m.payload, "UTF-8").contains("\"job\":\"c\"")))
    } finally {
      q.stop()
      HttpRemoteWriteSource.shutdown(port)
    }
  }

  test("requests in one trigger that carry the same series publish in request order") {
    val port = freePort()
    val topic = "request-order"
    // buffer every request before the query starts, so its first trigger
    // takes them all
    val r = HttpRemoteWriteSource.receiver(port, "/write", validate = true)
    val series = Seq("__name__" -> "up", "instance" -> "i0")
    val requests = 20
    (0 until requests).foreach { i =>
      val other = Seq("__name__" -> "up", "instance" -> s"other-$i")
      r.accept(HttpRemoteWriteSource.Received(
        body((other, Seq((0.0, 1L))), (series, Seq((i.toDouble, 1000L * i + 1), (i + 0.5, 1000L * i + 2)))),
        null, "team-o", System.currentTimeMillis()))
    }
    val q = start(port, topic)
    try {
      await(InMemoryBroker.topic(topic).size >= 3 * requests)
      q.processAllAvailable()
      assert(q.recentProgress.map(_.numInputRows).filter(_ > 0).toSeq == Seq(requests.toLong),
        "all requests must land in one trigger")
      val msgs = InMemoryBroker.drain(topic)
      val key = PromKernel.seriesKey(series.map(_._1).toArray, series.map(_._2).toArray, "team-o",
        Array("__replica__"))
      val ts = msgs.filter(_.key == key).map(m => parsePromJson(new String(m.payload, "UTF-8")).timestampMs)
      assert(ts == (0 until requests).flatMap(i => Seq(1000L * i + 1, 1000L * i + 2)))
    } finally {
      q.stop()
      HttpRemoteWriteSource.shutdown(port)
    }
  }
}
