package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.Poll.await
import graft.functions.PromKernel
import graft.model.Model.Sample
import graft.operators.PromPipeline
import graft.streaming._

/** End-to-end topology test mirroring the reference's integration suite
  * (integration/produce_integration_test.go + consume_integration_test.go):
  *
  * produce: real remote_write POST -> HTTP receiver source -> decode ->
  *   explode -> tenant -> serialize+key -> keyed broker sink
  * consume: broker -> deserialize -> per-tenant batch -> re-encode ->
  *   remote_write POST to a fake endpoint (tenant header asserted)
  */
class E2ESpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def writeRequestBody(series: (Map[String, String], Seq[(Double, Long)])*): Array[Byte] = {
    val req = PromKernel.PbWriteRequest(series.map { case (labels, samples) =>
      PromKernel.PbTimeSeries(
        labels.toSeq.sortBy(_._1).map { case (k, v) => PromKernel.PbLabel(k, v) },
        samples.map { case (v, ts) => PromKernel.PbSample(v, ts) })
    })
    PromKernel.snappyCompress(PromKernel.encodeWriteRequest(req))
  }

  private def post(url: String, body: Array[Byte], basicUser: Option[String] = None): Int =
    postFull(url, body, basicUser)._1

  private def postFull(url: String, body: Array[Byte],
      basicUser: Option[String] = None): (Int, String) = {
    val http = java.net.http.HttpClient.newHttpClient()
    val b = java.net.http.HttpRequest.newBuilder(java.net.URI.create(url))
      .POST(java.net.http.HttpRequest.BodyPublishers.ofByteArray(body))
    basicUser.foreach { u =>
      b.header("Authorization", "Basic " +
        java.util.Base64.getEncoder.encodeToString(s"$u:pass".getBytes))
    }
    val resp = http.send(b.build(), java.net.http.HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), resp.body())
  }

  test("produce path: remote_write POST -> pipeline -> keyed broker messages") {
    Metrics.reset()
    spark.streams.addListener(new Metrics.Listener)
    val port = 19201
    InMemoryBroker.clear("t1")
    val src = spark.readStream.format("graft.sources.HttpRemoteWriteProvider")
      .option("web.listen-port", port.toString).load()

    val out = Metrics.observeReceived(PromPipeline.produce(src, "json"))

    val q = out.writeStream
      .foreach(KeyedSink.writer(new InMemoryBroker.Factory("t1")))
      .outputMode("append").start()
    try {
      // wait for the receiver to come up: failed posts repeat until the
      // bind succeeds, the accepted one is sent once
      await({ try post(s"http://localhost:$port/write",
        writeRequestBody((Map("__name__" -> "node_cpu_seconds_total",
          "instance" -> "instance0", "__replica__" -> "a"), Seq((0.5, 10001L)))),
        basicUser = Some("my-org-id")) == 200
      catch { case _: Exception => false } }, 15000L)
      // same series from the HA replica: same key expected
      post(s"http://localhost:$port/write",
        writeRequestBody((Map("__name__" -> "node_cpu_seconds_total",
          "instance" -> "instance0", "__replica__" -> "b"), Seq((0.7, 10002L)))),
        basicUser = Some("my-org-id"))
      // corrupt body rejected with 400, never reaches the topic
      assert(post(s"http://localhost:$port/write", "junk".getBytes) == 400)

      await(InMemoryBroker.topic("t1").size >= 2)
      Thread.sleep(500) // allow any in-flight micro-batch to land
      val msgs = InMemoryBroker.drain("t1")
      assert(msgs.size == 2, msgs.map(m => new String(m.payload, "UTF-8")))
      assert(msgs.map(_.key).distinct.size == 1, "replica labels must not split the key")
      val payloads = msgs.map(m => new String(m.payload, "UTF-8"))
      assert(payloads.forall(_.contains("\"tenant_id\":\"my-org-id\"")), payloads.head)
      assert(payloads.exists(_.contains("[10.001,\"0.5\"]")), payloads.head)
      assert(payloads.exists(_.contains("[10.002,\"0.7\"]")), "replica-b sample must arrive")
      assert(payloads.forall(!_.contains("junk")))
      await(Metrics.get("received_samples_total") >= 2L)
    } finally {
      q.stop()
      graft.sources.HttpRemoteWriteSource.shutdown(port)
    }
  }

  test("full streaming chain: POST -> produce query -> broker -> consume query -> remote_write") {
    val s = spark
    import s.implicits._
    val port = 19203
    val topic = "chain"
    InMemoryBroker.clear(topic)

    // fake downstream remote_write endpoint
    val received = new java.util.concurrent.ConcurrentLinkedQueue[(String, Array[Byte])]()
    val server = com.sun.net.httpserver.HttpServer.create(new java.net.InetSocketAddress(0), 0)
    server.createContext("/api/v1/write", { ex =>
      received.add((ex.getRequestHeaders.getFirst("X-Scope-OrgID"), ex.getRequestBody.readAllBytes()))
      ex.sendResponseHeaders(200, -1); ex.close()
    })
    server.start()

    // produce: HTTP receiver -> pipeline -> broker
    val src = spark.readStream.format("graft.sources.HttpRemoteWriteProvider")
      .option("web.listen-port", port.toString).load()
    val produceQ = PromPipeline.produce(src, "json")
      .writeStream.foreach(KeyedSink.writer(new InMemoryBroker.Factory(topic)))
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("100 milliseconds"))
      .start()

    // consume: broker source -> deserialize (poison-skip) -> batcher -> HTTP sink
    val client = new RemoteWriteSink.HttpClient(
      s"http://localhost:${server.getAddress.getPort}/api/v1/write", 30000L)
    val broker = spark.readStream.format("graft.sources.BrokerSourceProvider")
      .option("topic", topic).load()
    val samples = PromPipeline.deserialize(
        broker.withColumn("payload", col("payload").cast("string")), 0, col("payload"))
      .filter(col("sample").isNotNull).select("sample.*").as[Sample]
    val consumeQ = TenantBatcher(samples, TenantBatcher.Config(batchSize = 2, batchMaxDelayMs = 500L))
      .writeStream
      .foreachBatch { (ds: org.apache.spark.sql.Dataset[TenantBatcher.Batch], _: Long) =>
        ds.foreachPartition { it: Iterator[TenantBatcher.Batch] =>
          RemoteWriteSink.deliver(client)(it); ()
        }
      }
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("100 milliseconds"))
      .start()

    try {
      await({ try post(s"http://localhost:$port/write",
        writeRequestBody((Map("__name__" -> "up", "instance" -> "i0"), Seq((1.0, 10001L)))),
        basicUser = Some("team-x")) == 200
      catch { case _: Exception => false } }, 15000L)
      post(s"http://localhost:$port/write",
        writeRequestBody((Map("__name__" -> "up", "instance" -> "i1"), Seq((2.0, 10002L)))),
        basicUser = Some("team-x"))
      // poison message straight into the topic: must be skipped, not looped
      InMemoryBroker.topic(topic).add(InMemoryBroker.Message("k", "not json".getBytes))

      await(received.size >= 1, 30000L)
      val (tenant, body) = received.peek()
      assert(tenant == "team-x")
      val req = PromKernel.decodeWriteRequest(PromKernel.snappyUncompress(body))
      assert(req.timeseries.nonEmpty)
      assert(req.timeseries.forall(_.samples.size == 1))
      // all delivered series came from our posts, poison never surfaced
      val names = req.timeseries.flatMap(_.labels).filter(_.name == "__name__").map(_.value)
      assert(names.forall(_ == "up"))
    } finally {
      produceQ.stop(); consumeQ.stop(); server.stop(0)
      graft.sources.HttpRemoteWriteSource.shutdown(port)
    }
  }

  test("receiver cache: same port with different settings fails fast, never a silent mismatch") {
    // ephemeral allocation instead of a fixed port: the JDK http server
    // binds without SO_REUSEADDR, so a TIME_WAIT remnant of a fixed port
    // (observed flake) would fail the bind before the test begins
    val port = {
      val ss = new java.net.ServerSocket(0)
      try ss.getLocalPort finally ss.close()
    }
    val r = graft.sources.HttpRemoteWriteSource.receiver(port, "/write", validate = true)
    try {
      // identical settings: same receiver handed back
      assert(graft.sources.HttpRemoteWriteSource
        .receiver(port, "/write", validate = true) eq r)
      // changed path (or host/telemetry/validation): must not silently
      // reuse the old binding
      val e = intercept[IllegalStateException] {
        graft.sources.HttpRemoteWriteSource.receiver(port, "/other-path", validate = true)
      }
      assert(e.getMessage.contains("different settings"), e.getMessage)
    } finally graft.sources.HttpRemoteWriteSource.shutdown(port)
    // after shutdown the port rebinds with the new settings
    val r2 = graft.sources.HttpRemoteWriteSource.receiver(port, "/other-path", validate = false)
    try assert(r2 ne r)
    finally graft.sources.HttpRemoteWriteSource.shutdown(port)
  }

  test("multi-writer fan-out: failing writer -> 500 naming it, healthy writer still written") {
    // produce.go:155-181: concurrent fan-out, per-writer error aggregation,
    // 500 listing failed writer names; partial success still writes the
    // healthy destinations
    Metrics.reset()
    val port = 19207
    InMemoryBroker.clear("mw-ok")
    val r = graft.sources.HttpRemoteWriteSource.receiver(port, "/write", validate = true)
    val failing = new Writers.RequestWriter {
      override def name: String = "pulsar-b"
      override def write(t: String, s: Seq[Writers.WireSample]): Unit =
        throw new RuntimeException("broker down")
    }
    r.setWriters(Seq(
      new Writers.TopicWriter("pulsar-a", new InMemoryBroker.Factory("mw-ok")), failing), 30000L)
    try {
      val body = writeRequestBody(
        (Map("__name__" -> "up", "instance" -> "i0"), Seq((1.0, 10001L))))
      val (code, respBody) = postFull(s"http://localhost:$port/write", body,
        basicUser = Some("team-mw"))
      assert(code == 500)
      assert(respBody.contains("Error sending samples to remote storages: pulsar-b"), respBody)
      // the healthy writer still took the request's samples
      val msgs = InMemoryBroker.drain("mw-ok")
      assert(msgs.size == 1)
      assert(new String(msgs.head.payload, "UTF-8").contains("\"tenant_id\":\"team-mw\""))
      assert(Metrics.get("sent_samples_total", "remote" -> "pulsar-a", "tenant" -> "team-mw") == 1L)
      assert(Metrics.get("failed_samples_total", "remote" -> "pulsar-b", "tenant" -> "team-mw") == 1L)
      assert(Metrics.get("received_samples_total", "tenant" -> "team-mw") == 1L)
      // corrupt body still 400s in sync mode
      assert(post(s"http://localhost:$port/write", "junk".getBytes) == 400)
      // all writers healthy -> 200
      r.setWriters(Seq(
        new Writers.TopicWriter("pulsar-a", new InMemoryBroker.Factory("mw-ok"))), 30000L)
      assert(post(s"http://localhost:$port/write", body) == 200)
      assert(InMemoryBroker.drain("mw-ok").size == 1)
    } finally {
      graft.sources.HttpRemoteWriteSource.shutdown(port)
    }
  }

  test("fan-out waits one shared deadline, not one timeout per stuck writer") {
    // Writers.scala fanOut: N stuck writers must cost the caller at most ONE
    // timeout (shared deadline), not N sequential join timeouts
    def slow(n: String) = new Writers.RequestWriter {
      override def name: String = n
      override def write(t: String, s: Seq[Writers.WireSample]): Unit =
        Thread.sleep(5000L)
    }
    val t0 = System.nanoTime()
    val failed = Writers.fanOut(Seq(slow("w1"), slow("w2"), slow("w3")), "t",
      Seq(Writers.WireSample(Map("__name__" -> "up"), 1.0, 1L)), timeoutMs = 400L)
    val elapsedMs = (System.nanoTime() - t0) / 1000000L
    assert(failed == Seq("w1", "w2", "w3"), failed)
    assert(elapsedMs < 1200L, s"three stuck writers must share one 400ms deadline, took ${elapsedMs}ms")
  }

  test("two subscriptions on one file topic each see every message once") {
    // consume.go:42-43: consumers SHARING a subscription split the stream;
    // a DIFFERENT subscription name is an independent cursor over the same
    // durable topic — both must observe the full message sequence
    val dir = java.nio.file.Files.createTempDirectory("graft-sub-topic").toString
    val producer = new FileTopic.Factory(dir).create(0L)
    Seq("s1", "s2", "s3").foreach(m => producer.sendAsync("k", m.getBytes("UTF-8")))
    def runOnce(sub: String): Seq[String] = {
      val got = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val q = spark.readStream.format("graft.sources.BrokerSourceProvider")
        .option("topic", "subtest").option("topic-dir", dir).option("pulsar.subscription", sub).load()
        .writeStream
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          df.collect().foreach(r => got.add(new String(r.getAs[Array[Byte]]("payload"), "UTF-8")))
        }
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      got.toArray.map(_.toString).toSeq
    }
    assert(runOnce("sub-a") == Seq("s1", "s2", "s3"))
    assert(runOnce("sub-b") == Seq("s1", "s2", "s3"),
      "an independent subscription replays the durable topic in full")
    // (no-redelivery within ONE subscription is the checkpoint's contract —
    // pinned by the "consume restarts from checkpoint" test below)
  }

  test("consume restarts from checkpoint without re-delivery (file topic)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt-topic").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val received = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    def startQuery() = spark.readStream.format("graft.sources.BrokerSourceProvider")
      .option("topic", "ckpt").option("topic-dir", dir).load()
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        df.collect().foreach(r => received.add(new String(r.getAs[Array[Byte]]("payload"), "UTF-8")))
      }
      .outputMode("append").start()
    val producer = new FileTopic.Factory(dir).create(0L)
    Seq("m1", "m2", "m3").foreach(m => producer.sendAsync("k", m.getBytes("UTF-8")))
    val q1 = startQuery()
    try { q1.processAllAvailable() } finally q1.stop()
    assert(received.toArray.toSeq == Seq("m1", "m2", "m3"), received)
    // "process restart": in-JVM cursor state gone, files + checkpoint remain
    graft.sources.BrokerSource.resetCursors()
    Seq("m4", "m5").foreach(m => producer.sendAsync("k", m.getBytes("UTF-8")))
    val q2 = startQuery()
    try { q2.processAllAvailable() } finally q2.stop()
    assert(received.toArray.toSeq == Seq("m1", "m2", "m3", "m4", "m5"),
      s"no re-delivery, no loss: $received")
  }

  test("consume path: broker messages -> batch -> remote_write POST with tenant header") {
    val s = spark
    import s.implicits._
    // broker contents (as the produce side would have written them)
    val payloads = Seq(
      PromKernel.promJson(10001L, 0.5, Array("__name__", "instance"), Array("up", "i0"), "team-a"),
      PromKernel.promJson(10002L, 0.6, Array("__name__", "instance"), Array("up", "i1"), "team-a"),
      PromKernel.promJson(10003L, 0.7, Array("__name__", "instance"), Array("up", "i2"), "team-b"),
      "POISON — not json")

    val received = new java.util.concurrent.ConcurrentLinkedQueue[(String, Array[Byte])]()
    val server = com.sun.net.httpserver.HttpServer.create(new java.net.InetSocketAddress(0), 0)
    server.createContext("/api/v1/write", { ex =>
      received.add((ex.getRequestHeaders.getFirst("X-Scope-OrgID"), ex.getRequestBody.readAllBytes()))
      ex.sendResponseHeaders(200, -1); ex.close()
    })
    server.start()
    try {
      val df = payloads.toDF("payload")
      val parsed = PromPipeline.deserialize(df, 0, col("payload"))
      // poison-skip: null decodes are dropped but still acked (offset advances)
      val samples = parsed.filter(col("sample").isNotNull).select("sample.*").as[Sample]
      val batches = samples.groupByKey(_.tenantId).mapGroups { (t, it) =>
        TenantBatcher.Batch(t, it.map(RemoteWriteSink.entry).toSeq, "size")
      }
      val client = new RemoteWriteSink.HttpClient(
        s"http://localhost:${server.getAddress.getPort}/api/v1/write", 30000L)
      val (sent, failed) = batches.collect().toIterator
        .foldLeft((0L, 0L)) { case ((s0, f0), b) =>
          val (s1, f1) = RemoteWriteSink.deliver(client)(Iterator(b)); (s0 + s1, f0 + f1)
        }
      assert(sent == 3L && failed == 0L)
      await(received.size == 2)
      val byTenant = received.toArray.map(_.asInstanceOf[(String, Array[Byte])]).toMap
      assert(byTenant.keySet == Set("team-a", "team-b"))
      // body decodes back to single-sample sorted-label series
      val req = PromKernel.decodeWriteRequest(PromKernel.snappyUncompress(byTenant("team-a")))
      assert(req.timeseries.size == 2)
      assert(req.timeseries.forall(_.samples.size == 1), "one single-sample series per sample")
      assert(req.timeseries.forall(ts => ts.labels.map(_.name) == ts.labels.map(_.name).sorted))
    } finally server.stop(0)
  }
}
