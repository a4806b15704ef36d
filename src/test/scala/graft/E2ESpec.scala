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

  private def post(url: String, body: Array[Byte], basicUser: Option[String] = None): Int = {
    val http = java.net.http.HttpClient.newHttpClient()
    val b = java.net.http.HttpRequest.newBuilder(java.net.URI.create(url))
      .POST(java.net.http.HttpRequest.BodyPublishers.ofByteArray(body))
    basicUser.foreach { u =>
      b.header("Authorization", "Basic " +
        java.util.Base64.getEncoder.encodeToString(s"$u:pass".getBytes))
    }
    http.send(b.build(), java.net.http.HttpResponse.BodyHandlers.discarding()).statusCode()
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
      .foreach(RemoteWriteSink.writer(client))
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

  test("--topic-dirs: every sample lands in each dir; a throwing destination commits nothing") {
    // produce.go:155-181's writer fan-out, served by the one produce query
    Metrics.reset()
    val listener = new Metrics.Listener
    spark.streams.addListener(listener)
    val tmp = java.nio.file.Files.createTempDirectory("graft-fanout")
    val Seq(a, b, wal, ckpt) = Seq("a", "b", "wal", "ckpt").map(d => tmp.resolve(d).toString)
    def freePort(): Int = { val ss = new java.net.ServerSocket(0); try ss.getLocalPort finally ss.close() }
    val port = freePort()
    val endpoint = com.sun.net.httpserver.HttpServer.create(new java.net.InetSocketAddress(0), 0)
    val delivered = new java.util.concurrent.atomic.AtomicInteger()
    endpoint.createContext("/api/v1/write", { ex =>
      ex.getRequestBody.readAllBytes(); delivered.incrementAndGet()
      ex.sendResponseHeaders(200, -1); ex.close()
    })
    endpoint.start()
    val before = spark.streams.active.map(_.id).toSet
    def run(cmd: (SparkSession, Flags) => Unit, args: String*): Thread = {
      val t = new Thread(() => cmd(spark, Flags.parse(args)))
      t.start(); t
    }
    val threads = Seq(
      run(App.produce, "--web.listen-port", port.toString, "--topic-dirs", s"$a,$b", "--wal-dir", wal),
      run(App.consume, "--topic", "fanout", "--topic-dir", a, "--batch-size", "1",
        "--remote-write.url", s"http://127.0.0.1:${endpoint.getAddress.getPort}/api/v1/write"))
    def messages(dir: String): Seq[(String, String)] =
      FileTopic.listNamesAfter(dir, "").map { n =>
        val (k, v) = FileTopic.read(dir, n); (k, new String(v, "UTF-8"))
      }.sorted
    try {
      val body = writeRequestBody(
        (Map("__name__" -> "up", "instance" -> "i0"), Seq((1.0, 10001L), (2.0, 10002L))),
        (Map("__name__" -> "up", "instance" -> "i1"), Seq((3.0, 10003L))))
      await({ try post(s"http://localhost:$port/write", body, basicUser = Some("team-mw")) == 200
        catch { case _: java.io.IOException => false } }, 30000L)
      await(messages(a).size == 3 && messages(b).size == 3)
      assert(messages(a) == messages(b))
      assert(messages(a).forall(_._2.contains("\"tenant_id\":\"team-mw\"")), messages(a))
      await(delivered.get() == 3 && Metrics.get("received_samples_total") >= 3L)
      // one produce and one consume trigger: each family renders in one label shape
      val lines = Metrics.render().split("\n").toSeq
      Seq("received_samples_total", "sent_samples_total", "failed_samples_total").foreach { f =>
        val shapes = lines.filter(l => l.startsWith(f + "{") || l.startsWith(f + " "))
          .map(l => "([a-zA-Z_]+)=\"".r.findAllMatchIn(l).map(_.group(1)).toList).distinct
        assert(shapes.size == 1, s"$f renders as $shapes")
      }
    } finally {
      spark.streams.active.filterNot(q => before(q.id)).foreach(_.stop())
      threads.foreach(_.join(30000L))
      spark.streams.removeListener(listener)
      endpoint.stop(0)
      graft.sources.HttpRemoteWriteSource.shutdown(port)
    }

    // a destination that throws fails the micro-batch: no offset commits,
    // and the receiver keeps the request for a restarted query to replay
    val port2 = freePort()
    val r = graft.sources.HttpRemoteWriteSource.receiver(port2, "/write", validate = true)
    r.accept(graft.sources.HttpRemoteWriteSource.Received(
      writeRequestBody((Map("__name__" -> "up"), Seq((4.0, 10004L)))), null, "team-mw", 0L))
    val q = PromPipeline.produce(spark.readStream.format("graft.sources.HttpRemoteWriteProvider")
        .option("web.listen-port", port2.toString).load(), "json")
      .writeStream.option("checkpointLocation", ckpt)
      .foreach(KeyedSink.writer(KeyedSink.fanOut(Seq(new FileTopic.Factory(a), new E2ESpec.Down))))
      .outputMode("append").start()
    try {
      intercept[org.apache.spark.sql.streaming.StreamingQueryException](q.awaitTermination(30000L))
      val commits = Option(new java.io.File(ckpt, "commits").list()).toSeq.flatten
      assert(commits.isEmpty, commits)
      assert(r.range(0L, r.latest).length == 1)
    } finally {
      q.stop()
      graft.sources.HttpRemoteWriteSource.shutdown(port2)
    }
  }

  test("App.consume checkpoints through LocalCheckpointFileManager on the session it is given") {
    // the CLI's checkpoint setting is made by the command, not only by
    // App.main's session builder, so a caller's own session gets it too
    val (key, _) = LocalCheckpointFileManager.Setting
    val prev = spark.conf.getOption(key)
    spark.conf.unset(key)
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt-manager").toString
    val before = spark.streams.active.map(_.id).toSet
    val t = new Thread(() => App.consume(spark, Flags.parse(Seq("--topic", "ckpt-manager",
      "--topic-dir", dir, "--remote-write.url", "http://127.0.0.1:9/api/v1/write"))))
    t.start()
    try {
      await(spark.streams.active.exists(q => !before(q.id)))
      val q = spark.streams.active.filterNot(q => before(q.id)).head
      val log = q.asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
        .streamingQuery.offsetLog
      // HDFSMetadataLog.fileManager is protected
      val manager = log.getClass.getMethod("fileManager").invoke(log)
      assert(manager.isInstanceOf[LocalCheckpointFileManager], manager.getClass.getName)
    } finally {
      spark.streams.active.filterNot(q => before(q.id)).foreach(_.stop())
      t.join(30000L)
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
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
        val entries = it.map(RemoteWriteSink.entry).toSeq
        TenantBatcher.Batch(t, Array.concat(entries: _*), entries.size, "size")
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

object E2ESpec {
  /** A destination whose every send throws. */
  final class Down extends KeyedSink.ProducerFactory {
    override def create(partitionId: Long): KeyedSink.Producer = new KeyedSink.Producer {
      override def sendAsync(key: String, payload: Array[Byte]): Unit =
        throw new java.io.IOException("destination down")
      override def flush(): Unit = ()
      override def close(): Unit = ()
    }
  }
}
