package graft

import org.apache.spark.sql.{Encoders, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.model.Model.Sample
import graft.operators.PromPipeline
import graft.streaming.TenantBatcher

/** Microbenchmarks mirroring the REFERENCE's bench harnesses, whose results
  * the reference never recorded (BASELINE.md "none published"):
  *
  *   - serializer marshal throughput — 1 sample / 2 labels, repeated
  *     marshal (`pkg/pulsar/serializers_test.go:102-108,186-192,238-244`) —
  *     here the three Catalyst serializer kernels over a generated column
  *     (non-literal timestamp so constant folding cannot elide the work);
  *   - consume batcher throughput — tenants x N samples through the
  *     stateful batcher into a no-op sink
  *     (`pkg/remote/write_test.go:375-419`: 1/50/500 tenants x BatchSize
  *     100; 100 tenants x BatchSize 1000) — here TenantBatcher
  *     (flatMapGroupsWithState) fed one micro-batch via MemoryStream,
  *     timed from data availability to processAllAvailable.
  *
  * No Go toolchain exists in this environment, so the reference side stays
  * unmeasured; these numbers (tools/microbench.md) record the Spark side of
  * the comparison on the same harness shapes. Run:
  *   sbt -batch "runMain graft.MicroBench"
  */
object MicroBench {

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // run a single section:
    // SPARK_GRAFT_MB_ONLY=serialize|batcher|bridge|wal|recovery|consume
    val only = sys.env.get("SPARK_GRAFT_MB_ONLY")
    def section(name: String)(body: => Unit): Unit =
      if (only.forall(_ == name)) body

    // ---- serializer marshal (1 sample, 2 labels — the Go bench fixture) ----
    val rows = sys.env.getOrElse("SPARK_GRAFT_SER_ROWS", "2000000").toLong
    def serDf = spark.range(rows).select(
      col("id").as("timestampMs"), // varies per row: keeps codegen honest
      lit(456.0).as("value"),
      map(lit("__name__"), lit("foo"), lit("labelfoo"), lit("label-bar"))
        .as("labels"),
      lit("").as("tenantId"))
    section("serialize") { for (fmt <- Seq("json", "json-compat", "avro-json-compat")) {
      val times = (1 to 4).map { _ => // rep 1 doubles as warmup; min of the rest
        val t0 = System.nanoTime()
        PromPipeline.serialize(serDf, fmt).select(col("payload"), col("key"))
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }.drop(1)
      val rps = rows / times.min
      println(s"""{"bench":"serialize","format":"$fmt","rows":$rows,"sec":${times.min},"rows_per_sec":${rps.toLong}}""")
    } }

    // ---- batcher throughput (write_test.go:375-419 shapes) ----
    // fed in 20k-sample chunks with at most ONE unprocessed chunk
    // outstanding: MemoryStream's next trigger swallows ALL pending
    // blocks, so unpaced feeding re-creates the monolithic state commit
    // the chunking is meant to avoid, while a full barrier per chunk
    // measures trigger LATENCY, not pipelined throughput — one chunk in
    // flight bounds every trigger at <= 40k rows and keeps the engine
    // continuously fed (the Go bench's channel push). Completion is
    // observed by polling the memory sink's row count —
    // processAllAvailable does not barrier reliably under
    // ProcessingTimeTimeout (see StreamingSpec's await note). Every flush
    // is size-triggered (perTenant is an exact multiple of batchSize).
    implicit val sampleEnc: org.apache.spark.sql.Encoder[Sample] =
      Encoders.product[Sample]
    // processed-row accounting via a listener, NOT q.recentProgress: the
    // progress ring buffer caps at numRecentProgressUpdates (default 100)
    // entries, so at larger grids early entries evict, the backlog
    // estimate overcounts permanently, and every chunk stalls to its
    // deadline — silently turning the bench into a deadline measurement
    val processedRows =
      new java.util.concurrent.ConcurrentHashMap[java.util.UUID, java.lang.Long]()
    spark.streams.addListener(new org.apache.spark.sql.streaming.StreamingQueryListener {
      override def onQueryStarted(
          e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(
          e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent): Unit =
        processedRows.merge(e.progress.runId, Long.box(e.progress.numInputRows),
          (a, b) => Long.box(a + b))
      override def onQueryTerminated(
          e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    })
    var runId = 0
    def batcher(tenants: Int, perTenant: Int, batchSize: Int): Unit = {
      val data = (for { t <- 0 until tenants; i <- 0 until perTenant }
        yield Sample(i.toLong, 456.0,
          Map("__name__" -> "foo", "labelfoo" -> "label-bar"), s"tenant-$t")).toVector
      val expected = tenants.toLong * perTenant / batchSize
      val times = (1 to 3).map { _ =>
        runId += 1
        val name = s"mb_batcher_$runId"
        val ms = MemoryStream[Sample](spark)
        val q = TenantBatcher(ms.toDS(),
            TenantBatcher.Config(batchSize, 3600000L))
          .select(col("tenantId"), size(col("entries")).as("size"))
          .writeStream.format("memory").queryName(name)
          .outputMode("append").start()
        val t0 = System.nanoTime()
        var fed = 0L
        data.grouped(20000).foreach { chunk =>
          val pd = System.currentTimeMillis() + 60000
          def done = Option(processedRows.get(q.runId)).fold(0L)(_.longValue)
          while (fed - done > 20000 &&
            System.currentTimeMillis() < pd) Thread.sleep(10)
          ms.addData(chunk)
          fed += chunk.size
        }
        var n = 0L
        val deadline = System.currentTimeMillis() + 300000
        while (n < expected && System.currentTimeMillis() < deadline) {
          Thread.sleep(50)
          n = spark.table(name).count()
        }
        val dt = (System.nanoTime() - t0) / 1e9
        q.stop()
        require(n == expected, s"$name: $n of $expected batches after ${dt}s")
        dt
      }
      val n = tenants.toLong * perTenant
      println(s"""{"bench":"batcher","tenants":$tenants,"per_tenant":$perTenant,"batch_size":$batchSize,"samples":$n,"sec":${times.min},"samples_per_sec":${(n / times.min).toLong}}""")
    }
    section("batcher") {
      batcher(tenants = 1, perTenant = 200000, batchSize = 100)
      batcher(tenants = 50, perTenant = 4000, batchSize = 100)
      batcher(tenants = 500, perTenant = 400, batchSize = 100)
      batcher(tenants = 100, perTenant = 2000, batchSize = 1000)
    }

    // ---- end-to-end produce bridge (integration load shape, scaled) ----
    // the reference's integration harness posts 500 series x 4 samples per
    // remote_write request (integration_test.go:80); here R such requests
    // flow through the WHOLE bridge — live HTTP POST -> receiver source ->
    // snappy+protobuf decode -> explode -> tenant -> serialize+key ->
    // keyed broker sink — and the wall runs first-post -> last message
    // landed. This is the single-node bridge throughput number the
    // reference never published.
    section("bridge") {
      val port = 19311
      val topic = "mb_bridge"
      val requests = 100; val seriesPerReq = 500; val samplesPerSeries = 4
      val src = spark.readStream.format("graft.sources.HttpRemoteWriteProvider")
        .option("port", port.toString).load()
      val samples = PromPipeline.attachTenant(
        PromPipeline.explodeWriteRequest(
          PromPipeline.decodeBody(src, col("body"))
            .filter(col("timeseries").isNotNull),
          col("timeseries")),
        col("basicAuthUser"), col("orgIdHeader"))
      val q = PromPipeline.serialize(samples, "json")
        .select(col("key"), col("payload").cast("binary").as("payload"))
        .writeStream
        .foreach(graft.streaming.KeyedSink.writer(
          new graft.streaming.InMemoryBroker.Factory(topic)))
        .outputMode("append").start()
      try {
        def body(req: Int): Array[Byte] = {
          val series = (0 until seriesPerReq).map { sid =>
            (Map("__name__" -> "node_cpu_seconds_total",
              "instance" -> s"instance$sid", "req" -> req.toString),
              (0 until samplesPerSeries).map(k =>
                (0.5 + k, (req * 1000 + k).toLong + 10000L)))
          }
          val pbReq = graft.functions.PromKernel.PbWriteRequest(series.map {
            case (labels, ss) => graft.functions.PromKernel.PbTimeSeries(
              labels.toSeq.sortBy(_._1).map { case (k, v) =>
                graft.functions.PromKernel.PbLabel(k, v) },
              ss.map { case (v, ts) => graft.functions.PromKernel.PbSample(v, ts) })
          })
          graft.functions.PromKernel.snappyCompress(
            graft.functions.PromKernel.encodeWriteRequest(pbReq))
        }
        val http = java.net.http.HttpClient.newHttpClient()
        def post(b: Array[Byte]): Int = http.send(
          java.net.http.HttpRequest.newBuilder(
            java.net.URI.create(s"http://localhost:$port/write"))
            .header("X-Scope-OrgID", "bench")
            .POST(java.net.http.HttpRequest.BodyPublishers.ofByteArray(b)).build(),
          java.net.http.HttpResponse.BodyHandlers.discarding()).statusCode()
        // readiness: the tiny probe repeats until the receiver binds
        val probe = body(999999)
        val ready = System.currentTimeMillis() + 30000
        while ({ (try post(probe) catch { case _: Exception => -1 }) != 200 } &&
          System.currentTimeMillis() < ready) Thread.sleep(100)
        // the accepted probe's samples traverse the query ASYNCHRONOUSLY:
        // wait for them to land before the first clear, or a slow cold
        // first micro-batch leaks them into rep 1's count (overstating
        // samples/s and ending the timed wait early)
        val probeExpected = seriesPerReq.toLong * samplesPerSeries
        val probeLand = System.currentTimeMillis() + 60000
        while (graft.streaming.InMemoryBroker.topic(topic).size < probeExpected &&
          System.currentTimeMillis() < probeLand) Thread.sleep(50)
        val bodies = (0 until requests).map(body)
        val expected = requests.toLong * seriesPerReq * samplesPerSeries
        val times = (1 to 2).map { _ =>
          Thread.sleep(200) // drain any commit tail from the prior rep
          graft.streaming.InMemoryBroker.clear(topic)
          val t0 = System.nanoTime()
          bodies.foreach(post)
          val deadline = System.currentTimeMillis() + 120000
          while (graft.streaming.InMemoryBroker.topic(topic).size < expected &&
            System.currentTimeMillis() < deadline) Thread.sleep(20)
          val dt = (System.nanoTime() - t0) / 1e9
          require(graft.streaming.InMemoryBroker.topic(topic).size >= expected,
            s"bridge: only ${graft.streaming.InMemoryBroker.topic(topic).size} of $expected landed")
          dt
        }
        println(s"""{"bench":"bridge_produce","requests":$requests,"series_per_req":$seriesPerReq,"samples_per_series":$samplesPerSeries,"samples":$expected,"sec":${times.min},"samples_per_sec":${(expected / times.min).toLong}}""")
      } finally {
        q.stop()
        graft.sources.HttpRemoteWriteSource.shutdown(port)
        graft.streaming.InMemoryBroker.clear(topic)
      }
    }

    // ---- receiver ingest: default vs WAL-then-200 ----
    // the durability contract's price tag: accepted-POST throughput with 8
    // concurrent clients against the 4-thread receiver, 200 = in-memory
    // buffered (default) vs 200 = fsync'd to the segment WAL. The WAL's
    // group-commit fsync (one force per group of concurrently-appended
    // records, not per request) is what keeps the gap a small factor; a
    // per-request fsync would bound this at the disk's sync rate.
    section("wal") {
      val requests = 4000; val clients = 8
      val b = {
        val series = (0 until 50).map { sid =>
          graft.functions.PromKernel.PbTimeSeries(
            Seq(graft.functions.PromKernel.PbLabel("__name__", "foo"),
              graft.functions.PromKernel.PbLabel("instance", s"i$sid")),
            (0 until 4).map(k => graft.functions.PromKernel.PbSample(0.5 + k, 10000L + k)))
        }
        graft.functions.PromKernel.snappyCompress(
          graft.functions.PromKernel.encodeWriteRequest(
            graft.functions.PromKernel.PbWriteRequest(series)))
      }
      // the third config widens the handler pool: in WAL mode the pool is
      // also the group-commit batch width, so throughput should rise with
      // it (more concurrent appends share each force) — the measurement
      // behind the "scales with records-per-group" claim
      for ((mode, handlers, clientsN) <- Seq(
          ("default", 4, clients), ("wal", 4, clients), ("wal", 16, 32))) {
        val port = 19313
        val walDir = if (mode == "wal")
          java.nio.file.Files.createTempDirectory("graft-mb-wal").toString else ""
        val r = graft.sources.HttpRemoteWriteSource.receiver(
          port, "/write", validate = true, walDir = walDir,
          handlerThreads = handlers)
        try {
          val http = java.net.http.HttpClient.newHttpClient()
          def post(): Int = http.send(
            java.net.http.HttpRequest.newBuilder(
              java.net.URI.create(s"http://localhost:$port/write"))
              .header("X-Scope-OrgID", "bench")
              .POST(java.net.http.HttpRequest.BodyPublishers.ofByteArray(b)).build(),
            java.net.http.HttpResponse.BodyHandlers.discarding()).statusCode()
          val times = (1 to 3).map { rep =>
            val pool = java.util.concurrent.Executors.newFixedThreadPool(clientsN)
            val latch = new java.util.concurrent.CountDownLatch(1)
            val done = new java.util.concurrent.CountDownLatch(clientsN)
            val bad = new java.util.concurrent.atomic.AtomicLong(0L)
            (0 until clientsN).foreach { _ =>
              pool.execute { () =>
                try {
                  latch.await()
                  var i = 0
                  while (i < requests / clientsN) {
                    if (post() != 200) bad.incrementAndGet(); i += 1
                  }
                } catch { // a dead client is a failed rep, not a hang
                  case e: Exception => bad.incrementAndGet()
                } finally done.countDown()
              }
            }
            val t0 = System.nanoTime()
            latch.countDown()
            require(done.await(120, java.util.concurrent.TimeUnit.SECONDS),
              s"wal_ingest $mode: clients did not finish within 120s")
            val dt = (System.nanoTime() - t0) / 1e9
            pool.shutdown()
            require(bad.get() == 0L, s"wal_ingest $mode: ${bad.get()} non-200s")
            r.commit(r.latest) // drain the buffer (and truncate WAL segments)
            dt
          }.drop(1) // rep 1 doubles as warmup
          val rps = (requests / times.min).toLong
          val mbps = requests.toDouble * b.length / times.min / 1e6
          println(s"""{"bench":"wal_ingest","mode":"$mode","handler_threads":$handlers,"requests":$requests,"clients":$clientsN,"body_bytes":${b.length},"sec":${times.min},"req_per_sec":$rps,"mb_per_sec":${math.round(mbps * 10) / 10.0}}""")
        } finally graft.sources.HttpRemoteWriteSource.shutdown(port)
      }
    }

    // ---- WAL recovery: replay throughput + time-to-first-200 ----
    // the crash specs prove replay CORRECTNESS; this measures its price —
    // the restart-latency number next to wal_ingest's steady-state one.
    // Fill a WAL (no commit, so every record survives), kill the receiver,
    // then time (a) the fresh receiver's construction — which replays and
    // CRC-checks every multi-segment record before binding — and (b) the
    // first accepted 200 after it, the operator's "how long is ingest down
    // after a crash" answer.
    section("recovery") {
      val requests = 4000; val clients = 8
      val b = {
        val series = (0 until 50).map { sid =>
          graft.functions.PromKernel.PbTimeSeries(
            Seq(graft.functions.PromKernel.PbLabel("__name__", "foo"),
              graft.functions.PromKernel.PbLabel("instance", s"i$sid")),
            (0 until 4).map(k => graft.functions.PromKernel.PbSample(0.5 + k, 10000L + k)))
        }
        graft.functions.PromKernel.snappyCompress(
          graft.functions.PromKernel.encodeWriteRequest(
            graft.functions.PromKernel.PbWriteRequest(series)))
      }
      val port = 19315
      val walDir = java.nio.file.Files.createTempDirectory("graft-mb-recover")
      // 256 KB segments (the test seam): the fill spans ~8 segments, so the
      // number measures MULTI-segment replay — file listing, per-segment
      // open/scan, CRC per record — not one warm sequential read
      sys.props("graft.wal.segMaxBytes") = (256 << 10).toString
      val r1 = graft.sources.HttpRemoteWriteSource.receiver(
        port, "/write", validate = true, walDir = walDir.toString,
        handlerThreads = 16)
      val http = java.net.http.HttpClient.newHttpClient()
      def post(): Int = http.send(
        java.net.http.HttpRequest.newBuilder(
          java.net.URI.create(s"http://localhost:$port/write"))
          .header("X-Scope-OrgID", "bench")
          .POST(java.net.http.HttpRequest.BodyPublishers.ofByteArray(b)).build(),
        java.net.http.HttpResponse.BodyHandlers.discarding()).statusCode()
      val pool = java.util.concurrent.Executors.newFixedThreadPool(clients)
      val done = new java.util.concurrent.CountDownLatch(clients)
      val bad = new java.util.concurrent.atomic.AtomicLong(0L)
      (0 until clients).foreach { _ =>
        pool.execute { () =>
          try {
            var i = 0
            while (i < requests / clients) {
              if (post() != 200) bad.incrementAndGet(); i += 1
            }
          } catch { case _: Exception => bad.incrementAndGet() }
          finally done.countDown()
        }
      }
      require(done.await(120, java.util.concurrent.TimeUnit.SECONDS), "fill stalled")
      pool.shutdown()
      require(bad.get() == 0L && r1.latest == requests.toLong,
        s"fill: ${bad.get()} non-200s, latest ${r1.latest}")
      val walFiles = {
        val s = java.nio.file.Files.list(walDir)
        try s.toArray.map(_.asInstanceOf[java.nio.file.Path]).toSeq
        finally s.close()
      }
      val segBytes = walFiles.map(java.nio.file.Files.size).sum
      val nSegs = walFiles.count(_.toString.endsWith(".wal"))
      // kill without commit: the whole fill must replay on restart
      graft.sources.HttpRemoteWriteSource.shutdown(port)
      val t0 = System.nanoTime()
      val r2 = graft.sources.HttpRemoteWriteSource.receiver(
        port, "/write", validate = true, walDir = walDir.toString,
        handlerThreads = 16)
      val tReplay = (System.nanoTime() - t0) / 1e9
      require(post() == 200, "first post after recovery must be accepted")
      val tReady = (System.nanoTime() - t0) / 1e9
      try {
        require(r2.latest == requests.toLong + 1L,
          s"replay must restore every record: latest ${r2.latest}")
        println(s"""{"bench":"wal_recovery","records":$requests,"segments":$nSegs,"wal_bytes":$segBytes,"replay_sec":${tReplay},"replay_records_per_sec":${(requests / tReplay).toLong},"replay_mb_per_sec":${math.round(segBytes / tReplay / 1e5) / 10.0},"time_to_first_200_sec":$tReady}""")
      } finally {
        graft.sources.HttpRemoteWriteSource.shutdown(port)
        sys.props.remove("graft.wal.segMaxBytes")
      }
    }

    // ---- end-to-end consume bridge ----
    // the reverse direction: broker -> deserialize (poison-skip) ->
    // stateful per-tenant batcher -> re-encode -> remote_write HTTP POST
    // to a live local endpoint. The topic is pre-filled with 200k
    // serialized samples over 50 tenants; maxRecordsPerTrigger=20000
    // paces the source (the admission-control knob a production run
    // uses), and the wall runs query-start -> last sample delivered.
    section("consume") {
      import spark.implicits._
      val topic = "mb_consume"
      val tenants = 50
      val total = 200000L
      graft.streaming.InMemoryBroker.clear(topic)
      val payloads = PromPipeline.serialize(
        spark.range(total).select(
          col("id").as("timestampMs"), lit(456.0).as("value"),
          map(lit("__name__"), lit("foo"), lit("instance"),
            concat(lit("i"), (col("id") % 1000).cast("string"))).as("labels"),
          concat(lit("t"), (col("id") % tenants).cast("string")).as("tenantId")),
        "json").select(col("key"), col("payload")).collect()
      payloads.foreach { r =>
        graft.streaming.InMemoryBroker.topic(topic).add(
          graft.streaming.InMemoryBroker.Message(
            r.getString(0), r.getString(1).getBytes("UTF-8")))
      }
      val delivered = new java.util.concurrent.atomic.AtomicLong(0L)
      val server = com.sun.net.httpserver.HttpServer.create(
        new java.net.InetSocketAddress(0), 0)
      server.createContext("/api/v1/write", { ex =>
        val req = graft.functions.PromKernel.decodeWriteRequest(
          graft.functions.PromKernel.snappyUncompress(
            ex.getRequestBody.readAllBytes()))
        delivered.addAndGet(req.timeseries.size.toLong) // 1 sample per series
        ex.sendResponseHeaders(200, -1); ex.close()
      })
      server.start()
      val client = new graft.streaming.RemoteWriteSink.HttpClient(
        s"http://localhost:${server.getAddress.getPort}/api/v1/write")
      val broker = spark.readStream.format("graft.sources.BrokerSourceProvider")
        .option("topic", topic).option("maxRecordsPerTrigger", "20000").load()
      val sampleRows = PromPipeline.deserialize(
          broker.withColumn("payload", col("payload").cast("string")), 0,
          col("payload"))
        .filter(col("sample").isNotNull).select("sample.*").as[Sample]
      val t0 = System.nanoTime()
      val q = TenantBatcher(sampleRows,
          TenantBatcher.Config(batchSize = 100, batchMaxDelayMs = 3600000L))
        .writeStream
        .foreachBatch { (ds: org.apache.spark.sql.Dataset[TenantBatcher.Batch],
            _: Long) =>
          ds.foreachPartition { it: Iterator[TenantBatcher.Batch] =>
            graft.streaming.RemoteWriteSink.deliver(client)(it); ()
          }
        }
        .outputMode("append").start()
      try {
        val deadline = System.currentTimeMillis() + 240000
        while (delivered.get() < total &&
          System.currentTimeMillis() < deadline) Thread.sleep(20)
        val dt = (System.nanoTime() - t0) / 1e9
        require(delivered.get() >= total,
          s"consume bridge: only ${delivered.get()} of $total delivered")
        println(s"""{"bench":"bridge_consume","tenants":$tenants,"samples":$total,"batch_size":100,"sec":$dt,"samples_per_sec":${(total / dt).toLong}}""")
      } finally {
        q.stop(); server.stop(0)
        graft.streaming.InMemoryBroker.clear(topic)
      }
    }

    spark.stop()
    // the bridge benches' java.net.http clients keep non-daemon selector
    // threads alive past main — exit explicitly so `sbt run` terminates
    sys.exit(0)
  }
}
