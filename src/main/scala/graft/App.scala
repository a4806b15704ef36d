package graft

import scala.concurrent.duration._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.operators.PromPipeline
import graft.streaming._

/** CLI facade with the reference's two pipelines (README.md:43-51):
  *
  *   graft.App produce --web.listen-port 9201 --serializer json --topic metrics
  *   graft.App consume --topic metrics --remote-write.url http://host/api/v1/write \
  *     --batch-size 100 --batch-max-delay-ms 5000
  *
  * The broker side binds through [[KeyedSink.ProducerFactory]] — the in-memory
  * broker here; a Pulsar deployment implements the same two traits against
  * the public pulsar-client API without touching the pipeline.
  */
object App {

  private def flag(args: Array[String], name: String, default: String): String = {
    val i = args.indexOf(s"--$name")
    if (i >= 0 && i + 1 < args.length) args(i + 1) else default
  }

  /** First present flag wins — used where the reference spelling and this
    * CLI's historical shorthand are both accepted.
    */
  private[graft] def firstFlag(args: Array[String], names: Seq[String],
      default: String): String =
    names.iterator
      .map(n => args.indexOf(s"--$n"))
      .collectFirst { case i if i >= 0 && i + 1 < args.length => args(i + 1) }
      .getOrElse(default)

  /** The reference's serializer flag is `--pulsar.serializer`
    * (pkg/app/pulsar.go:161-167); `--serializer` stays as the alias this
    * CLI historically used.
    */
  private[graft] def serializerOf(args: Array[String]): String =
    firstFlag(args, Seq("pulsar.serializer", "serializer"), "json")

  /** app.go:60-62: `--web.listen-address` takes "host:port" (":9201" = all
    * interfaces). Returns (host, port); throws with the flag name on junk.
    */
  private[graft] def parseListenAddress(addr: String): (String, Int) = {
    val i = addr.lastIndexOf(':')
    val port =
      try { require(i >= 0); addr.substring(i + 1).toInt }
      catch { case _: Exception => throw new IllegalArgumentException(
        s"--web.listen-address: expected host:port, got '$addr'") }
    (addr.substring(0, math.max(i, 0)), port)
  }

  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("produce")
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[4]"))
      .appName(s"graft-$mode")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.streams.addListener(new Metrics.Listener)

    mode match {
      case "produce" => produce(spark, args)
      case "consume" => consume(spark, args)
      case "query" => query(spark, args)
      case other =>
        System.err.println(s"unknown command: $other (expected produce|consume|query)")
        sys.exit(2)
    }
  }

  /** Ad-hoc run of any inventory query:
    *
    *   graft.App query --name q01_agg --sf-dir /root/testdata/sf0.01 [--out /tmp/out] [--limit 20]
    *
    * Prints the result (or writes parquet with --out). `--name list` prints
    * the available query names.
    */
  private def query(spark: SparkSession, args: Array[String]): Unit = {
    val name = flag(args, "name", "list")
    val sfDir = flag(args, "sf-dir", "/root/testdata/sf0.001")
    val out = flag(args, "out", "")
    val limit = flag(args, "limit", "20").toInt
    if (name == "list") {
      SparkEntry.queries.keys.toSeq.sorted.foreach(println)
      return
    }
    SparkEntry.queries.get(name) match {
      case None =>
        System.err.println(s"unknown query: $name (try --name list)")
        sys.exit(2)
      case Some(fn) =>
        val df = fn(spark, sfDir)
        if (out.nonEmpty) {
          df.write.mode("overwrite").parquet(out)
          println(s"[graft] $name -> $out")
        } else df.show(limit, truncate = false)
    }
  }

  /** HTTP remote_write ingest -> decode -> flatten -> enrich -> serialize ->
    * keyed publish (pkg/app/produce.go).
    */
  private def produce(spark: SparkSession, args: Array[String]): Unit = {
    // app.go:60-62: --web.listen-address (host:port) is the reference
    // spelling; --web.listen-port stays as the port-only shorthand
    val (host, port) = {
      val addr = flag(args, "web.listen-address", "")
      if (addr.nonEmpty) parseListenAddress(addr)
      else ("", flag(args, "web.listen-port", "9201").toInt)
    }
    val path = flag(args, "web.write-path", "/write")
    // app.go:65-67: --web.telemetry-path relocates the metrics endpoint
    val telemetryPath = flag(args, "web.telemetry-path", "/metrics")
    // app.go:66-69: --web.max-connection-age (kingpin duration, 0 = off),
    // --web.disable-pprof
    val maxConnAgeMs = PulsarSink.parseDurationMs(
      flag(args, "web.max-connection-age", "0"), "web.max-connection-age")
    val pprof = flag(args, "web.disable-pprof", "false") != "true"
    val serializer = serializerOf(args)
    val topic = flag(args, "topic", "metrics")
    val replicaLabels = flag(args, "replica-labels", graft.model.Model.DefaultReplicaLabel)
      .split(",").toSeq

    // multi-writer mode (produce.go:82-98 buildWriters + :155-181): N comma-
    // separated topic dirs become N concurrent writers; the HTTP response is
    // synchronous — 200 iff all writers took the request, 500 naming failures
    val topicDirs = flag(args, "topic-dirs", "")
    if (topicDirs.nonEmpty) {
      val r = graft.sources.HttpRemoteWriteSource.receiver(port, path,
        validate = true, maxConnectionAgeMs = maxConnAgeMs, pprof = pprof,
        host = host, telemetryPath = telemetryPath)
      val ws = topicDirs.split(",").toSeq.map(d =>
        new Writers.TopicWriter(d, new FileTopic.Factory(d), serializer, replicaLabels))
      // produce.go:45-46: --send-timeout bounds the synchronous fan-out wait
      r.setWriters(ws, PulsarSink.parseDurationMs(
        flag(args, "send-timeout", "30s"), "send-timeout"))
      println(s"[graft] produce (multi-writer): :$port$path -> ${ws.map(_.name).mkString(", ")} ($serializer)")
      while (true) Thread.sleep(60000L)
    }

    // --wal-dir: WAL-then-200 durability for the async path (the 200 means
    // fsync'd to the segment log, the durable twin of the reference's
    // respond-after-pulsar-flush; empty = in-memory buffered, weaker). The
    // sync multi-writer path above never needs it — its 200 already means
    // the destination writes succeeded.
    val walDir = flag(args, "wal-dir", "")
    // --web.handler-threads: concurrent request handling (and, in WAL mode,
    // the group-commit batch width — more concurrent appends share a force)
    val handlerThreads = flag(args, "web.handler-threads", "4")
    val src = spark.readStream.format("graft.sources.HttpRemoteWriteProvider")
      .option("port", port.toString).option("path", path)
      .option("maxConnectionAgeMs", maxConnAgeMs.toString)
      .option("pprof", pprof.toString)
      .option("walDir", walDir)
      .option("handlerThreads", handlerThreads)
      .option("host", host).option("telemetryPath", telemetryPath).load()
    val samples = PromPipeline.attachTenant(
      PromPipeline.explodeWriteRequest(
        PromPipeline.decodeBody(src, col("body")).filter(col("timeseries").isNotNull),
        col("timeseries")),
      col("basicAuthUser"), col("orgIdHeader"))
    val out = Metrics.observeReceived(
      PromPipeline.serialize(samples, serializer, replicaLabels)
        .select(col("key"), col("payload").cast("binary").as("payload")))

    // destination precedence: a real Pulsar broker (--pulsar.url, TLS/auth
    // flags per pkg/app/pulsar.go:74-93) > file topic > in-memory topic
    val topicDir = flag(args, "topic-dir", "")
    val pulsarUrl = flag(args, "pulsar.url", "")
    val factory: KeyedSink.ProducerFactory =
      if (pulsarUrl.nonEmpty) new PulsarSink.Factory(PulsarSink.fromArgs(args))
      else if (topicDir.nonEmpty) new FileTopic.Factory(topicDir)
      else new InMemoryBroker.Factory(topic)
    val q = out.writeStream
      .foreach(KeyedSink.writer(factory))
      .outputMode("append")
      .trigger(Trigger.ProcessingTime(100.millis))
      .start()
    stopOnShutdown(q)
    println(s"[graft] produce: listening on :$port$path -> topic '$topic' ($serializer)")
    q.awaitTermination()
  }

  /** Keyed topic -> deserialize (poison-skip) -> stateful per-tenant batch ->
    * remote_write POST (pkg/app/consume.go + pkg/remote/write.go), as one
    * Structured Streaming query: BrokerSource offsets ack poison, the
    * flatMapGroupsWithState batcher holds size/deadline semantics, and a
    * retryable sink error fails the micro-batch (no offset commit => replay
    * — the reference's stop-consumption backpressure).
    */
  private def consume(spark: SparkSession, args: Array[String]): Unit = {
    import spark.implicits._
    val topic = flag(args, "topic", "metrics")
    val url = flag(args, "remote-write.url", "http://localhost:9090/api/v1/write")
    val batchSize = flag(args, "batch-size", "100").toInt
    val maxDelay = flag(args, "batch-max-delay-ms", "5000").toLong
    // consume.go:40-41: --send-timeout (default 30s) bounds the remote_write
    // POST (the reference wires it to the remote client's Timeout, :99)
    val sendTimeoutMs = PulsarSink.parseDurationMs(
      flag(args, "send-timeout", "30s"), "send-timeout")
    // consume.go:42-43: the shared subscription name — consumers sharing it
    // split the topic (each message once across them); a new name replays
    val subscription = flag(args, "pulsar.subscription", "pulsar-adapter")
    // --readers N: split each micro-batch into up to N partitions by key
    // hash (per-key order preserved) so decode and the remote_write entry
    // encoding parallelize across tasks; default: the Spark default
    // parallelism. With --pulsar.executor-consumers, N is also the number of
    // executor-side KeyShared consumers, so there the default stays 1.
    val executorConsumers = flag(args, "pulsar.executor-consumers", "false")
    val readers = flag(args, "readers",
      if (executorConsumers.toBoolean) "1" else spark.sparkContext.defaultParallelism.toString)
    // the consume side unmarshals with the configured serializer too
    // (pkg/app/consume.go reuses the pulsar serializer choice): json -> the
    // legacy layout, anything compat/avro -> the compat layout with the
    // __name__ backfill rule
    val formatId = serializerOf(args) match {
      case "json" => 0
      case _ => 1
    }
    val client = new RemoteWriteSink.HttpClient(url, sendTimeoutMs)

    val topicDir = flag(args, "topic-dir", "")
    // source precedence mirrors produce: real Pulsar broker (--pulsar.url +
    // TLS/auth flags -> the reflection-bound KeyShared consumer) > file
    // topic > in-memory topic
    val pulsarCfg = PulsarSink.fromArgs(args)
    val brokerReader = {
      val r = spark.readStream.format("graft.sources.BrokerSourceProvider")
        .option("topic", topic).option("subscription", subscription)
        .option("readers", readers)
      if (pulsarCfg.url.nonEmpty)
        r.option("pulsar.url", pulsarCfg.url)
          // scale-out consume (beyond reference parity): --readers cached
          // per-executor KeyShared consumers (auto-split; sticky ranges and
          // ack timeout tunable)
          .option("pulsar.executor-consumers", executorConsumers)
          .option("pulsar.sticky-ranges",
            flag(args, "pulsar.sticky-ranges", "false"))
          .option("pulsar.ack-timeout-ms",
            flag(args, "pulsar.ack-timeout-ms", "60000"))
          // idle suppression: stop ticking empty epochs on an idle
          // subscription (<= 0 disables); probe every N triggers bounds
          // cluster-side wake latency (see BrokerStream scaladoc)
          .option("pulsar.idle-suppress-after",
            flag(args, "pulsar.idle-suppress-after", "3"))
          .option("pulsar.idle-probe-every",
            flag(args, "pulsar.idle-probe-every", "10"))
          .option("pulsar.connection-timeout-ms", pulsarCfg.connectionTimeoutMs.toString)
          // no operation-timeout option: the consumer client leaves it unset,
          // like the reference (send-timeout only bounds the HTTP POST below)
          .option("pulsar.certificate-authority", pulsarCfg.certificateAuthority)
          .option("pulsar.client-certificate", pulsarCfg.clientCertificate)
          .option("pulsar.client-key", pulsarCfg.clientKey)
          .option("pulsar.insecure-skip-tls-verify", pulsarCfg.insecureSkipTlsVerify.toString)
          .option("pulsar.insecure-skip-tls-validate-hostname",
            pulsarCfg.insecureSkipTlsValidateHostname.toString)
          .option("pulsar.max-connections-per-broker",
            pulsarCfg.maxConnectionsPerBroker.toString)
      else r
    }
    val broker = (if (topicDir.nonEmpty) brokerReader.option("dir", topicDir) else brokerReader).load()
    val samples = PromPipeline.deserialize(
        broker.withColumn("payload", col("payload").cast("string")), formatId, col("payload"))
      .filter(col("sample").isNotNull).select("sample.*")
      .as[graft.model.Model.Sample]
    val q = TenantBatcher(samples, TenantBatcher.Config(batchSize, maxDelay))
      .writeStream
      .foreachBatch { (ds: org.apache.spark.sql.Dataset[TenantBatcher.Batch], _: Long) =>
        // deliver on executors; only the (sent, failed) counts come back
        val counts = ds.mapPartitions { it =>
          Iterator.single(RemoteWriteSink.deliver(client)(it))
        }(org.apache.spark.sql.Encoders.product[(Long, Long)]).collect()
        Metrics.add("sent_samples_total", counts.map(_._1).sum)
        Metrics.add("failed_samples_total", counts.map(_._2).sum)
      }
      .outputMode("append")
      .trigger(Trigger.ProcessingTime(100.millis)) // checkInterval (write.go:69)
      .start()
    stopOnShutdown(q)
    println(s"[graft] consume: topic '$topic' -> $url (batch=$batchSize, delay=${maxDelay}ms)")
    q.awaitTermination()
  }

  /** SIGTERM/SIGINT: stop the streaming query FIRST, then begin normal JVM
    * shutdown — the reference's signal-then-drain exit (run.Group interrupt
    * handling, main.go). A plain shutdown hook is not enough: JVM hooks run
    * in parallel with Spark's own hook, so context teardown can race the
    * in-flight micro-batch and the process exits through an internal-error
    * planning stack. A signal handler owns the ordering: query stop, then
    * System.exit (which runs Spark's hooks on the now-idle context).
    * Offsets are checkpoint-safe either way — uncommitted batches replay.
    */
  private def stopOnShutdown(q: org.apache.spark.sql.streaming.StreamingQuery): Unit =
    Seq("TERM", "INT").foreach { sig =>
      try sun.misc.Signal.handle(new sun.misc.Signal(sig),
        (_: sun.misc.Signal) => {
          // bounded drain: if the in-flight batch is stuck (e.g. a
          // non-interruptible socket read), exit anyway after 10 s — the
          // signal must never render the process unkillable by TERM/INT
          val stopper = new Thread(() => {
            try q.stop() catch { case _: Throwable => () }
          }, "graft-signal-stop")
          stopper.setDaemon(true)
          stopper.start()
          stopper.join(10000L)
          System.exit(0)
        })
      catch { case _: Throwable => () } // -Xrs or a managed signal: keep default
    }
}
