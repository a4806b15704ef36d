package graft

import scala.concurrent.duration._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.functions.{AvroJsonSchema, PromKernel}
import graft.operators.PromPipeline
import graft.sources.{BrokerSource, HttpRemoteWriteSource}
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

  /** The reference's serializer flag is `--pulsar.serializer`
    * (pkg/app/pulsar.go:161-167); `--serializer` stays as the alias this
    * CLI historically used.
    */
  private[graft] def serializerOf(flags: Flags): String =
    flags.first(Seq("pulsar.serializer", "serializer"), "json")

  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("produce")
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[4]"))
      .appName(s"graft-$mode")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // every micro-batch job broadcasts its task binary in chunks of this
      // size, each allocated whole: the 4m default makes each a humongous
      // G1 object, so more triggers a second raised peak RSS. A core
      // setting of the SparkContext's conf, which `spark.conf.set`
      // rejects, so it is made here, not by the commands
      .config("spark.broadcast.blockSize", "512k")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.streams.addListener(new Metrics.Listener)

    // each command parses its configs, then rejects any flag none of them
    // read, before it binds or starts anything
    try {
      val flags = Flags.parse(args.toSeq.drop(1))
      mode match {
        case "produce" => produce(spark, flags)
        case "consume" => consume(spark, flags)
        case "query" => query(spark, flags)
        case other =>
          System.err.println(s"unknown command: $other (expected produce|consume|query)")
          sys.exit(2)
      }
    } catch {
      case e: Flags.UsageError =>
        System.err.println(s"$mode: ${e.getMessage}")
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
  private def query(spark: SparkSession, flags: Flags): Unit = {
    val name = flags.str("name", "list")
    val sfDir = flags.str("sf-dir", "/root/testdata/sf0.001")
    val out = flags.str("out", "")
    val limit = flags.int("limit", 20)
    flags.requireAllRead()
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
  private[graft] def produce(spark: SparkSession, flags: Flags): Unit = {
    val source = HttpRemoteWriteSource.Config.from(flags)
    val pulsar = PulsarSink.Config.from(flags)
    val serializer = serializerOf(flags)
    val replicaLabels = flags.str("replica-labels", graft.model.Model.DefaultReplicaLabel)
      .split(",").toSeq
    // destination precedence: a real Pulsar broker (--pulsar.url, TLS/auth
    // flags per pkg/app/pulsar.go:74-93) > file topics > file topic >
    // in-memory topic. --topic-dirs a,b fans every message out to each dir
    // (produce.go:82-98 buildWriters + :155-181) from the same query.
    val topicDirs = flags.str("topic-dirs", "").split(",").toSeq.filter(_.nonEmpty)
    val topicDir = flags.str("topic-dir", "")
    flags.requireAllRead()
    useLocalCheckpoints(spark)
    val listen = s":${source.port}${source.path}"

    // the source reads its own settings (--wal-dir, --web.*) from the flags
    val src = spark.readStream.format("graft.sources.HttpRemoteWriteProvider")
      .options(flags.values).load()
    val out = Metrics.observeReceived(PromPipeline.produce(src, serializer, replicaLabels))
    val (factory, destination): (KeyedSink.ProducerFactory, String) =
      if (pulsar.url.nonEmpty) (new PulsarSink.Factory(pulsar), s"${pulsar.url} topic '${pulsar.topic}'")
      else if (topicDirs.nonEmpty)
        (KeyedSink.fanOut(topicDirs.map(new FileTopic.Factory(_))), s"topic dirs '${topicDirs.mkString("', '")}'")
      else if (topicDir.nonEmpty) (new FileTopic.Factory(topicDir), s"topic dir '$topicDir'")
      else (new InMemoryBroker.Factory(pulsar.topic), s"topic '${pulsar.topic}'")
    val q = out.writeStream
      .foreach(KeyedSink.writer(factory))
      .outputMode("append")
      .trigger(Trigger.ProcessingTime(100.millis))
      .start()
    stopOnShutdown(q)
    println(s"[graft] produce: listening on $listen -> $destination ($serializer)")
    q.awaitTermination()
  }

  /** Keyed topic -> deserialize (poison-skip) -> stateful per-tenant batch ->
    * remote_write POST (pkg/app/consume.go + pkg/remote/write.go), as one
    * Structured Streaming query: BrokerSource offsets ack poison, the
    * flatMapGroupsWithState batcher holds size/deadline semantics, the
    * micro-batch's own tasks POST its batches ([[RemoteWriteSink.writer]]),
    * and a retryable sink error fails the micro-batch (no offset commit =>
    * replay — the reference's stop-consumption backpressure).
    */
  private[graft] def consume(spark: SparkSession, flags: Flags): Unit = {
    import spark.implicits._
    // the source reads its own settings (topic, --topic-dir, --pulsar.*)
    // from the flags; parsed here too to reject unknown flags before the
    // query starts
    val source = BrokerSource.Config.from(flags)
    val url = flags.str("remote-write.url", "http://localhost:9090/api/v1/write")
    val batcher = TenantBatcher.Config.from(flags)
    // the consume side unmarshals with the configured serializer too
    // (pkg/app/consume.go reuses the pulsar serializer choice): json -> the
    // legacy layout, compat/avro -> the compat layout with the __name__
    // backfill rule. Resolved as produce resolves it, so an unknown name or
    // an unreadable or invalid schema fails here, before any query starts
    val formatId =
      if (AvroJsonSchema.payloadFormat(serializerOf(flags))._1 == PromKernel.JsonFormat) 0 else 1
    flags.requireAllRead()
    useLocalCheckpoints(spark)
    // consume.go:40-41: --send-timeout bounds the remote_write POST (the
    // reference wires it to the remote client's Timeout, :99)
    val client = new RemoteWriteSink.HttpClient(url, source.pulsar.operationTimeoutMs)

    val broker = spark.readStream.format("graft.sources.BrokerSourceProvider")
      .options(flags.values).load()
    val samples = PromPipeline.deserialize(
        broker.withColumn("payload", col("payload").cast("string")), formatId, col("payload"))
      .filter(col("sample").isNotNull).select("sample.*")
      .as[graft.model.Model.Sample]
    val q = TenantBatcher(samples, batcher)
      .writeStream
      .foreach(RemoteWriteSink.writer(client))
      .outputMode("append")
      .trigger(Trigger.ProcessingTime(100.millis)) // checkInterval (write.go:69)
      .start()
    stopOnShutdown(q)
    println(s"[graft] consume: '${source.where}' -> $url (batch=${batcher.batchSize}, delay=${batcher.batchMaxDelayMs}ms)")
    q.awaitTermination()
  }

  /** Offset, commit and state files without forking readlink/chmod: a
    * session setting, made by each command on the session it is given.
    */
  private def useLocalCheckpoints(spark: SparkSession): Unit = {
    val (key, value) = LocalCheckpointFileManager.Setting
    spark.conf.set(key, value)
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
