package graft.bench

import java.util.{LinkedHashMap => JMap}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.functions.PromKernel
import graft.operators.PromPipeline

final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean, work: String)

/** Drives the shipped CLI (`graft.App.main`) through one workload and prints
  * one `BRIDGEBENCH {json}` line: end-to-end metrics, per-layer metrics, the
  * output check and the host record. `bridgebench/run.py` is the entry point
  * that builds, launches and summarises; see bridgebench/NOTES.md.
  *
  *   BridgeBench --workload produce_burst --seed 1 --seconds 12 --trace 0 --work DIR
  */
object BridgeBench {

  val Workloads = Seq("produce_burst", "consume_drain", "roundtrip_wal")

  def parse(args: Array[String]): Opts = {
    def arg(name: String): String = {
      val i = args.indexOf(s"--$name")
      require(i >= 0 && i + 1 < args.length, s"missing --$name")
      args(i + 1)
    }
    val w = arg("workload")
    require(Workloads.contains(w), s"unknown workload $w (expected ${Workloads.mkString("|")})")
    val seconds = arg("seconds").toInt
    require(seconds > 0, "--seconds must be positive")
    Opts(w, arg("seed").toLong, seconds, arg("trace") == "1", arg("work"))
  }

  def main(args: Array[String]): Unit =
    try bench(parse(args))
    catch {
      case e: Throwable =>
        // Spark and HTTP threads would keep the JVM alive: end it here
        e.printStackTrace()
        System.err.flush()
        Runtime.getRuntime.halt(1)
    }

  private def bench(o: Opts): Unit = {
    Trace.enabled = o.trace
    val loadBefore = Host.loadavg()
    val stealBefore = Host.stealS()
    val w: Workload = o.workload match {
      case "produce_burst" => new ProduceBurst(o)
      case "consume_drain" => new ConsumeDrain(o)
      case "roundtrip_wal" => new RoundtripWal(o)
    }
    val t0 = System.nanoTime()
    w.setup()
    val t1 = System.nanoTime()
    Trace.record("bench.setup", "setup", "setup", t0, t1)
    val setupS = (t1 - t0) / 1e9
    val spark = SparkSession.active
    val calibPre = Host.calib(spark)
    val t2 = System.nanoTime()
    w.generate()
    val gc0 = Host.gc()
    val t3 = System.nanoTime()
    w.run()
    val t4 = System.nanoTime()
    val gc1 = Host.gc()
    // before the outputs are read back: the peak is the program's
    val rssMb = Host.peakRssMb()
    w.stop()
    val calibPost = Host.calib(spark)
    val m = w.measured()
    val c = w.check(m)
    val t5 = System.nanoTime()
    System.err.println(f"[bridgebench] setup ${setupS}%.2f s, generate ${(t3 - t2) / 1e9}%.2f s, " +
      f"timed region ${(t4 - t3) / 1e9}%.2f s, stop+calib+check ${(t5 - t4) / 1e9}%.2f s")
    val loadAfter = Host.loadavg()
    val stealS = Host.stealS() - stealBefore

    val e2e = new JMap[String, Any]()
    e2e.put("setup_s", setupS)
    e2e.put("samples_per_s", m.samplesPerS)
    e2e.put("latency_p50_ms", Stats.percentile(m.latencyMs, 0.5).getOrElse(0.0))
    e2e.put("latency_p95_ms", Stats.percentile(m.latencyMs, 0.95).getOrElse(0.0))
    e2e.put("peak_rss_mb", rssMb)

    val layers = new JMap[String, Any]()
    // each percentile is the highest that the smallest workload reporting
    // it supports in every run; 0 where a workload has too few samples
    def pct(name: String, xs: Seq[Double], q: Double): Unit =
      layers.put(name, Stats.percentile(xs, q).getOrElse(0.0))
    val since = m.firstNs
    Seq("produce", "consume").foreach { q =>
      val ts = PhaseListener.of(q).filter(t => t.seenNs >= since && t.rows > 0)
      def d(keys: String*) = Stats.mean(ts.map(t => keys.map(t.durationMs.getOrElse(_, 0L)).sum.toDouble))
      layers.put(s"App.$q.triggers", ts.size)
      layers.put(s"App.$q.trigger_ms", d("triggerExecution"))
      layers.put(s"App.$q.latest_offset_ms", d("latestOffset"))
      layers.put(s"App.$q.planning_ms", d("queryPlanning"))
      layers.put(s"App.$q.add_batch_ms", d("addBatch"))
      layers.put(s"App.$q.offset_log_ms", d("walCommit", "commitOffsets"))
      layers.put(s"App.$q.rows_per_trigger", Stats.mean(ts.map(_.rows.toDouble)))
    }
    val consumeTs = PhaseListener.of("consume").filter(t => t.seenNs >= since && t.rows > 0)
    layers.put("streaming.batcher.state_commit_ms", Stats.mean(consumeTs.map(_.stateCommitMs.toDouble)))
    layers.put("streaming.batcher.state_update_ms", Stats.mean(consumeTs.map(_.stateUpdateMs.toDouble)))
    layers.put("streaming.batcher.state_rows", Stats.mean(consumeTs.map(_.stateRows.toDouble)))
    layers.put("streaming.batcher.state_bytes", Stats.mean(consumeTs.map(_.stateBytes.toDouble)))

    val ds = c.delivered.filter(_.arrivalNs >= m.firstNs)
    val (batch, fresh) = w match {
      case x: Downstream => (x.batchSize, x.fresh(m.firstNs))
      case _ => (0, Nil)
    }
    // a deadline flush is the only kind smaller than the batch size
    val deadline = fresh.filter(_._1.samples.size < batch)
    layers.put("streaming.batcher.fill_ratio",
      if (ds.isEmpty) 0.0 else ds.map(_.samples.size).sum.toDouble / (ds.size.toLong * batch))
    layers.put("streaming.batcher.deadline_flushes", deadline.size)
    // roundtrip_wal makes 25 to 55 deadline flushes a run
    pct("streaming.batcher.deadline_overrun_p50_ms", deadline.map(_._2), 0.5)

    val client = w match {
      case x: ProduceBurst => Some(x.client)
      case x: RoundtripWal => Some(x.client)
      case _ => None
    }
    layers.put("sources.receiver.requests", m.postsAttempted)
    layers.put("sources.receiver.body_bytes", client.map(_.bodyBytes.sum).getOrElse(0L))
    layers.put("sources.receiver.post_busy_ms", client.map(_.busyNs.sum / 1e6).getOrElse(0.0))
    layers.put("sources.receiver.retries", client.map(_.retries.sum).getOrElse(0L))
    layers.put("sources.receiver.post_p50_ms", Stats.percentile(m.postMs, 0.5).getOrElse(0.0))
    // roundtrip_wal sends 4 timed requests a second: 40 at --seconds 10
    pct("sources.receiver.post_p75_ms", m.postMs, 0.75)

    val endpoint = w match {
      case x: Downstream => Some(x.endpoint)
      case _ => None
    }
    layers.put("streaming.sink.posts", ds.size)
    layers.put("streaming.sink.post_bytes", ds.map(_.bytes.toLong).sum)
    layers.put("streaming.sink.endpoint_busy_ms", endpoint.map(_.busyNs.sum / 1e6).getOrElse(0.0))
    layers.put("streaming.sink.duplicates", c.diff.duplicates)

    val (brokerMsgs, brokerBytes) = w match {
      case x: ProduceBurst => (x.publishedCount.get(), x.publishedBytes.get())
      case x: ConsumeDrain => (x.chunks.map(_.length.toLong).sum, x.chunks.iterator.flatten.map(_.payload.length.toLong).sum)
      case _ => (0L, 0L) // the consume query drains the in-memory topic itself
    }
    layers.put("streaming.broker.messages", brokerMsgs)
    layers.put("streaming.broker.payload_bytes", brokerBytes)
    pct("bench.gen_late_p75_ms", m.genLateMs, 0.75)
    layers.put("jvm.gc_ms", gc1._1 - gc0._1)
    layers.put("jvm.gc_count", gc1._2 - gc0._2)
    layers.put("error_ratio", Stats.errorRatio(c.failed, c.attempted))

    val coverage = new JMap[String, Any]()
    if (o.trace) {
      Probes.run(spark, w.probeInput, layers)
      Seq("produce", "consume").foreach(q => phaseSpans(q, since).foreach(coverage.put(q, _)))
    }

    val host = new JMap[String, Any]()
    host.put("nproc", Runtime.getRuntime.availableProcessors)
    host.put("loadavg_before", loadBefore)
    host.put("loadavg_after", loadAfter)
    host.put("steal_s", stealS)
    host.put("seed", o.seed)
    host.put("spark", org.apache.spark.SPARK_VERSION)
    host.put("jvm", s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}")
    host.put("calib_pre_s", calibPre)
    host.put("calib_post_s", calibPost)

    val check = new JMap[String, Any]()
    check.put("missing", c.diff.missing)
    check.put("duplicates", c.diff.duplicates)
    check.put("unexpected", c.diff.unexpected)
    check.put("replica_splits", c.replicaSplits)
    check.put("violations", c.violations.asJava)
    check.put("latency_samples", m.latencyMs.size)
    val quantiles = new JMap[String, Any]()
    Seq(0.5, 0.75, 0.9, 0.95, 0.99).foreach(q => Stats.percentile(m.latencyMs, q).foreach(quantiles.put(s"p${(q * 100).round}", _)))
    check.put("latency_quantiles", quantiles)
    check.put("samples", m.samples)

    val out = new JMap[String, Any]()
    out.put("workload", o.workload)
    out.put("correct", c.failed == 0)
    out.put("attempted", c.attempted)
    out.put("failed", c.failed)
    out.put("end_to_end", e2e)
    out.put("per_layer", layers)
    out.put("phase_coverage", coverage)
    out.put("check", check)
    out.put("host", host)
    if (o.trace) {
      val spans = Trace.all
      val file = new java.io.File(o.work, s"trace-${o.workload}-seed${o.seed}.jsonl")
      writeSpans(spans, file)
      out.put("trace_file", file.getPath)
      val table = new JMap[String, Any]()
      Trace.selfTimeByLayer(spans).foreach { case (layer, ms, n) =>
        val row = new JMap[String, Any](); row.put("self_ms", ms); row.put("spans", n); table.put(layer, row)
      }
      out.put("self_time", table)
    }
    println("BRIDGEBENCH " + mapper.writeValueAsString(out))
    exit()
  }

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** Ends the JVM without Spark's shutdown hooks: the queries have stopped,
    * and run.py removes the temp and checkpoint directories.
    */
  private def exit(): Unit = {
    System.out.flush()
    Runtime.getRuntime.halt(0)
  }

  /** Turns each App trigger of the timed region into a span with its phases
    * as children, laid end to end in the order Spark runs them. Returns the
    * share of `triggerExecution` the phases account for.
    */
  private def phaseSpans(query: String, sinceNs: Long): Option[Double] = {
    val ts = PhaseListener.of(query).filter(t => t.seenNs >= sinceNs && t.rows > 0)
    if (ts.isEmpty) return None
    val phases = Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")
    var total = 0L; var covered = 0L
    ts.foreach { t =>
      val start = t.startEpochMs * 1000000L + Trace.epochToNano
      val exec = t.durationMs.getOrElse("triggerExecution", 0L)
      val trace = s"$query-batch-${t.batchId}"
      val id = Trace.record(s"App.$query", "trigger", trace, start, start + exec * 1000000L)
      var at = start
      phases.foreach { p =>
        t.durationMs.get(p).foreach { ms =>
          Trace.record(s"App.$query.$p", p, trace, at, at + ms * 1000000L, parent = id)
          at += ms * 1000000L; covered += ms
        }
      }
      total += exec
    }
    Some(if (total == 0L) 1.0 else covered.toDouble / total)
  }

  private def writeSpans(spans: Seq[Trace.Span], file: java.io.File): Unit = {
    val w = new java.io.PrintWriter(file, "UTF-8")
    try spans.sortBy(_.startNs).foreach { s =>
      val m = new JMap[String, Any]()
      m.put("id", s.id); m.put("parent", s.parent); m.put("trace_id", s.traceId)
      m.put("layer", s.layer); m.put("name", s.name)
      m.put("start_ns", s.startNs); m.put("end_ns", s.endNs)
      w.println(mapper.writeValueAsString(m))
    } finally w.close()
  }
}

/** The host record that travels with every run. */
object Host {
  def loadavg(): String =
    new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get("/proc/loadavg")), "UTF-8").trim

  /** CPU time the hypervisor gave to other guests so far, summed over all
    * CPUs (`steal` in /proc/stat, at the usual 100 ticks a second); 0 where
    * the kernel does not report it.
    */
  def stealS(): Double =
    scala.io.Source.fromFile("/proc/stat").getLines().take(1).toSeq
      .flatMap(_.split("\\s+").lift(8)).headOption.map(_.toDouble / 100).getOrElse(0.0)

  /** Peak resident set (VmHWM) of this process in MB. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024 }
      .getOrElse(0.0)

  /** (total GC ms, GC count) so far. */
  def gc(): (Long, Long) = {
    val beans = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
    (beans.map(_.getCollectionTime).sum, beans.map(_.getCollectionCount).sum)
  }

  /** The calibration canary of `graft.Bench` (`calibOnce`): the same fixed
    * expression, timed once, so host drift shows next to every run.
    */
  def calib(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(0L, 64L << 20, 1L, spark.sparkContext.defaultParallelism)
      .selectExpr("bit_xor(xxhash64(id)) AS h", "count(1) AS n")
      .write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }
}

/** Per-layer probes of a traced run. Each replays the run's own inputs
  * through one layer's public functions, after the queries have stopped.
  */
object Probes {

  private def timed[T](layer: String, name: String)(body: => T): Double = {
    val t0 = System.nanoTime()
    body
    val t1 = System.nanoTime()
    Trace.record(layer, s"probe.$name", s"probe-$name", t0, t1)
    (t1 - t0) / 1e6
  }

  /** Best of two timed passes after one warm-up pass. */
  private def best(layer: String, name: String)(body: => Unit): Double = {
    body
    math.min(timed(layer, name)(body), timed(layer, name)(body))
  }

  def run(spark: SparkSession, in: ProbeInput, layers: JMap[String, Any]): Unit = {
    val bodies = in.bodies.map(_._2)
    val raws = bodies.map(PromKernel.snappyUncompress)
    layers.put("functions.kernel.snappy_ms", best("functions.kernel", "snappy")(bodies.foreach(PromKernel.snappyUncompress)))
    layers.put("functions.kernel.pb_decode_ms", best("functions.kernel", "pb_decode")(raws.foreach(PromKernel.decodeWriteRequest)))

    // the receiver alone: same WAL setting, no query, one client
    val port = { val s = new java.net.ServerSocket(0); try s.getLocalPort finally s.close() }
    val r = graft.sources.HttpRemoteWriteSource.receiver(port, "/write", validate = true, walDir = in.walDir)
    val client = new RemoteWriteClient(s"http://127.0.0.1:$port/write")
    val lat = (0 until 1000).map { i =>
      val (tenant, body) = in.bodies(i % in.bodies.size)
      val t0 = System.nanoTime()
      Trace.span("sources.receiver", "probe.alone_post", s"alone-$i") {
        client.post(tenant, body, t0 + 30000000000L)
      }
      if (i % 100 == 99) r.commit(r.latest)
      (System.nanoTime() - t0) / 1e6
    }
    graft.sources.HttpRemoteWriteSource.shutdown(port)
    layers.put("sources.receiver.alone_post_p50_ms", Stats.percentile(lat, 0.5).get)
    layers.put("sources.receiver.alone_post_p99_ms", Stats.percentile(lat, 0.99).get)

    val bodyDf = spark.createDataFrame(
      in.bodies.map { case (t, b) => Row(b, null, t) }.asJava,
      StructType(Seq(StructField("body", BinaryType), StructField("basicAuthUser", StringType),
        StructField("orgIdHeader", StringType))))
    val decoded = PromPipeline.attachTenant(
      PromPipeline.explodeWriteRequest(
        PromPipeline.decodeBody(bodyDf, col("body")).filter(col("timeseries").isNotNull),
        col("timeseries")),
      col("basicAuthUser"), col("orgIdHeader"))
    // the sample columns only, as the produce query's projection keeps them:
    // the body and the decoded request would be copied into every row
    val decodeMs = best("operators.pipeline", "decode_explode") {
      decoded.select("labels", "timestampMs", "value", "tenantId").write.format("noop").mode("overwrite").save()
    }
    val serializeMs = best("operators.pipeline", "decode_explode_serialize") {
      PromPipeline.serialize(decoded, "json").select(col("key"), col("payload"))
        .write.format("noop").mode("overwrite").save()
    }
    layers.put("operators.pipeline.decode_explode_ms", decodeMs)
    layers.put("operators.pipeline.serialize_ms", math.max(0.0, serializeMs - decodeMs))

    val payloadDf = spark.createDataFrame(
      in.payloads.map(p => Row(new String(p, "UTF-8"))).asJava,
      StructType(Seq(StructField("payload", StringType))))
    layers.put("operators.pipeline.deserialize_ms", best("operators.pipeline", "deserialize") {
      PromPipeline.deserialize(payloadDf, 0, col("payload")).filter(col("sample").isNotNull)
        .select("sample.*").write.format("noop").mode("overwrite").save()
    })

    // the run's samples in per-tenant batches of 100, as the batcher cuts them
    val batches = in.samples.groupBy(_.tenant).values.flatMap(_.grouped(100)).map(_.map { s =>
      graft.model.Model.Sample(s.ts, s.value, s.labels.toMap, s.tenant)
    }).toSeq
    layers.put("streaming.sink.encode_ms", best("streaming.sink", "encode") {
      batches.foreach(graft.streaming.RemoteWriteSink.encodeBody)
    })
  }
}
