package graft.bench

import java.util.concurrent.{ConcurrentLinkedQueue, LinkedBlockingQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import graft.streaming.InMemoryBroker
import Wire.Sample

/** What one timed region measured. Times are nanoTime readings. */
final case class Measured(
    samples: Long,          // samples that reached the workload's far end in the window
    firstNs: Long,          // the rate window opens: the timed load starts being worked on
    lastNs: Long,           // the last sample landed (in the topic or downstream)
    latencyMs: Seq[Double], // the workload's user-facing latency, one per operation
    postMs: Seq[Double],    // remote_write POST latency as the client sees it
    postsAttempted: Long,
    postsFailed: Long,
    genLateMs: Seq[Double]) { // how late an open-loop generator sent, per send
  def samplesPerS: Double = samples / ((lastNs - firstNs) / 1e9)
}

/** One workload: set the CLI up, generate load, drive it, check outputs. */
abstract class Workload(val o: Opts) {
  val tenantProbe = "bench-setup"
  val rnd = new java.util.Random(o.seed)
  protected val appThreads = ArrayBuffer.empty[Thread]

  /** Runs `graft.App.main(args)` the way an operator starts the CLI. */
  protected def startApp(args: String*): Unit = {
    val t = new Thread(() => graft.App.main(args.toArray), s"graft-app-${args.head}")
    t.setDaemon(true)
    t.start()
    appThreads += t
  }

  /** Calls App.main and returns once the bridge is ready. */
  def setup(): Unit
  /** Makes every input of the timed region. */
  def generate(): Unit
  /** Drives the timed region. */
  def run(): Unit
  /** What the timed region measured. It reads the spooled outputs back, so
    * it runs once the peak RSS is taken and the queries have stopped.
    */
  def measured(): Measured
  /** The output check. */
  def check(m: Measured): CheckResult
  /** Bodies, payloads and samples the per-layer probes replay. */
  def probeInput: ProbeInput

  def stop(): Unit = {
    org.apache.spark.sql.SparkSession.active.streams.active.foreach(_.stop())
    appThreads.foreach(_.join(30000L))
  }

  protected def waitFor(timeoutMs: Long)(cond: => Boolean): Boolean = {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    while (!cond && System.nanoTime() < deadline) Thread.sleep(5)
    cond
  }

  protected def freePort(): Int = {
    val s = new java.net.ServerSocket(0)
    try s.getLocalPort finally s.close()
  }

  /** A topic message as the produce query would publish it. */
  protected def message(s: Sample): InMemoryBroker.Message =
    InMemoryBroker.Message(Wire.seriesKey(s.labels, s.tenant, Gen.Replica), Wire.jsonPayload(s))

  /** A full batch of the probe tenant, placed in the topic before a consume
    * query starts: its first trigger flushes it on size and is then ready.
    */
  protected def consumeReadyBatch(topic: String, batchSize: Int): Seq[Sample] = {
    val batch = (0 until batchSize).map { i =>
      Sample(tenantProbe, Array("__name__" -> "bench_ready", "job" -> "bridgebench"), i.toDouble,
        Gen.BaseMs - 10000000L + i)
    }
    batch.foreach(s => InMemoryBroker.topic(topic).add(message(s)))
    batch
  }

  /** A one-sample request for the readiness probe. */
  protected def probeRequest(ts: Long): Gen.Request =
    Gen.request(new java.util.Random(o.seed ^ 0x5eed), tenantProbe,
      Seq(Array("__name__" -> "bench_ready", "job" -> "bridgebench")), 1, ts, 1L)

  /** POSTs the probe until the receiver answers 200; fails after 120 s. */
  protected def awaitReceiver(client: RemoteWriteClient, probe: Gen.Request): Unit = {
    val deadline = System.nanoTime() + 120L * 1000000000L
    while (client.tryOnce(probe.tenant, probe.body) != 200) {
      if (System.nanoTime() > deadline) throw new IllegalStateException("receiver never answered 200")
      Thread.sleep(20)
    }
  }

  /** Waits until `query`'s triggers since `sinceNs` have read `rows` input
    * rows, so the last batch has committed before the queries stop.
    */
  protected def settle(query: String, sinceNs: Long, rows: Long): Unit =
    waitFor(30000L)(PhaseListener.rows(query, sinceNs) >= rows)

  /** Waits for the first trigger of `query` that read data. (Spark reports
    * idle triggers only every `noDataProgressEventInterval`, 10 s.)
    */
  protected def awaitFirstProgress(query: String): Unit =
    if (!waitFor(120000L)(PhaseListener.of(query).exists(_.rows > 0)))
      throw new IllegalStateException(s"no $query trigger progress within 120 s")

  /** Closed-loop or scheduled senders share this: POST and time it. */
  protected def postOnce(client: RemoteWriteClient, req: Gen.Request, traceId: String,
      deadlineNs: Long): (Boolean, Long, Long) = {
    val t0 = System.nanoTime()
    val ok = client.post(req.tenant, req.body, deadlineNs)
    val t1 = System.nanoTime()
    Trace.record("sources.receiver", "post", traceId, t0, t1)
    (ok, t0, t1)
  }
}

final case class CheckResult(attempted: Long, failed: Long, diff: Check.Diff,
    replicaSplits: Int, violations: Seq[String], delivered: Seq[Delivered])

/** One downstream POST after decoding. */
final case class Delivered(arrivalNs: Long, tenant: String, samples: Seq[Sample], bytes: Int)

/** What the per-layer probes replay: about [[ProbeInput.Samples]] samples
  * worth of the run's bodies, payloads and samples.
  */
final case class ProbeInput(bodies: Seq[(String, Array[Byte])], payloads: Seq[Array[Byte]],
    samples: Seq[Sample], walDir: String)

object ProbeInput {
  val Samples = 50000
}

/** Checks of the consume direction shared by the two workloads that have one. */
trait Downstream { self: Workload =>
  def endpoint: Endpoint
  def batchSize: Int
  def maxDelayMs: Long
  /** When the sample with timestamp `ts` was due to be sent. */
  def dueNs(ts: Long): Long

  lazy val delivered: Seq[Delivered] = endpoint.all.map { d =>
    Delivered(d.arrivalNs, d.tenant, Check.samplesOf(d.tenant, d.series), d.body.length)
  }

  /** Each POST of the timed region with its delay past the batching contract. */
  def fresh(startNs: Long): Seq[(Delivered, Double)] =
    delivered.filter(_.arrivalNs >= startNs).map { d =>
      d -> Stats.freshMs(d.arrivalNs / 1e6, d.samples.map(s => dueNs(s.ts) / 1e6), batchSize, maxDelayMs)
    }

  def checkDownstream(expected: Array[Long], posts: Long, postsFailed: Long): CheckResult = {
    val ds = endpoint.all
    val violations = ds.map(d => Check.postViolations(d.tenant, d.series, batchSize))
    val got = delivered
    val diff = Check.diff(expected, got.flatMap(_.samples.map(Check.fingerprint)).toArray)
    // every delivered POST is checked, and every unexpected sample is an
    // operation that went wrong, so both count as attempted too
    val failed = postsFailed + diff.missing + diff.unexpected + violations.count(_.nonEmpty)
    CheckResult(posts + expected.length + diff.unexpected + ds.size, failed, diff, 0,
      violations.flatten.take(20), got)
  }
}

/** Prometheus catching up after an outage: a closed loop of 4 shards sends a
  * fixed backlog of 2,000-sample requests over 8 tenants, no WAL. Load lands
  * in the topic only. The backlog is fixed rather than the sending time:
  * without a WAL the receiver answers 200 once a body is buffered, so a
  * time-bound closed loop would pile up minutes of unpublished backlog.
  * The backlog is sent as bursts, each while the trigger that publishes the
  * one before it runs, so every trigger takes one whole burst and the
  * produce query never idles. Three untimed bursts warm the path and line
  * the triggers up. The rate counts the timed samples over the span of their
  * triggers; the latency of a request runs from its POST until its last
  * sample is in the topic.
  */
final class ProduceBurst(o: Opts) extends Workload(o) {
  val topic = "bench-produce"
  val port = freePort()
  val client = new RemoteWriteClient(s"http://127.0.0.1:$port/write")
  val probe = probeRequest(Gen.BaseMs - 1)
  /** Timed bursts, after [[Warm]] untimed ones. Ten short triggers rather
    * than five long ones: a trigger's time varies by about 20% on its own,
    * and the rate averages over them.
    */
  val Bursts = 10
  val Warm = 3
  /** Requests per burst: a tenth of `--seconds` at the seed's publish rate
    * of about 30 requests/s, and at least 20, so the timed bursts hold the
    * 200 requests a p95 needs.
    */
  def burstSize: Int = math.max(20, 30 * o.seconds / Bursts)
  /** Timestamps of request `r` start here, 75 s apart (5 points, 15 s step). */
  def firstTs(r: Int): Long = Gen.BaseMs + r * 75000L
  var pool: Array[Gen.Request] = _
  private val failed = new AtomicLong(0L)
  var accepted: java.util.concurrent.atomic.AtomicIntegerArray = _
  var postNs: Array[Long] = _
  private val postMs = new ConcurrentLinkedQueue[Double]()
  // the benchmark drains the in-memory topic as a consumer would, and
  // spools what it reads with the time it read it
  private val published = new Spool("topic")
  val publishedCount = new AtomicLong(0L)
  val publishedBytes = new AtomicLong(0L)
  @volatile var lastPublishNs = 0L
  @volatile private var tapping = true
  private val tap = new Thread(() => {
    val q = InMemoryBroker.topic(topic)
    while (tapping) {
      var m = q.poll()
      if (m == null) Thread.sleep(1)
      while (m != null) {
        val now = System.nanoTime()
        published.write(now, m.key, m.payload)
        publishedBytes.addAndGet(m.payload.length.toLong); lastPublishNs = now
        publishedCount.incrementAndGet()
        m = q.poll()
      }
    }
  }, "bench-topic-tap")
  private var lastNs = 0L
  /** Published messages, parsed once the timed region is over. */
  private var parsed: Seq[(String, Sample, Long)] = Nil
  private var unparsable = 0L

  def setup(): Unit = {
    tap.setDaemon(true); tap.start()
    startApp("produce", "--web.listen-port", port.toString, "--topic", topic)
    awaitReceiver(client, probe)
  }

  def generate(): Unit = {
    val tenants = (0 until 8).map(i => s"tenant-$i")
    val pools = tenants.map(t => t -> Gen.seriesPool(rnd, t, 1200)).toMap
    pool = Array.tabulate((Warm + Bursts) * burstSize) { r =>
      val t = tenants(r % tenants.size)
      Gen.request(rnd, t, Gen.pick(rnd, pools(t), 400), 5, firstTs(r), 15000L)
    }
    accepted = new java.util.concurrent.atomic.AtomicIntegerArray(pool.length)
    postNs = new Array[Long](pool.length)
    pool.foreach(_.fingerprints)
    waitFor(60000L)(publishedCount.get() >= probe.samples.length)
  }

  private def acceptedSamples(idx: Seq[Int]): Long =
    idx.filter(accepted.get(_) == 1).map(pool(_).samples.length.toLong).sum

  /** One burst: the closed loop of 4 shards, each sending its share of
    * `idx` in turn.
    */
  private def burst(idx: IndexedSeq[Int], deadline: Long): Unit = {
    val shards = (0 until 4).map { shard =>
      val t = new Thread(() => {
        (shard until idx.length by 4).map(idx).foreach { b =>
          val (ok, sent, done) = postOnce(client, pool(b), s"req-$b", deadline)
          postNs(b) = sent
          if (ok) { accepted.set(b, 1); postMs.add((done - sent) / 1e6) } else failed.incrementAndGet()
        }
      }, s"bench-shard-$shard")
      t.start(); t
    }
    shards.foreach(_.join())
  }

  private def bursts: Seq[IndexedSeq[Int]] = pool.indices.grouped(burstSize).toSeq

  def run(): Unit = {
    val start = System.nanoTime()
    val deadline = start + (o.seconds + 60L) * 1000000000L
    bursts.indices.foreach { k =>
      burst(bursts(k), deadline)
      if (k == Warm - 1) postMs.clear()
      // the next burst goes out once this one's trigger is publishing
      val before = probe.samples.length + acceptedSamples(bursts.take(k).flatten)
      waitFor(60000L)(publishedCount.get() > before)
    }
    waitFor(120000L)(publishedCount.get() >= probe.samples.length + acceptedSamples(pool.indices))
    lastNs = lastPublishNs
    settle("produce", start, pool.indices.count(accepted.get(_) == 1).toLong)
  }

  def measured(): Measured = {
    tapping = false; tap.join()
    parsed = published.read().flatMap { r =>
      try Some((r.key, Wire.parseJsonPayload(r.bytes), r.ns))
      catch { case _: Exception => unparsable += 1; None }
    }.toVector
    // a request is published when its last sample is in the topic
    val done = new Array[Long](pool.length)
    parsed.foreach { case (_, s, ns) =>
      val r = if (s.ts < Gen.BaseMs) 0 else ((s.ts - Gen.BaseMs) / 75000L).toInt
      if (r < done.length) done(r) = math.max(done(r), ns)
    }
    // the first timed trigger starts when the last warm sample is published
    val warmLastNs = done.take(Warm * burstSize).max
    val timed = bursts.drop(Warm).flatten
    val latencies = timed.filter(accepted.get(_) == 1).map(r => (done(r) - postNs(r)) / 1e6)
    Measured(acceptedSamples(timed), warmLastNs, lastNs, latencies, postMs.asScala.toSeq,
      pool.length.toLong, failed.get(), Nil)
  }

  def check(m: Measured): CheckResult = {
    val expected = probe.fingerprints ++
      pool.indices.filter(accepted.get(_) == 1).flatMap(pool(_).fingerprints)
    val diff = Check.diff(expected, parsed.map(p => Check.fingerprint(p._2)).toArray)
    val splits = Check.replicaSplits(parsed.iterator.map(p => p._1 -> p._2), Gen.Replica)
    parsed = Nil // the probes that may follow need the heap
    // each published message is checked (parsed, matched, keyed), so the
    // unexpected and unparsable ones count as attempted too
    val failed = m.postsFailed + diff.missing + diff.unexpected + splits + unparsable
    CheckResult(m.postsAttempted + expected.length + diff.unexpected + splits + unparsable, failed, diff, splits,
      if (unparsable > 0) Seq(s"$unparsable unparsable payloads") else Nil, Nil)
  }

  def probeInput: ProbeInput = ProbeInput(
    pool.toSeq.take(ProbeInput.Samples / 2000).map(r => r.tenant -> r.body),
    published.read().take(ProbeInput.Samples).map(_.bytes).toVector,
    pool.iterator.flatMap(_.samples).take(ProbeInput.Samples).toSeq, "")
}

/** A consumer that always has work: 50 uniform tenants, batch size 100. The
  * benchmark appends chunks of 5,000 samples so that each trigger reads
  * exactly one and the next is already waiting when it ends. A trigger fixes
  * its input when it starts; anything appended later waits for the next one.
  * So chunk `c` is appended [[AppendDelayMs]] after the trigger that read
  * chunk `c - 2` reported progress: by then the trigger reading `c - 1` has
  * started, and it runs far longer than the delay. (Appending whenever the
  * topic is empty, or only after the last chunk is processed, made triggers
  * of 1 to 4 chunks, or idle no-data triggers between chunks.) [[Warm]]
  * untimed chunks warm the path; the rate counts the timed samples over the
  * span from the first timed append to the last delivery. The receiver and
  * the WAL are bypassed.
  */
final class ConsumeDrain(o: Opts) extends Workload(o) with Downstream {
  val topic = "bench-consume"
  val endpoint = new Endpoint
  val batchSize = 100
  val maxDelayMs = 5000L
  val tenants = (0 until 50).map(i => f"tenant-$i%02d")
  /** A chunk is one full batch per tenant, so a repetition of whole chunks
    * ends with every tenant's buffer empty: no flush waits on the deadline.
    */
  val chunk = tenants.size * batchSize
  val Warm = 6
  val AppendDelayMs = 100L
  var chunks: Array[Array[InMemoryBroker.Message]] = _
  var samples: Array[Sample] = _
  /** When each chunk was appended. */
  var appendNs: Array[Long] = _
  private var readyBatch = Seq.empty[Sample]

  def setup(): Unit = {
    readyBatch = consumeReadyBatch(topic, batchSize)
    startApp("consume", "--topic", topic, "--remote-write.url", endpoint.url)
    awaitFirstProgress("consume")
  }

  /** Timed chunks: `--seconds` at the seed's rate of about 5,500 samples/s
    * (one 5,000-sample trigger in 0.9 s).
    */
  def timedChunks: Int = math.max(2, 5500 * o.seconds / chunk)

  def generate(): Unit = {
    val pools = tenants.map(t => t -> Gen.seriesPool(rnd, t, 200)).toMap
    // every tenant gets the same share, in shuffled order, so chunks leave
    // per-tenant remainders in the batcher's state, and the last chunk
    // empties every buffer
    val n = (Warm + timedChunks) * chunk
    val order = new java.util.ArrayList[String]((0 until n).map(i => tenants(i % tenants.size)).asJava)
    java.util.Collections.shuffle(order, rnd)
    samples = order.asScala.zipWithIndex.map { case (t, g) =>
      val p = pools(t)
      Sample(t, p(rnd.nextInt(p.length)), Gen.value(rnd), Gen.BaseMs + (g / chunk) * 10000L + g % chunk)
    }.toArray
    chunks = samples.map(message).grouped(chunk).toArray
    appendNs = new Array[Long](chunks.length)
  }

  /** When a sample was appended, from its timestamp. */
  def dueNs(ts: Long): Long =
    if (ts < Gen.BaseMs) 0L else appendNs(((ts - Gen.BaseMs) / 10000L).toInt)

  private var lastNs = 0L

  def run(): Unit = {
    val q = InMemoryBroker.topic(topic)
    val start = System.nanoTime()
    val before = endpoint.samples.get()
    chunks.indices.foreach { c =>
      if (c == 1) waitFor(60000L)(q.isEmpty)
      if (c >= 2) waitFor(60000L)(PhaseListener.rows("consume", start) >= (c - 1).toLong * chunk)
      if (c >= 1) Thread.sleep(AppendDelayMs)
      appendNs(c) = System.nanoTime()
      Trace.span("streaming.broker", "append", s"chunk-$c")(q.addAll(chunks(c).toSeq.asJava))
    }
    waitFor(60000L)(endpoint.samples.get() - before >= samples.length)
    lastNs = endpoint.lastArrivalNs.get()
    settle("consume", start, samples.length.toLong)
  }

  def measured(): Measured = {
    val timedTs = Gen.BaseMs + Warm * 10000L
    val timed = fresh(appendNs(Warm)).filter(_._1.samples.exists(_.ts >= timedTs))
    Measured(delivered.iterator.flatMap(_.samples).count(_.ts >= timedTs).toLong, appendNs(Warm), lastNs,
      timed.map(_._2), Nil, 0L, 0L, Nil)
  }

  def check(m: Measured): CheckResult =
    checkDownstream((readyBatch ++ samples).map(Check.fingerprint).toArray, 0L, 0L)

  def probeInput: ProbeInput = ProbeInput(
    endpoint.all.take(ProbeInput.Samples / batchSize).map(d => d.tenant -> d.body),
    chunks.iterator.flatten.map(_.payload).take(ProbeInput.Samples).toSeq,
    samples.take(ProbeInput.Samples).toSeq, "")
}

/** The steady production shape: `produce --wal-dir` and `consume` in one JVM,
  * an open loop at a fixed rate of 500-sample requests over 4 connections,
  * 50 Zipf-skewed tenants, so size and deadline flushes both occur. The loop
  * runs [[WarmS]] seconds before the timed `--seconds`, so the timed
  * triggers find both queries compiled and in their steady state.
  */
final class RoundtripWal(o: Opts) extends Workload(o) with Downstream {
  val topic = "bench-roundtrip"
  val endpoint = new Endpoint
  val port = freePort()
  val client = new RemoteWriteClient(s"http://127.0.0.1:$port/write")
  // a fresh WAL per run: records left by an earlier run would replay here
  val walDir = java.nio.file.Files.createTempDirectory("wal").toString
  val batchSize = 100
  val maxDelayMs = 1000L
  /** Requests per second, 500 samples each on average: well below what the
    * consume query drains alone. Each consume trigger reads what arrived
    * during the one before, so the higher the rate, the more a slow trigger
    * slows the next, and the more latency swings with host load.
    */
  val reqRate = 4
  val WarmS = 4
  /** Request `r` is due `r / reqRate` s after the loop starts; the first
    * `warm` are untimed.
    */
  def warm: Int = WarmS * reqRate
  val probe = probeRequest(Gen.BaseMs - 1)
  var reqs: Array[Gen.Request] = _
  var startNs = 0L
  private var readyBatch = Seq.empty[Sample]

  def setup(): Unit = {
    readyBatch = consumeReadyBatch(topic, batchSize)
    startApp("produce", "--web.listen-port", port.toString, "--topic", topic, "--wal-dir", walDir)
    startApp("consume", "--topic", topic, "--remote-write.url", endpoint.url,
      "--batch-max-delay-ms", maxDelayMs.toString)
    awaitReceiver(client, probe)
    awaitFirstProgress("consume")
  }

  def generate(): Unit = {
    val tenants = (0 until 50).map(i => f"tenant-$i%02d")
    val pools = tenants.map(t => t -> Gen.seriesPool(rnd, t, 300)).toMap
    val cdf = Gen.zipfCdf(tenants.size, 1.1)
    // 90..110 series of 5 points: requests of 450..550 samples, so flushes
    // leave remainders and small tenants flush on the deadline
    reqs = Array.tabulate(warm + reqRate * o.seconds) { r =>
      val t = tenants(Gen.draw(rnd, cdf))
      Gen.request(rnd, t, Gen.pick(rnd, pools(t), 90 + rnd.nextInt(21)), 5, Gen.BaseMs + r * 1000L, 1L)
    }
    reqs.foreach(_.fingerprints)
    waitFor(60000L)(endpoint.samples.get() >= readyBatch.size + probe.samples.length)
  }

  /** When a sample's request was due, from its timestamp. */
  def dueNs(ts: Long): Long =
    if (ts < Gen.BaseMs) 0L else startNs + (ts - Gen.BaseMs) / 1000 * (1000000000L / reqRate)
  private def timedStartNs: Long = dueNs(Gen.BaseMs + warm * 1000L)

  private val ok = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Boolean]()
  private val lat = new ConcurrentLinkedQueue[Double]()
  private val late = new ConcurrentLinkedQueue[Double]()
  private val failed = new AtomicLong(0L)
  private var lastNs = 0L

  def run(): Unit = {
    val queue = new LinkedBlockingQueue[Integer]()
    startNs = System.nanoTime()
    val deadline = startNs + (WarmS + o.seconds + 30L) * 1000000000L
    val senders = (0 until 4).map { i =>
      val t = new Thread(() => {
        var r = queue.take().intValue
        while (r >= 0) {
          val due = dueNs(Gen.BaseMs + r * 1000L)
          if (r >= warm) late.add((System.nanoTime() - due) / 1e6)
          val (accepted, _, t1) = postOnce(client, reqs(r), s"req-$r", deadline)
          if (!accepted) failed.incrementAndGet()
          else {
            ok.put(r, true)
            if (r >= warm) lat.add((t1 - due) / 1e6)
          }
          r = queue.take().intValue
        }
      }, s"bench-sender-$i")
      t.start(); t
    }
    reqs.indices.foreach { r =>
      val due = dueNs(Gen.BaseMs + r * 1000L)
      while (System.nanoTime() < due) java.util.concurrent.locks.LockSupport.parkNanos(200000L)
      queue.put(r)
    }
    senders.foreach(_ => queue.put(-1))
    senders.foreach(_.join())
    waitFor(maxDelayMs + 30000L)(endpoint.samples.get() >= expectedSamples)
    lastNs = endpoint.lastArrivalNs.get()
    settle("produce", startNs, ok.size.toLong)
    settle("consume", startNs, expectedSamples - readyBatch.size - probe.samples.length)
  }

  private def accepted: Seq[Int] = ok.keySet.asScala.toSeq.map(_.intValue).sorted
  private def expectedSamples: Long =
    readyBatch.size + probe.samples.length + accepted.map(r => reqs(r).samples.length.toLong).sum

  /** The POSTs that carry a timed sample, with their delay past the contract;
    * the rate counts timed samples from the first timed due time.
    */
  def measured(): Measured = {
    val timedTs = Gen.BaseMs + warm * 1000L
    val timed = fresh(timedStartNs).filter(_._1.samples.exists(_.ts >= timedTs))
    Measured(delivered.iterator.flatMap(_.samples).count(_.ts >= timedTs).toLong, timedStartNs, lastNs,
      timed.map(_._2), lat.asScala.toSeq, reqs.length.toLong, failed.get(), late.asScala.toSeq)
  }

  def check(m: Measured): CheckResult = {
    val expected = readyBatch.map(Check.fingerprint) ++ probe.fingerprints ++ accepted.flatMap(reqs(_).fingerprints)
    checkDownstream(expected.toArray, m.postsAttempted, m.postsFailed)
  }

  def probeInput: ProbeInput = ProbeInput(
    reqs.toSeq.take(ProbeInput.Samples / 500).map(r => r.tenant -> r.body),
    reqs.iterator.flatMap(_.samples).take(ProbeInput.Samples).map(Wire.jsonPayload).toSeq,
    reqs.iterator.flatMap(_.samples).take(ProbeInput.Samples).toSeq,
    java.nio.file.Files.createTempDirectory("wal-alone").toString)
}
