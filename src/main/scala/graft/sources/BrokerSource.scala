package graft.sources

import java.util
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxRows, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.Flags
import graft.streaming.InMemoryBroker

/** Operator #13: keyed-topic consumer source (the Pulsar KeyShared consumer
  * shape, reference pkg/pulsar/pulsar.go:98-224) as a DSv2 MicroBatchStream.
  *
  * Semantics preserved:
  *   - messages surface as (key, payload) rows in arrival order; per-key
  *     ordering holds because the producer keys by series hash (KeyShared's
  *     guarantee re-expressed as data, not broker topology);
  *   - offsets advance on commit REGARDLESS of payload decodability —
  *     poison messages are decoded to null downstream and filtered, never
  *     replayed ("the payload is immutable, it will not become correct in
  *     the future", pulsar.go:190-201);
  *   - at-least-once: a failed micro-batch leaves offsets uncommitted and
  *     replays (the reference's Nack/redelivery path).
  *
  * Three cursor backends share these semantics: the in-memory topic (same
  * JVM), the file topic (cross-process), and [[BrokerSource.PulsarCursor]]
  * — a reflection-bound KeyShared consumer against the public
  * pulsar-client API (real broker; individually acks on offset commit).
  *
  * Scale posture: the driver tracks OFFSETS, not payloads. The durable
  * file topic keeps only (seqno -> file name) on the driver and ships name
  * ranges to executors, whose [[PartitionReader]]s open the segment files
  * themselves — payload bytes never transit the driver. The in-memory topic
  * is same-JVM by construction (local test stand-in), and the real-broker
  * cursor receives on the driver because the pulsar-client consumer lives
  * there (parity with the reference's single-process consume loop,
  * consume.go:80-94).
  */
object BrokerSource {
  val schema: StructType = StructType(Seq(
    StructField("key", StringType, nullable = true),
    StructField("payload", BinaryType, nullable = false)
  ))

  /** Consumed-but-uncommitted view addressed by dense seqno offsets. */
  sealed abstract class Cursor {
    protected val seq = new AtomicLong(0L)
    /** Pull everything currently available into the offset-addressed buffer. */
    def poll(): Long
    /** Drop (and where the broker needs it, acknowledge) offsets below `until`. */
    def commit(until: Long): Unit
    /** Plan the executor-side partitions for [from, until). `readers > 1`
      * splits the batch into up to that many partitions BY KEY HASH, so
      * decode/transform work parallelizes across tasks while every key
      * stays in one partition in arrival order — the KeyShared contract
      * carried into the task layout.
      */
    def planPartitions(from: Long, until: Long, readers: Int): Array[InputPartition]
    /** Rebase a fresh cursor so new deliveries number from the checkpointed
      * start (no-op unless a backend's seqnos are not stable across
      * restarts — see [[PulsarCursor]]).
      */
    def ensureBase(start: Long): Unit = ()
  }

  /** Cursor whose buffer holds materialized messages on the driver (the
    * in-memory queue — same JVM by definition — and the real-broker
    * consumer, which receives on the driver).
    */
  sealed abstract class MaterializedCursor extends Cursor {
    protected val buf = new java.util.concurrent.ConcurrentSkipListMap[Long, InMemoryBroker.Message]()
    def range(from: Long, until: Long): Array[InMemoryBroker.Message] =
      buf.subMap(from, until).values.toArray(Array.empty[InMemoryBroker.Message])
    override def commit(until: Long): Unit = buf.headMap(until).clear()
    override def planPartitions(from: Long, until: Long,
        readers: Int): Array[InputPartition] = synchronized {
      // A restored in-flight batch is planned BEFORE this incarnation's
      // first scheduled poll: pull whatever the broker has already
      // redelivered so the replay serves it...
      poll()
      val msgs = range(from, until)
      // ...then fence the seqno clock past the window. A planned window is
      // immutable — anything arriving later must number AFTER it. Without
      // the fence, a redelivery landing after planning would be numbered
      // inside [from, until), never served to any batch, yet acked by
      // commit(until): silent data loss under at-least-once.
      seq.getAndUpdate(s => math.max(s, until))
      if (readers <= 1 || msgs.length <= 1) Array(BrokerInputPartition(msgs))
      else msgs.groupBy(m => graft.streaming.FileTopic.keyHash(m.key) % readers)
        .toSeq.sortBy(_._1)
        .map { case (_, ms) => BrokerInputPartition(ms): InputPartition }
        .toArray
    }
  }

  /** In-memory topic (same JVM). */
  final class MemCursor(topic: String) extends MaterializedCursor {
    override def poll(): Long = synchronized {
      var m = InMemoryBroker.topic(topic).poll()
      while (m != null) { buf.put(seq.getAndIncrement(), m); m = InMemoryBroker.topic(topic).poll() }
      seq.get()
    }
  }

  /** File-backed topic directory (cross-process; see
    * graft.streaming.FileTopic). The driver buffers only FILE NAMES — one
    * small string per message; payload bytes are read on executors by
    * [[FileRangePartition]] readers opening the segment files directly.
    * Seqnos are deterministic (lexicographic file order), so a rebuilt
    * cursor lines up with checkpointed offsets after a restart.
    */
  final class FileCursor(dir: String) extends Cursor {
    private val names = new java.util.concurrent.ConcurrentSkipListMap[Long, String]()
    private var lastName = ""
    override def poll(): Long = synchronized {
      graft.streaming.FileTopic.listNamesAfter(dir, lastName).foreach { name =>
        names.put(seq.getAndIncrement(), name)
        lastName = name
      }
      seq.get()
    }
    override def commit(until: Long): Unit = names.headMap(until).clear()
    override def planPartitions(from: Long, until: Long,
        readers: Int): Array[InputPartition] = {
      // A restored in-flight batch is planned before any poll() of this
      // incarnation; seqnos are deterministic (lexicographic file order),
      // so listing here re-fills the replayed window with the same names
      // the previous incarnation planned. (No seqno fence needed: numbering
      // derives from the durable listing, not arrival time.)
      poll()
      val ns = names.subMap(from, until).values.toArray(Array.empty[String])
      // split by key hash only when EVERY name carries the -kh suffix: a
      // legacy name's key is known only inside the file, and guessing a
      // partition for it (e.g. from the name) could separate it from other
      // messages of the same key — the batch stays one partition instead,
      // trading parallelism for the per-key ordering contract
      val hashes = ns.map(graft.streaming.FileTopic.keyHashOf)
      if (readers <= 1 || ns.length <= 1 || hashes.exists(_.isEmpty))
        Array(FileRangePartition(dir, ns))
      else ns.zip(hashes).groupBy { case (_, h) => h.get % readers }
        .toSeq.sortBy(_._1)
        .map { case (_, group) => FileRangePartition(dir, group.map(_._1)): InputPartition }
        .toArray
    }
  }

  /** Real-broker consumer cursor: a KeyShared subscription on a Pulsar
    * topic through the reflection-bound public pulsar-client API (the
    * consume-side twin of [[graft.streaming.PulsarSink.Factory]];
    * reference pkg/pulsar/pulsar.go:98-121 subscribe + :170-224 Receiver).
    * Offsets map to received messages in arrival order; `commit`
    * individually acknowledges the consumed messages (KeyShared forbids
    * cumulative acks), so an uncommitted micro-batch leaves them unacked:
    * the replay serves them from this cursor's buffer, and after a restart
    * the broker redelivers them to the new consumer — the reference's
    * Nack/redelivery path. The cursor lives on the driver (offset
    * management polls there; readers receive materialized message ranges).
    * Fails fast with a clear error when the pulsar-client jar is absent.
    * This is the only real-broker consume path: an executor-side consumer
    * mode was removed on 2026-10-19 (it was never run against a broker, and
    * consume is bounded by the per-tenant batcher, not by the bytes the
    * driver receives).
    *
    * Restart safety: in-memory seqnos start at 0 per incarnation, but a
    * restored checkpoint carries the PREVIOUS incarnation's numbering.
    * [[ensureBase]] rebases a fresh cursor so redelivered unacked messages
    * number from the checkpointed start — without it, `commit` would
    * acknowledge seqnos below the start that were never served to any
    * batch in this run (silent data loss under at-least-once). The second
    * half of that guarantee lives in [[MaterializedCursor.planPartitions]]:
    * a replayed in-flight batch polls at planning time (serving anything
    * already redelivered) and then fences the seqno clock past its window,
    * so a redelivery arriving later is numbered AFTER the window, served by
    * a subsequent batch, and acked only then.
    */
  class PulsarCursor(cfg: graft.streaming.PulsarSink.Config,
      subscription: String) extends MaterializedCursor {
    import graft.streaming.PulsarSink.call
    private val mids = new java.util.concurrent.ConcurrentSkipListMap[Long, AnyRef]()
    private var served = false
    private var rebased = false

    /** Overridable seam: tests inject a fake consumer (same method shape);
      * production builds the KeyShared subscription by reflection (shared
      * builder — consume.go:42-43's subscription name; KeyShared preserves
      * per-key order across parallel consumers, pulsar.go:109-111). The
      * client deliberately does NOT set operationTimeout: the reference
      * leaves OperationTimeout unset on the consume path (`--send-timeout`
      * there bounds only the remote_write POST, consume.go:40-41).
      */
    protected def newConsumer(): AnyRef =
      graft.streaming.PulsarSink.buildKeySharedConsumer(cfg, subscription)

    private lazy val consumer: AnyRef = newConsumer()

    override def range(from: Long, until: Long): Array[InMemoryBroker.Message] =
      synchronized { served = true; super.range(from, until) }

    override def ensureBase(start: Long): Unit = synchronized {
      // one-shot rebase on the FIRST restored offset: the checkpointed
      // start becomes this incarnation's zero, so redelivered unacked
      // messages line up with the restored numbering. Entries polled
      // before the start was known (Trigger.AvailableNow polls during
      // query initialization) are shifted up — they were numbered from 0
      // and nothing was served or committed yet.
      if (!rebased) {
        rebased = true
        if (start > 0 && !served) {
          val bufOld = new java.util.TreeMap(buf)
          buf.clear()
          bufOld.forEach((k, v) => { buf.put(k + start, v); () })
          val midsOld = new java.util.TreeMap(mids)
          mids.clear()
          midsOld.forEach((k, v) => { mids.put(k + start, v); () })
          seq.addAndGet(start)
          ()
        }
      }
    }

    override def poll(): Long = synchronized {
      var m = call(consumer, "receive",
        classOf[Int] -> Int.box(0),
        classOf[java.util.concurrent.TimeUnit] -> java.util.concurrent.TimeUnit.MILLISECONDS)
      while (m != null) {
        val s = seq.getAndIncrement()
        buf.put(s, InMemoryBroker.Message(
          call(m, "getKey").asInstanceOf[String],
          call(m, "getData").asInstanceOf[Array[Byte]]))
        mids.put(s, call(m, "getMessageId"))
        m = call(consumer, "receive",
          classOf[Int] -> Int.box(0),
          classOf[java.util.concurrent.TimeUnit] -> java.util.concurrent.TimeUnit.MILLISECONDS)
      }
      seq.get()
    }

    override def commit(until: Long): Unit = synchronized {
      served = true
      // acks only ever touch mids entries — i.e. messages actually received
      // by THIS incarnation (post-rebase numbering), never bare offsets
      val acked = mids.headMap(until)
      if (!acked.isEmpty) {
        graft.streaming.PulsarSink.ackMessageIds(consumer,
          scala.jdk.CollectionConverters.CollectionHasAsScala(acked.values).asScala.toSeq)
        acked.clear()
      }
      super.commit(until)
    }
  }

  /** The consume source's settings, one per consume flag, each default
    * written once in [[Config.from]].
    *
    * @param pulsar the topic for every backend (`--pulsar.topic`, alias
    * `--topic`), and the real broker when its url is set.
    * @param dir `--topic-dir`: the durable file topic; empty = the
    * in-memory topic.
    * @param subscription `--pulsar.subscription` (consume.go:42-43):
    * consumers sharing the name split the topic, a new name replays it.
    * @param readers split each batch into up to this many partitions by key
    * hash — decode parallelizes across tasks, every key stays in one
    * partition in arrival order. Default: the session's default
    * parallelism.
    * @param maxRecords option `maxRecordsPerTrigger`, not a CLI flag: rate
    * limit per micro-batch (0 = unbounded) — the `maxOffsetsPerTrigger`
    * analog.
    */
  final case class Config(pulsar: graft.streaming.PulsarSink.Config,
      dir: String, subscription: String, readers: Int, maxRecords: Long) {
    def topic: String = pulsar.topic
    def realBroker: Boolean = pulsar.url.nonEmpty
    /** The topic this config reads: broker url and topic, file dir, or name. */
    def where: String =
      if (realBroker) s"pulsar:${pulsar.url}/$topic" else if (dir.isEmpty) topic else dir
  }

  object Config {
    def from(f: Flags): Config =
      Config(graft.streaming.PulsarSink.Config.from(f),
        dir = f.str("topic-dir", ""),
        subscription = f.str("pulsar.subscription", "pulsar-adapter"),
        readers = f.int("readers",
          org.apache.spark.sql.SparkSession.active.sparkContext.defaultParallelism),
        maxRecords = f.option("maxRecordsPerTrigger").fold(0L)(_.toLong))
  }

  private val cursors = new ConcurrentHashMap[String, Cursor]()

  /** One cursor per (subscription, topic): consumers SHARING a subscription
    * name share one cursor (each message delivered once across them — the
    * KeyShared contract consume.go's flag help spells out), while a DIFFERENT
    * subscription name gets an independent cursor with its own offsets. For
    * the durable file topic a new subscription replays the topic from the
    * start (Pulsar's earliest-position semantics); the in-memory queue is
    * consume-once, so independent subscriptions there only split arrivals —
    * use the file topic when more than one subscription must see all data.
    */
  def cursor(cfg: Config): Cursor = {
    import cfg._
    cursors.computeIfAbsent(
      if (realBroker) s"pulsar:${pulsar.url}:$topic:$subscription"
      else if (dir.isEmpty) s"mem:$topic:$subscription"
      else s"file:$dir:$subscription",
      _ =>
        if (realBroker) new PulsarCursor(pulsar, subscription)
        else if (dir.isEmpty) new MemCursor(topic)
        else new FileCursor(dir))
  }

  /** Test hook: drop all in-JVM cursor state, simulating a process restart.
    * FileCursor seqnos are deterministic (lexicographic file order), so a
    * rebuilt cursor lines up with checkpointed offsets — the property the
    * recovery E2E pins.
    */
  private[graft] def resetCursors(): Unit = cursors.clear()
}

/** DataSource V2 provider; its options are the consume command's flags. */
class BrokerSourceProvider extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = BrokerSource.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new BrokerTable(BrokerSource.Config.from(Flags(properties)))
}

class BrokerTable(cfg: BrokerSource.Config) extends Table with SupportsRead {
  override def name(): String = s"broker:${cfg.where}@${cfg.subscription}"
  override def schema(): StructType = BrokerSource.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = BrokerSource.schema
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new BrokerStream(cfg)
      }
    }
}

final case class BrokerOffset(seq: Long) extends Offset {
  override def json(): String = seq.toString
}

/** The consume query's stream over one [[BrokerSource.Config]]. */
class BrokerStream(cfg: BrokerSource.Config)
  extends MicroBatchStream with SupportsAdmissionControl with SupportsTriggerAvailableNow {
  import cfg._
  private lazy val cursor = BrokerSource.cursor(cfg)
  // Trigger.AvailableNow pins the end offset at the first planned batch;
  // batches then step toward it under the read limit and the query stops
  // there. The pin happens INSIDE latestOffset(start, _) — after
  // ensureBase — so a restored PulsarCursor's rebase can't strand the
  // target in pre-rebase numbering.
  @volatile private var availableNowRequested = false
  @volatile private var availableNowTarget: java.lang.Long = null

  override def initialOffset(): Offset = BrokerOffset(0L)
  override def latestOffset(): Offset = BrokerOffset(cursor.poll())

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowRequested = true

  override def getDefaultReadLimit: ReadLimit =
    if (maxRecords > 0) ReadLimit.maxRows(maxRecords) else ReadLimit.allAvailable()

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[BrokerOffset].seq
    cursor.ensureBase(s)
    val polled = cursor.poll()
    if (availableNowRequested && availableNowTarget == null)
      availableNowTarget = polled
    val avail = if (availableNowTarget != null) math.min(availableNowTarget, polled) else polled
    limit match {
      // seqnos are dense, so an offset cap IS a row cap
      case r: ReadMaxRows => BrokerOffset(math.min(avail, s + r.maxRows()))
      case _ => BrokerOffset(avail)
    }
  }

  override def reportLatestOffset(): Offset = BrokerOffset(cursor.poll())
  override def deserializeOffset(json: String): Offset = BrokerOffset(json.toLong)
  override def commit(end: Offset): Unit = cursor.commit(end.asInstanceOf[BrokerOffset].seq)
  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[BrokerOffset].seq
    val e = end.asInstanceOf[BrokerOffset].seq
    cursor.ensureBase(s)
    if (e <= s) Array.empty else cursor.planPartitions(s, e, readers)
  }

  override def createReaderFactory(): PartitionReaderFactory =
    (partition: InputPartition) => partition match {
      case BrokerInputPartition(msgs) => new PartitionReader[InternalRow] {
        private var i = -1
        override def next(): Boolean = { i += 1; i < msgs.length }
        override def get(): InternalRow = {
          val m = msgs(i)
          InternalRow(
            if (m.key == null) null else UTF8String.fromString(m.key),
            m.payload)
        }
        override def close(): Unit = ()
      }
      // executor-side segment reads: only file names crossed the driver
      case FileRangePartition(d, names) => new PartitionReader[InternalRow] {
        private var i = -1
        private var row: InternalRow = _
        override def next(): Boolean = {
          i += 1
          if (i >= names.length) false
          else {
            val (k, payload) = graft.streaming.FileTopic.read(d, names(i))
            row = InternalRow(
              if (k == null) null else UTF8String.fromString(k), payload)
            true
          }
        }
        override def get(): InternalRow = row
        override def close(): Unit = ()
      }
      case other => throw new IllegalArgumentException(
        s"unexpected partition type ${other.getClass.getName}")
    }
}

final case class BrokerInputPartition(msgs: Array[InMemoryBroker.Message])
    extends InputPartition

/** File-topic partition: the driver ships names; executors read payloads. */
final case class FileRangePartition(dir: String, names: Array[String])
    extends InputPartition
