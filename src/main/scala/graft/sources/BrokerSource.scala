package graft.sources

import java.util
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.reflect.ClassTag

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{Table, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.PartitionReader
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.Flags
import graft.streaming.InMemoryBroker

/** Operator #13: keyed-topic consumer source (the Pulsar KeyShared consumer
  * shape, reference pkg/pulsar/pulsar.go:98-224), served through
  * [[SeqStream]] like the receiver.
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
  sealed abstract class Cursor extends SeqCursor {
    protected val seq = new AtomicLong(0L)
    /** Pull everything currently available into the offset-addressed buffer. */
    def poll(): Long
    override def latest: Long = poll()
  }

  /** Splits a batch into at most `width` groups by key hash, so decode and
    * transform work parallelizes across tasks while every key stays in one
    * group in arrival order — the KeyShared contract carried into the task
    * layout. A batch holding any record whose hash is unknown stays one
    * group: guessing that record's group could separate it from other
    * records of its key.
    */
  private[sources] def splitByKey[T: ClassTag](batch: Array[T], width: Int)(
      hash: T => Option[Int]): Array[Array[T]] = {
    val hashes = batch.map(hash)
    if (width <= 1 || batch.length <= 1 || hashes.exists(_.isEmpty)) Array(batch)
    else batch.indices.toArray.groupBy(i => hashes(i).get % width)
      .toArray.sortBy(_._1).map(_._2.map(batch(_)))
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
    override def plan(from: Long, until: Long, width: Int): Array[SeqPartition] = synchronized {
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
      splitByKey(msgs, width)(m => Some(graft.streaming.FileTopic.keyHash(m.key)))
        .map(BrokerInputPartition(_))
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
    override def plan(from: Long, until: Long, width: Int): Array[SeqPartition] = {
      // A restored in-flight batch is planned before any poll() of this
      // incarnation; seqnos are deterministic (lexicographic file order),
      // so listing here re-fills the replayed window with the same names
      // the previous incarnation planned. (No seqno fence needed: numbering
      // derives from the durable listing, not arrival time.)
      poll()
      val ns = names.subMap(from, until).values.toArray(Array.empty[String])
      // a legacy name (no -kh suffix) has no hash: its key is known only
      // inside the file, so the batch stays one partition
      splitByKey(ns, width)(graft.streaming.FileTopic.keyHashOf)
        .map(FileRangePartition(dir, _))
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
    * half of that guarantee lives in [[MaterializedCursor.plan]]:
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
      // before the start was known (any poll made before the stream
      // handed the cursor its start) are shifted up — they were numbered
      // from 0 and nothing was served or committed yet.
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
    * @param maxRecords option `maxRecordsPerTrigger`, not a CLI flag: rate
    * limit per micro-batch (0 = unbounded) — the `maxOffsetsPerTrigger`
    * analog.
    */
  final case class Config(pulsar: graft.streaming.PulsarSink.Config,
      dir: String, subscription: String, maxRecords: Long) {
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
      properties: util.Map[String, String]): Table = {
    val cfg = BrokerSource.Config.from(Flags(properties))
    new SeqTable(s"broker:${cfg.where}@${cfg.subscription}", BrokerSource.schema,
      cfg.maxRecords, () => BrokerSource.cursor(cfg))
  }
}

final case class BrokerInputPartition(msgs: Array[InMemoryBroker.Message])
    extends SeqPartition {
  override def reader(): PartitionReader[InternalRow] = new PartitionReader[InternalRow] {
    private var i = -1
    override def next(): Boolean = { i += 1; i < msgs.length }
    override def get(): InternalRow = {
      val m = msgs(i)
      InternalRow(if (m.key == null) null else UTF8String.fromString(m.key), m.payload)
    }
    override def close(): Unit = ()
  }
}

/** File-topic partition: the driver ships names; executors read payloads. */
final case class FileRangePartition(dir: String, names: Array[String])
    extends SeqPartition {
  override def reader(): PartitionReader[InternalRow] = new PartitionReader[InternalRow] {
    private var i = -1
    private var row: InternalRow = _
    override def next(): Boolean = {
      i += 1
      if (i >= names.length) false
      else {
        val (k, payload) = graft.streaming.FileTopic.read(dir, names(i))
        row = InternalRow(if (k == null) null else UTF8String.fromString(k), payload)
        true
      }
    }
    override def get(): InternalRow = row
    override def close(): Unit = ()
  }
}
