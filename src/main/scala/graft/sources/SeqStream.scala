package graft.sources

import java.util

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxRows, SupportsAdmissionControl}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** A buffer addressed by dense seqnos and served as micro-batches: the
  * contract both bridge sources keep. The receiver
  * ([[HttpRemoteWriteSource.Receiver]]) is one cursor; the consume
  * source's memory, file and Pulsar cursors ([[BrokerSource.Cursor]]) are
  * the others.
  */
trait SeqCursor {
  /** The end of what may be planned now: every seqno below it is
    * published. Cursors over a broker poll it first.
    */
  def latest: Long
  /** The partitions that read [from, until), at most `width` of them. */
  def plan(from: Long, until: Long, width: Int): Array[SeqPartition]
  /** Drop, and where the backend needs it acknowledge, seqnos below `until`. */
  def commit(until: Long): Unit
  /** Rebase a fresh cursor so new deliveries number from the checkpointed
    * start (no-op unless a backend's seqnos are not stable across
    * restarts — see [[BrokerSource.PulsarCursor]]).
    */
  def ensureBase(start: Long): Unit = ()
}

/** An input partition that reads itself, so the stream never asks which
  * source planned it.
  */
trait SeqPartition extends InputPartition {
  def reader(): PartitionReader[InternalRow]
}

/** The offset of either source: a seqno, written as its decimal string. */
final case class SeqOffset(seq: Long) extends Offset {
  override def json(): String = seq.toString
}

/** A micro-batch-readable table over the cursor `open` returns when a
  * query starts. `maxRecords` > 0 caps each micro-batch's rows.
  */
class SeqTable(tableName: String, tableSchema: StructType, maxRecords: Long,
    open: () => SeqCursor) extends Table with SupportsRead {
  override def name(): String = tableName
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new Scan {
      override def readSchema(): StructType = tableSchema
      // the split width is the session's default parallelism: one task
      // per core under the CLI's local[4]
      override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
        new SeqStream(open(), SparkSession.active.sparkContext.defaultParallelism, maxRecords)
    }
}

/** The one micro-batch stream of both bridge sources: each trigger plans
  * the cursor's [start, end) into at most `width` partitions.
  * Admission control gives [[SeqCursor.ensureBase]] the start offset
  * before anything is planned, and applies `maxRecords`.
  */
class SeqStream(cursor: SeqCursor, width: Int, maxRecords: Long = 0L)
    extends MicroBatchStream with SupportsAdmissionControl {
  override def initialOffset(): Offset = SeqOffset(0L)
  override def latestOffset(): Offset = SeqOffset(cursor.latest)

  override def getDefaultReadLimit: ReadLimit =
    if (maxRecords > 0) ReadLimit.maxRows(maxRecords) else ReadLimit.allAvailable()

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[SeqOffset].seq
    cursor.ensureBase(s)
    val avail = cursor.latest
    limit match {
      // seqnos are dense, so an offset cap IS a row cap
      case r: ReadMaxRows => SeqOffset(math.min(avail, s + r.maxRows()))
      case _ => SeqOffset(avail)
    }
  }

  override def reportLatestOffset(): Offset = SeqOffset(cursor.latest)
  override def deserializeOffset(json: String): Offset = SeqOffset(json.toLong)
  override def commit(end: Offset): Unit = cursor.commit(end.asInstanceOf[SeqOffset].seq)
  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[SeqOffset].seq
    val e = end.asInstanceOf[SeqOffset].seq
    cursor.ensureBase(s)
    if (e <= s) Array.empty else cursor.plan(s, e, width).toArray[InputPartition]
  }

  override def createReaderFactory(): PartitionReaderFactory =
    (partition: InputPartition) => partition.asInstanceOf[SeqPartition].reader()

  /** The source's description in query progress: it names the cursor's
    * class, so a listener can tell the receiver
    * (`HttpRemoteWriteSource$Receiver`) from a `BrokerSource` cursor.
    */
  override def toString: String = s"SeqStream(${cursor.getClass.getName})"
}
