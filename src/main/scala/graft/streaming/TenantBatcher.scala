package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.model.Model.Sample
import graft.operators.PromPipeline

/** Stateful per-tenant batching — the reference's one genuinely stateful
  * operator (remote/write.go:27-43,115-242).
  *
  * Semantics preserved:
  *   - group samples by tenantId (write.go:31)
  *   - emit a batch when the buffer reaches `batchSize` (default 100,
  *     write.go:67) — size-triggered batches flush inline;
  *   - otherwise flush on deadline = FIRST buffered sample's arrival time +
  *     `batchMaxDelayMs` (default 5s; anchor semantics at write.go:148-151),
  *     mapped to a per-group ProcessingTimeTimeout;
  *   - the reference's 100ms checkInterval becomes the streaming trigger
  *     interval (Trigger.ProcessingTime), and its global backpressure on
  *     retryable sink errors comes free from micro-batch retry (failed batch
  *     => no offset commit => replay).
  *
  * Each sample is encoded once, before the tenant shuffle, into its final
  * remote_write entry ([[PromPipeline.remoteWriteEntries]]), so the state
  * per tenant is the buffered entry bytes plus the first-sample anchor, and
  * a batch's entries concatenated are its POST body before snappy. Encoding
  * in the source's tasks spreads it over `--readers`; carrying label maps
  * through the state instead cost more in row conversion than the encoding
  * itself (bridge benchmark consume_drain: 50 tenants x batch 100, 5,000
  * samples a trigger, local[4] on 4 cores, traced runs: state 2.75 -> 1.44
  * MB and state update 862 -> about 620 ms per trigger with POSTs still
  * serial; the update time counts the sink's pull of each batch).
  *
  * State commit: each trigger writes a delta file (and Spark's checksum of
  * it) per state partition, a cost per file, not per byte. On a local disk
  * without libhadoop that cost was Hadoop forking `chmod` for each file it
  * created and `readlink` for each rename. App checkpoints through
  * [[LocalCheckpointFileManager]], which does neither (traced roundtrip_wal:
  * state commit 388 -> 15 ms a trigger).
  *
  * Scale: state is O(active tenants x batchSize) entries, hash-partitioned
  * by tenant across executors by the shuffle — the same keying the
  * reference gets from its per-tenant map, but distributed.
  */
object TenantBatcher {

  /** write.go:67-69: flush a tenant at `--batch-size` samples, or
    * `--batch-max-delay-ms` after its first buffered sample.
    */
  final case class Config(batchSize: Int, batchMaxDelayMs: Long)

  object Config {
    def from(f: graft.Flags): Config =
      Config(f.int("batch-size", 100), f.long("batch-max-delay-ms", 5000L))
  }

  /** One sample's remote_write entry, keyed by tenant. */
  final case class Entry(tenantId: String, entry: Array[Byte])

  /** One emitted remote_write batch: `entries` concatenated and
    * snappy-compressed is the POST body ([[RemoteWriteSink.body]]).
    */
  final case class Batch(
      tenantId: String,
      entries: Seq[Array[Byte]],
      reason: String) { // "size" | "deadline"
    def size: Int = entries.size
  }

  /** Buffered state per tenant. */
  final case class BatchState(entries: Seq[Array[Byte]], firstArrivalMs: Long)

  def apply(ds: Dataset[Sample], cfg: Config): Dataset[Batch] = {
    implicit val batchEnc = Encoders.product[Batch]
    implicit val stateEnc = Encoders.product[BatchState]
    PromPipeline.remoteWriteEntries(ds.toDF())
      .groupBy(col("tenantId"))
      .as[String, Entry](Encoders.STRING, Encoders.product[Entry])
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.ProcessingTimeTimeout)(
        process(cfg))
  }

  private def process(cfg: Config)(
      tenant: String,
      incoming: Iterator[Entry],
      state: GroupState[BatchState]): Iterator[Batch] = {
    val now = state.getCurrentProcessingTimeMs()
    val prior = state.getOption.map(_.entries).getOrElse(Seq.empty)
    val firstArrival = state.getOption.map(_.firstArrivalMs).getOrElse(now)
    val all = prior ++ incoming.map(_.entry)

    val out = scala.collection.mutable.ArrayBuffer.empty[Batch]
    var buf = all
    // size-triggered flushes (write.go:174-177)
    while (buf.size >= cfg.batchSize) {
      val (b, rest) = buf.splitAt(cfg.batchSize)
      out += Batch(tenant, b, "size")
      buf = rest
    }

    if (state.hasTimedOut) {
      // deadline passed (write.go:178-181): flush remainder, clear state
      if (buf.nonEmpty) out += Batch(tenant, buf, "deadline")
      state.remove()
    } else if (buf.isEmpty) {
      state.remove()
    } else {
      // deadline anchored at the FIRST sample of the pending batch: the
      // prior anchor holds only while a prior entry is still buffered
      val anchor = if (out.size * cfg.batchSize < prior.size) firstArrival else now
      state.update(BatchState(buf, anchor))
      val remaining = math.max(anchor + cfg.batchMaxDelayMs - now, 1L)
      state.setTimeoutDuration(remaining)
    }
    out.iterator
  }
}
