package graft.sources

import java.util.concurrent.ConcurrentHashMap

import graft.streaming.{InMemoryBroker, PulsarSink}

/** Executor-side KeyShared consumers for the real-broker consume path —
  * the scale-out alternative to [[BrokerSource.PulsarCursor]] (which
  * receives every payload on the driver, parity with the reference's
  * single-process consume loop, pkg/pulsar/pulsar.go:170-224).
  *
  * Design. Pulsar's KeyShared subscription pushes messages; it has no
  * seekable offsets, so no driver can know — or later reproduce — what
  * each consumer will receive. That rules out Kafka-style deterministic
  * replay, but the engine's delivery contract here is the reference's:
  * AT-LEAST-ONCE with per-key order (pulsar.go:109-111). This module
  * keeps that contract while payload bytes never touch the driver:
  *
  *   - `readers` long-lived consumers, cached per executor JVM, join the
  *     KeyShared subscription. By default the broker auto-splits the
  *     key-hash space among whatever consumers are connected — a task
  *     rescheduled onto a different executor simply joins and the broker
  *     rebalances (no subscribe conflict). `pulsar.sticky-ranges=true`
  *     instead pins reader i to hash range i of [0, 65535]
  *     (KeySharedPolicy.stickyHashRange) for deployments that pin
  *     executors; a migrated task then FAILS to subscribe (overlapping
  *     sticky range) rather than silently double-owning keys. Either way
  *     per-key order holds: the broker serves each key to one consumer at
  *     a time.
  *   - The driver plans only (slot, epoch) pull tokens — an epoch is the
  *     micro-batch counter carried in the offset log. The FIRST task of an
  *     epoch pulls what its consumer has NOW (bounded by
  *     maxRecords/pollTimeout) and FREEZES that buffer for the epoch: a
  *     task retry, batch replay, or speculative attempt at the same epoch
  *     re-serves exactly the frozen buffer and receives nothing new, so
  *     every attempt's output is identical and the commit's served set is
  *     unambiguous.
  *   - Acks follow the COMMIT: entries in the driver's JVM (local mode)
  *     ack the committed epoch the moment [[BrokerStream.commit]] fires
  *     ([[ackThrough]]); cluster executors — unreachable from the driver —
  *     ack when the next epoch's task arrives (Spark runs batch e+1 only
  *     after batch e committed, so a task seeing its buffered epoch <
  *     current epoch knows that epoch committed). A failed batch means no
  *     commit and no next epoch: nothing is acked and the same-epoch rerun
  *     re-serves the buffer. Nothing is ever acked unserved.
  *   - `pulsar.ack-timeout-ms` (default 60 s; 0 disables) is the
  *     self-heal: a buffer stranded on an executor that never gets another
  *     task (migration under locality miss, executor decommission without
  *     JVM exit) redelivers from the broker after the timeout — duplicate
  *     delivery, never loss. Set it well above trigger interval + batch
  *     duration so in-flight batches do not redeliver.
  *
  * A replayed batch may serve different messages after a RESTART (fresh
  * registry) than its first run — exactly-once sinks cannot be built on
  * this source (the remote_write sink is an at-least-once HTTP POST with
  * retry, like the reference's). Within one incarnation the frozen buffer
  * makes same-epoch attempts identical.
  *
  * Lifecycle: consumers cache per (url, topic, subscription, slot) in the
  * executor JVM. [[BrokerStream.stop]] closes the entries living in the
  * SAME JVM (local mode, tests — by then the commit-side ack already
  * settled them); on a cluster, executor-side entries idle-expire after
  * 10 minutes without a task (closing makes the broker redeliver their
  * unacked buffer — duplicates, never loss), and the ack timeout bounds
  * how long a buffered message stays undeliverable before that. One
  * RUNNING query per (url, topic, subscription) — ENFORCED by [[register]]:
  * a second concurrent pull-mode query on the same triple fails fast at
  * start (concurrent queries sharing a subscription would interleave epochs
  * on shared entries). Use distinct subscription names, the same
  * one-consumer-group-per-pipeline rule the reference's flag help states
  * (consume.go:42-43).
  */
object ExecutorPull {

  /** One cached consumer + the current epoch's frozen batch. `staged` holds
    * messages peeked off the consumer by the driver's idle-wake probe
    * ([[hasAvailable]]) — received but not yet assigned to any epoch; the
    * next epoch's fill drains them before touching the consumer, so a peek
    * never loses or reorders (per-key order holds: the broker hands a key's
    * messages to one consumer serially, and staged preserves arrival order
    * ahead of the receiver queue).
    */
  final class Entry(val consumer: AnyRef) {
    var pendingEpoch: Long = -1L
    val pending = scala.collection.mutable.ArrayBuffer
      .empty[(InMemoryBroker.Message, AnyRef)]
    val staged = scala.collection.mutable.ArrayBuffer
      .empty[(InMemoryBroker.Message, AnyRef)]
    @volatile var lastUsedMs: Long = System.currentTimeMillis()
  }

  /** Entries untouched for this long are closed by the reaper — the
    * executor-side cleanup for queries that stopped without this JVM ever
    * hearing about it (the driver cannot reach executor caches). Closing
    * makes the broker redeliver whatever was buffered unacked: duplicates,
    * never loss.
    */
  private val IdleExpiryMs = 10L * 60 * 1000

  private val reaper = {
    val t = new java.util.Timer("graft-executor-pull-reaper", true)
    t.scheduleAtFixedRate(new java.util.TimerTask {
      override def run(): Unit =
        try expireIdle() catch { case _: Exception => () }
    }, 60000L, 60000L)
    t
  }

  private[graft] def expireIdle(now: Long = System.currentTimeMillis()): Unit = {
    val it = entries.entrySet().iterator()
    while (it.hasNext) {
      val en = it.next()
      val e = en.getValue
      if (now - e.lastUsedMs > IdleExpiryMs) e.synchronized {
        if (now - e.lastUsedMs > IdleExpiryMs) {
          try PulsarSink.call(e.consumer, "close")
          catch { case _: Exception => () }
          it.remove()
        }
      }
    }
  }

  /** Test seam: build the slot's consumer — the shared reflection builder
    * against the public pulsar-client API in production, a fake in specs
    * (local mode keeps driver and executors in one JVM, so specs can
    * inject and observe). Args: (cfg, slot).
    */
  @volatile private[graft] var consumerFactory:
      (BrokerSource.Config, Int) => AnyRef = buildConsumer

  private val entries = new ConcurrentHashMap[(String, Int), Entry]()

  /** Run tokens, one per [[BrokerStream]]: a task of a stopped query may pull
    * after [[close]] (stop does not wait for the tasks it kills); its closed
    * run serves nothing and builds no consumer. Runs of a subscription are
    * sequential ([[register]]) and tokens grow, so one closed-through token
    * per subscription marks them all; [[reset]] keeps it. Its lock orders
    * close and entry creation. */
  private val runs = new java.util.concurrent.atomic.AtomicLong()
  private[graft] def newRun(): Long = runs.incrementAndGet()
  private val closedThrough = new ConcurrentHashMap[String, java.lang.Long]()
  private def stopped(prefix: String, run: Long): Boolean =
    closedThrough.getOrDefault(prefix, 0L) >= run

  /** The one-RUNNING-query-per-(url, topic, subscription) rule, enforced:
    * concurrent queries sharing a subscription would interleave epochs on
    * shared entries (each stream's epoch counter would ack the other's
    * in-flight buffer). Keyed by the entry prefix, owned by the driver-side
    * [[BrokerStream]] instance; stop() releases.
    */
  private val owners = new ConcurrentHashMap[String, AnyRef]()

  private[graft] def register(cfg: BrokerSource.Config, owner: AnyRef): Unit = {
    val prev = owners.putIfAbsent(keyPrefix(cfg), owner)
    if (prev != null && (prev ne owner))
      throw new IllegalStateException(
        s"executor-pull query already running on ${cfg.pulsar.url}/${cfg.topic} " +
        s"subscription '${cfg.subscription}'; concurrent queries sharing a " +
        "subscription would interleave epochs on shared consumers — use a " +
        "distinct subscription name per pipeline (the reference's " +
        "one-consumer-group-per-pipeline rule, consume.go:42-43)")
  }

  private[graft] def unregister(cfg: BrokerSource.Config, owner: AnyRef): Unit =
    owners.remove(keyPrefix(cfg), owner)

  private def keyPrefix(cfg: BrokerSource.Config): String =
    s"${cfg.pulsar.url}:${cfg.topic}:${cfg.subscription}"

  /** Driver-side prompt ack: the stream's commit(e) calls this so entries
    * living in the SAME JVM (local mode, tests) ack epoch e's buffer the
    * moment it commits, instead of waiting for the next epoch's task.
    * Cluster executors are unreachable from here and keep the
    * ack-rides-next-epoch path; this also makes one-shot
    * Trigger.AvailableNow runs ack their only batch before stopping.
    */
  private[graft] def ackThrough(cfg: BrokerSource.Config, epoch: Long): Unit = {
    val prefix = keyPrefix(cfg)
    entries.forEach { (k, e) =>
      if (k._1 == prefix) e.synchronized {
        if (e.pendingEpoch >= 0 && e.pendingEpoch <= epoch && e.pending.nonEmpty) {
          try PulsarSink.ackMessageIds(e.consumer, e.pending.map(_._2))
          catch { case _: Exception => () }
          e.pending.clear()
        }
      }
    }
  }

  /** Idle-wake probe for entries living in THIS JVM (local mode): true when
    * any of the subscription's consumers has a message waiting. A waiting
    * message is detected by a zero-timeout receive and STAGED on the entry
    * (unacked, drained ahead of the consumer by the next epoch's fill), so
    * probing never consumes past an epoch boundary. On a cluster the
    * executor-side entries are unreachable from the driver — this returns
    * false there and the caller's periodic probe epoch bounds wake latency.
    */
  private[graft] def hasAvailable(cfg: BrokerSource.Config): Boolean = {
    import PulsarSink.call
    val prefix = keyPrefix(cfg)
    var found = false
    entries.forEach { (k, e) =>
      if (!found && k._1 == prefix) e.synchronized {
        e.lastUsedMs = System.currentTimeMillis()
        if (e.staged.nonEmpty) found = true
        else {
          val m = receive(e.consumer, 0L)
          if (m != null) {
            e.staged += ((InMemoryBroker.Message(
              call(m, "getKey").asInstanceOf[String],
              call(m, "getData").asInstanceOf[Array[Byte]]),
              call(m, "getMessageId")))
            found = true
          }
        }
      }
    }
    found
  }

  /** Stop `run` in THIS JVM, then close and drop the subscription's cached
    * entries living here — the local half of query stop. */
  private[graft] def close(cfg: BrokerSource.Config, run: Long): Unit =
    closedThrough.synchronized {
      val prefix = keyPrefix(cfg)
      closedThrough.put(prefix, run)
      val it = entries.entrySet().iterator()
      while (it.hasNext) {
        val en = it.next()
        if (en.getKey._1 == prefix) en.getValue.synchronized {
          try PulsarSink.call(en.getValue.consumer, "close")
          catch { case _: Exception => () }
          it.remove()
        }
      }
    }

  private[graft] def reset(): Unit = {
    entries.values.forEach { e =>
      try PulsarSink.call(e.consumer, "close")
      catch { case _: Exception => () }
    }
    entries.clear()
    owners.clear()
  }

  /** The slot's entry, built on first use; null, building nothing, once `run` is closed. */
  private def entryFor(cfg: BrokerSource.Config, run: Long, slot: Int): Entry =
    closedThrough.synchronized {
      if (stopped(keyPrefix(cfg), run)) null
      else entries.computeIfAbsent((keyPrefix(cfg), slot),
        _ => new Entry(consumerFactory(cfg, slot)))
    }

  /** KeyShared consumer for slot `slot` of `readers`: auto-split by
    * default, or pinned to slice `slot` of the [0, 65535] key-hash space
    * when sticky ranges are requested.
    */
  private def buildConsumer(cfg: BrokerSource.Config, slot: Int): AnyRef = {
    val range =
      if (!cfg.stickyRanges) None
      else Some((
        (65536L * slot / cfg.readers).toInt,
        (65536L * (slot + 1) / cfg.readers - 1).toInt))
    PulsarSink.buildKeySharedConsumer(cfg.pulsar, cfg.subscription, range,
      cfg.ackTimeoutMs)
  }

  private def receive(consumer: AnyRef, timeoutMs: Long): AnyRef =
    PulsarSink.call(consumer, "receive",
      classOf[Int] -> Int.box(timeoutMs.toInt),
      classOf[java.util.concurrent.TimeUnit] ->
        java.util.concurrent.TimeUnit.MILLISECONDS)

  /** The per-task pull: ack the previous epoch's batch (its micro-batch
    * committed, or this epoch would not be running), then — only on the
    * FIRST attempt of this epoch — fill the buffer up to `maxRecords` from
    * whatever the consumer has within `pollTimeoutMs` (first receive
    * waits, the rest drain non-blocking) and freeze it. Reruns serve the
    * frozen buffer unchanged, so every attempt of an epoch emits identical
    * rows and the eventual ack covers exactly what the committed batch
    * served.
    *
    * Two guards keep "nothing is ever acked unserved" true under Spark's
    * task-retry machinery:
    *   - epochs are MONOTONIC per entry: a straggler task from an EARLIER
    *     epoch (a zombie retry whose sibling already succeeded, arriving
    *     after a later epoch's task touched this entry) gets an empty
    *     result and mutates nothing — rewinding pendingEpoch would let it
    *     drain fresh broker messages into an attempt whose output Spark
    *     discards, and the next epoch's ack would then cover them;
    *   - the buffer is TIED TO ITS TASK ATTEMPT: if the attempt fails or
    *     is killed (zombie/speculative copy), its retry may run on a
    *     DIFFERENT executor, so this buffer may never reach a committed
    *     batch — yet the next epoch's task landing here would ack it. A
    *     task-failure listener drops the buffer UNACKED and negative-acks
    *     it, so the broker redelivers: duplicates, never loss. Only
    *     buffers whose serving attempt completed successfully ride the
    *     next-epoch (or commit-time) ack.
    */
  private[graft] def pull(cfg: BrokerSource.Config, run: Long, slot: Int,
      epoch: Long): Array[InMemoryBroker.Message] = {
    import PulsarSink.call
    import cfg.{maxRecords, pollTimeoutMs}
    val e = entryFor(cfg, run, slot)
    if (e == null) return Array.empty
    e.synchronized {
      e.lastUsedMs = System.currentTimeMillis()
      if (stopped(keyPrefix(cfg), run) || epoch < e.pendingEpoch) {
        // a closed run's straggler, or a stale lower-epoch one: serve nothing, touch nothing
        Array.empty[InMemoryBroker.Message]
      } else {
        if (e.pendingEpoch >= 0 && e.pendingEpoch < epoch && e.pending.nonEmpty) {
          PulsarSink.ackMessageIds(e.consumer, e.pending.map(_._2))
          e.pending.clear()
        }
        val firstAttempt = epoch > e.pendingEpoch
        e.pendingEpoch = epoch
        // refill ONLY on the epoch's first attempt (freeze), and receive ONLY
        // while budget remains: a message dequeued past the cap — or into a
        // rerun whose sibling attempt already committed without it — would be
        // acked without ever being served
        if (firstAttempt && (maxRecords <= 0 || e.pending.length < maxRecords)) {
          // messages staged by the driver's idle-wake probe go first — they
          // were received before anything still in the consumer queue
          while (e.staged.nonEmpty && (maxRecords <= 0 || e.pending.length < maxRecords))
            e.pending += e.staged.remove(0)
          var m = if (maxRecords > 0 && e.pending.length >= maxRecords) null
                  else receive(e.consumer, pollTimeoutMs)
          while (m != null) {
            e.pending += ((InMemoryBroker.Message(
              call(m, "getKey").asInstanceOf[String],
              call(m, "getData").asInstanceOf[Array[Byte]]),
              call(m, "getMessageId")))
            m = if (maxRecords > 0 && e.pending.length >= maxRecords) null
                else receive(e.consumer, 0L)
          }
        }
        val ctx = org.apache.spark.TaskContext.get()
        if (ctx != null && e.pending.nonEmpty) {
          val servedEpoch = epoch
          ctx.addTaskFailureListener((_, _) => e.synchronized {
            // guard: a later epoch may have refilled since (then this
            // attempt was a zombie and the entry has moved on — hands off)
            if (e.pendingEpoch == servedEpoch && e.pending.nonEmpty) {
              try PulsarSink.nackMessageIds(e.consumer, e.pending.map(_._2))
              catch { case _: Exception => () }
              e.pending.clear()
              // reset so a same-epoch retry landing back here refills
              // fresh instead of serving an empty frozen buffer
              e.pendingEpoch = -1L
            }
          })
        }
        e.pending.map(_._1).toArray
      }
    }
  }
}
