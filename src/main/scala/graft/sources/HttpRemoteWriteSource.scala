package graft.sources

import java.util
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{Table, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.PartitionReader
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.Flags
import graft.functions.PromKernel

/** Operator #1: HTTP remote_write receiver source (reference:
  * pkg/app/produce.go:124-152, pkg/app/server.go, pkg/context/handlers.go).
  *
  * A [[SeqCursor]] served through [[SeqStream]]: an embedded HTTP server accepts
  * remote_write POSTs, validates them exactly like the reference's handler
  * (read failure => 500, snappy/proto failure => 400, else 200), extracts
  * the tenant inputs (BasicAuth user + X-Scope-OrgID header,
  * handlers.go:29-40), and exposes micro-batches of:
  *
  *   body BINARY, basicAuthUser STRING, orgIdHeader STRING, receivedAtMs LONG
  *
  * Scale posture: an HTTP push receiver is inherently a single-ingress
  * component (the reference is one process too). For 100 TB replay/ingest
  * the same query runs unchanged over a landing zone (parquet/Kafka dirs) —
  * this source exists for protocol parity and live ingest, with the
  * decode/flatten/serialize pipeline identical in both paths.
  *
  * Durability contract for the 200 (the reference's 200 means
  * pulsar-flushed, produce.go:164-181): by default the payload is only
  * buffered in JVM memory — a receiver crash between the 200 and the
  * micro-batch commit loses acknowledged payloads. Set `walDir` to get
  * WAL-then-200 (fsync'd segment log, replayed on restart — see [[Wal]] and
  * WalRecoverySpec's kill-between-200-and-commit proof).
  *
  * Delivery contract under WAL mode is AT-LEAST-ONCE (ADVICE r21): a
  * refused ack (e.g. transient directory-fsync failure) leaves the already-
  * appended record in the segment with only the 200 withheld, so the
  * client's retry appends a SECOND copy under a new seq and both replay.
  * remote_write has no idempotency key, matching the reference's retry
  * semantics — downstream consumers must tolerate duplicates (or dedup on
  * (tenant, series key, timestamp) themselves, the standard TSDB rule).
  *
  * Usage (the options are the produce command's flags, see [[Config]]):
  *   spark.readStream.format("graft.sources.HttpRemoteWriteProvider")
  *   .option("web.listen-port", "9201").option("web.write-path", "/write")
  *   .option("wal-dir", "/data/wal/9201").load()
  */
object HttpRemoteWriteSource {

  val schema: StructType = StructType(Seq(
    StructField("body", BinaryType, nullable = false),
    StructField("basicAuthUser", StringType, nullable = true),
    StructField("orgIdHeader", StringType, nullable = true),
    StructField("receivedAtMs", LongType, nullable = false)
  ))

  final case class Received(
      body: Array[Byte],
      basicAuthUser: String,
      orgIdHeader: String,
      receivedAtMs: Long)

  /** The largest request body the receiver takes (413 past it), and so the
    * largest field a [[Wal]] record replays: an acknowledged body must
    * never be one that replay skips.
    */
  val MaxBodyBytes: Int = 64 << 20

  /** The receiver's settings, one per produce flag, each default written
    * once in [[Config.from]]. `maxConnectionAgeMs` > 0 reproduces
    * MaxConnectionAgeHandler (pkg/context/handlers.go:42-49): connections
    * older than the limit get `Connection: close` so load balancers can
    * re-spread clients. `pprof` serves a JVM profiling facade under
    * /debug/pprof/ (the reference registers Go pprof there, server.go:84-92;
    * the JVM analog is a thread dump + heap summary — deep profiling belongs
    * to the Spark UI). `host` binds a specific interface (empty = all) and
    * `telemetryPath` relocates the metrics endpoint (app.go:60-67).
    * `walDir` selects WAL-then-200 durability (see [[Receiver]]), and
    * `handlerThreads` sizes concurrent request handling — in WAL mode also
    * the group-commit batch width. `validate` is a source option the CLI
    * does not take.
    */
  final case class Config(port: Int, path: String, validate: Boolean,
      maxConnectionAgeMs: Long, pprof: Boolean, host: String,
      telemetryPath: String, walDir: String, handlerThreads: Int)

  object Config {
    def from(f: Flags): Config = {
      // app.go:60-62: --web.listen-address (host:port) is the reference
      // spelling; --web.listen-port stays as the port-only shorthand
      val port = f.int("web.listen-port", 9201)
      val (host, boundPort) = f.str("web.listen-address", "") match {
        case "" => ("", port)
        case addr => parseListenAddress(addr)
      }
      Config(port = boundPort, path = f.str("web.write-path", "/write"),
        validate = f.option("validate").fold(true)(_.toBoolean),
        // app.go:66-69: kingpin duration, 0 = off
        maxConnectionAgeMs = f.durationMs("web.max-connection-age", "0"),
        pprof = f.str("web.disable-pprof", "false") != "true",
        host = host, telemetryPath = f.str("web.telemetry-path", "/metrics"),
        walDir = f.str("wal-dir", ""),
        handlerThreads = f.int("web.handler-threads", 4))
    }
  }

  /** Write-ahead log backing the WAL-then-200 durability mode: an
    * append-only directory of CRC-framed segment files. Each accepted POST
    * is appended and fsync'd BEFORE the 200 goes out (the durable twin of
    * the reference's respond-after-pulsar-flush contract,
    * produce.go:164-181 + pulsar.go:261-262) — with the fsync GROUP-
    * COMMITTED across concurrent handlers (one force covers every record
    * appended so far; see `append`), so WAL-mode ingest pays one fsync per
    * group, not per request; on restart, segments replay
    * into the in-memory buffer with their ORIGINAL seqnos, so a query
    * resuming from its checkpoint re-plans exactly the acknowledged-but-
    * uncommitted range. `commit(until)` persists `until` FIRST (forced
    * tmp + atomic rename + directory fsync), then deletes fully-committed
    * segments — so a crash anywhere inside commit can only cause harmless
    * extra replay (which the resumed query's checkpoint skips), never a
    * seqno regression below a checkpointed offset.
    *
    * Crash model: BOTH process crash and power loss. Every record is
    * fsync'd before its 200 (group-committed, see `append`); the group-
    * commit leader also fsyncs the WAL DIRECTORY after a new segment file
    * is created (so the dir entry survives power loss) before advancing
    * the durable watermark; the committed floor is forced to disk before
    * its atomic rename and the directory is forced after it. Seqnos are
    * assigned INSIDE the append critical section, so append order equals
    * seqno order and the per-segment last-seq / durable-watermark
    * invariants hold under concurrent handlers.
    *
    * Record frame: seq, receivedAtMs, basicAuthUser (-1 len = null),
    * orgIdHeader, body, then a CRC32 over all preceding frame bytes —
    * replay stops cleanly at the first torn/corrupt record (a crash mid-
    * append loses only the record that never got its 200). A partial
    * frame write DURING operation (e.g. ENOSPC mid-append) is healed in
    * place: the channel truncates back to the pre-record offset so later
    * acknowledged records never sit behind a torn frame; if even the
    * truncate fails, the segment is sealed with the tear at its TAIL and
    * later records start a fresh segment — either way replay loses only
    * the one record that got its 500.
    */
  private final class Wal(dir: java.nio.file.Path) {
    import java.nio.file.{Files, Path, StandardCopyOption, StandardOpenOption}
    Files.createDirectories(dir)
    // test seam: small segments let specs exercise many rolls cheaply
    private val segMaxBytes =
      sys.props.get("graft.wal.segMaxBytes").map(_.toLong).getOrElse(4L << 20)
    // rolled segments whose fsync is still owed: a roll SEALS the old
    // channel without forcing it (a multi-MB force under the append lock
    // would stall every concurrent handler for the full fsync — observed
    // as a whole-receiver freeze on a throttled disk); the group-commit
    // leader forces sealed channels OUTSIDE the lock before advancing
    // `synced`, so the durability contract is unchanged while appends
    // keep flowing into the new segment. Guarded by the object lock.
    private var sealedPending = List.empty[(java.nio.channels.FileChannel, Long)]
    // completed (closed or replayed) segments: firstSeq -> (path, lastSeq)
    private val segs = new java.util.TreeMap[Long, (Path, Long)]()
    private var ch: java.nio.channels.FileChannel = null
    private var activePath: Path = null
    private var activeFirst = -1L
    private var activeLast = -1L
    private var activeBytes = 0L
    // set by close(): appends must refuse (mapped to a 500 by accept)
    // instead of re-opening a segment under a stopping receiver and
    // leaking an unclosed channel
    private var closed = false

    private def segName(firstSeq: Long) = f"seg-$firstSeq%016d.wal"

    // test seam: simulated IO failures for the crash-window specs
    // ("commit-after-floor" crashes commit between the floor persist and
    // the segment deletes; "append-torn" tears a frame mid-write and lets
    // the real truncate heal it; "append-torn-seal" additionally simulates
    // the truncate itself failing, exercising the seal-and-roll fallback)
    private def failpoint: Option[String] = sys.props.get("graft.wal.failpoint")

    // power-loss durability for segment-file METADATA: creating a segment
    // writes a directory entry that an OS crash can lose even when the
    // record bytes themselves were forced. The group-commit leader forces
    // the directory (outside the append lock, amortized exactly like the
    // data fsync) whenever a segment was created since the last dir force,
    // BEFORE advancing the durable watermark.
    private val dirEpoch = new java.util.concurrent.atomic.AtomicLong(0L)
    private val dirSynced = new java.util.concurrent.atomic.AtomicLong(0L)
    // POSIX lets a directory be opened and fsynced; Windows (and some
    // filesystems) refuse the OPEN itself. That refusal is a platform
    // incapability, not an IO fault — and the directory fsync is a
    // durability REFINEMENT (it pins segment-file metadata against power
    // loss; the record fsyncs are untouched), so turning every accept
    // into a 500 over it would be strictly worse than degrading. Degrade
    // once, loudly, to the process-crash-only model — but ONLY for
    // incapability-class failures (UnsupportedOperationException,
    // AccessDenied): a TRANSIENT open failure (EMFILE fd exhaustion, a
    // momentary EIO) must not permanently weaken the crash model, so it
    // logs, skips THIS force, and retries at the next group commit
    // (ADVICE r19). A force() failure on a successfully OPENED channel is
    // a real IO error (EIO-class) and still propagates — only the open is
    // platform-probed.
    @volatile private var dirSyncUnsupported = false
    /** Test seam: whether the platform-incapability latch has fired. */
    private[graft] def dirSyncDegraded: Boolean = dirSyncUnsupported
    /** Returns false ONLY on a transient open failure (the caller may
      * retry later); true when the directory was forced or the platform
      * permanently lacks the capability (nothing to retry).
      */
    private def forceDir(): Boolean = if (dirSyncUnsupported) true else {
      val dc =
        try {
          if (failpoint.contains("dir-open-unsupported"))
            throw new UnsupportedOperationException(
              "failpoint: platform refuses directory open")
          if (failpoint.contains("dir-open-transient"))
            throw new java.io.IOException("failpoint: transient directory-open failure")
          java.nio.channels.FileChannel.open(dir, StandardOpenOption.READ)
        } catch {
          case e @ (_: UnsupportedOperationException |
              _: java.nio.file.AccessDeniedException) =>
            dirSyncUnsupported = true
            System.err.println(s"[wal:$dir] this platform refuses directory " +
              s"fsync ($e): degrading the crash model to process-crash-only " +
              "(power loss may drop the newest segment's directory entry); " +
              "record fsyncs are unaffected")
            null
          case e: java.io.IOException =>
            System.err.println(s"[wal:$dir] transient directory-open failure " +
              s"($e): skipping this directory fsync, retrying at the next " +
              "group commit (crash model NOT degraded)")
            return false
        }
      if (dc != null) try dc.force(true) finally dc.close()
      true
    }

    /** Highest committed offset persisted so far (0 when none). */
    def committedFloor: Long = {
      val p = dir.resolve("committed")
      if (Files.exists(p)) new String(Files.readAllBytes(p), "UTF-8").trim.toLong
      else 0L
    }

    /** Replay all segments in seq order; returns (maxSeqSeen or -1, entries). */
    def replay(): (Long, Vector[(Long, Received)]) = synchronized {
      val out = Vector.newBuilder[(Long, Received)]
      var maxSeq = -1L
      val files = {
        val s = Files.list(dir)
        try {
          import scala.jdk.CollectionConverters._
          s.iterator().asScala.filter(_.getFileName.toString.matches("seg-\\d{16}\\.wal"))
            .toVector.sortBy(_.getFileName.toString)
        } finally s.close()
      }
      files.foreach { p =>
        var first = -1L; var last = -1L
        val in = new java.io.DataInputStream(new java.io.BufferedInputStream(
          Files.newInputStream(p)))
        try {
          var ok = true
          while (ok) {
            readRecord(in) match {
              case Some((seq, r)) =>
                out += ((seq, r))
                if (first < 0) first = seq
                last = seq
                if (seq > maxSeq) maxSeq = seq
              case None => ok = false // EOF or torn/corrupt tail: stop cleanly
            }
          }
        } finally in.close()
        if (first >= 0) segs.put(first, (p, last))
        else Files.deleteIfExists(p) // empty/corrupt-from-start segment
      }
      (maxSeq, out.result())
    }

    private def readRecord(in: java.io.DataInputStream): Option[(Long, Received)] =
      try {
        val seq = in.readLong()
        val ts = in.readLong()
        def bytesField(): Array[Byte] = {
          val len = in.readInt()
          if (len < 0) null
          else {
            require(len <= MaxBodyBytes, s"implausible field length $len")
            val b = new Array[Byte](len); in.readFully(b); b
          }
        }
        val user = bytesField(); val org = bytesField(); val body = bytesField()
        val storedCrc = in.readInt()
        val crc = new java.util.zip.CRC32()
        val head = java.nio.ByteBuffer.allocate(16).putLong(seq).putLong(ts).array()
        crc.update(head)
        Seq(user, org, body).foreach { f =>
          val lenB = java.nio.ByteBuffer.allocate(4)
            .putInt(if (f == null) -1 else f.length).array()
          crc.update(lenB)
          if (f != null) crc.update(f)
        }
        if (storedCrc != crc.getValue.toInt) None
        else Some((seq, Received(body,
          if (user == null) null else new String(user, "UTF-8"),
          if (org == null) null else new String(org, "UTF-8"), ts)))
      } catch { case _: java.io.IOException | _: IllegalArgumentException => None }

    // Group-commit fsync state: `synced` is the highest seqno known durable.
    // Writers append under the object lock (no fsync there), then one of
    // them — whoever wins `syncLeader` — forces the channel ONCE for the
    // whole group of records appended so far; concurrent handler threads
    // that arrived during the force piggyback on the next force instead of
    // each paying their own fsync. Per-record durability-before-200 is
    // unchanged (append only returns once `synced` covers its record); the
    // fsync count drops from one-per-request to one-per-group, which is
    // what keeps WAL mode's ingest within a small factor of the in-memory
    // mode under concurrent clients.
    private val synced = new java.util.concurrent.atomic.AtomicLong(-1L)
    private val syncLeader = new Object

    /** Assign a seqno (via `assign`, called INSIDE the append critical
      * section — so append order equals seqno order, which the durable
      * watermark, per-segment lastSeq, and commit's delete guard all rely
      * on; an out-of-band assignment could let a leader snapshot an
      * activeLast below its own seq and spin, or let commit delete a
      * segment whose recorded lastSeq understates an acknowledged record),
      * append the record, and make it durable. Only after this returns may
      * the HTTP handler send its 200. Returns the assigned seq.
      */
    def append(assign: => Long, r: Received): Long = {
      var seq = -1L
      synchronized {
        if (closed) throw new IllegalStateException(s"wal $dir is closed")
        seq = assign
        if (ch != null && activeBytes >= segMaxBytes) rollActive()
        if (ch == null) {
          activePath = dir.resolve(segName(seq))
          ch = java.nio.channels.FileChannel.open(activePath,
            StandardOpenOption.CREATE, StandardOpenOption.WRITE)
          dirEpoch.incrementAndGet() // new dir entry: owes a dir fsync
          activeFirst = seq; activeBytes = 0L
        }
        val user = if (r.basicAuthUser == null) null else r.basicAuthUser.getBytes("UTF-8")
        val org = if (r.orgIdHeader == null) null else r.orgIdHeader.getBytes("UTF-8")
        val len = 16 + 4 + (if (user == null) 0 else user.length) +
          4 + (if (org == null) 0 else org.length) + 4 + r.body.length + 4
        val buf = java.nio.ByteBuffer.allocate(len)
        buf.putLong(seq).putLong(r.receivedAtMs)
        def put(f: Array[Byte]): Unit = {
          buf.putInt(if (f == null) -1 else f.length)
          if (f != null) buf.put(f)
        }
        put(user); put(org); put(r.body)
        val crc = new java.util.zip.CRC32()
        crc.update(buf.array(), 0, buf.position())
        buf.putInt(crc.getValue.toInt)
        buf.flip()
        try {
          failpoint match {
            case Some(fp) if fp.startsWith("append-torn") =>
              // simulate a mid-frame IO failure: half the frame lands
              val half = buf.duplicate(); half.limit(len / 2)
              while (half.hasRemaining) ch.write(half)
              throw new java.io.IOException(s"failpoint: $fp")
            case _ =>
              while (buf.hasRemaining) ch.write(buf)
          }
        } catch {
          case e: java.io.IOException =>
            healTornTail(e); throw e
        }
        activeLast = math.max(activeLast, seq)
        activeBytes += len
      }
      // fsync BEFORE the 200 — this is the durability line. The double-
      // checked leader pattern makes it a group commit: if a concurrent
      // force already covered this record, return immediately; otherwise
      // force every SEALED (rolled-but-unforced) channel plus the active
      // one, once for every record appended so far. All forces run outside
      // the append lock, so appends keep flowing while the leader syncs —
      // a roll therefore never stalls the receiver behind a multi-MB
      // fsync, and `synced` only advances once everything <= target is
      // genuinely on disk.
      if (synced.get() < seq) syncLeader.synchronized {
        while (synced.get() < seq) {
          val (alast, channel, owed) = synchronized { (activeLast, ch, sealedPending) }
          if (channel == null && owed.isEmpty) {
            // close/truncate paths force-or-retire and advance `synced`
            // BEFORE clearing the channels, so this means the WAL was
            // closed with our record unsynced — refuse the 200 rather
            // than promise durability we cannot deliver
            if (synced.get() < seq)
              throw new IllegalStateException(
                s"wal closed with record $seq awaiting sync")
          } else try {
            // sealed (older) segments first, then the active one; only
            // after ALL of them are forced is everything <= target durable
            val de = dirEpoch.get()
            owed.foreach(_._1.force(false))
            if (channel != null) channel.force(false)
            // a freshly-created segment's directory ENTRY must also be
            // durable before its records count as synced, or a power loss
            // could drop the whole file with its bytes already forced —
            // amortized here exactly like the data fsync (once per group,
            // and only when a segment was created since the last one).
            // A TRANSIENT open failure propagates like a failed channel
            // force (ADVICE r20): `synced` must not advance past records
            // in a segment whose directory entry is not yet durable, so
            // the accept gets its honest 500 and the client retries —
            // the next group commit (or the retried accept) re-forces.
            if (dirSynced.get() < de) {
              if (forceDir()) dirSynced.accumulateAndGet(de, math.max(_, _))
              else throw new java.io.IOException(
                s"wal $dir: directory fsync transiently unavailable; " +
                  "segment entry not yet power-loss durable — refusing the ack")
            }
            synchronized { sealedPending = sealedPending.diff(owed) }
            owed.foreach(_._1.close())
            val target = (alast :: owed.map(_._2)).max
            synced.accumulateAndGet(target, math.max(_, _))
          } catch {
            // closed under us by a concurrent close(): it forces before
            // closing and advances `synced` itself — re-check
            case _: java.nio.channels.ClosedChannelException => ()
          }
        }
      }
      seq
    }

    /** A frame write failed partway (ADVICE r17: e.g. ENOSPC mid-append):
      * later appends must never land BEHIND a torn frame — replay stops at
      * the first corrupt record per segment and would silently drop every
      * acknowledged record after it. Heal in place by truncating the
      * channel back to the pre-record offset; if even the truncate fails,
      * seal the segment so the tear sits at its TAIL (where replay's
      * clean stop loses only the record that is getting its 500) and
      * later records start a fresh segment. Called under the object lock;
      * `activeBytes` (only advanced on full-frame success) is the
      * pre-record offset.
      */
    private def healTornTail(cause: java.io.IOException): Unit = {
      try {
        if (failpoint.contains("append-torn-seal"))
          throw new java.io.IOException("failpoint: truncate failed")
        ch.truncate(activeBytes); ch.position(activeBytes)
      } catch {
        case _: Exception =>
          if (activeLast >= 0) rollActive()
          else {
            // the torn frame is the segment's ONLY record: drop the file
            try ch.close() catch { case _: Exception => () }
            Files.deleteIfExists(activePath)
            ch = null; activePath = null; activeFirst = -1L; activeBytes = 0L
          }
      }
    }

    private def rollActive(): Unit = {
      // seal WITHOUT forcing: the owed fsync moves to the next group-commit
      // leader (outside this lock), so a roll never stalls concurrent
      // appends behind a multi-MB force
      sealedPending = sealedPending :+ ((ch, activeLast))
      ch = null
      segs.put(activeFirst, (activePath, activeLast))
      activePath = null; activeFirst = -1L; activeLast = -1L; activeBytes = 0L
    }

    /** Persist the committed floor, THEN drop segments whose every record
      * is below `until`. The order is the whole point (r17 verdict): with
      * the floor durable first, a crash anywhere inside commit leaves
      * segments that merely replay extra records below the checkpoint —
      * harmless — whereas delete-first could crash with every segment gone
      * and the floor still at its OLD value, resuming seqno assignment
      * below the query's checkpoint so newly-acknowledged payloads would
      * never be planned. The floor file is forced before its atomic
      * rename and the directory forced after (power-loss model); the
      * floor is monotonic (a stale smaller `until` never regresses it).
      */
    // serializes commits with each other (the streaming engine already
    // calls commit single-threaded; direct spec drives may not) WITHOUT
    // holding the append monitor across the floor's three fsyncs — a
    // multi-second force under the append lock would stall every
    // concurrent handler's 200, the exact freeze the sealedPending design
    // exists to avoid
    private val commitLock = new Object

    def commit(until: Long): Unit = commitLock.synchronized {
      // phase 1, OUTSIDE the append monitor: persist the floor (forced
      // tmp + atomic rename + dir fsync). Appends never need the floor —
      // they only assign seqnos above the publish floor >= until — so
      // handlers keep flowing while these fsyncs run
      val floor = math.max(until, committedFloor)
      val tmp = dir.resolve("committed.tmp")
      val tc = java.nio.channels.FileChannel.open(tmp,
        StandardOpenOption.CREATE, StandardOpenOption.WRITE,
        StandardOpenOption.TRUNCATE_EXISTING)
      try {
        val b = java.nio.ByteBuffer.wrap(floor.toString.getBytes("UTF-8"))
        while (b.hasRemaining) tc.write(b)
        tc.force(true)
      } finally tc.close()
      Files.move(tmp, dir.resolve("committed"), StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
      forceDir() // the rename itself must survive power loss
      if (failpoint.contains("commit-after-floor"))
        throw new IllegalStateException(
          "failpoint: crash between the floor persist and the deletes")
      // phase 2, under the append monitor: drop fully-committed storage
      // (metadata-only operations — no fsync under the lock)
      synchronized { dropCommitted(until) }
      // phase 3, outside again: make the deletes durable — a power-loss
      // resurrection of a deleted segment is CORRECT (all its seqnos sit
      // below the durable floor, so a resumed query's checkpoint skips
      // them) but wasteful; one dir fsync per micro-batch keeps the log
      // tight
      forceDir()
    }

    /** Drop segments whose every record is below `until`; caller holds the
      * object monitor and has already made the committed floor durable.
      */
    private def dropCommitted(until: Long): Unit = {
      val it = segs.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        if (e.getValue._2 < until) { Files.deleteIfExists(e.getValue._1); it.remove() }
      }
      // sealed channels whose every record is committed: retire un-forced
      // (consumed records no longer need durability; the publish floor
      // keeps `until` at or below all in-flight seqnos)
      val (dead, live) = sealedPending.partition(_._2 < until)
      dead.foreach { case (c, last) =>
        synced.accumulateAndGet(last, math.max(_, _)); c.close()
      }
      sealedPending = live
      if (ch != null && activeLast >= 0 && activeLast < until) {
        // every record here is committed (the publish floor keeps `until`
        // at or below all in-flight seqnos, so none is still awaiting its
        // 200) — retire them for any waiting group-commit leader, then
        // drop the segment
        synced.accumulateAndGet(activeLast, math.max(_, _))
        ch.close(); ch = null
        Files.deleteIfExists(activePath)
        activePath = null; activeFirst = -1L; activeLast = -1L; activeBytes = 0L
      }
    }

    def close(): Unit = synchronized {
      closed = true
      // final force of everything BEFORE the close and BEFORE advancing
      // `synced`: a group-commit leader mid-append must never see its
      // record marked durable without a force having covered it (a close
      // that skipped the force would let a concurrent accept 200 a
      // page-cache-only record). Per-channel try: one failing force must
      // not leak the remaining channels or skip the active segment's
      // final fsync — `synced` simply does not advance for the channel
      // that failed, so a racing accept gets its honest 500.
      // dir entries first (a record may only count as synced once its
      // segment's directory entry is durable), then the channel data
      val de = dirEpoch.get()
      if (dirSynced.get() < de) {
        // mirror the group-commit leader (ADVICE r20): only advance
        // dirSynced when the force actually happened — on a transient
        // failure there is no later retry (the process is closing), so
        // log that the entry remains un-forced instead of silently
        // marking the owed epoch synced. forceDir() itself never throws
        // for the open (it latches or returns false); a force() failure
        // on an opened channel still must not abort the remaining
        // channel fsyncs below.
        try {
          if (forceDir()) dirSynced.accumulateAndGet(de, math.max(_, _))
          else System.err.println(s"[wal:$dir] close: directory entry for " +
            s"epoch $de remains un-forced (transient open failure at close); " +
            "a power loss may drop the newest segment's directory entry")
        } catch { case e: Exception =>
          System.err.println(s"[wal:$dir] close: dir force failed: $e")
        }
      }
      val all = sealedPending ++
        (if (ch != null) List((ch, activeLast)) else Nil)
      sealedPending = Nil
      ch = null
      all.foreach { case (c, last) =>
        try {
          c.force(false)
          synced.accumulateAndGet(last, math.max(_, _))
        } catch {
          case e: Exception =>
            System.err.println(s"[wal:$dir] close: force failed for " +
              s"records <= $last: $e")
        } finally {
          try c.close() catch { case _: Exception => () }
        }
      }
    }
  }

  /** One receiver per (JVM, port): buffered messages with monotonic seqnos,
    * served as [[Config]] says.
    *
    * Durability: with `walDir` set, every accepted payload is appended to
    * the [[Wal]] and fsync'd BEFORE the 200 — the durable equivalent of the
    * reference's respond-after-pulsar-flush contract (produce.go:164-181);
    * a receiver crash between the 200 and the micro-batch commit replays
    * the acknowledged payloads on restart (WalRecoverySpec kills between
    * the two and proves delivery). With `walDir` EMPTY (the default), the
    * 200 only means buffered in JVM memory — a crash in that window loses
    * acknowledged payloads, a strictly weaker contract than the
    * reference's; use the WAL when the 200 must mean durable.
    */
  final class Receiver(private[HttpRemoteWriteSource] val config: Config) extends SeqCursor {
    import config._
    // validate HERE, before the registry insertion: a throw inside
    // computeIfAbsent leaves no stale entry, so a corrected retry on the
    // same port works without a manual shutdown
    require(handlerThreads > 0,
      s"--web.handler-threads must be positive, got $handlerThreads")
    private val buf = new java.util.concurrent.ConcurrentSkipListMap[Long, Received]()
    private val seq = new AtomicLong(0L)
    // Publish floor: seqno assignment and buffer insertion are two steps
    // (with a WAL fsync between them), so without this set a concurrent
    // handler could expose seq N+1 through `latest` while record N was
    // still being made durable — the planner would fence the micro-batch
    // past N, commit the offset, and the acknowledged payload would never
    // be read. `latest` therefore reports the smallest in-flight seqno
    // (everything below it is fully published); only when nothing is in
    // flight does it report the next seqno to assign. PublishFloorSpec
    // pins the ordering.
    private val inFlight = new java.util.concurrent.ConcurrentSkipListSet[java.lang.Long]()
    private val seqLock = new Object
    private[graft] def beginPublish(): Long = seqLock.synchronized {
      val s = seq.getAndIncrement(); inFlight.add(s); s
    }
    // also under seqLock: `latest`'s isEmpty-then-first must be atomic
    // against removal, or first() can throw on a set emptied between the
    // two calls (crashing latestOffset and the query with it)
    private[graft] def endPublish(s: Long): Unit =
      seqLock.synchronized { inFlight.remove(s) }
    private val connBirth = new ConcurrentHashMap[String, java.lang.Long]()
    private val lastSweepMs = new AtomicLong(0L)
    /** Test seam: the connections whose age is tracked. */
    private[graft] def trackedConnections: Int = connBirth.size
    @volatile private var server: com.sun.net.httpserver.HttpServer = _
    private val wal: Wal =
      if (walDir.isEmpty) null else new Wal(java.nio.file.Paths.get(walDir))
    // crash recovery: acknowledged-but-uncommitted payloads re-enter the
    // buffer with their ORIGINAL seqnos (a checkpointed query re-plans
    // exactly the lost range), and the seq counter resumes past both the
    // replayed max and the persisted committed floor so offsets stay
    // monotonic even when every segment was truncated
    if (wal != null) {
      val (maxSeq, entries) = wal.replay()
      entries.foreach { case (s, r) => buf.put(s, r) }
      seq.set(math.max(maxSeq + 1L, wal.committedFloor))
    }

    /** handlers.go:42-49: stamp Connection: close when the (keep-alive)
      * connection — identified by the client socket address — is too old.
      * A connection that closes younger never comes back to be removed, so
      * at most once per age interval every entry past the age is swept. A
      * live connection that was swept starts a new age on its next
      * request: none lives past twice the age.
      */
    private def ageGate(e: com.sun.net.httpserver.HttpExchange): Unit = {
      if (maxConnectionAgeMs > 0L) {
        val id = e.getRemoteAddress.toString
        val now = System.currentTimeMillis()
        val birth = connBirth.computeIfAbsent(id, _ => java.lang.Long.valueOf(now))
        if (now - birth >= maxConnectionAgeMs) {
          e.getResponseHeaders.set("Connection", "close")
          connBirth.remove(id)
        }
        val last = lastSweepMs.get()
        if (now - last >= maxConnectionAgeMs && lastSweepMs.compareAndSet(last, now))
          connBirth.values.removeIf((b: java.lang.Long) => now - b >= maxConnectionAgeMs)
      }
    }

    def boundPort: Int = server.getAddress.getPort

    def start(): Unit = synchronized {
      if (server != null) return
      val addr =
        if (host.isEmpty) new java.net.InetSocketAddress(port)
        else new java.net.InetSocketAddress(host, port)
      server = com.sun.net.httpserver.HttpServer.create(addr, 0)
      server.createContext(path, (exchange: com.sun.net.httpserver.HttpExchange) => {
        try {
          ageGate(exchange)
          // one byte past the bound is enough to refuse the body
          val body =
            try exchange.getRequestBody.readNBytes(MaxBodyBytes + 1)
            catch { case _: Exception => respond(exchange, 500); null }
          if (body != null) {
            if (body.length > MaxBodyBytes) respond(exchange, 413)
            else if (validate && !valid(body)) respond(exchange, 400)
            else respond(exchange,
              accept(Received(body, authUser(exchange), orgHeader(exchange),
                System.currentTimeMillis())))
          }
        } finally exchange.close()
      })
      // /ready static ok (server.go:76-81)
      server.createContext("/ready", (e: com.sun.net.httpserver.HttpExchange) => {
        e.sendResponseHeaders(200, 0); e.getResponseBody.write("ready\n".getBytes); e.close()
      })
      // telemetry path: prometheus text exposition of the
      // engine registry (server.go:71-73 registers the handler on the
      // configurable --web.telemetry-path; instruments in graft.streaming.Metrics)
      server.createContext(telemetryPath, (e: com.sun.net.httpserver.HttpExchange) => {
        val body = graft.streaming.Metrics.render().getBytes("UTF-8")
        e.sendResponseHeaders(200, body.length); e.getResponseBody.write(body); e.close()
      })
      // /debug/pprof/ JVM facade (server.go:84-92; gated by the reference's
      // --web.disable-pprof): goroutine-dump analog = thread stacks; heap
      // line from the MemoryMXBean
      if (pprof) server.createContext("/debug/pprof/",
        (e: com.sun.net.httpserver.HttpExchange) => {
          val sb = new StringBuilder
          val heap = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
          sb.append(s"# heap used=${heap.getUsed} committed=${heap.getCommitted} max=${heap.getMax}\n")
          import scala.jdk.CollectionConverters._
          Thread.getAllStackTraces.asScala.toSeq.sortBy(_._1.getName).foreach { case (t, st) =>
            sb.append(s"\nthread ${t.getName} state=${t.getState}\n")
            st.foreach(f => sb.append(s"  at $f\n"))
          }
          val body = sb.toString.getBytes("UTF-8")
          e.sendResponseHeaders(200, body.length); e.getResponseBody.write(body); e.close()
        })
      // handlerThreads sizes concurrent request handling — in WAL mode it
      // also bounds the group-commit batch (more concurrent appends share
      // one force), so it is the single-ingress throughput knob. Named by
      // port, so a thread dump (or a spec) can tell which receiver they serve.
      val prefix = s"graft-receiver-$boundPort-"
      val handlers = new AtomicLong(0L)
      server.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(handlerThreads,
        (task: Runnable) => {
          val t = new Thread(task, prefix + handlers.incrementAndGet())
          t.setDaemon(false); t
        }))
      server.start()
    }

    private def valid(body: Array[Byte]): Boolean = {
      val raw = PromKernel.snappyUncompress(body)
      raw != null && PromKernel.validWriteRequest(raw)
    }

    /** BasicAuth username, null when absent/malformed (handlers.go:29-40). */
    private def authUser(e: com.sun.net.httpserver.HttpExchange): String =
      Option(e.getRequestHeaders.getFirst("Authorization"))
        .filter(_.startsWith("Basic "))
        .flatMap { h =>
          try {
            val dec = new String(java.util.Base64.getDecoder.decode(h.drop(6)), "UTF-8")
            Some(dec.takeWhile(_ != ':')).filter(_.nonEmpty)
          } catch { case _: Exception => None }
        }.orNull

    private def orgHeader(e: com.sun.net.httpserver.HttpExchange): String =
      e.getRequestHeaders.getFirst(graft.model.Model.TenantHeader)

    private def respond(e: com.sun.net.httpserver.HttpExchange, code: Int): Unit =
      e.sendResponseHeaders(code, -1)

    /** The async accept path shared by the HTTP handler and direct-driving
      * specs: assign a seqno under the publish floor, make the record
      * durable (WAL mode: group-commit fsync BEFORE the 200 — the
      * reference's 200 means pulsar-flushed, produce.go:164-181; without a
      * WAL the 200 only means buffered in JVM memory, see the class doc),
      * then publish into the buffer. Returns the HTTP status. A WAL IO
      * failure maps to 500 with the seqno retired un-published — a hole in
      * the sequence, which the range reader tolerates (offsets are
      * positions, not counts).
      */
    private[graft] def accept(r: Received): Int = {
      // WAL mode assigns the seqno INSIDE the WAL's append critical
      // section (append order == seqno order — the durable-watermark and
      // segment-lastSeq invariants need it; see Wal.append); without a
      // WAL the assignment is just the publish-floor bracket
      var assigned = -1L
      try {
        val s =
          if (wal != null) wal.append({ assigned = beginPublish(); assigned }, r)
          else { assigned = beginPublish(); assigned }
        buf.put(s, r)
        200
      } catch {
        case e: InterruptedException =>
          Thread.currentThread().interrupt() // preserve the interrupt flag
          500
        case e: Exception =>
          // a silent 500 would make disk-full indistinguishable from a bug:
          // log the cause and count it where /metrics can see it
          System.err.println(s"[receiver:$port] accept seq=$assigned failed: $e")
          graft.streaming.Metrics.add("receiver_accept_failures_total", 1L)
          500
      } finally if (assigned >= 0) endPublish(assigned)
    }

    override def latest: Long = seqLock.synchronized {
      if (inFlight.isEmpty) seq.get() else inFlight.first()
    }
    def range(from: Long, until: Long): Array[Received] =
      buf.subMap(from, until).values.toArray(Array.empty[Received])
    /** One partition per trigger, whatever the width: it keeps request order. */
    override def plan(from: Long, until: Long, width: Int): Array[SeqPartition] =
      Array(HttpInputPartition(range(from, until)))
    override def commit(until: Long): Unit = {
      buf.headMap(until).clear()
      if (wal != null) wal.commit(until)
    }
    def stop(): Unit = synchronized {
      if (server != null) { server.stop(0); server = null }
      if (wal != null) wal.close()
    }
    /** Test seam: the WAL's dir-fsync degrade latch (None without a WAL). */
    private[graft] def walDirSyncDegraded: Option[Boolean] =
      Option(wal).map(_.dirSyncDegraded)
  }

  private val receivers = new ConcurrentHashMap[Int, Receiver]()

  /** One receiver per port (one server can bind it). A second request for
    * the same port must ask for the SAME configuration — silently handing
    * back a server with a different path/host/validation than requested
    * would misroute a restarted query; fail fast instead (stop the old
    * receiver via [[shutdown]] to rebind with new settings).
    */
  def receiver(cfg: Config): Receiver = {
    val r = receivers.computeIfAbsent(cfg.port, _ => new Receiver(cfg))
    if (r.config != cfg)
      throw new IllegalStateException(
        s"port ${cfg.port} already serves a receiver with different settings " +
        s"(running: ${r.config}, requested: $cfg); " +
        s"shutdown(${cfg.port}) first to rebind")
    r.start()
    r
  }

  /** A receiver with the flag defaults but for its port, path, validation
    * and WAL dir.
    */
  def receiver(port: Int, path: String, validate: Boolean,
      walDir: String = ""): Receiver =
    receiver(Config.from(Flags()).copy(port = port, path = path,
      validate = validate, walDir = walDir))

  def shutdown(port: Int): Unit = {
    val r = receivers.remove(port)
    if (r != null) r.stop()
  }

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
}

/** DataSource V2 provider (format class name). Its options are the
  * produce command's flags.
  */
class HttpRemoteWriteProvider extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    HttpRemoteWriteSource.schema
  override def getTable(
      schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val cfg = HttpRemoteWriteSource.Config.from(Flags(properties))
    new SeqTable(s"http-remote-write:${cfg.port}${cfg.path}", HttpRemoteWriteSource.schema,
      0L, () => HttpRemoteWriteSource.receiver(cfg))
  }
}

final case class HttpInputPartition(msgs: Array[HttpRemoteWriteSource.Received])
    extends SeqPartition {
  override def reader(): PartitionReader[InternalRow] = new PartitionReader[InternalRow] {
    private var i = -1
    override def next(): Boolean = { i += 1; i < msgs.length }
    override def get(): InternalRow = {
      val m = msgs(i)
      InternalRow(
        m.body,
        if (m.basicAuthUser == null) null else UTF8String.fromString(m.basicAuthUser),
        if (m.orgIdHeader == null) null else UTF8String.fromString(m.orgIdHeader),
        m.receivedAtMs)
    }
    override def close(): Unit = ()
  }
}
