package graft.streaming

import java.nio.file.{Files, Path, Paths, StandardOpenOption}
import java.util.concurrent.atomic.AtomicLong

/** File-backed keyed topic — the cross-process sibling of [[InMemoryBroker]]
  * (a directory as landing zone / broker stand-in, the pattern named in
  * SURVEY §2 op#1). One message per file: 4-byte big-endian key length, key
  * bytes, payload bytes. Filenames are (epochMs, nanos, producer-uuid)
  * ordered, so lexicographic listing equals arrival order per producer —
  * the same per-key FIFO the keyed broker gives. Names additionally carry
  * a key-hash suffix (`-kh<8 hex>`) so a consumer can split a batch across
  * reader tasks BY KEY without opening any file (per-key order preserved);
  * a batch containing any legacy name (no suffix) stays one partition —
  * see [[keyHashOf]].
  */
object FileTopic {

  private val KeyHashPattern = ".*-kh([0-9a-f]{8})\\.msg$".r

  /** Stable key hash carried in the filename (String.hashCode is specified
    * and identical across JVMs).
    */
  def keyHash(key: String): Int =
    (if (key == null) 0 else key.hashCode) & 0x7fffffff

  /** Key-hash of a stored message, from the name alone — None for legacy
    * names (pre-suffix producers), where the key is only inside the file.
    * Consumers must NOT substitute a name-derived hash: two messages with
    * the same key would land in different reader partitions, silently
    * breaking the per-key ordering contract.
    */
  def keyHashOf(name: String): Option[Int] = name match {
    case KeyHashPattern(h) => Some(java.lang.Long.parseLong(h, 16).toInt & 0x7fffffff)
    case _ => None
  }

  def encode(key: String, payload: Array[Byte]): Array[Byte] = {
    val kb = key.getBytes("UTF-8")
    val out = java.nio.ByteBuffer.allocate(4 + kb.length + payload.length)
    out.putInt(kb.length).put(kb).put(payload)
    out.array()
  }

  def decode(bytes: Array[Byte]): (String, Array[Byte]) = {
    val in = java.nio.ByteBuffer.wrap(bytes)
    val kb = new Array[Byte](in.getInt)
    in.get(kb)
    val payload = new Array[Byte](in.remaining())
    in.get(payload)
    (new String(kb, "UTF-8"), payload)
  }

  /** Producer writing one file per message (tmp + atomic move). `flush`
    * makes the files written since the last flush durable: it forces each
    * one, then the directory that holds their names. The sink flushes
    * before its micro-batch commits, so a message behind a committed offset
    * (and a deleted WAL segment, under `--wal-dir`) survives power loss.
    */
  final class Factory(dir: String) extends KeyedSink.ProducerFactory {
    override def create(partitionId: Long): KeyedSink.Producer = new KeyedSink.Producer {
      private val base = Paths.get(dir)
      Files.createDirectories(base)
      private val producerId = java.util.UUID.randomUUID().toString.take(8)
      private val n = new AtomicLong(0L)
      private val unsynced = scala.collection.mutable.ArrayBuffer.empty[Path]

      override def sendAsync(key: String, payload: Array[Byte]): Unit = {
        val name = f"${System.currentTimeMillis()}%013d-${System.nanoTime()}%019d-$producerId-${n.getAndIncrement()}%06d-kh${keyHash(key)}%08x.msg"
        val tmp = base.resolve(s".$name.tmp")
        Files.write(tmp, encode(key, payload), StandardOpenOption.CREATE_NEW)
        val file = base.resolve(name)
        Files.move(tmp, file, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        unsynced += file
      }
      override def flush(): Unit = if (unsynced.nonEmpty) {
        unsynced.foreach(force)
        force(base)
        unsynced.clear()
      }
      override def close(): Unit = ()
    }
  }

  /** fsync a file, or a directory's entries (POSIX lets both be opened for
    * reading and forced).
    */
  private def force(p: Path): Unit = {
    val ch = java.nio.channels.FileChannel.open(p, StandardOpenOption.READ)
    try ch.force(true) finally ch.close()
  }

  /** Names only — no payload reads. This is what the driver-side cursor
    * buffers; executors call [[read]] per name to materialize payloads.
    */
  def listNamesAfter(dir: String, after: String): Seq[String] = {
    val base = Paths.get(dir)
    if (!Files.isDirectory(base)) return Seq.empty
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val stream = Files.list(base)
    try {
      stream.iterator().forEachRemaining { p: Path =>
        val name = p.getFileName.toString
        if (name.endsWith(".msg") && name > after) out += name
      }
    } finally stream.close()
    out.sorted.toSeq
  }

  /** Read one message file: (key, payload). */
  def read(dir: String, name: String): (String, Array[Byte]) =
    decode(Files.readAllBytes(Paths.get(dir).resolve(name)))
}
