package graft.bench

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream, EOFException}
import java.nio.file.{Files, Paths}

/** What the benchmark sees during the timed region (topic messages, downstream
  * POSTs) goes to a file, not the heap, so the process's peak RSS is the
  * program's and not the checker's. It is read back once the peak is taken.
  */
final class Spool(name: String) {
  val file: java.io.File =
    Files.createTempFile(Paths.get(System.getProperty("java.io.tmpdir")), name, ".spool").toFile
  private val out = new DataOutputStream(new BufferedOutputStream(new java.io.FileOutputStream(file), 1 << 16))

  def write(ns: Long, key: String, bytes: Array[Byte]): Unit = synchronized {
    out.writeLong(ns); out.writeUTF(key); out.writeInt(bytes.length); out.write(bytes)
  }

  def close(): Unit = synchronized(out.close())

  /** The records in the order they were written. */
  def read(): Iterator[Spool.Record] = {
    close()
    val in = new DataInputStream(new BufferedInputStream(new java.io.FileInputStream(file), 1 << 16))
    Iterator.continually {
      try {
        val ns = in.readLong(); val key = in.readUTF()
        val b = new Array[Byte](in.readInt()); in.readFully(b)
        Spool.Record(ns, key, b)
      } catch { case _: EOFException => in.close(); null }
    }.takeWhile(_ != null)
  }
}

object Spool {
  final case class Record(ns: Long, key: String, bytes: Array[Byte])
}
