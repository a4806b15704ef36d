package graft.streaming

import java.io.{BufferedOutputStream, File}
import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataOutputStream, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager

/** Checkpoint file manager for both streaming queries: the offset and commit
  * logs (`HDFSMetadataLog`) and the batcher's state deltas and snapshots
  * (`HDFSBackedStateStore`) write through it.
  *
  * Spark's default, the `FileContext` manager, renames with
  * `Options.Rename`, which on the local file system reads the link status
  * of the paths through `FileUtil.readLink`, and Hadoop's local `create`
  * sets each new file's permission with `chmod`. Without libhadoop each of
  * those starts a child process: a 10 s consume_drain run of the bridge
  * benchmark started 2,442 processes (1,944 `readlink`, 496 `chmod`).
  *
  * Here a rename is the plain `FileSystem.rename` (`File.renameTo`, an
  * atomic `rename(2)` within one directory), and a local temp file is
  * written with `java.nio.file.Files`, so no checkpoint write starts a
  * process (the same run: 12 process starts, all one-time). Layout change:
  * a local checkpoint file gets no hidden Hadoop `.<name>.crc`; reads take a
  * missing one as "not checksummed", and Spark's own state checksum files
  * (`<version>.delta.crc`) are still written. Other file systems get the
  * parent class's `FileSystem` writes.
  */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends FileSystemBasedCheckpointFileManager(path, hadoopConf) {

  private val localFile: Option[Path => File] = fs match {
    case l: LocalFileSystem => Some(l.pathToFile)
    case r: RawLocalFileSystem => Some(r.pathToFile)
    case _ => None
  }

  override def createTempFile(path: Path): FSDataOutputStream = localFile match {
    case Some(file) =>
      val p = file(path).toPath
      Files.createDirectories(p.getParent)
      new FSDataOutputStream(new BufferedOutputStream(Files.newOutputStream(p)), null)
    case None => super.createTempFile(path)
  }
}

object LocalCheckpointFileManager {

  /** The session setting that makes every streaming query of the session
    * checkpoint through this class.
    */
  val Setting: (String, String) =
    "spark.sql.streaming.checkpointFileManagerClass" -> classOf[LocalCheckpointFileManager].getName
}
