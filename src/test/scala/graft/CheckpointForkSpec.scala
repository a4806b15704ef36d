package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.spark.sql.{Encoder, Encoders, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.Poll.await
import graft.model.Model.Sample
import graft.streaming.{LocalCheckpointFileManager, RemoteWriteSink, TenantBatcher}

/** The batcher query checkpoints offsets, commits and state deltas on every
  * trigger. Under the CLI's checkpoint setting none of those writes may
  * start a process: Hadoop's local file system forks `readlink` for a
  * `FileContext` rename and `chmod` for a file it creates.
  */
class CheckpointForkSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** Runs `body` with the CLI's checkpoint setting, or with Spark's default
    * manager.
    */
  private def withAppCheckpoints[T](on: Boolean)(body: => T): T = {
    val (key, value) = LocalCheckpointFileManager.Setting
    val prev = spark.conf.getOption(key)
    if (on) spark.conf.set(key, value) else spark.conf.unset(key)
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** The processes this JVM started while `body` ran, from the
    * `jdk.ProcessStart` events of an in-process JFR recording: each command
    * line with the frames that started it, innermost first.
    */
  private def processStarts(body: => Unit): Seq[(String, Seq[String])] = {
    val r = new Recording()
    try {
      r.enable("jdk.ProcessStart").withStackTrace()
      r.start()
      try body finally r.stop()
      val f = Files.createTempFile("graft-process-starts-", ".jfr")
      try {
        r.dump(f)
        RecordingFile.readAllEvents(f).asScala.toSeq.map(e => e.getString("command") ->
          e.getStackTrace.getFrames.asScala.toSeq.map(fr => s"${fr.getMethod.getType.getName}.${fr.getMethod.getName}"))
      } finally Files.deleteIfExists(f)
    } finally r.close()
  }

  private implicit val sampleEnc: Encoder[Sample] = Encoders.product[Sample]

  private def sample(ts: Long) = Sample(ts, ts.toDouble, Map("__name__" -> "up"), "t")

  private def entries(ts: Seq[Long]): Seq[Seq[Byte]] = ts.map(t => RemoteWriteSink.entry(sample(t)).toSeq)

  /** The batcher at batch size 2, never a deadline flush, checkpointed in
    * `ckpt`, each batch it sends POSTed to `client`.
    */
  private def start(ms: MemoryStream[Sample], ckpt: java.nio.file.Path, client: RecordingClient) =
    TenantBatcher(ms.toDS(), TenantBatcher.Config(batchSize = 2, batchMaxDelayMs = 600000L))
      .writeStream
      .foreach(RemoteWriteSink.writer(client))
      .option("checkpointLocation", ckpt.toString)
      .trigger(Trigger.ProcessingTime("100 milliseconds"))
      .start()

  private def hiddenCrcs(ckpt: java.nio.file.Path): Seq[String] =
    Seq("offsets", "commits").flatMap(d =>
      Option(ckpt.resolve(d).toFile.list()).toSeq.flatten.filter(n => n.startsWith(".") && n.endsWith(".crc")))

  test("batcher checkpoints start no process after the first trigger; a restart sends the remainder once") {
    val ckpt = Files.createTempDirectory("graft-fork-ckpt-")
    val ms = MemoryStream[Sample](spark)
    val client = RecordingClient.fresh()
    def sentSamples = client.posts.map(_.size).sum

    withAppCheckpoints(on = true) {
      val q1 = start(ms, ckpt, client)
      try {
        // the first trigger creates the checkpoint directories: mkdirs may fork
        ms.addData(sample(1))
        await(q1.recentProgress.exists(_.numInputRows == 1))
        val starts = processStarts {
          // three data triggers, each a size flush that leaves one sample
          for (i <- 1 to 3) {
            ms.addData(sample(2 * i), sample(2 * i + 1))
            await(sentSamples == 2 * i)
          }
          // the last one's commit, and two more triggers, which the pending
          // timeout runs without data
          val last = q1.lastProgress.batchId
          await(q1.lastProgress.batchId >= last + 2)
        }
        // Spark removes the artifact directory of a session that GC freed
        // (an earlier query's) with `rm -rf`: not this query's work
        val forked = starts.filterNot(_._2.exists(_.contains("ArtifactManager")))
        if (forked.nonEmpty) fail(s"${forked.size} processes started: " +
          forked.groupBy(_._1).toSeq.sortBy(-_._2.size).map { case (cmd, es) =>
            s"${es.size} x $cmd from ${es.head._2.take(12).mkString(" < ")}"
          }.mkString("; "))
      } finally q1.stop()
      assert(hiddenCrcs(ckpt).isEmpty, hiddenCrcs(ckpt))

      // sample 7 waits in the recovered state; sample 8 fills its batch
      val q2 = start(ms, ckpt, client)
      try {
        ms.addData(sample(8))
        await(sentSamples == 8)
        Thread.sleep(1000L) // nothing more may follow
      } finally q2.stop()
    }
    val got = client.posts
    // every POST a size flush of 2
    assert(got.map(_.size).distinct == Seq(2))
    assert(got.flatMap(_.entries) == entries(1L to 8L))
  }

  test("a checkpoint resumes across the setting, either way") {
    val ckpt = Files.createTempDirectory("graft-fork-compat-ckpt-")
    val ms = MemoryStream[Sample](spark)
    val client = RecordingClient.fresh()
    def run(ts: Long, sentAfter: Int, app: Boolean): Unit = withAppCheckpoints(app) {
      val q = start(ms, ckpt, client)
      try {
        ms.addData(sample(ts))
        await(client.posts.size == sentAfter && q.recentProgress.exists(_.numInputRows == 1))
      } finally q.stop()
    }
    run(1, sentAfter = 0, app = false) // Hadoop writes a hidden .crc per file
    val before = hiddenCrcs(ckpt).toSet
    assert(before.nonEmpty)
    run(2, sentAfter = 1, app = true)
    assert(hiddenCrcs(ckpt).toSet == before, "new files get no hidden checksum")
    run(3, sentAfter = 1, app = false)
    run(4, sentAfter = 2, app = true)
    assert(client.posts.flatMap(_.entries) == entries(1L to 4L))
  }
}
