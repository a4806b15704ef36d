package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{Encoder, Encoders, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.Poll.await
import graft.model.Model.Sample
import graft.streaming.{RemoteWriteSink, TenantBatcher}

/** A steady-state batcher trigger generates no new code. Its state, input and
  * output rows are flat (byte arrays, ints, strings), so the code Spark
  * generates to read and write them is the same each trigger and comes from
  * the codegen cache. A collection field (`Seq[Array[Byte]]`) deserializes
  * through `MapObjects`, whose variables are renamed every time the encoder
  * is resolved, so each trigger compiled again and its tasks waited on it.
  */
class BatcherCodegenSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private implicit val sampleEnc: Encoder[Sample] = Encoders.product[Sample]

  test("after two warm triggers, batcher triggers that keep state compile no code") {
    // the compile counter is JVM-wide: no other query may run meanwhile
    spark.streams.active.foreach(_.stop())
    val ms = MemoryStream[Sample](spark)
    val client = RecordingClient.fresh()
    val q = TenantBatcher(ms.toDS(), TenantBatcher.Config(batchSize = 3, batchMaxDelayMs = 600000L))
      .writeStream
      .foreach(RemoteWriteSink.writer(client))
      .trigger(Trigger.ProcessingTime("100 milliseconds"))
      .start()
    def compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    // each trigger adds 4 samples for tenant a and 1 for tenant b: a flushes
    // every trigger and holds a remainder two triggers in three, b holds
    // its samples and flushes every third trigger
    def trigger(i: Int): Unit = {
      val off = ms.addData(Seq.tabulate(4)(j => sample("a", 4L * i + j)) :+ sample("b", i.toLong): _*)
      await(Option(q.lastProgress).exists(_.sources.head.endOffset == off.json))
    }
    val warm = try {
      (1 to 2).foreach(trigger)
      // the pending timeouts run a trigger without data after each one with
      // data, and its plan is another one: warm it too
      val last = q.lastProgress.batchId
      await(q.recentProgress.exists(p => p.batchId > last && p.numInputRows == 0))
      val before = compiles
      (3 to 8).foreach(trigger)
      before
    } finally q.stop()
    assert(compiles == warm, s"${compiles - warm} compiles in 6 triggers after warm-up")
    val posts = client.posts
    assert(posts.filter(_.tenantId == "a").map(_.size).sum == 30) // 32 in, 2 held
    assert(posts.filter(_.tenantId == "b").map(_.size).sum == 6) // 8 in, 2 held
    assert(posts.forall(_.size == 3))
  }

  private def sample(tenant: String, ts: Long) =
    Sample(ts, ts.toDouble, Map("__name__" -> "up", "job" -> "node"), tenant)
}
