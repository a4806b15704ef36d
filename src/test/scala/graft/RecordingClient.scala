package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import graft.functions.PromKernel
import graft.streaming.{RemoteWriteSink, TenantBatcher}

/** A remote_write client that accepts every POST and keeps it in a JVM-wide
  * log, for specs that run the CLI's sink ([[RemoteWriteSink.writer]]). The
  * writer runs in tasks, each with its own deserialized copy of the client,
  * so the POSTs are kept under the log's name, not in the copy.
  */
final case class RecordingClient(log: String) extends RemoteWriteSink.Client {
  override def store(tenantId: String, body: Array[Byte]): RemoteWriteSink.StoreResult = {
    RecordingClient.logs.get(log).add(RecordingClient.Post(tenantId, body, System.currentTimeMillis()))
    RemoteWriteSink.Ok
  }

  /** The POSTs taken so far, in arrival order. */
  def posts: Seq[RecordingClient.Post] = RecordingClient.logs.get(log).asScala.toSeq
}

object RecordingClient {

  /** One POST: its tenant header, its snappy body and when it arrived. */
  final case class Post(tenantId: String, body: Array[Byte], atMs: Long) {
    /** The body's entries, one per sample. */
    lazy val entries: Seq[Seq[Byte]] =
      TenantBatcher.entries(PromKernel.snappyUncompress(body)).map(_.toSeq)
    def size: Int = entries.size
  }

  private val logs = new ConcurrentHashMap[String, ConcurrentLinkedQueue[Post]]()

  /** A client with a new, empty log. */
  def fresh(): RecordingClient = {
    val log = java.util.UUID.randomUUID().toString
    logs.put(log, new ConcurrentLinkedQueue[Post]())
    RecordingClient(log)
  }
}
