package graft.streaming

import java.nio.charset.StandardCharsets

import graft.functions.PromKernel

/** Parallel multi-writer fan-out for the produce path (reference:
  * pkg/app/produce.go:56-60 `writer` interface; :155-181 concurrent
  * per-request fan-out with per-writer error aggregation and a 500 response
  * naming the failed writers; :210-224 sendSamples metrics).
  */
object Writers {

  /** One decoded remote_write sample (produce.go:187-204 protoToSamples). */
  final case class WireSample(labels: Map[String, String], value: Double, timestampMs: Long)

  /** The reference's `writer` contract (produce.go:56-60): named destination,
    * writes one request's samples, throws on failure.
    */
  trait RequestWriter {
    def name: String
    def write(tenantId: String, samples: Seq[WireSample]): Unit
  }

  /** Flatten a decoded WriteRequest the way protoToSamples does: one sample
    * per (timeseries x sample), request order preserved.
    */
  def samplesOf(req: PromKernel.PbWriteRequest): Seq[WireSample] =
    for (ts <- req.timeseries; s <- ts.samples)
      yield WireSample(ts.labels.map(l => l.name -> l.value).toMap, s.value, s.timestamp)

  /** produce.go:155-181: fan one request out to every writer concurrently
    * (one goroutine per writer there, one thread here), wait for all, and
    * return the names of the writers that failed — the caller turns a
    * non-empty result into the 500 listing them. Per-writer sent/failed
    * counters and the batch-duration histogram mirror sendSamples
    * (produce.go:210-224, pkg/metrics/metrics.go).
    *
    * `timeoutMs` is ONE shared deadline for the whole fan-out, not a
    * per-writer allowance: N stuck writers delay the HTTP response by at
    * most one timeout (the threads race the same clock), so a request can
    * never hold its server thread for N x timeout. A writer that misses the
    * deadline is reported failed but keeps running as a daemon — it may
    * still complete (and count its metrics) after the client got its 500;
    * at-least-once delivery to that destination, same as the reference's
    * abandoned goroutines.
    */
  def fanOut(writers: Seq[RequestWriter], tenantId: String,
      samples: Seq[WireSample], timeoutMs: Long): Seq[String] = {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    val ok = new Array[Boolean](writers.length)
    val threads = writers.zipWithIndex.map { case (w, i) =>
      val t = new Thread(() => {
        val t0 = System.nanoTime()
        try {
          w.write(tenantId, samples)
          ok(i) = true
          Metrics.add("sent_samples_total", samples.size.toLong,
            "remote" -> w.name, "tenant" -> tenantId)
        } catch {
          case e: Exception =>
            Metrics.add("failed_samples_total", samples.size.toLong,
              "remote" -> w.name, "tenant" -> tenantId)
            System.err.println(s"[produce] writer '${w.name}' failed: ${e.getMessage}")
        } finally {
          Metrics.observeDuration("sent_batch_duration_seconds",
            (System.nanoTime() - t0) / 1e9, "remote" -> w.name, "tenant" -> tenantId)
        }
      }, s"graft-writer-${w.name}")
      t.setDaemon(true)
      t.start()
      t
    }
    threads.foreach { t =>
      val remainingMs = (deadline - System.nanoTime()) / 1000000L
      if (remainingMs > 0) t.join(remainingMs)
    }
    writers.zipWithIndex.collect { case (w, i) if !ok(i) => w.name }
  }

  /** A writer publishing to a keyed topic through the same producer seam the
    * streaming sink uses ([[KeyedSink.ProducerFactory]]): serializes with the
    * pipeline's wire formats and partitions by the FNV-64 series key — the
    * Pulsar-client Write shape (pkg/pulsar/pulsar.go:226-263) minus the
    * broker transport.
    */
  final class TopicWriter(val name: String, factory: KeyedSink.ProducerFactory,
      format: String = "json",
      replicaLabels: Seq[String] = Seq(graft.model.Model.DefaultReplicaLabel))
      extends RequestWriter {
    private lazy val producer = factory.create(0L)

    // resolve the wire format once at construction — including the
    // avro-json-compat=<path> form, which reads + validates the user schema
    // here exactly like the reference does at client build time
    // (app/pulsar.go:174-191); bad format/schema fails fast, not per sample
    private val (formatId, avroSpec) = graft.functions.AvroJsonSchema.payloadFormat(format)
    private val replicas = replicaLabels.map(_.getBytes(StandardCharsets.UTF_8)).toArray

    override def write(tenantId: String, samples: Seq[WireSample]): Unit = {
      val tenant = tenantId.getBytes(StandardCharsets.UTF_8)
      samples.foreach { s =>
        val keys = s.labels.keys.toArray
        val labels = PromKernel.Labels.ofStrings(keys, keys.map(s.labels))
        val template = PromKernel.payloadTemplate(formatId, avroSpec, labels, tenant)
        producer.sendAsync(
          new String(PromKernel.keyOf(labels, tenant, replicas), StandardCharsets.US_ASCII),
          PromKernel.fillPayload(template, s.timestampMs, s.value))
      }
      producer.flush()
    }
  }
}
