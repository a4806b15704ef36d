package graft.streaming

import org.apache.spark.sql.{ForeachWriter, Row}

/** Keyed message sink — the Pulsar-producer shape (operator #12,
  * pulsar.go:226-263) behind a transport abstraction (no Pulsar client ships
  * in this environment; the contract is the public pulsar-client API).
  *
  * Reference semantics preserved:
  *   - one long-lived producer per JVM, shared by every partition and
  *     micro-batch (single shared producer, pulsar.go:80-96,
  *     CHANGELOG.md:19-22): `open` takes a handle from the factory per
  *     partition per epoch, and [[PulsarSink.Factory]] hands out the same
  *     producer each time
  *   - rows carry (key, payload); null payload (serialize failure) is logged
  *     and skipped, not fatal (pulsar.go:239-243)
  *   - async sends flushed on commit (pulsar.go:261-262); commit fails =>
  *     micro-batch replays (at-least-once)
  */
object KeyedSink {

  /** Producer contract (maps 1:1 onto pulsar.Producer). */
  trait Producer {
    def sendAsync(key: String, payload: Array[Byte]): Unit
    def flush(): Unit
    def close(): Unit
  }

  /** Serializable factory; implementations hold connection config. */
  trait ProducerFactory extends Serializable {
    def create(partitionId: Long): Producer
  }

  /** Every message to every destination: the writer fan-out of
    * produce.go:155-181 as the sink of the one produce query. A destination
    * that throws fails the micro-batch, whose replay sends to all of them
    * again (at-least-once, duplicates on the healthy ones).
    */
  def fanOut(factories: Seq[ProducerFactory]): ProducerFactory = new ProducerFactory {
    override def create(partitionId: Long): Producer = new Producer {
      private val ps = factories.map(_.create(partitionId))
      override def sendAsync(key: String, payload: Array[Byte]): Unit = ps.foreach(_.sendAsync(key, payload))
      override def flush(): Unit = ps.foreach(_.flush())
      override def close(): Unit = ps.foreach(_.close())
    }
  }

  /** Rows: (key: String, payload: Binary). */
  def writer(factory: ProducerFactory): ForeachWriter[Row] = new ForeachWriter[Row] {
    @transient private var producer: Producer = _
    @transient private var skipped: Long = 0L

    override def open(partitionId: Long, epochId: Long): Boolean = {
      producer = factory.create(partitionId)
      skipped = 0L
      true
    }

    override def process(row: Row): Unit = {
      val payload = row.getAs[Array[Byte]]("payload")
      if (payload == null) {
        // serialize-error skip (pulsar.go:239-243)
        skipped += 1
      } else {
        producer.sendAsync(row.getAs[String]("key"), payload)
      }
    }

    override def close(errorOrNull: Throwable): Unit = {
      if (producer != null) {
        if (errorOrNull == null) producer.flush()
        if (skipped > 0) System.err.println(s"[keyed-sink] skipped $skipped unserializable rows")
        producer.close()
      }
    }
  }
}
