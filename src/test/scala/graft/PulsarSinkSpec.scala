package graft

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.types.{BinaryType, StringType, StructType}

import graft.sources.BrokerSource
import graft.streaming.{KeyedSink, PulsarSink}

/** Pulsar adapter config plumbing (pkg/app/pulsar.go:74-115) — parse,
  * validation, and factory selection, all without a live broker.
  */
class PulsarSinkSpec extends AnyFunSuite {

  test("flags parse with the reference's names and defaults") {
    val flags = Flags.parse(Seq(
      "--pulsar.url", "pulsar+ssl://pulsar-proxy:6651",
      "--pulsar.topic", "metrics-tls",
      "--pulsar.connection-timeout", "5s",
      "--pulsar.certificate-authority", "/etc/ca.pem",
      "--pulsar.client-certificate", "/etc/crt.pem",
      "--pulsar.client-key", "/etc/key.pem",
      "--pulsar.insecure-skip-tls-verify", "true",
      "--pulsar.max-connections-per-broker", "4",
      "--send-timeout", "12s",
      "--pulsar.subscription", "my-shared-sub"))
    val cfg = PulsarSink.Config.from(flags)
    assert(cfg.url == "pulsar+ssl://pulsar-proxy:6651")
    assert(cfg.topic == "metrics-tls")
    assert(cfg.connectionTimeoutMs == 5000L)
    assert(cfg.certificateAuthority == "/etc/ca.pem")
    assert(cfg.clientCertificate == "/etc/crt.pem")
    assert(cfg.clientKey == "/etc/key.pem")
    assert(cfg.insecureSkipTlsVerify)
    assert(!cfg.insecureSkipTlsValidateHostname)
    assert(cfg.maxConnectionsPerBroker == 4)
    // --send-timeout -> OperationTimeout (produce.go:45-46,68);
    // --pulsar.subscription -> the consume source's shared subscription
    // name (consume.go:42-43)
    assert(cfg.operationTimeoutMs == 12000L)
    assert(BrokerSource.Config.from(flags).subscription == "my-shared-sub")
    // defaults (pulsar.go:74-93, produce.go:46, consume.go:43)
    val d = PulsarSink.Config.from(Flags())
    assert(d.url == "" && d.topic == "metrics" && d.connectionTimeoutMs == 30000L
      && d.maxConnectionsPerBroker == 1 && !d.insecureSkipTlsVerify)
    assert(d.operationTimeoutMs == 30000L &&
      BrokerSource.Config.from(Flags()).subscription == "pulsar-adapter")
  }

  test("--pulsar.topic and its alias --topic name one topic for produce and consume") {
    // produce publishes to PulsarSink.Config.from(flags).topic (real broker
    // or in-memory); consume subscribes to BrokerSource.Config.from(flags)'s
    for ((args, topic) <- Seq(
        Seq("--pulsar.topic", "pt") -> "pt",
        Seq("--topic", "t") -> "t",
        Seq("--topic", "t", "--pulsar.topic", "pt") -> "pt", // reference spelling wins
        Seq("--pulsar.topic=pt", "--topic=t") -> "pt",
        Seq.empty[String] -> "metrics")) {
      val flags = Flags.parse(Seq("--pulsar.url", "pulsar://broker:6650") ++ args)
      val produce = PulsarSink.Config.from(flags)
      val consume = BrokerSource.Config.from(flags)
      assert(produce.topic == topic && consume.topic == topic && consume.pulsar == produce, args)
    }
  }

  test("duration literals: kingpin formats incl. compound and fractional") {
    assert(PulsarSink.parseDurationMs("30s") == 30000L)
    assert(PulsarSink.parseDurationMs("500ms") == 500L)
    assert(PulsarSink.parseDurationMs("2m") == 120000L)
    assert(PulsarSink.parseDurationMs("1h") == 3600000L)
    assert(PulsarSink.parseDurationMs("250") == 250L)
    // Go time.ParseDuration compound / fractional forms
    assert(PulsarSink.parseDurationMs("1m30s") == 90000L)
    assert(PulsarSink.parseDurationMs("1.5s") == 1500L)
    assert(PulsarSink.parseDurationMs("2h45m") == 9900000L)
    assert(PulsarSink.parseDurationMs("1.5h") == 5400000L)
    assert(PulsarSink.parseDurationMs("1h30m10s500ms") == 5410500L)
    assert(PulsarSink.parseDurationMs("1000us") == 1L)
    assert(PulsarSink.parseDurationMs("-1m30s") == -90000L)
  }

  test("bad duration names the flag and the accepted formats") {
    val e = intercept[IllegalArgumentException](
      PulsarSink.parseDurationMs("1m30", "send-timeout"))
    assert(e.getMessage.contains("--send-timeout"), e.getMessage)
    assert(e.getMessage.contains("1m30") && e.getMessage.contains("1m30s"), e.getMessage)
    intercept[IllegalArgumentException](PulsarSink.parseDurationMs("abc", "x"))
    intercept[IllegalArgumentException](PulsarSink.parseDurationMs("5 s", "x"))
    intercept[IllegalArgumentException](PulsarSink.parseDurationMs("", "x"))
  }

  test("--send-timeout reaches the remote_write HTTP client (consume.go:99)") {
    val c = new graft.streaming.RemoteWriteSink.HttpClient(
      "http://localhost:9/api/v1/write", PulsarSink.parseDurationMs("5s", "send-timeout"))
    assert(c.timeoutMs == 5000L)
  }

  test("TLS auth requires both key and certificate (pulsar.go:97-103)") {
    val e = intercept[IllegalArgumentException] {
      PulsarSink.Config.from(Flags.parse(Seq("--pulsar.client-key", "/etc/key.pem")))
    }
    assert(e.getMessage.contains("both pulsar.client-key and pulsar.client-certificate"))
    intercept[IllegalArgumentException] {
      PulsarSink.Config.from(Flags("pulsar.client-certificate" -> "/etc/crt.pem"))
    }
  }

  test("factory fails fast without pulsar-client on the classpath") {
    val f = new PulsarSink.Factory(PulsarSink.Config.from(Flags("pulsar.url" -> "pulsar://localhost:6650")))
    val e = intercept[IllegalStateException](f.create(0L))
    assert(e.getMessage.contains("pulsar-client is not on the classpath"))
    assert(e.getCause.isInstanceOf[ClassNotFoundException])
  }

  test("consumer cursor fails fast without pulsar-client on the classpath") {
    val c = BrokerSource.cursor(BrokerSource.Config.from(Flags(
      "pulsar.url" -> "pulsar://localhost:6650", "topic" -> "t-consumer-ff",
      "pulsar.subscription" -> "sub-ff")))
    val e = intercept[IllegalStateException](c.poll())
    assert(e.getMessage.contains("pulsar-client is not on the classpath"), e.getMessage)
    assert(e.getMessage.contains("consume from"), e.getMessage)
  }

  test("broker source provider selects the pulsar consumer for pulsar.url") {
    val props = new java.util.HashMap[String, String]()
    props.put("topic", "pt")
    props.put("pulsar.subscription", "my-sub")
    props.put("pulsar.url", "pulsar+ssl://proxy:6651")
    val t = new graft.sources.BrokerSourceProvider().getTable(null, Array.empty, props)
    assert(t.name() == "broker:pulsar:pulsar+ssl://proxy:6651/pt@my-sub", t.name())
    // TLS validation applies to the consumer config path too
    props.put("pulsar.client-key", "/etc/key.pem")
    val e = intercept[IllegalArgumentException](
      new graft.sources.BrokerSourceProvider().getTable(null, Array.empty, props))
    assert(e.getMessage.contains("both pulsar.client-key and pulsar.client-certificate"))
  }

  test("the produce sink connects once per JVM and config, and flushes every epoch") {
    val producer = new FakeProducer
    var connects = 0
    val f = new PulsarSink.Factory(PulsarSink.Config.from(Flags("pulsar.url" -> "pulsar://fake-epochs:6650"))) {
      override protected def connect(): (AnyRef, () => Unit) = {
        connects += 1
        (producer, () => ())
      }
    }
    val schema = new StructType().add("key", StringType).add("payload", BinaryType)
    val w = KeyedSink.writer(f)
    (0L to 1L).foreach { epoch =>
      assert(w.open(0L, epoch))
      w.process(new GenericRowWithSchema(Array[Any](s"k$epoch", Array[Byte](1, 2)), schema))
      w.close(null)
    }
    assert(connects == 1)
    assert(producer.flushes == 2)
    assert(producer.sent == Seq("k0", "k1"))
  }

  /** The pulsar-client `Producer` and `TypedMessageBuilder` methods the sink
    * calls by reflection.
    */
  class FakeProducer {
    val sent = scala.collection.mutable.Buffer.empty[String]
    var flushes = 0
    def newMessage(): FakeMessageBuilder = new FakeMessageBuilder(this)
    def flush(): Unit = flushes += 1
  }

  class FakeMessageBuilder(p: FakeProducer) {
    private var k: String = _
    def key(key: String): FakeMessageBuilder = { k = key; this }
    def value(v: AnyRef): FakeMessageBuilder = this
    def sendAsync(): AnyRef = { p.sent += k; null }
  }
}
