package graft.streaming

import java.util.concurrent.TimeUnit

/** Pulsar producer adapter behind [[KeyedSink.ProducerFactory]] (reference:
  * pkg/pulsar/pulsar.go:75-121 client construction, pkg/app/pulsar.go:74-93
  * flag surface, :96-115 clientOptions).
  *
  * The adapter targets the PUBLIC pulsar-client API
  * (`org.apache.pulsar.client.api.PulsarClient` et al.) through reflection,
  * so this library compiles and runs with zero Pulsar dependency; placing the
  * official pulsar-client jar on the executor classpath makes [[Factory]]
  * produce to a real broker with the same TLS/auth semantics the reference
  * configures. Without the jar, `create` fails fast with a clear error —
  * the file/in-memory topics remain the brokerless stand-ins.
  */
object PulsarSink {

  /** pkg/app/pulsar.go:74-93 — one field per reference flag, parsed with
    * its default by [[Config.from]]. `topic` is `--pulsar.topic` with
    * `--topic` as this CLI's alias: one topic for both commands.
    * `operationTimeoutMs` is the command-level `--send-timeout`
    * (produce.go:45-46, wired to clientOptions.OperationTimeout at :68; it
    * also bounds produce's multi-writer fan-out and consume's remote_write
    * POST, consume.go:40-41).
    */
  final case class Config(
      url: String,
      connectionTimeoutMs: Long,
      operationTimeoutMs: Long,
      topic: String,
      certificateAuthority: String,
      clientCertificate: String,
      clientKey: String,
      insecureSkipTlsVerify: Boolean,
      insecureSkipTlsValidateHostname: Boolean,
      maxConnectionsPerBroker: Int) {
    // pulsar.go:97-103: TLS auth needs BOTH halves of the keypair
    require(clientKey.isEmpty == clientCertificate.isEmpty,
      "both pulsar.client-key and pulsar.client-certificate need to be specified")
  }

  object Config {
    def from(f: graft.Flags): Config = Config(
      url = f.str("pulsar.url", ""),
      connectionTimeoutMs = f.durationMs("pulsar.connection-timeout", "30s"),
      operationTimeoutMs = f.durationMs("send-timeout", "30s"),
      topic = f.first(Seq("pulsar.topic", "topic"), "metrics"),
      certificateAuthority = f.str("pulsar.certificate-authority", ""),
      clientCertificate = f.str("pulsar.client-certificate", ""),
      clientKey = f.str("pulsar.client-key", ""),
      insecureSkipTlsVerify = f.bool("pulsar.insecure-skip-tls-verify", false),
      insecureSkipTlsValidateHostname =
        f.bool("pulsar.insecure-skip-tls-validate-hostname", false),
      maxConnectionsPerBroker = f.int("pulsar.max-connections-per-broker", 1))
  }

  private val DurationTerm = "([0-9]*\\.?[0-9]+)(ns|us|µs|ms|s|m|h)".r

  /** Parse kingpin (Go `time.ParseDuration`) duration literals to
    * milliseconds: single units (`30s`, `500ms`, `2m`, `1h`), fractional
    * values (`1.5s`), and compound forms (`1m30s`, `2h45m`) — plus a bare
    * number meaning milliseconds (this CLI's historical shorthand). Rejects
    * anything else with the flag name and the accepted formats.
    */
  def parseDurationMs(s: String, flagName: String = "duration"): Long = {
    def fail() = throw new IllegalArgumentException(
      s"--$flagName: invalid duration '$s' (accepted: Go forms like " +
        "30s, 150ms, 1.5s, 1m30s, 2h45m, or a bare millisecond count)")
    val trimmed = s.trim
    if (trimmed.isEmpty) fail()
    if (trimmed.matches("[+-]?[0-9]+")) return trimmed.toLong // bare number = ms
    val neg = trimmed.startsWith("-")
    val body = trimmed.stripPrefix("-").stripPrefix("+")
    val terms = DurationTerm.findAllMatchIn(body).toSeq
    // the terms must tile the whole string — "1m30" or "5 s" are errors
    if (terms.isEmpty || terms.map(_.matched).mkString != body) fail()
    val ms = terms.map { t =>
      t.group(1).toDouble * (t.group(2) match {
        case "ns" => 1e-6
        case "us" | "µs" => 1e-3
        case "ms" => 1.0
        case "s" => 1000.0
        case "m" => 60000.0
        case "h" => 3600000.0
      })
    }.sum
    val r = math.rint(ms).toLong
    if (neg) -r else r
  }

  /** Invoke `name` on `obj`: exact signature first, then name + arity
    * (builder methods are not overloaded on arity in the pulsar-client
    * API). A single value passed to a vararg parameter (e.g.
    * `ProducerBuilder.topic(String...)`) is wrapped into the array.
    * Shared by the producer [[Factory]] and the consumer cursor
    * ([[graft.sources.BrokerSource.PulsarCursor]]).
    */
  private[graft] def call(obj: AnyRef, name: String, args: (Class[_], AnyRef)*): AnyRef = {
    val exact =
      try Some(obj.getClass.getMethod(name, args.map(_._1): _*))
      catch { case _: NoSuchMethodException => None }
    val m = exact
      .orElse(obj.getClass.getMethods
        .find(m => m.getName == name && m.getParameterCount == args.length))
      .getOrElse(throw new NoSuchMethodException(
        s"${obj.getClass.getName}.$name/${args.length}"))
    m.setAccessible(true)
    val actual = m.getParameterTypes.zip(args.map(_._2)).map {
      case (pt, v) if pt.isArray && v != null && !v.getClass.isArray =>
        val arr = java.lang.reflect.Array.newInstance(pt.getComponentType, 1)
        java.lang.reflect.Array.set(arr, 0, v)
        arr.asInstanceOf[AnyRef]
      case (_, v) => v
    }
    m.invoke(obj, actual: _*)
  }

  /** KeyShared consumer through the public pulsar-client builder API, for
    * the driver-side cursor ([[graft.sources.BrokerSource.PulsarCursor]]):
    * the broker's auto-split key-hash assignment and no ack timeout, as in
    * the reference (pkg/pulsar/pulsar.go:98-121).
    */
  private[graft] def buildKeySharedConsumer(cfg: Config, subscription: String): AnyRef = {
    val client = buildClient(cfg, "consume from", setOperationTimeout = false)
    val cb = call(client, "newConsumer")
    call(cb, "topic", classOf[String] -> cfg.topic)
    call(cb, "subscriptionName", classOf[String] -> subscription)
    val subType = Class.forName("org.apache.pulsar.client.api.SubscriptionType")
    call(cb, "subscriptionType",
      subType -> subType.getMethod("valueOf", classOf[String])
        .invoke(null, "Key_Shared"))
    call(cb, "subscribe")
  }

  /** Individually acknowledge MessageIds on a consumer (KeyShared forbids
    * cumulative acks). acknowledge(Message) and acknowledge(MessageId)
    * share an arity, so the MessageId overload is resolved by parameter
    * type name.
    */
  private[graft] def ackMessageIds(consumer: AnyRef,
      ids: Iterable[AnyRef]): Unit = {
    if (ids.nonEmpty) {
      val ack = consumer.getClass.getMethods
        .find(m => m.getName == "acknowledge" && m.getParameterCount == 1 &&
          m.getParameterTypes()(0).getSimpleName.endsWith("MessageId"))
        .getOrElse(throw new NoSuchMethodException(
          s"${consumer.getClass.getName}.acknowledge(MessageId)"))
      ack.setAccessible(true)
      ids.foreach(id => ack.invoke(consumer, id))
    }
  }

  /** Build a PulsarClient from [[Config]] through the public builder API by
    * reflection. Mapping (clientOptions, pkg/app/pulsar.go:96-115):
    *   url -> serviceUrl, connectionTimeoutMs -> connectionTimeout,
    *   operationTimeoutMs -> operationTimeout (--send-timeout,
    *   produce.go:68), certificateAuthority -> tlsTrustCertsFilePath,
    *   client cert+key -> AuthenticationFactory.TLS,
    *   insecureSkipTlsVerify -> allowTlsInsecureConnection,
    *   insecureSkipTlsValidateHostname -> !enableTlsHostnameVerification,
    *   maxConnectionsPerBroker -> connectionsPerBroker.
    * Throws IllegalStateException with a clear message when the
    * pulsar-client jar is absent.
    *
    * `setOperationTimeout = false` leaves the client's OperationTimeout at
    * its default — the consume path uses this, matching the reference,
    * whose consumer clientOptions deliberately omit OperationTimeout
    * (`--send-timeout` there bounds only the remote_write POST,
    * consume.go:40-41).
    */
  private[graft] def buildClient(cfg: Config, what: String,
      setOperationTimeout: Boolean = true): AnyRef =
    try {
      val clientClass = Class.forName("org.apache.pulsar.client.api.PulsarClient")
      val builder = clientClass.getMethod("builder").invoke(null)
      call(builder, "serviceUrl", classOf[String] -> cfg.url)
      call(builder, "connectionTimeout",
        classOf[Int] -> Int.box(cfg.connectionTimeoutMs.toInt),
        classOf[TimeUnit] -> TimeUnit.MILLISECONDS)
      if (setOperationTimeout)
        call(builder, "operationTimeout",
          classOf[Int] -> Int.box(cfg.operationTimeoutMs.toInt),
          classOf[TimeUnit] -> TimeUnit.MILLISECONDS)
      call(builder, "connectionsPerBroker",
        classOf[Int] -> Int.box(cfg.maxConnectionsPerBroker))
      if (cfg.certificateAuthority.nonEmpty)
        call(builder, "tlsTrustCertsFilePath", classOf[String] -> cfg.certificateAuthority)
      call(builder, "allowTlsInsecureConnection",
        classOf[Boolean] -> Boolean.box(cfg.insecureSkipTlsVerify))
      call(builder, "enableTlsHostnameVerification",
        classOf[Boolean] -> Boolean.box(!cfg.insecureSkipTlsValidateHostname))
      if (cfg.clientCertificate.nonEmpty) {
        val authFactory = Class.forName("org.apache.pulsar.client.api.AuthenticationFactory")
        val auth = authFactory
          .getMethod("TLS", classOf[String], classOf[String])
          .invoke(null, cfg.clientCertificate, cfg.clientKey)
        val authIface = Class.forName("org.apache.pulsar.client.api.Authentication")
        builder.getClass.getMethod("authentication", authIface).invoke(builder, auth)
      }
      call(builder, "build")
    } catch {
      case e: ClassNotFoundException =>
        throw new IllegalStateException(
          "pulsar-client is not on the classpath; add the official " +
            s"org.apache.pulsar:pulsar-client jar to $what " + cfg.url, e)
    }

  /** Produces to a real broker through one client and producer per JVM and
    * [[Config]], shared by every partition and epoch of the produce query: the
    * reference's single shared producer (pulsar.go:80-96). Spark opens a
    * writer per partition per micro-batch; each gets a handle whose `flush`
    * flushes the shared producer and whose `close` leaves it open. The
    * client and producer close at JVM shutdown. All pulsar-client calls go
    * through the public builder API by reflection (see [[buildClient]] for
    * the flag mapping).
    */
  class Factory(cfg: Config) extends KeyedSink.ProducerFactory {

    /** Overridable seam: tests inject a fake producer (same method shape).
      * Returns the producer and what closes it and its client.
      */
    protected def connect(): (AnyRef, () => Unit) = {
      val client = buildClient(cfg, "produce to")
      val producerBuilder = call(client, "newProducer")
      call(producerBuilder, "topic", classOf[String] -> cfg.topic)
      val producer = call(producerBuilder, "create")
      (producer, () => { try call(producer, "close") finally call(client, "close"); () })
    }

    override def create(partitionId: Long): KeyedSink.Producer = {
      val producer = Factory.producers.computeIfAbsent(cfg, _ => {
        val (p, close) = connect()
        sys.addShutdownHook(close())
        p
      })
      new KeyedSink.Producer {
        override def sendAsync(key: String, payload: Array[Byte]): Unit = {
          val msg = call(producer, "newMessage")
          call(msg, "key", classOf[String] -> key)
          call(msg, "value", classOf[Object] -> payload)
          call(msg, "sendAsync")
          ()
        }
        override def flush(): Unit = { call(producer, "flush"); () }
        override def close(): Unit = ()
      }
    }
  }

  private object Factory {
    val producers = new java.util.concurrent.ConcurrentHashMap[Config, AnyRef]()
  }
}
