package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.HttpRemoteWriteSource

/** Reference flag-surface parity (pkg/app/app.go:60-67 web flags,
  * pkg/app/pulsar.go:161-167 serializer flag): each reference-spelled flag
  * must drive the same behavior as this CLI's historical shorthand.
  */
class AppFlagsSpec extends AnyFunSuite {

  private def flags(args: String*): Flags = Flags.parse(args)

  test("--pulsar.serializer is the reference spelling; --serializer the alias") {
    assert(App.serializerOf(flags("--pulsar.serializer", "avro-json-compat")) ==
      "avro-json-compat")
    assert(App.serializerOf(flags("--serializer", "json-compat")) == "json-compat")
    // reference spelling wins when both appear
    assert(App.serializerOf(flags(
      "--serializer", "json", "--pulsar.serializer", "json-compat")) == "json-compat")
    assert(App.serializerOf(flags()) == "json")
  }

  test("--web.listen-address parses host:port; :port binds all interfaces") {
    assert(HttpRemoteWriteSource.parseListenAddress("127.0.0.1:9201") == ("127.0.0.1", 9201))
    assert(HttpRemoteWriteSource.parseListenAddress(":9201") == ("", 9201))
    val e = intercept[IllegalArgumentException](HttpRemoteWriteSource.parseListenAddress("9201"))
    assert(e.getMessage.contains("web.listen-address"))
    assert(intercept[IllegalArgumentException](
      HttpRemoteWriteSource.parseListenAddress("host:")).getMessage.contains("host:"))
  }

  test("--web.telemetry-path relocates the metrics endpoint; host binding works") {
    val port = 19321
    val r = HttpRemoteWriteSource.receiver(HttpRemoteWriteSource.Config.from(flags(
      s"--web.listen-address=127.0.0.1:$port", "--web.telemetry-path", "/tele/metrics")))
    try {
      def get(path: String): Int = {
        val c = new java.net.URL(s"http://127.0.0.1:$port$path")
          .openConnection().asInstanceOf[java.net.HttpURLConnection]
        try c.getResponseCode finally c.disconnect()
      }
      assert(get("/tele/metrics") == 200)
      assert(get("/ready") == 200)
      // the default path is NOT registered when relocated
      assert(get("/metrics") == 404)
    } finally HttpRemoteWriteSource.shutdown(port)
  }

  test("--name=value reads like --name value; the value may hold '='") {
    // the README's reference column spells flags with '='
    val eq = HttpRemoteWriteSource.Config.from(flags(
      "--web.listen-address=:9301", "--web.write-path=/w", "--web.handler-threads=8"))
    val sp = HttpRemoteWriteSource.Config.from(flags(
      "--web.listen-address", ":9301", "--web.write-path", "/w", "--web.handler-threads", "8"))
    assert(eq == sp)
    assert(eq.port == 9301 && eq.host == "" && eq.path == "/w" && eq.handlerThreads == 8)
    assert(App.serializerOf(flags("--pulsar.serializer=avro-json-compat=/s.json")) ==
      "avro-json-compat=/s.json")
    // the first of a repeated flag wins, as it did before the '=' form
    assert(flags("--topic", "a", "--topic=b").str("topic", "metrics") == "a")
    // a flag without a value, or a bare word, is a usage error
    assert(intercept[Flags.UsageError](flags("--topic")).getMessage.contains("--topic"))
    assert(intercept[Flags.UsageError](flags("metrics")).getMessage.contains("metrics"))
  }

  test("a flag no config reads is rejected, naming it, before anything starts") {
    // spark is never touched: the commands reject before they bind or start
    val p = intercept[Flags.UsageError](App.produce(null,
      flags("--web.listen-port", "19322", "--web.listn-port", "19323")))
    assert(p.getMessage.contains("--web.listn-port") && !p.getMessage.contains("--web.listen-port"),
      p.getMessage)
    val c = intercept[Flags.UsageError](App.consume(null,
      flags("--topic", "t", "--batch-sise", "10")))
    assert(c.getMessage.contains("--batch-sise"), c.getMessage)
    // a source option is not a CLI flag
    assert(intercept[Flags.UsageError](App.produce(null, flags("--validate", "false")))
      .getMessage.contains("--validate"))
    assert(intercept[Flags.UsageError](App.consume(null,
      flags("--maxRecordsPerTrigger", "5")))
      .getMessage.contains("--maxRecordsPerTrigger"))
    // consume-only flags are unknown to produce, as in the reference
    assert(intercept[Flags.UsageError](App.produce(null, flags("--batch-size", "5")))
      .getMessage.contains("--batch-size"))
    // the removed executor-pull consume mode's flags, and --readers (the
    // split width is the session's default parallelism)
    Seq("readers" -> "1", "pulsar.executor-consumers" -> "true", "pulsar.sticky-ranges" -> "true",
      "pulsar.ack-timeout-ms" -> "30000", "pulsar.idle-suppress-after" -> "3",
      "pulsar.idle-probe-every" -> "10").foreach { case (name, value) =>
      val e = intercept[Flags.UsageError](App.consume(null,
        flags(s"--$name", value)))
      assert(e.getMessage.contains(s"--$name"), e.getMessage)
    }
  }

  test("consume resolves its serializer as produce does, before any query starts") {
    // spark is never touched: the name is resolved before the query is built
    val bogus = intercept[IllegalArgumentException](App.consume(null,
      flags("--topic", "t", "--serializer", "bogus")))
    assert(bogus.getMessage.contains("unknown serializer: bogus"), bogus.getMessage)
    val missing = intercept[IllegalArgumentException](App.consume(null,
      flags("--pulsar.serializer", "avro-json-compat=/nonexistent/schema.avsc")))
    assert(missing.getMessage.contains("/nonexistent/schema.avsc"), missing.getMessage)
    val invalid = java.nio.file.Files.createTempFile("graft-schema", ".avsc")
    try {
      java.nio.file.Files.write(invalid, "{\"type\": \"record\"".getBytes("UTF-8"))
      intercept[IllegalArgumentException](App.consume(null,
        flags("--pulsar.serializer", s"avro-json-compat=$invalid")))
    } finally java.nio.file.Files.delete(invalid)
  }
}
