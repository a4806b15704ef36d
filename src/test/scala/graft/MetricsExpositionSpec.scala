package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{Metrics, RemoteWriteSink, TenantBatcher}

/** `/metrics` stays valid Prometheus text whatever a client puts in its
  * tenant: label values escape `\`, `"` and newline.
  */
class MetricsExpositionSpec extends AnyFunSuite {

  private val labelValue = """"(?:[^"\\\n]|\\[\\"n])*""""
  private val labelSet = s"""\\{[a-zA-Z_][a-zA-Z0-9_]*=$labelValue(?:,[a-zA-Z_][a-zA-Z0-9_]*=$labelValue)*\\}"""
  private val sampleLine = s"""[a-zA-Z_:][a-zA-Z0-9_:]*(?:$labelSet)? [^ ]+""".r

  private def unescape(v: String): String =
    """\\(.)""".r.replaceAllIn(v, m => java.util.regex.Matcher.quoteReplacement(
      if (m.group(1) == "n") "\n" else m.group(1)))

  /** Answers `results` in order, one per store. */
  private def client(results: RemoteWriteSink.StoreResult*): RemoteWriteSink.Client =
    new RemoteWriteSink.Client {
      private val it = results.iterator
      override def store(tenantId: String, body: Array[Byte]): RemoteWriteSink.StoreResult = it.next()
      override def remoteName: String = "sink"
    }

  test("a tenant with \\, \" and a newline scrapes as parseable text") {
    Metrics.reset()
    // the tenant comes from the basic-auth user, which unlike a header may hold a newline
    val tenant = "a\\b\"c\nd"
    val batch = TenantBatcher.Batch(tenant,
      Seq(RemoteWriteSink.entry(graft.model.Model.Sample(1000L, 1.0, Map("__name__" -> "up"), tenant))), "size")
    assert(RemoteWriteSink.deliver(client(RemoteWriteSink.Ok))(Iterator(batch)) == ((1L, 0L)))
    intercept[RuntimeException](
      RemoteWriteSink.deliver(client(RemoteWriteSink.Recoverable("HTTP 503")))(Iterator(batch)))
    val lines = Metrics.render().split("\n", -1).filter(_.nonEmpty)
    assert(lines.nonEmpty)
    lines.foreach(l => assert(l.startsWith("#") || sampleLine.matches(l), s"unparseable line: $l"))
    val retries = lines.filter(_.startsWith("retryable_failed_writes{"))
    assert(retries.length == 1, lines.mkString("\n"))
    val value = """tenant="((?:[^"\\]|\\.)*)"""".r.findFirstMatchIn(retries.head).get.group(1)
    assert(unescape(value) == tenant)
    assert(retries.head.endsWith(" 1"))
    // the histogram family keeps the same escaped label set on every line,
    // and observes both stores
    val buckets = lines.filter(_.startsWith("sent_batch_duration_seconds_bucket{"))
    assert(buckets.length == 12)
    assert(buckets.map(_.replaceAll(""",le="[^"]*"\} .*""", "")).distinct.length == 1, buckets.mkString("\n"))
    assert(lines.exists(l => l.startsWith("sent_batch_duration_seconds_count{") && l.endsWith(" 2")))
  }
}
