package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.PromKernel._
import graft.sources.HttpRemoteWriteSource
import graft.streaming.{Metrics, Writers}

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

  test("a tenant with \\, \" and a newline scrapes as parseable text") {
    Metrics.reset()
    val port = { val s = new java.net.ServerSocket(0); try s.getLocalPort finally s.close() }
    val r = HttpRemoteWriteSource.receiver(port, "/write", validate = true)
    r.setWriters(Seq(new Writers.RequestWriter {
      override def name: String = "sink"
      override def write(t: String, s: Seq[Writers.WireSample]): Unit = ()
    }), 30000L)
    val tenant = "a\\b\"c\nd"
    val http = java.net.http.HttpClient.newHttpClient()
    try {
      val body = snappyCompress(encodeWriteRequest(PbWriteRequest(Seq(PbTimeSeries(
        Seq(PbLabel("__name__", "up")), Seq(PbSample(1.0, 1000L)))))))
      // the basic-auth user is the tenant; unlike a header it may hold a newline
      val auth = java.util.Base64.getEncoder.encodeToString(s"$tenant:pw".getBytes("UTF-8"))
      val code = http.send(java.net.http.HttpRequest.newBuilder(
          java.net.URI.create(s"http://127.0.0.1:$port/write"))
        .header("Authorization", s"Basic $auth")
        .POST(java.net.http.HttpRequest.BodyPublishers.ofByteArray(body)).build(),
        java.net.http.HttpResponse.BodyHandlers.discarding()).statusCode()
      assert(code == 200)
      val text = http.send(java.net.http.HttpRequest.newBuilder(
          java.net.URI.create(s"http://127.0.0.1:$port/metrics")).build(),
        java.net.http.HttpResponse.BodyHandlers.ofString()).body()
      val lines = text.split("\n", -1).filter(_.nonEmpty)
      assert(lines.nonEmpty)
      lines.foreach(l => assert(l.startsWith("#") || sampleLine.matches(l), s"unparseable line: $l"))
      val received = lines.filter(_.startsWith("received_samples_total{"))
      assert(received.length == 1, text)
      val value = """tenant="((?:[^"\\]|\\.)*)"""".r.findFirstMatchIn(received.head).get.group(1)
      assert(unescape(value) == tenant)
      assert(received.head.endsWith(" 1"))
      // the histogram family keeps the same escaped label set on every line
      assert(lines.count(_.startsWith("sent_batch_duration_seconds_bucket{")) == 12)
    } finally HttpRemoteWriteSource.shutdown(port)
  }
}
