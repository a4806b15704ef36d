package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{Metrics, RemoteWriteSink, TenantBatcher}

/** `/metrics` stays valid Prometheus text whatever a client puts in its
  * tenant: label values escape `\`, `"` and newline, and each family is
  * typed once, its samples together.
  */
class MetricsExpositionSpec extends AnyFunSuite {

  private val labelValue = """"(?:[^"\\\n]|\\[\\"n])*""""
  private val labelSet = s"""\\{[a-zA-Z_][a-zA-Z0-9_]*=$labelValue(?:,[a-zA-Z_][a-zA-Z0-9_]*=$labelValue)*\\}"""
  private val sampleLine = s"""[a-zA-Z_:][a-zA-Z0-9_:]*(?:$labelSet)? [^ ]+""".r

  private def unescape(v: String): String =
    """\\(.)""".r.replaceAllIn(v, m => java.util.regex.Matcher.quoteReplacement(
      if (m.group(1) == "n") "\n" else m.group(1)))

  private val typeLine = """# TYPE ([a-zA-Z_:][a-zA-Z0-9_:]*) (counter|histogram)""".r

  /** Asserts that each family of the exposition is typed once and its
    * samples follow that `# TYPE` line together; returns family -> type.
    */
  private def typedOnce(lines: Seq[String]): Map[String, String] = {
    val types = lines.collect { case typeLine(family, kind) => family -> kind }
    assert(types.map(_._1).distinct == types.map(_._1), s"a family typed twice: $types")
    def family(l: String): String = l match {
      case typeLine(f, _) => f
      case _ =>
        val name = l.takeWhile(c => c != '{' && c != ' ')
        Seq("_bucket", "_sum", "_count").map(name.stripSuffix)
          .find(f => f != name && types.contains(f -> "histogram")).getOrElse(name)
    }
    // the family of each line, consecutive repeats folded into one run:
    // a family split into two runs was rendered twice
    val runs = lines.map(l => family(l) -> l).foldLeft(Vector.empty[(String, String)]) {
      case (acc, (f, l)) => if (acc.lastOption.exists(_._1 == f)) acc else acc :+ (f -> l)
    }
    assert(runs.map(_._1).distinct == runs.map(_._1), lines.mkString("\n"))
    // ...and each run opens with its family's # TYPE line
    runs.foreach { case (f, first) => assert(typeLine.matches(first), s"$f starts with: $first") }
    types.toMap
  }

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
      RemoteWriteSink.entry(graft.model.Model.Sample(1000L, 1.0, Map("__name__" -> "up"), tenant)), 1, "size")
    assert(RemoteWriteSink.deliver(client(RemoteWriteSink.Ok))(Iterator(batch)) == ((1L, 0L)))
    intercept[RuntimeException](
      RemoteWriteSink.deliver(client(RemoteWriteSink.Recoverable("HTTP 503")))(Iterator(batch)))
    val lines = Metrics.render().split("\n", -1).filter(_.nonEmpty)
    assert(lines.nonEmpty)
    lines.foreach(l => assert(typeLine.matches(l) || sampleLine.matches(l), s"unparseable line: $l"))
    assert(typedOnce(lines.toSeq).keySet == Set("retryable_failed_writes", "sent_batch_duration_seconds"))
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

  test("each family renders once, its samples after one # TYPE line") {
    Metrics.reset()
    // two tenants give the retry counter and the histogram two series
    // each, which the registry holds under separate keys
    Seq("team-a", "team-b").foreach { tenant =>
      val batch = TenantBatcher.Batch(tenant,
        RemoteWriteSink.entry(graft.model.Model.Sample(1000L, 1.0, Map("__name__" -> "up"), tenant)), 1, "size")
      RemoteWriteSink.deliver(client(RemoteWriteSink.Ok))(Iterator(batch))
      intercept[RuntimeException](
        RemoteWriteSink.deliver(client(RemoteWriteSink.Recoverable("HTTP 503")))(Iterator(batch)))
    }
    Metrics.add("sent_samples_total", 2L)
    Metrics.add("receiver_accept_failures_total", 1L)
    val lines = Metrics.render().split("\n", -1).filter(_.nonEmpty).toSeq
    val types = typedOnce(lines)
    assert(types == Map("retryable_failed_writes" -> "counter",
      "sent_samples_total" -> "counter", "receiver_accept_failures_total" -> "counter",
      "sent_batch_duration_seconds" -> "histogram"), types)
    assert(lines.count(_.startsWith("retryable_failed_writes{")) == 2)
    assert(lines.count(_.startsWith("sent_batch_duration_seconds_count{")) == 2)
  }
}
