package graft.bench

import Wire.{Sample, Series}

/** Seeded load generation. Everything a run sends is made here, before the
  * timed region, from the `--seed` alone.
  */
object Gen {

  val Replica = "__replica__"
  /** Prometheus' staleness marker, a NaN with a payload. */
  val StaleNaN: Double = java.lang.Double.longBitsToDouble(0x7ff0000000000002L)
  /** Sample timestamps start here (2023-11-14T22:13:20Z). */
  val BaseMs = 1700000000000L

  final case class Request(tenant: String, body: Array[Byte], samples: Array[Sample]) {
    lazy val fingerprints: Array[Long] = samples.map(Check.fingerprint)
  }

  private val metricNames = Array("node_cpu_seconds_total", "node_memory_Active_bytes",
    "http_requests_total", "http_request_duration_seconds_bucket", "process_resident_memory_bytes",
    "go_goroutines", "up", "kube_pod_container_status_restarts_total", "container_cpu_usage_seconds_total",
    "node_network_receive_bytes_total", "apiserver_request_total", "scrape_duration_seconds",
    "grpc_server_handled_total", "node_filesystem_avail_bytes", "rpc_latency_seconds", "queue_depth")

  /** A series of about 12 labels; labels sorted by name. */
  private def seriesLabels(rnd: java.util.Random, tenant: String, i: Int): Array[(String, String)] = {
    val region = rnd.nextInt(4)
    Array(
      "__name__" -> metricNames(rnd.nextInt(metricNames.length)),
      "cluster" -> s"$tenant-c${rnd.nextInt(3)}",
      "container" -> s"app-${rnd.nextInt(40)}",
      "env" -> (if (rnd.nextInt(4) == 0) "staging" else "prod"),
      "instance" -> s"10.${rnd.nextInt(256)}.${rnd.nextInt(256)}.${i % 250}:9100",
      "job" -> s"job-${rnd.nextInt(8)}",
      "namespace" -> s"ns-${rnd.nextInt(12)}",
      "node" -> s"node-${rnd.nextInt(64)}",
      "pod" -> s"pod-$i-${Integer.toHexString(rnd.nextInt())}",
      "region" -> s"region-$region",
      "team" -> s"team-${rnd.nextInt(6)}",
      "zone" -> s"region-$region-${"abc".charAt(rnd.nextInt(3))}")
  }

  /** `n` series for `tenant`; every 20th also appears as an HA twin that
    * carries the replica label, so about 5% of series carry it.
    */
  def seriesPool(rnd: java.util.Random, tenant: String, n: Int): Array[Array[(String, String)]] =
    (0 until n).flatMap { i =>
      val base = seriesLabels(rnd, tenant, i)
      if (i % 20 == 0) Seq(base, (base :+ (Replica -> "prom-1")).sortBy(_._1)) else Seq(base)
    }.toArray

  /** A value, now and then a staleness marker or an infinity. */
  def value(rnd: java.util.Random): Double = rnd.nextInt(2000) match {
    case 0 | 1 => StaleNaN
    case 2 => Double.PositiveInfinity
    case 3 => Double.NegativeInfinity
    case _ => math.floor(rnd.nextDouble() * 1e7) / 1e3
  }

  /** One remote_write request: `series.length` series with `points` samples
    * each, timestamps `firstTs + k * stepMs`.
    */
  def request(rnd: java.util.Random, tenant: String, series: Seq[Array[(String, String)]],
      points: Int, firstTs: Long, stepMs: Long): Request = {
    val ss = series.map { labels =>
      Series(labels, Array.tabulate(points)(k => (value(rnd), firstTs + k * stepMs)))
    }
    val samples = ss.flatMap(s => s.points.map { case (v, t) => Sample(tenant, s.labels, v, t) }).toArray
    Request(tenant, Wire.snappy(Wire.encodeWriteRequest(ss)), samples)
  }

  /** Picks `k` distinct series of a pool. */
  def pick(rnd: java.util.Random, pool: Array[Array[(String, String)]], k: Int): Seq[Array[(String, String)]] = {
    val idx = Array.range(0, pool.length)
    var i = 0
    while (i < k) { val j = i + rnd.nextInt(idx.length - i); val t = idx(i); idx(i) = idx(j); idx(j) = t; i += 1 }
    idx.take(k).toSeq.map(pool)
  }

  /** Zipf(s) over `n` tenants: cumulative weights for inverse sampling. */
  def zipfCdf(n: Int, s: Double): Array[Double] = {
    val w = Array.tabulate(n)(k => 1.0 / math.pow(k + 1, s))
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total)
  }

  def draw(rnd: java.util.Random, cdf: Array[Double]): Int = {
    val u = rnd.nextDouble()
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(if (i >= 0) i else -i - 1, cdf.length - 1)
  }
}
