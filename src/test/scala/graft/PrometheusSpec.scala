package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest}
import java.net.http.HttpResponse.BodyHandlers
import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import graft.streaming.{FirehoseStream, Prometheus}

class PrometheusSpec extends SparkSuite {

  private def metricJson(id: String, name: String, ts: Long, user: String, value: Double): String =
    s"""{"id":"$id","name":"$name","timestamp":$ts,"component":"app",""" +
      s""""tags":{"user":"$user","unit":"bytes"},"value":$value,""" +
      s""""window":{"from":${ts - 60},"to":$ts,"interval":60}}"""

  test("pull model: scrape endpoint serves the live registry (PrometheusPuller parity)") {
    val dir = Files.createTempDirectory("graft-pull").toFile
    val chk = Files.createTempDirectory("graft-pullchk").toFile
    Files.write(dir.toPath.resolve("b1.json"),
      Seq(
        metricJson("1", "bytes_total", 1000, "u1", 42.0),
        metricJson("2", "errors_total", 1100, "u2", 7.0)).mkString("\n").getBytes)
    val registry = new Prometheus.Registry
    val server = Prometheus.startPullServer(registry)
    val gauges = FirehoseStream.gaugeLatest(
      FirehoseStream.fromJsonFiles(spark, dir.getAbsolutePath), "0 seconds")
    val q = Prometheus.pullSink(gauges, registry)
      .option("checkpointLocation", chk.getAbsolutePath).start()
    try {
      q.processAllAvailable()
      val port = server.getAddress.getPort
      val body = HttpClient.newHttpClient().send(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/metrics")).GET().build(),
        BodyHandlers.ofString()).body()
      assert(body.contains("app_bytes_total{user=\"u1\"} 42.0 1000000"))
      assert(body.contains("app_errors_total{user=\"u2\"} 7.0 1100000"))
      // a newer sample must overwrite the series line on the next scrape
      Files.write(dir.toPath.resolve("b2.json"),
        Seq(metricJson("3", "bytes_total", 2000, "u1", 43.5)).mkString("\n").getBytes)
      q.processAllAvailable()
      val body2 = HttpClient.newHttpClient().send(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/metrics")).GET().build(),
        BodyHandlers.ofString()).body()
      assert(body2.contains("app_bytes_total{user=\"u1\"} 43.5 2000000"))
      assert(!body2.contains(" 42.0 "))
    } finally { q.stop(); server.stop(0) }
  }

  test("a small /metrics body reaches a keep-alive client without the delayed-ACK stall") {
    val registry = new Prometheus.Registry
    registry.update(Seq(
      "app_bytes_total{user=\"u1\"} 42.0 1000000",
      "app_errors_total{user=\"u2\"} 7.0 1100000"))
    val server = Prometheus.startPullServer(registry)
    try {
      val (ms, codes) = KeepAliveLatency.medianMs(
        s"http://127.0.0.1:${server.getAddress.getPort}/metrics")
      assert(codes.forall(_ == 200))
      // without TCP_NODELAY the body waits for the client's delayed ACK
      // of the headers, about 40 ms per request
      assert(ms < 20.0, s"median $ms ms over 20 keep-alive GETs")
    } finally server.stop(0)
  }

  test("registry evicts least-recently-updated series past maxSeries (maximumSize LRU parity)") {
    val registry = new Prometheus.Registry(maxSeries = 2)
    registry.update(Seq("""app_a{user="u1"} 1.000000 1000"""))
    registry.update(Seq("""app_b{user="u2"} 2.000000 2000"""))
    assert(registry.size === 2)
    // refresh a, then add c: b is now the least-recently-updated and must go
    registry.update(Seq("""app_a{user="u1"} 1.500000 3000"""))
    registry.update(Seq("""app_c{user="u3"} 3.000000 4000"""))
    assert(registry.size === 2)
    val body = registry.render
    assert(body.contains("app_a") && body.contains("app_c") && !body.contains("app_b"),
      s"wrong eviction order:\n$body")
  }

  test("streaming histogram quantile matches the batch interpolation") {
    val dir = Files.createTempDirectory("graft-histq").toFile
    val chk = Files.createTempDirectory("graft-histqchk").toFile
    // 10 samples 1..10 under boundaries (5, 10): p90 rank 9 interpolates to
    // 9.0 — the batch operator's own spec case, now through the stream
    Files.write(dir.toPath.resolve("b1.json"),
      (1 to 10).map(v => metricJson(s"$v", "lat", v.toLong, "u1", v.toDouble))
        .mkString("\n").getBytes)
    val registry = new Prometheus.HistogramRegistry
    val buckets = FirehoseStream.histogramBuckets(
      FirehoseStream.fromJsonFiles(spark, dir.getAbsolutePath),
      les = Seq(5.0, 10.0), watermarkDelay = "0 seconds")
    val q = Prometheus.histogramSink(buckets, registry)
      .option("checkpointLocation", chk.getAbsolutePath).start()
    try {
      q.processAllAvailable()
      assert(registry.size > 0)
      val streamed = registry.quantile("lat", 0.9)
      import spark.implicits._
      val batch = graft.operators.Firehose.histogramQuantile(
        (1 to 10).map(v => ("lat", v.toDouble)).toDF("name", "value"),
        les = Seq(5.0, 10.0), q = 0.9)
        .select("quantile").collect()(0).getDouble(0)
      assert(batch === 9.0)
      assert(streamed === Some(batch), s"streamed=$streamed batch=$batch")
    } finally q.stop()
  }

  test("registry topK returns the hottest series by current value") {
    val registry = new Prometheus.Registry
    registry.update(Seq(
      """app_a{user="u1"} 5.000000 1000""",
      """app_b{user="u2"} 9.000000 1000""",
      """app_c{user="u3"} 7.000000 1000"""))
    val top2 = registry.topK(2)
    assert(top2.map(_.takeWhile(_ != ' ')) === Seq("""app_b{user="u2"}""", """app_c{user="u3"}"""))
  }

  test("histogram registry evicts the oldest windows past maxWindows") {
    val registry = new Prometheus.HistogramRegistry(maxWindows = 2)
    registry.update(Seq((0L, "m", 5.0, 1L), (60000L, "m", 5.0, 2L)))
    registry.update(Seq((120000L, "m", 5.0, 3L)))
    assert(registry.size === 2) // window 0 evicted
    // the evicted window no longer contributes to the quantile
    assert(registry.quantile("m", 0.5, w => w == 0L).isEmpty)
    assert(registry.quantile("m", 0.5, w => w == 120000L).isDefined)
  }

  test("push model: each micro-batch POSTs exposition text to the gateway (PrometheusPusher parity)") {
    val dir = Files.createTempDirectory("graft-push").toFile
    val chk = Files.createTempDirectory("graft-pushchk").toFile
    Files.write(dir.toPath.resolve("b1.json"),
      Seq(metricJson("1", "bytes_total", 1000, "u1", 5.0)).mkString("\n").getBytes)
    // fake PushGateway collecting request bodies
    val received = new ConcurrentLinkedQueue[(String, String)]()
    val gateway = HttpServers.create(0)
    gateway.createContext("/", exchange => {
      val body = new String(exchange.getRequestBody.readAllBytes())
      received.add(exchange.getRequestURI.getPath -> body)
      exchange.sendResponseHeaders(200, -1)
      exchange.close()
    })
    gateway.start()
    val gauges = FirehoseStream.gaugeLatest(
      FirehoseStream.fromJsonFiles(spark, dir.getAbsolutePath), "0 seconds")
    val q = Prometheus.pushSink(
        gauges, s"http://127.0.0.1:${gateway.getAddress.getPort}", job = "graft-test")
      .option("checkpointLocation", chk.getAbsolutePath).start()
    try {
      q.processAllAvailable()
      val posts = received.toArray(Array.empty[(String, String)])
      assert(posts.nonEmpty, "gateway received no pushes")
      assert(posts.exists { case (path, body) =>
        path == "/metrics/job/graft-test" &&
          body.contains("app_bytes_total{user=\"u1\"} 5.0 1000000")
      }, s"unexpected posts: ${posts.mkString(";")}")
    } finally { q.stop(); gateway.stop(0) }
  }
}
