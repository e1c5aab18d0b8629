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
