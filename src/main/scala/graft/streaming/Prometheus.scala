package graft.streaming

import java.net.URI
import java.net.http.{HttpClient, HttpRequest}
import java.net.http.HttpResponse.BodyHandlers
import java.nio.charset.StandardCharsets

import com.sun.net.httpserver.{HttpExchange, HttpServer}

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.DataStreamWriter

/** The reference's two execution models, re-expressed over graft's gauge
  * stream (both JDK-only, no client library):
  *
  *  - pull ([[startPullServer]] + [[pullSink]]) — PrometheusPuller.java
  *    parity: an HTTP endpoint Prometheus scrapes; serves the current
  *    registry snapshot in text exposition format.
  *  - push ([[pushSink]]) — PrometheusPusher.java:63-70 parity: per
  *    micro-batch (`endOfSet()`), POST the rendered update to a
  *    PushGateway URL.
  *
  * Both consume the same `Dataset[GaugeOut]` updates that
  * [[FirehoseStream.gaugeLatest]] maintains; the registry snapshot is
  * bounded by live-series cardinality, so holding/rendering it at a single
  * endpoint is O(series), independent of stream volume.
  */
object Prometheus {

  /** In-memory registry: series key → exposition line, updated per batch.
    *
    * Bounded like the reference's gauge cache
    * (AbstractPrometheusFirehose.java:20-23, `maximumSize(10000)` +
    * access-order LRU): when a batch pushes the registry past `maxSeries`,
    * the least-recently-updated series are evicted first — the guard that
    * keeps a hot-cardinality explosion from growing the scrape endpoint
    * without bound. The TTL half of the reference's policy lives in the
    * state-store timeout ([[FirehoseStream.gaugeLatest]]).
    */
  final class Registry(maxSeries: Int = 10000) {
    // access-ordered LinkedHashMap = the same LRU semantics as the Guava
    // cache; updates are per-micro-batch (O(changed series)), so a plain
    // lock is cheaper than copy-on-write of the whole map
    private val state = new java.util.LinkedHashMap[String, String](16, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[String, String]): Boolean =
        size() > maxSeries
    }
    // label VALUES come from arbitrary event props and may contain spaces;
    // the value and timestamp are always the LAST two space-separated
    // tokens of an exposition line, so the series identity is everything
    // before them (a first-space split would truncate such a key and
    // collide distinct series)
    private def seriesKeyOf(line: String): String = {
      val tsSep = line.lastIndexOf(' ')
      val vSep = if (tsSep > 0) line.lastIndexOf(' ', tsSep - 1) else -1
      if (vSep > 0) line.substring(0, vSep) else line
    }
    def update(lines: Seq[String]): Unit = state.synchronized {
      lines.foreach { l => state.put(seriesKeyOf(l), l) }
    }
    def render: String = state.synchronized {
      import scala.jdk.CollectionConverters._
      val m = state.asScala.toMap
      m.keys.toSeq.sorted.map(m).mkString("", "\n", if (m.isEmpty) "" else "\n")
    }
    def size: Int = state.synchronized(state.size)
  }

  /** PrometheusPuller.java parity: serve `render` at /metrics. Returns the
    * bound port (pass 0 to pick a free one).
    */
  def startPullServer(registry: Registry, port: Int = 0): HttpServer = {
    val server = graft.HttpServers.create(port)
    server.createContext("/metrics", (exchange: HttpExchange) => {
      val body = registry.render.getBytes(StandardCharsets.UTF_8)
      exchange.getResponseHeaders.add("Content-Type", "text/plain; version=0.0.4")
      exchange.sendResponseHeaders(200, body.length)
      val os = exchange.getResponseBody
      try os.write(body) finally os.close()
    })
    server.start()
    server
  }

  /** Stream writer keeping `registry` current per micro-batch (pull model:
    * the scrape endpoint reads whatever is current; `endOfSet()` ≙ batch
    * boundary).
    */
  def pullSink(gauges: Dataset[GaugeOut], registry: Registry): DataStreamWriter[GaugeOut] =
    FirehoseStream.expositionSink(gauges, lines => registry.update(lines.toSeq))

  /** PrometheusPusher.java:63-70 parity: per micro-batch POST of the
    * rendered update to a PushGateway-style endpoint
    * (`PUT/POST /metrics/job/<job>`).
    */
  def pushSink(
      gauges: Dataset[GaugeOut],
      gatewayUrl: String,
      job: String): DataStreamWriter[GaugeOut] = {
    val client = HttpClient.newHttpClient()
    FirehoseStream.expositionSink(gauges, { lines =>
      val req = HttpRequest.newBuilder(URI.create(s"$gatewayUrl/metrics/job/$job"))
        .header("Content-Type", "text/plain; version=0.0.4")
        .POST(HttpRequest.BodyPublishers.ofString(lines.mkString("", "\n", "\n")))
        .build()
      client.send(req, BodyHandlers.discarding())
      ()
    })
  }
}
