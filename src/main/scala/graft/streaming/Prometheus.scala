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
  *  - [[PrometheusPullServer]] — PrometheusPuller.java parity: an HTTP
  *    endpoint Prometheus scrapes; serves the current registry snapshot in
  *    text exposition format.
  *  - [[PrometheusPusher]] — PrometheusPusher.java:63-70 parity: per
  *    micro-batch (`endOfSet()`), POST the registry snapshot to a
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
    /** Hottest k series by current value (m10's live sibling — what a
      * "top talkers" dashboard reads from the scrape endpoint). The
      * registry is maxSeries-bounded, so this is an O(series log k) pass
      * over a small map, never over the stream.
      */
    def topK(k: Int): Seq[String] = state.synchronized {
      import scala.jdk.CollectionConverters._
      state.asScala.values.toSeq
        .map { line =>
          // value = second-to-last token (labels may contain spaces); a
          // malformed line is skipped, never thrown on — this is a
          // dashboard read path
          val parts = line.split(' ')
          val v =
            if (parts.length >= 3) parts(parts.length - 2).toDoubleOption
            else None
          (v.getOrElse(Double.NaN), line)
        }
        .filterNot(_._1.isNaN)
        .sortBy { case (v, line) => (-v, line) }
        .take(k)
        .map(_._2)
    }
    def size: Int = state.synchronized(state.size)
  }

  /** Live (window, name, le) → count registry fed by
    * [[FirehoseStream.histogramBuckets]] updates; quantiles are computed on
    * read with exactly [[graft.operators.Firehose.histogramQuantile]]'s
    * interpolation, folded driver-side over the tiny bucket snapshot (names
    * × buckets × open windows — what a scrape endpoint renders, the batch
    * operator's second phase made incremental).
    */
  /** @param maxWindows retained window-start count; when a batch pushes the
    *                    registry past it, the OLDEST windows are evicted —
    *                    the same bounded-registry posture as the gauge
    *                    registry's `maxSeries` (a scrape endpoint serves
    *                    recent history, not all of it; windows below the
    *                    stream's watermark stop updating anyway)
    */
  final class HistogramRegistry(maxWindows: Int = 10000) {
    private val state =
      scala.collection.mutable.Map.empty[(Long, String, Double), Long]
    def update(rows: Seq[(Long, String, Double, Long)]): Unit = state.synchronized {
      rows.foreach { case (win, name, le, n) => state((win, name, le)) = n }
      val wins = state.keysIterator.map(_._1).toSet
      if (wins.size > maxWindows) {
        val cutoff = wins.toSeq.sorted.apply(wins.size - maxWindows)
        state.filterInPlace { case ((w, _, _), _) => w >= cutoff }
      }
    }
    /** q-quantile for a metric over all retained windows (the batch
      * operator's global semantics; pass a window filter for per-window).
      */
    def quantile(name: String, q: Double, winFilter: Long => Boolean = _ => true): Option[Double] =
      state.synchronized {
        val byLe = state.iterator
          .collect { case ((w, n, le), cnt) if n == name && winFilter(w) => le -> cnt }
          .toSeq.groupBy(_._1).view.mapValues(_.map(_._2).sum)
          .toSeq.sortBy(_._1)
        if (byLe.isEmpty) None
        else {
          val total = byLe.map(_._2).sum
          val rank = q * total.toDouble
          // plain fold: locate the first bucket whose cumulative count
          // reaches the rank, interpolating inside it (+Inf → highest
          // finite boundary) — exactly Firehose.histogramQuantile's math
          var cumPrev = 0L
          var lo = 0.0
          var result = Option.empty[Double]
          val it = byLe.iterator
          while (result.isEmpty && it.hasNext) {
            val (le, cnt) = it.next()
            val cum = cumPrev + cnt
            if (cum.toDouble >= rank) {
              result = Some(
                if (le.isPosInfinity) lo
                else lo + (le - lo) * ((rank - cumPrev.toDouble) /
                  (cum.toDouble - cumPrev.toDouble)))
            } else {
              cumPrev = cum
              lo = le
            }
          }
          result
        }
      }
    def size: Int = state.synchronized(state.size)
  }

  /** Stream writer keeping a [[HistogramRegistry]] current per micro-batch
    * from [[FirehoseStream.histogramBuckets]] update rows.
    */
  def histogramSink(
      buckets: org.apache.spark.sql.DataFrame,
      registry: HistogramRegistry): DataStreamWriter[org.apache.spark.sql.Row] =
    buckets.writeStream
      .outputMode("update")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val rows = batch.collect().map { r =>
          (r.getAs[java.sql.Timestamp]("win_start").getTime,
            r.getAs[String]("name"),
            r.getAs[Double]("le"),
            r.getAs[Long]("n"))
        }
        registry.update(rows.toSeq)
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
