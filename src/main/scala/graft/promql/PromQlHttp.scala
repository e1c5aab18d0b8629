package graft.promql

import java.net.URLDecoder
import java.nio.charset.StandardCharsets

import scala.util.control.NonFatal

import com.sun.net.httpserver.{HttpExchange, HttpServer}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Versioned

/** The compiler served over HTTP in the Prometheus wire format — the
  * deployment loop's last arc (scrape in via the DSv2 `prom` source,
  * store in a Versioned landing, query out over the `api/v1` query
  * endpoints), on the
  * same JDK-only `com.sun.net.httpserver` the scrape endpoint
  * ([[graft.streaming.Prometheus.startPullServer]]) already uses. A
  * Grafana-shaped client can point at this server:
  *
  *  - `GET|POST /api/v1/query?query=Q&time=T` — INSTANT evaluation
  *    ([[PromQl.compileInstantVector]]): Prometheus `/api/v1/query`
  *    semantics (5m lookback delta, staleness markers, left-open range
  *    windows). `time` accepts unix seconds (integer or float, floored);
  *    omitted, it defaults to the stream's newest sample timestamp (a
  *    landed batch corpus has no "now"). Non-standard knob `lookback`
  *    (seconds or PromQL duration) overrides the 5m delta — the server
  *    flag `--query.lookback-delta`, exposed per-query because each
  *    request may target a differently-scraped landing.
  *  - `GET|POST /api/v1/query_range?query=Q&start=S&end=E&step=W` —
  *    PROMETHEUS-EXACT point-grid evaluation by default
  *    ([[PromQl.compileRangeVector]]: every point `start + i·step ≤ end`
  *    evaluates independently under the instant rules — the wire
  *    contract a Grafana client expects), with the engine's own windowed
  *    step-grid model ([[PromQl.compileSlidingVector]] filtered to the
  *    span) behind `mode=grid` for consumers of the landed-window
  *    semantics every batch operator shares. `step` accepts seconds or
  *    a PromQL duration (`15s`, `1m`, `2h`); `lookback` applies per
  *    point like the instant endpoint's.
  *
  * The METADATA endpoints Grafana's autocomplete asks for are served
  * too: `/api/v1/labels` (label names), `/api/v1/label/<n>/values`,
  * and `/api/v1/series` — each over the optional `start`/`end` span
  * (file-pruned) filtered to the union of
  * repeatable `match[]` series selectors through the compiler's own
  * matcher predicate; the engine's `component` dimension and
  * `__name__` surface as labels. Results are registry-sized.
  *
  * Responses are Prometheus-exact JSON envelopes:
  * `{"status":"success","data":{"resultType":"vector"|"matrix",
  * "result":[{"metric":{…},"value":[t,"v"]|"values":[[t,"v"],…]}]}}`;
  * compile/parse errors return 400 with
  * `{"status":"error","errorType":"bad_data","error":…}` (Prometheus's
  * envelope for malformed expressions). The `metric` object carries the
  * label set plus `__name__` (when the expression kept a name) and the
  * engine's `component` stream dimension as a plain label.
  *
  * Scale shape: the heavy lifting (selector pushdown, window
  * aggregation) runs in the compiled Spark plan; only the RESULT rows —
  * a dashboard response, series × points, the same driver-bounded
  * posture as the scrape registries — are collected and rendered. Every
  * request resolves the landing's newest committed version, so the
  * server answers appends as soon as they commit.
  *
  * Round 13 closes the loop's INGEST half and the rule surface:
  *
  *  - `POST /api/v1/ingest?component=C[&time=T]` —
  *    text-exposition body parsed by the same [[graft.operators
  *    .Firehose.PromGrammar]] the DSv2 `prom` source scans, landed as
  *    one retry-append commit with timestamp stats (so ingested batches
  *    are immediately file-prunable). Per-line timestamps are exposition
  *    millis; lines without one take `time` (unix sec). JDK-only — the
  *    remote-write protobuf+snappy path is environmentally blocked, and
  *    text exposition is what every Prometheus client lib can emit.
  *  - `GET /federate?match[]=S` — the latest-gauge registry of the
  *    matched series as text exposition (`component_name{labels} value
  *    ts_millis`), Prometheus's federation surface: a downstream
  *    scraper (or this engine's own `prom` DSv2 source) re-ingests it
  *    round-trip series-exact.
  *  - `GET /api/v1/rules` + `/api/v1/alerts` — the rule fleet
  *    ([[PromQlRules]], when the server is given a rules file) served
  *    in the Prometheus wire format: recording rules listed with their
  *    query text; alerting rules evaluated on the point grid over the
  *    trailing `for:` horizon (`time`/`step`/`lookback` params, newest
  *    sample default) with firing/pending/inactive state, per-series
  *    alert rows, `activeAt` = the current breach streak's first point.
  *
  * Probe surfaces beyond the rule/metadata endpoints:
  * `/api/v1/format_query` (the parser+printer round-trip as a linting
  * endpoint), `/api/v1/status/flags` (the engine's effective defaults),
  * and `/api/v1/status/tsdb` (Grafana's TSDB-status cardinality page:
  * head stats + four top-10 lists). The query endpoints take
  * Prometheus's `limit` param (cap the SERIES count; a truncated
  * response carries the warning annotation).
  *
  * The server memoizes PER COMMITTED VERSION (a committed version is
  * immutable, so each entry is computed once per append, not once per
  * request): the latest-gauge registry ([[PromRegistry]]), whose newest
  * head is the default evaluation time and whose heads answer the
  * `/api/v1/metadata` name universe — on a 100 TB landing the
  * difference between a dashboard poll costing a scan and costing a map
  * lookup — the TSDB-status body, and the rules/alerts responses keyed
  * by the resolved (version, time, step, lookback) evaluation grid — a
  * polled alert list pays the two rule-fleet evaluateRange passes once
  * per append, not once per poll.
  */
object PromQlHttp {

  /** Start the query API server over the [[graft.sources.Versioned]]
    * LANDING at `root` on `port` (0 = pick a free one); returns the
    * bound server (stop with `.stop(0)`). Both query endpoints read with
    * time-range FILE PRUNING ([[PromQlVersioned]]): each request's scan
    * is cut to the query's own visibility — an instant query reads its
    * lookback's files, a dashboard's `query_range` reads the requested
    * span (for the prunable shapes; universe-/pin-/series-lag-dependent
    * queries read fully, detected from the AST). This is the 100 TB
    * deployment shape: the server stays up for months while the landing
    * grows, and each request's cost tracks ITS window, not the corpus.
    */
  def startLandingServer(
      spark: SparkSession, root: String,
      port: Int = 0, rulesText: Option[String] = None): HttpServer = {
    rulesText.foreach(PromQlRules.parse) // a bad rules file fails at START
    // the landing's latest-gauge registry, maintained INCREMENTALLY per
    // committed version (PromRegistry: an append folds only its delta
    // files into the driver-held head map) — the default evaluation time
    // and the metadata name universe are pure driver-side folds over it
    // (zero Spark jobs once the version is absorbed), and /federate and
    // the tsdb page read its registry-sized local relation instead of
    // the corpus. This is what keeps a downstream Prometheus's 15 s
    // /federate poll from costing a full-landing scan per append.
    def registry(): PromRegistry.State = PromRegistry.current(spark, root)
    def newestOf(s: PromRegistry.State): Long = {
      if (s.heads.isEmpty) throw new IllegalArgumentException(
        "the landing is empty — pass an explicit 'time'")
      s.maxTs
    }
    // a metadata span bounded on either side prunes files exactly like a
    // query — the dominant Grafana pattern (label autocomplete scoped to
    // the dashboard's time range); a missing bound is ±Double.MaxValue,
    // and prunedRead applies the residual row filter itself. None = a
    // time-UNBOUNDED probe (Grafana's global label autocomplete, fired
    // per keystroke), which folds over the registry's head map instead:
    // a label set rides its series identity and every series ever seen
    // keeps a head, so distinct labels/values/series over the heads
    // equal the corpus's — zero landed files and zero jobs per probe
    def boundedSpan(params: Params): Option[DataFrame] = {
      val lo = params.get("start").map(parseTime)
      val hi = params.get("end").map(parseTime)
      if (lo.isEmpty && hi.isEmpty) None
      else Some(Versioned.prunedRead(
        spark, root, Versioned.latestVersion(root),
        Seq(("timestamp", lo.fold(-Double.MaxValue)(_.toDouble),
          hi.fold(Double.MaxValue)(_.toDouble)))))
    }
    // the TSDB-status cardinality page: computed over the registry's
    // local relation, rendered body memoized per committed version.
    // Computed OUTSIDE the map — a Spark job inside computeIfAbsent
    // holds the bin lock against unrelated requests (review catch).
    val tsdbCache =
      new java.util.concurrent.ConcurrentHashMap[java.lang.Long, String]()
    def cachedTsdb(): String = {
      val s = registry()
      val hit = tsdbCache.get(s.version: java.lang.Long)
      if (hit != null) hit
      else {
        val body = tsdbBodyOf(
          PromRegistry.frame(spark, s)
            .select(col("name"), col("series").as("_sk"), col("labels")),
          if (s.heads.isEmpty) 0L else s.minTs * 1000L,
          if (s.heads.isEmpty) 0L else s.maxTs * 1000L)
        if (tsdbCache.size > 8) tsdbCache.clear() // multi-KB bodies
        tsdbCache.putIfAbsent(s.version, body)
        body
      }
    }
    // rules/alerts responses memoized per resolved evaluation grid: an
    // alert list POLLING /api/v1/alerts costs the two rule-fleet
    // evaluateRange passes once per (append, grid), not once per poll —
    // the rules text is fixed for the server's lifetime, and a committed
    // version's answer at a grid is immutable. Bounded like the manifest
    // memo (immutable content — clearing always safe).
    val rulesCache = new java.util.concurrent.ConcurrentHashMap[
      (Long, Long, Long, Long, Boolean), String]()
    def cachedRules(rt: String, params: Params, alertsOnly: Boolean): String = {
      // pin the registry's version ONCE and thread it through
      // everything the cached body reads: an append racing the
      // request must not cache newer (or internally mixed) data
      // under this key; version and newest-sample default come from
      // one registry State
      val reg = registry()
      // resolve the grid BEFORE keying, so an omitted `time` and an
      // explicit time equal to the newest sample share one entry
      // (the newest-sample default reads the PINNED registry too)
      val end = params.get("time").map(parseTime).getOrElse(newestOf(reg))
      val step = params.get("step").map(parseDuration).getOrElse(60L)
      val lookback = params.get("lookback").map(parseDuration).getOrElse(300L)
      val key = (reg.version, end, step, lookback, alertsOnly)
      // compute outside the map: the two evaluateRange passes are
      // multi-second Spark jobs; under computeIfAbsent they would
      // hold the bin lock against unrelated keys (review catch)
      val hit = rulesCache.get(key)
      if (hit != null) hit
      else {
        val body = rulesBody(spark, root, reg.version, rt, end, step,
          lookback, alertsOnly)
        if (rulesCache.size > 256) rulesCache.clear()
        rulesCache.putIfAbsent(key, body)
        body
      }
    }
    val server = graft.HttpServers.create(port)
    // handlers run Spark ACTIONS (unlike the scrape endpoint's in-memory
    // renders) — without an executor every request serializes on the one
    // dispatch thread and a slow query_range blocks a whole dashboard's
    // panel fan-out. Spark drivers accept concurrent jobs; daemon threads
    // so an un-stopped server never pins the JVM (review catch)
    server.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(
      8,
      (r: Runnable) => {
        val t = new Thread(r, "graft-query-api")
        t.setDaemon(true)
        t
      }))
    server.createContext("/api/v1/query", (ex: HttpExchange) =>
      respond(ex) { params =>
        val q = required(params, "query")
        val t = params.get("time").map(parseTime).getOrElse(newestOf(registry()))
        val lookback = params.get("lookback").map(parseDuration).getOrElse(300L)
        val xp = parseExtrapolate(params)
        // bare-selector instant queries answer from the registry (zero
        // landed files; byte-identity spec-pinned); everything else
        // takes the pruned landed compile
        val rows = PromRegistry.instantFastPath(spark, root, q, t, lookback)
          .getOrElse(PromQlVersioned.compileInstantVector(spark, root, q, t,
            lookbackSec = lookback, extrapolate = xp))
          .select(col("component"), col("name"), col("labels"),
            col("win_start"), col("value"))
          .collect()
        val entries = rows.toSeq.map { r =>
          jsonObj(Seq(
            "metric" -> metricJson(r.getString(0), r.getString(1),
              r.getMap[String, String](2).toMap),
            "value" -> sample(r.getLong(3), r.getDouble(4))))
        }.sorted // deterministic body (Prometheus guarantees no order)
        val (kept, truncated) = limitEntries(params, entries)
        jsonObj(Seq(
          "status" -> "\"success\"",
          "data" -> jsonObj(Seq(
            "resultType" -> "\"vector\"",
            "result" -> kept.mkString("[", ",", "]")))) ++
          (if (truncated) Seq("warnings" -> TruncationWarning) else Nil))
      })
    server.createContext("/api/v1/query_range", (ex: HttpExchange) =>
      respond(ex) { params =>
        val q = required(params, "query")
        val start = parseTime(required(params, "start"))
        val end = parseTime(required(params, "end"))
        val step = parseDuration(required(params, "step"))
        if (end < start) throw new IllegalArgumentException(
          s"end ($end) is before start ($start)")
        if (step <= 0) throw new IllegalArgumentException("step must be positive")
        val lookback = params.get("lookback").map(parseDuration).getOrElse(300L)
        // default = Prometheus point semantics (every point an instant
        // evaluation); mode=grid selects the engine's windowed step-grid
        // model instead
        val grid = params.get("mode") match {
          case None | Some("prometheus") => false
          case Some("grid") => true
          case Some(other) => throw new IllegalArgumentException(
            s"unknown mode '$other' (expected 'prometheus' or 'grid')")
        }
        val xp = parseExtrapolate(params)
        val rows = (
          if (grid)
            PromQlVersioned.compileGridRangeVector(spark, root, q, start, end, step)
          else PromQlVersioned.compileRangeVector(
            spark, root, q, start, end, step, lookbackSec = lookback,
            extrapolate = xp))
          .select(col("component"), col("name"), col("labels"),
            col("win_start"), col("value"))
          .collect()
        // matrix: one entry per series identity, values in time order
        val entries = rows.toSeq
          .groupBy(r => (r.getString(0), r.getString(1),
            r.getMap[String, String](2).toSeq.sortBy(_._1)))
          .toSeq.sortBy(_._1.toString)
          .map { case ((component, name, labels), g) =>
            jsonObj(Seq(
              "metric" -> metricJson(component, name, labels.toMap),
              "values" -> g.sortBy(_.getLong(3))
                .map(r => sample(r.getLong(3), r.getDouble(4)))
                .mkString("[", ",", "]")))
          }
        val (kept, truncated) = limitEntries(params, entries)
        jsonObj(Seq(
          "status" -> "\"success\"",
          "data" -> jsonObj(Seq(
            "resultType" -> "\"matrix\"",
            "result" -> kept.mkString("[", ",", "]")))) ++
          (if (truncated) Seq("warnings" -> TruncationWarning) else Nil))
      })
    // metadata endpoints — what Grafana's autocomplete asks for. All
    // three answer over the (optionally time-bounded, match[]-filtered)
    // span; results are registry-sized (distinct labels/values/series),
    // never corpus-sized.
    server.createContext("/api/v1/labels", (ex: HttpExchange) =>
      respond(ex) { params =>
        val keys = boundedSpan(params) match {
          case None => PromRegistry.labelKeys(registry(), params.matches)
          case Some(span) =>
            matched(span, params.matches)
              .select(explode(map_keys(col("labels"))).as("l"))
              .distinct().collect().map(_.getString(0)).toSet
        }
        strListJson(params,
          (keys ++ Set("__name__", "component")).toSeq.sorted)
      })
    // /api/v1/label/<name>/values — the label name rides the path
    server.createContext("/api/v1/label", (ex: HttpExchange) =>
      respond(ex) { params =>
        val parts = ex.getRequestURI.getPath.split('/').toSeq.filter(_.nonEmpty)
        // ("api", "v1", "label", <name>, "values")
        if (parts.length != 5 || parts(4) != "values")
          throw new IllegalArgumentException(
            "expected /api/v1/label/<name>/values")
        val label = URLDecoder.decode(parts(3), StandardCharsets.UTF_8)
        val values = boundedSpan(params) match {
          case None => PromRegistry.labelValues(registry(), label, params.matches)
          case Some(span) =>
            val m = matched(span, params.matches)
            val valueCol = label match {
              case "__name__" => col("name")
              case "component" => col("component")
              case l => try_element_at(col("labels"), lit(l))
            }
            m.select(valueCol.as("v")).filter(col("v").isNotNull)
              .distinct().collect().map(_.getString(0)).toSeq
        }
        strListJson(params, values.sorted)
      })
    server.createContext("/api/v1/series", (ex: HttpExchange) =>
      respond(ex) { params =>
        if (params.matches.isEmpty) throw new IllegalArgumentException(
          "missing required parameter 'match[]'")
        val triples = boundedSpan(params) match {
          case None => PromRegistry.seriesTriples(registry(), params.matches)
          case Some(span) =>
            // distinct SERIES — deduped on the rendered series key (a
            // map column cannot join Spark's set operations directly)
            matched(span, params.matches)
              .withColumn("_sk",
                graft.operators.Firehose.seriesKey(col("labels")))
              .dropDuplicates("component", "name", "_sk")
              .select(col("component"), col("name"), col("labels"))
              .collect().toSeq
              .map(r => (r.getString(0), r.getString(1),
                r.getMap[String, String](2).toMap))
        }
        val entries = triples
          .map { case (c, n, ls) => metricJson(c, n, ls) }
          .sorted
        val (kept, truncated) = limitEntries(params, entries)
        jsonObj(Seq(
          "status" -> "\"success\"",
          "data" -> kept.mkString("[", ",", "]")) ++
          (if (truncated) Seq("warnings" -> TruncationWarning) else Nil))
      })
    // the liveness + capability surfaces a Grafana datasource probes
    // before it sends queries: buildinfo (feature gating), metric
    // metadata (autocomplete help texts — the engine tracks no
    // HELP/TYPE, so entries carry Prometheus's "unknown"), and the
    // health/readiness pair
    server.createContext("/api/v1/status/buildinfo", (ex: HttpExchange) =>
      respondWith(ex)(jsonObj(Seq(
        "status" -> "\"success\"",
        "data" -> jsonObj(Seq(
          "version" -> "\"graft\"",
          "revision" -> "\"\"",
          "branch" -> "\"\"",
          "buildUser" -> "\"\"",
          "buildDate" -> "\"\"",
          "goVersion" -> "\"\""))))))
    server.createContext("/api/v1/metadata", (ex: HttpExchange) =>
      respond(ex) { params =>
        val names =
          if (Versioned.latestVersion(root) < 0) Nil else registry().names
        // the same limit validation as every other endpoint: junk or
        // negative values are 400 bad_data, never silently ignored
        val (limited, _) = limitEntries(params, names)
        jsonObj(Seq(
          "status" -> "\"success\"",
          "data" -> jsonObj(limited.map(n => n ->
            """[{"type":"unknown","help":"","unit":""}]"""))))
      })
    // format_query: the canonical pretty-print of a parsed expression —
    // Prometheus's /api/v1/format_query; parse errors get the bad_data
    // envelope, so a UI can lint expressions against this endpoint
    server.createContext("/api/v1/format_query", (ex: HttpExchange) =>
      respond(ex) { params =>
        val q = required(params, "query")
        jsonObj(Seq(
          "status" -> "\"success\"",
          "data" -> s""""${esc(PromQlPrinter.print(PromQlParser.parse(q)))}""""))
      })
    // the server's effective flags — what Prometheus serves for the
    // flags probe; values are this engine's real defaults
    server.createContext("/api/v1/status/flags", (ex: HttpExchange) =>
      respondWith(ex)(jsonObj(Seq(
        "status" -> "\"success\"",
        "data" -> jsonObj(Seq(
          "query.lookback-delta" -> "\"5m\"",
          "storage.tsdb.retention.time" -> "\"0s\"",
          "web.enable-remote-write-receiver" -> "\"false\""))))))
    // the TSDB-status cardinality page (Grafana's "TSDB Status"):
    // head stats + the four top-10 cardinality lists, all registry-sized
    // results computed in a handful of aggregate jobs over the registry
    server.createContext("/api/v1/status/tsdb", (ex: HttpExchange) =>
      respondWith(ex)(cachedTsdb()))
    // runtime info: real JVM values where Prometheus reports Go's (the
    // two fields a UI actually reads are startTime and retention)
    val started = java.time.Instant.now()
    server.createContext("/api/v1/status/runtimeinfo", (ex: HttpExchange) =>
      respondWith(ex)(jsonObj(Seq(
        "status" -> "\"success\"",
        "data" -> jsonObj(Seq(
          "startTime" -> s""""$started"""",
          "CWD" -> s""""${esc(System.getProperty("user.dir", ""))}"""",
          "reloadConfigSuccess" -> "true",
          "lastConfigTime" -> s""""$started"""",
          "corruptionCount" -> "0",
          "goroutineCount" -> Thread.activeCount().toString,
          "GOMAXPROCS" -> Runtime.getRuntime.availableProcessors().toString,
          "storageRetention" -> "\"0s\""))))))
    // the loaded configuration — the server's rule file text (empty
    // without one), in Prometheus's {"yaml": ...} envelope
    server.createContext("/api/v1/status/config", (ex: HttpExchange) =>
      respondWith(ex)(jsonObj(Seq(
        "status" -> "\"success\"",
        "data" -> jsonObj(Seq(
          "yaml" -> s""""${esc(rulesText.getOrElse(""))}""""))))))
    server.createContext("/-/healthy", (ex: HttpExchange) =>
      respondText(ex)("graft is Healthy.\n"))
    server.createContext("/-/ready", (ex: HttpExchange) =>
      respondText(ex)("graft is Ready.\n"))
    // the POST body here is the raw text exposition, NOT form params —
    // request params come from the query string alone
    server.createContext("/api/v1/ingest", (ex: HttpExchange) =>
      respondWith(ex) {
        if (ex.getRequestMethod != "POST")
          throw new IllegalArgumentException("ingest requires POST")
        val raw = new String(
          ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
        ingestBody(spark, root, queryParamsOf(ex), raw)
      })
    server.createContext("/federate", (ex: HttpExchange) => {
      // the client's escaping negotiation: an Accept header carrying
      // `escaping=allow-utf-8` (Prometheus 3.x) gets non-classic names
      // in the quoted form; a classic client gets underscore-mangled
      // names, exactly Prometheus's own downgrade
      val utf8 = Option(ex.getRequestHeaders.getFirst("Accept"))
        .exists(_.toLowerCase(java.util.Locale.ROOT)
          .contains("escaping=allow-utf-8"))
      // the registry IS the latest-gauge relation — the body renders
      // ENTIRELY driver-side from the head map (zero landed files, zero
      // Spark jobs per poll; byte-identity with the m6 render
      // spec-pinned)
      respondText(ex) {
        val params = paramsOf(ex)
        PromRegistry.federateBody(registry(), params.matches, utf8)
      }
    })
    rulesText.foreach { rt =>
      server.createContext("/api/v1/rules", (ex: HttpExchange) =>
        respond(ex)(params => cachedRules(rt, params, alertsOnly = false)))
      server.createContext("/api/v1/alerts", (ex: HttpExchange) =>
        respond(ex)(params => cachedRules(rt, params, alertsOnly = true)))
    }
    server.start()
    server
  }

  // ───────────────────────── ingest (scrape-in) ─────────────────────────

  /** POST body = text exposition; parsed and landed by the shared
    * [[PromQlVersioned.landExposition]] core (the same grammar +
    * refusal discipline the [[PromScraper]] client runs). Params:
    * `component` (the engine's stream dimension, default "scrape"),
    * `time` (unix sec — the sample time for lines without an exposition
    * timestamp).
    */
  private def ingestBody(
      spark: org.apache.spark.sql.SparkSession, root: String,
      params: Params, body: String): String = {
    // `format=openmetrics` selects OpenMetrics timestamp units (float
    // seconds); the default is the Prometheus text format's millis —
    // the same line is valid in both, so the unit is the CALLER's call
    val om = params.get("format") match {
      case None | Some("prometheus") => false
      case Some("openmetrics") => true
      case Some(other) => throw new IllegalArgumentException(
        s"unknown format '$other' (expected 'prometheus' or 'openmetrics')")
    }
    val (v, n) = PromQlVersioned.landExposition(
      spark, root, body,
      params.get("component").getOrElse("scrape"),
      params.get("time").map(parseTime),
      s"ingest-${java.util.UUID.randomUUID().toString.take(12)}",
      omTimestamps = om)
    jsonObj(Seq(
      "status" -> "\"success\"",
      "data" -> jsonObj(Seq(
        "version" -> v.toString,
        "samples" -> n.toString))))
  }

  // ──────────────────────── federate (scrape-out) ────────────────────────

  /** The SPARK-path `/federate` render over an already-latest gauge
    * relation — `match[]` filters on the label map, then the m6 render
    * (`utf8` = the client's escaping negotiation, promRender's classic
    * downgrade when false). The landing server serves the
    * zero-job fold instead ([[PromRegistry.federateBody]]); this is the
    * byte-identity REFERENCE the parity spec replays the driver render
    * against.
    */
  private[graft] def federateSparkBody(
      gauges: DataFrame, matches: Seq[String],
      utf8: Boolean = true): String = {
    import graft.operators.Firehose
    if (matches.isEmpty) throw new IllegalArgumentException(
      "missing required parameter 'match[]'")
    val lines = Firehose.promRender(
      matched(gauges, matches)
        .select(col("component"), col("name"), col("labels"),
          col("last_value"), col("last_ts")),
      utf8)
      .collect().map(_.getString(0)).sorted
    lines.mkString("", "\n", "\n")
  }

  // ───────────────────────── TSDB status ─────────────────────────

  /** `/api/v1/status/tsdb` body: head stats (series / label-pair counts,
    * min/max sample time in MILLIS — Prometheus's unit; chunkCount 0,
    * the engine has no chunk concept) plus the four top-10 cardinality
    * lists, over a DISTINCT-SERIES relation `(name, _sk, labels)` — one
    * row per (component, name, series) — with the time range supplied by
    * the caller. Counts are over the engine's labels map (`component` and
    * `__name__` surface as query labels but are not label PAIRS here —
    * the page exists to find expensive real labels). The server feeds the
    * incremental registry's local frame here (every series that ever
    * appeared keeps a head, and a series' label set is its identity, so
    * the four cardinality lists over the registry equal the corpus's) —
    * the page costs a handful of jobs over a registry-sized relation,
    * never a landed-file scan.
    */
  private def tsdbBodyOf(series: DataFrame, minT: Long, maxT: Long): String = {
    val numSeries = series.count()
    val pairs = series.select(explode(col("labels")).as(Seq("_k", "_v"))).distinct()
    val numPairs = pairs.count()
    def top10(df: DataFrame): Seq[(String, Long)] =
      df.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
        .sortBy { case (n, c) => (-c, n) }.take(10)
    val byMetric = top10(series.groupBy(col("name"))
      .agg(count(lit(1)).cast("long").as("c")))
    val valuesPerLabel = top10(pairs.groupBy(col("_k"))
      .agg(count(lit(1)).cast("long").as("c")))
    val seriesPerPair = top10(series
      .select(col("_sk"), explode(col("labels")).as(Seq("_k", "_v")))
      .select(concat(col("_k"), lit("="), col("_v")).as("_p"))
      .groupBy(col("_p")).agg(count(lit(1)).cast("long").as("c")))
    val bytesPerLabel = top10(pairs.groupBy(col("_k"))
      .agg(sum(length(col("_k")) + length(col("_v"))).cast("long").as("c")))
    def statList(xs: Seq[(String, Long)]): String =
      xs.map { case (n, v) =>
        jsonObj(Seq("name" -> s""""${esc(n)}"""", "value" -> v.toString))
      }.mkString("[", ",", "]")
    jsonObj(Seq(
      "status" -> "\"success\"",
      "data" -> jsonObj(Seq(
        "headStats" -> jsonObj(Seq(
          "numSeries" -> numSeries.toString,
          "numLabelPairs" -> numPairs.toString,
          "chunkCount" -> "0",
          "minTime" -> minT.toString,
          "maxTime" -> maxT.toString)),
        "seriesCountByMetricName" -> statList(byMetric),
        "labelValueCountByLabelName" -> statList(valuesPerLabel),
        "memoryInBytesByLabelName" -> statList(bytesPerLabel),
        "seriesCountByLabelValuePair" -> statList(seriesPerPair)))))
  }

  /** Prometheus's `limit` param on the query endpoints: cap the number
    * of SERIES in the result (0 = disabled); a truncated response
    * carries the warning annotation Prometheus emits.
    */
  private def limitEntries(
      params: Params, entries: Seq[String]): (Seq[String], Boolean) =
    params.get("limit").map(s => s.toIntOption.getOrElse(
      throw new IllegalArgumentException(
        s"cannot parse '$s' as limit (integer)"))) match {
      case Some(n) if n < 0 =>
        throw new IllegalArgumentException("limit must be non-negative")
      case Some(n) if n > 0 && entries.size > n => (entries.take(n), true)
      case _ => (entries, false)
    }

  private val TruncationWarning =
    """["results truncated due to limit"]"""

  // ───────────────────────── rules and alerts ─────────────────────────

  /** `/api/v1/rules` (alertsOnly = false) and `/api/v1/alerts` (true) in
    * the Prometheus wire format. Recording rules are listed statically
    * (their outputs are queries, not state); alerting rules evaluate on
    * the POINT grid over the trailing `for:` (+ `keep_firing_for`)
    * horizon ending at `time` (default: the newest sample): state =
    * firing when the streaked alert emits a row at the end point
    * (including the keep_firing_for tail past the last breach), pending
    * when the bare condition holds there but the streak is incomplete,
    * inactive otherwise. `activeAt` is the first point of the current
    * consecutive breach run — Prometheus's pending-start. Alert labels
    * come from the evaluation's label MAP (never re-split from the
    * rendered series key — values containing commas stay lossless),
    * with the rule's static labels merged over them (rule wins,
    * Prometheus's merge) and its annotations verbatim. The rule fleet's
    * span is read from the landing at `version`, pruned to what the
    * rule expressions can see.
    */
  private def rulesBody(
      spark: SparkSession, root: String, version: Long,
      rulesText: String, end: Long, step: Long, lookback: Long,
      alertsOnly: Boolean): String = {
    val lines = PromQlRules.parse(rulesText)
    val alerts = lines.collect { case a: PromQlRules.Alert => a }
    val maxFor = (0L +: alerts.map(a => a.forSec + a.keepFiringForSec)).max
    // the horizon holds every streak (and keep-firing tail) the end
    // point can complete, plus one step so a just-started breach has a
    // preceding point to differ
    val start = end - maxFor - step
    lazy val metrics = PromQlVersioned.ruleSpanMetrics(spark, root,
      lines.map {
        case r: PromQlRules.Rule => r.expr
        case a: PromQlRules.Alert => a.expr
      }, start, end, lookback, version = Some(version))
    // fired rows per alert at every grid point (streaked + keep tail),
    // and the bare condition rows (for/keep stripped) for pending
    // detection + activeAt
    def evalAll(text: String): Map[String, DataFrame] =
      PromQlRules.evaluateRangeLabeled(
        text, metrics, start, end, step, lookback)
    val fired =
      if (alerts.isEmpty) Map.empty[String, DataFrame] else evalAll(rulesText)
    val bare =
      if (alerts.isEmpty) Map.empty[String, DataFrame]
      else evalAll(lines.map {
        // recording labels are part of the recorded series' identity —
        // the bare rebuild keeps them and strips only for/keep/alert
        // decorations
        case r: PromQlRules.Rule =>
          s"${r.name} = ${r.expr}" + PromQlRules.clauseText("labels", r.labels)
        case a: PromQlRules.Alert => s"alert ${a.name} = ${a.expr}"
      }.mkString("\n"))
    case class AlertRow(
        component: String, labels: Map[String, String], series: String,
        winStart: Long, value: Double) {
      def key: (String, String) = (component, series)
    }
    def rowsOf(df: DataFrame): Seq[AlertRow] =
      df.select(col("component"), col("labels"), col("series"),
        col("win_start"), col("value")).collect()
        .map(r => AlertRow(r.getString(0), r.getMap[String, String](1).toMap,
          r.getString(2), r.getLong(3), r.getDouble(4))).toSeq
    def alertJson(a: PromQlRules.Alert): (String, Seq[String]) = {
      val condRows = rowsOf(bare(a.name))
      val firedNow = rowsOf(fired(a.name)).filter(_.winStart == end)
      val condNow = condRows.filter(_.winStart == end)
      val state =
        if (firedNow.nonEmpty) "firing"
        else if (condNow.nonEmpty) "pending" else "inactive"
      val firingByKey = firedNow.map(r => r.key -> r).toMap
      val condByKey = condNow.map(r => r.key -> r).toMap
      // active series: breaching at the end point, or kept firing by
      // the keep_firing_for tail (fired at end with no breach there)
      val active = (condByKey.keySet ++ firingByKey.keySet).toSeq.sorted
      val entries = active.map { key =>
        val r = condByKey.getOrElse(key, firingByKey(key))
        // activeAt: walk the series' breach run back — anchored at the
        // end point, or (keep-firing with no breach now) at the run's
        // last breaching point
        val pts = condRows.filter(_.key == key).map(_.winStart).toSet
        var first =
          if (pts.contains(end) || pts.isEmpty) end
          else pts.filter(_ <= end).max
        while (pts.contains(first - step) && first - step >= start)
          first -= step
        // the rule's static labels merge OVER the series labels, and the
        // RESERVED keys apply last — Prometheus re-asserts `alertname`
        // after rule labels, so a series or rule label literally named
        // alertname (or component, the engine's reserved axis) can
        // never override it (review catch)
        val labels = (r.labels ++ a.labels ++
          Map("alertname" -> a.name, "component" -> r.component)).toSeq
          .sortBy(_._1)
        jsonObj(Seq(
          "labels" -> jsonObj(labels.map { case (k, v) =>
            k -> s""""${esc(v)}"""" }),
          "annotations" -> jsonObj(a.annotations.toSeq.sorted.map {
            case (k, v) => k -> s""""${esc(v)}"""" }),
          "state" -> s""""${if (firingByKey.contains(key)) "firing"
            else "pending"}"""",
          "activeAt" -> s""""${java.time.Instant.ofEpochSecond(first)}"""",
          "value" -> s""""${r.value}""""))
      }
      (state, entries)
    }
    if (alertsOnly) {
      val entries = alerts.flatMap(a => alertJson(a)._2)
      jsonObj(Seq(
        "status" -> "\"success\"",
        "data" -> jsonObj(Seq(
          "alerts" -> entries.mkString("[", ",", "]")))))
    } else {
      val ruleEntries = lines.map {
        case r: PromQlRules.Rule =>
          jsonObj(Seq(
            "name" -> s""""${esc(r.name)}"""",
            "query" -> s""""${esc(r.expr)}"""") ++
            (if (r.labels.isEmpty) Nil
             else Seq("labels" -> jsonObj(r.labels.toSeq.sorted.map {
               case (k, v) => k -> s""""${esc(v)}"""" }))) ++
            Seq(
              "health" -> "\"ok\"",
              "type" -> "\"recording\""))
        case a: PromQlRules.Alert =>
          val (state, entries) = alertJson(a)
          jsonObj(Seq(
            "name" -> s""""${esc(a.name)}"""",
            "query" -> s""""${esc(a.expr)}"""",
            "duration" -> a.forSec.toString,
            "keepFiringFor" -> a.keepFiringForSec.toString,
            "labels" -> jsonObj(a.labels.toSeq.sorted.map { case (k, v) =>
              k -> s""""${esc(v)}"""" }),
            "annotations" -> jsonObj(a.annotations.toSeq.sorted.map {
              case (k, v) => k -> s""""${esc(v)}"""" }),
            "health" -> "\"ok\"",
            "state" -> s""""$state"""",
            "alerts" -> entries.mkString("[", ",", "]"),
            "type" -> "\"alerting\""))
      }
      jsonObj(Seq(
        "status" -> "\"success\"",
        "data" -> jsonObj(Seq(
          "groups" -> ("[" + jsonObj(Seq(
            "name" -> "\"graft\"",
            "file" -> "\"rules.graft\"",
            "rules" -> ruleEntries.mkString("[", ",", "]"))) + "]")))))
    }
  }

  /** The span filtered to the UNION of the `match[]` selectors (each a
    * plain instant selector — Prometheus's series-selector grammar),
    * through the compiler's own matcher predicate. No selectors = the
    * whole span.
    */
  private def matched(span: DataFrame, matches: Seq[String]): DataFrame =
    if (matches.isEmpty) span
    else {
      val preds = matches.map { m =>
        PromQlParser.parse(m) match {
          case VectorSelector(name, matchers, 0L, None) =>
            (name.map(n => LabelMatcher("__name__", MatchOp.Eq, n)).toSeq ++
              matchers)
              .map(PromQlCompiler.matcherPred)
              .reduceOption(_ && _).getOrElse(lit(true))
          case _ => throw new IllegalArgumentException(
            s"match[] must be a plain series selector, got: $m")
        }
      }
      span.filter(preds.reduce(_ || _))
    }

  /** The sorted string-list envelope with Prometheus's metadata `limit`
    * (3.x: labels / label values / series all take it; truncation
    * carries the same warning annotation as the query endpoints).
    */
  private def strListJson(params: Params, xs: Seq[String]): String = {
    val entries = xs.map(s => s""""${esc(s)}"""")
    val (kept, truncated) = limitEntries(params, entries)
    jsonObj(Seq(
      "status" -> "\"success\"",
      "data" -> kept.mkString("[", ",", "]")) ++
      (if (truncated) Seq("warnings" -> TruncationWarning) else Nil))
  }

  // ───────────────────────── request plumbing ─────────────────────────

  /** Parsed request params: last-one-wins singles plus the MULTI-valued
    * `match[]` list (the one param Prometheus reads as repeatable).
    */
  private final case class Params(kv: Map[String, String], matches: Seq[String]) {
    def get(name: String): Option[String] = kv.get(name)
  }

  /** Query-string + form-body params (Prometheus accepts both GET query
    * strings and POSTed `application/x-www-form-urlencoded` bodies; a
    * param in both places reads from the body, like Go's `FormValue`).
    */
  private def parsePairs(s: String): Seq[(String, String)] =
    s.split('&').toSeq.filter(_.nonEmpty).flatMap { kv =>
      val i = kv.indexOf('=')
      if (i <= 0) None
      else Some(
        URLDecoder.decode(kv.take(i), StandardCharsets.UTF_8) ->
          URLDecoder.decode(kv.drop(i + 1), StandardCharsets.UTF_8))
    }

  private def paramsOf(ex: HttpExchange): Params = {
    val pairs =
      Option(ex.getRequestURI.getRawQuery)
        .fold(Seq.empty[(String, String)])(parsePairs) ++
        (if (ex.getRequestMethod == "POST")
          parsePairs(new String(
            ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8))
        else Nil)
    Params(pairs.toMap, pairs.collect { case ("match[]", v) => v })
  }

  /** Query-string params ONLY — for endpoints whose POST body is a raw
    * payload (text-exposition ingest), not form-encoded params.
    */
  private def queryParamsOf(ex: HttpExchange): Params = {
    val pairs = Option(ex.getRequestURI.getRawQuery)
      .fold(Seq.empty[(String, String)])(parsePairs)
    Params(pairs.toMap, pairs.collect { case ("match[]", v) => v })
  }

  private def required(params: Params, name: String): String =
    params.get(name).getOrElse(
      throw new IllegalArgumentException(s"missing required parameter '$name'"))

  /** Non-standard knob: `extrapolate=true` turns on Prometheus's
    * rate/increase boundary extrapolation (Go-exact); the default keeps
    * the engine's exact-decimal interior delta sums.
    */
  private def parseExtrapolate(params: Params): Boolean =
    params.get("extrapolate") match {
      case None | Some("false") => false
      case Some("true") => true
      case Some(other) => throw new IllegalArgumentException(
        s"cannot parse '$other' as extrapolate (true|false)")
    }

  /** Unix seconds, integer or float (Prometheus floors sub-second). */
  private def parseTime(s: String): Long =
    try math.floor(s.toDouble).toLong
    catch { case _: NumberFormatException =>
      throw new IllegalArgumentException(s"cannot parse '$s' as a unix time")
    }

  /** Seconds as a bare number, or a PromQL duration (`15s`, `5m`, `2h`). */
  private def parseDuration(s: String): Long =
    s.toLongOption.getOrElse(PromQlDurations.parse(s).fold(
      msg => throw new IllegalArgumentException(
        s"cannot parse '$s' as a duration: $msg"),
      identity))

  private def respond(ex: HttpExchange)(body: Params => String): Unit =
    respondWith(ex)(body(paramsOf(ex)))

  /** JSON response with the Prometheus error envelope on failure; the
    * body is by-name so param parsing itself falls under the handler.
    */
  private def respondWith(ex: HttpExchange)(body: => String): Unit =
    respondAs(ex, "application/json")(body)

  /** text/plain response (the federation surface); errors still JSON. */
  private def respondText(ex: HttpExchange)(body: => String): Unit =
    respondAs(ex, "text/plain; version=0.0.4; charset=utf-8")(body)

  /** Every non-fatal failure gets an answer, because an escaped throwable
    * leaves the client waiting for a response that never comes. A parser
    * recursing past the handler thread's stack on a deeply nested
    * expression is the client's malformed input, not a server fault.
    */
  private def respondAs(ex: HttpExchange, contentType: String)(body: => String): Unit = {
    val (code, text, ct) =
      try (200, body, contentType)
      catch {
        case e @ (_: PromQlParseException | _: PromQlCompileException |
            _: IllegalArgumentException) =>
          (400, errorJson("bad_data", e.getMessage), "application/json")
        case _: StackOverflowError =>
          (400, errorJson("bad_data", "expression nested too deeply"), "application/json")
        case NonFatal(e) =>
          (500, errorJson("internal",
            s"${e.getClass.getSimpleName}: ${e.getMessage}"), "application/json")
      }
    send(ex, code, text, ct)
  }

  private def send(
      ex: HttpExchange, code: Int, body: String, contentType: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.add("Content-Type", contentType)
    ex.sendResponseHeaders(code, bytes.length)
    val os = ex.getResponseBody
    try os.write(bytes) finally os.close()
  }

  // ───────────────────────── JSON rendering ─────────────────────────

  private def esc(s: String): String = {
    val b = new StringBuilder(s.length + 2)
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.toString
  }

  private def jsonObj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s""""${esc(k)}":$v""" }.mkString("{", ",", "}")

  private def errorJson(errorType: String, msg: String): String =
    jsonObj(Seq(
      "status" -> "\"error\"",
      "errorType" -> s""""${esc(errorType)}"""",
      "error" -> s""""${esc(if (msg == null) "" else msg)}""""))

  /** Prometheus renders sample values as strings (`[t,"v"]`), timestamps
    * as bare numbers.
    */
  private def sample(t: Long, v: Double): String = {
    val s =
      if (v.isNaN) "NaN"
      else if (v.isPosInfinity) "+Inf"
      else if (v.isNegInfinity) "-Inf"
      else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
      else v.toString
    s"""[$t,"$s"]"""
  }

  private def metricJson(
      component: String, name: String, labels: Map[String, String]): String = {
    val named =
      (if (name == null || name.isEmpty) Map.empty[String, String]
       else Map("__name__" -> name)) ++
        (if (component == null || component.isEmpty) Map.empty[String, String]
         else Map("component" -> component)) ++
        Option(labels).getOrElse(Map.empty)
    jsonObj(named.toSeq.sortBy(_._1).map { case (k, v) =>
      k -> s""""${esc(v)}""""
    })
  }
}
