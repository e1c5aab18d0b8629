package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Firehose
import graft.promql.{PromQl, PromQlHttp, PromQlVersioned}
import graft.sources.Versioned

/** The query API server ([[PromQlHttp]]): HTTP answers over a LANDED
  * stream, read through the server's file pruning, must equal the
  * compiler called directly on the whole landing — instant
  * (`/api/v1/query` == `compileInstantVector`) and range
  * (`/api/v1/query_range` == the point-grid `compileRangeVector`, the
  * step-grid `compileSlidingVector` behind `mode=grid`) — in the
  * Prometheus JSON wire format, with Prometheus's error envelope for
  * malformed expressions.
  */
class PromQlHttpSpec extends SparkSuite {

  private lazy val metrics = Firehose.tagFilter(
    Firehose.metricsFromEvents(spark, sfDir))
    .select("component", "name", "labels", "timestamp", "id", "value")

  private lazy val tMax: Long =
    metrics.agg(max(col("timestamp"))).head().getLong(0)

  // the served corpus: a real Versioned landing, resolved per request
  private lazy val root: String = {
    val r = Files.createTempDirectory("pqlhttp").toFile.getAbsolutePath
    PromQlVersioned.land(metrics, r)
    r
  }

  private val client = HttpClient.newHttpClient()

  private def get(port: Int, path: String): (Int, String) = {
    val resp = client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path")).build(),
      HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), resp.body())
  }

  private def post(port: Int, path: String, form: String): (Int, String) = {
    val resp = client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
        .header("Content-Type", "application/x-www-form-urlencoded")
        .POST(HttpRequest.BodyPublishers.ofString(form)).build(),
      HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), resp.body())
  }

  private def enc(s: String): String =
    java.net.URLEncoder.encode(s, java.nio.charset.StandardCharsets.UTF_8)

  /** The spec's own independent rendering of what one instant-vector
    * entry must look like — duplicated from first principles (sorted
    * label keys, __name__ + component folded in, integral doubles as
    * integers) so the server's rendering is PINNED, not self-compared.
    */
  private def expectedEntries(df: DataFrame, valueKey: String): Seq[String] =
    df.collect().toSeq.map { r =>
      s"""{"metric":${metricOf(r.getString(0), r.getString(1),
        r.getMap[String, String](2).toMap)},"$valueKey":${
        pointOf(r.getLong(3), r.getDouble(4))}}"""
    }

  /** [[expectedEntries]]' matrix twin: one entry per series over a
    * `(component, name, labels, win_start, value)` frame, its points in
    * time order, the entries in the server's deterministic order — by
    * the (component, name, key-sorted labels) identity's string form.
    */
  private def expectedMatrix(df: DataFrame): Seq[String] =
    df.collect().toSeq
      .groupBy(r => (r.getString(0), r.getString(1),
        r.getMap[String, String](2).toSeq.sortBy(_._1)))
      .toSeq.sortBy(_._1.toString)
      .map { case ((component, name, labels), rows) =>
        s"""{"metric":${metricOf(component, name, labels.toMap)},"values":${
          rows.sortBy(_.getLong(3)).map(r => pointOf(r.getLong(3), r.getDouble(4)))
            .mkString("[", ",", "]")}}"""
      }

  private def metricOf(
      component: String, name: String, labels: Map[String, String]): String = {
    val all =
      (if (name.isEmpty) Map.empty[String, String] else Map("__name__" -> name)) ++
        Map("component" -> component) ++ labels
    all.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""$k":"$v"""" }.mkString("{", ",", "}")
  }

  private def pointOf(t: Long, v: Double): String = {
    val fmt =
      if (v.isNaN) "NaN"
      else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
      else v.toString
    s"""[$t,"$fmt"]"""
  }

  test("instant query over HTTP == compileInstantVector, wire-exact") {
    val server = PromQlHttp.startLandingServer(spark, root)
    try {
      val port = server.getAddress.getPort
      val q = "sum by (user) (increase(view_total[2d]))"
      val (code, body) = get(port, s"/api/v1/query?query=${enc(q)}&time=$tMax")
      assert(code === 200)
      val want = expectedEntries(
        PromQl.compileInstantVector(q, Versioned.latest(spark, root), tMax)
          .select("component", "name", "labels", "win_start", "value"),
        "value").sorted
      assert(want.nonEmpty)
      assert(body ===
        s"""{"status":"success","data":{"resultType":"vector","result":[${
          want.mkString(",")}]}}""")
      // omitted time defaults to the stream's newest sample
      assert(get(port, s"/api/v1/query?query=${enc(q)}")._2 === body)
      // POST form body carries the same params
      assert(post(port, "/api/v1/query", s"query=${enc(q)}&time=$tMax")._2 === body)
    } finally server.stop(0)
  }

  test("query_range over HTTP == the point-grid compile (default), grid mode behind mode=grid") {
    val server = PromQlHttp.startLandingServer(spark, root)
    try {
      val port = server.getAddress.getPort
      val q = "sum by (user) (view_total)"
      val (start, end, step) = (tMax - 7 * 86400L, tMax, 86400L)
      val (code, body) = get(port,
        s"/api/v1/query_range?query=${enc(q)}&start=$start&end=$end&step=1d" +
          "&lookback=1d")
      assert(code === 200)
      assert(body.startsWith(
        """{"status":"success","data":{"resultType":"matrix","result":["""))
      // mode=grid selects the engine's windowed evaluation instead
      val (gc, gBody) = get(port,
        s"/api/v1/query_range?query=${enc(q)}&start=$start&end=$end&step=1d" +
          "&mode=grid")
      assert(gc === 200 && gBody != body)
      val gDirect = PromQl.compileSlidingVector(
        q, Versioned.latest(spark, root), step)
        .filter(col("win_start") >= lit(start) && col("win_start") <= lit(end))
        .select("labels", "win_start", "value").collect()
      assert(gDirect.nonEmpty)
      gDirect.foreach { r =>
        val v = r.getDouble(2)
        val fmt =
          if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
          else v.toString
        assert(gBody.contains(s"""[${r.getLong(1)},"$fmt"]"""),
          s"grid mode missing point ${r.getLong(1)}")
      }
      // every (series, point, value) the direct POINT compile yields in
      // the span appears as a values pair of its series' matrix entry
      val direct = PromQl.compileRangeVector(
        q, Versioned.latest(spark, root), start, end, step, lookbackSec = 86400L)
        .select("labels", "win_start", "value").collect()
      assert(direct.nonEmpty)
      direct.foreach { r =>
        val user = r.getMap[String, String](0)("user")
        val v = r.getDouble(2)
        val fmt =
          if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
          else v.toString
        val pair = s"""[${r.getLong(1)},"$fmt"]"""
        val entry = body.split("""\{"metric":""").find(_.contains(s""""user":"$user""""))
        assert(entry.exists(_.contains(pair)), s"user=$user missing $pair")
      }
      // the landing server prunes each request's scan to its span: the
      // window-local sum_over_time reads only the span's files, the
      // increase falls back to a full read — both equal the unpruned
      // compile, byte for byte
      Seq(
        ("sum by (user) (sum_over_time(view_total[1d]))", tMax - 7 * 86400L),
        ("increase(view_total[1d])", tMax - 2 * 86400L)).foreach {
        case (pq, pStart) =>
          val (pc, pBody) = get(port, s"/api/v1/query_range?query=${enc(pq)}" +
            s"&start=$pStart&end=$tMax&step=1d")
          assert(pc === 200, pq)
          val want = expectedMatrix(PromQl.compileRangeVector(
            pq, Versioned.latest(spark, root), pStart, tMax, 86400L)
            .select("component", "name", "labels", "win_start", "value"))
          assert(want.nonEmpty, pq)
          assert(pBody ===
            s"""{"status":"success","data":{"resultType":"matrix","result":[${
              want.mkString(",")}]}}""", pq)
      }
    } finally server.stop(0)
  }

  test("metadata endpoints: labels, label values, series — match[]-filtered") {
    val server = PromQlHttp.startLandingServer(spark, root)
    try {
      val port = server.getAddress.getPort
      // label names = map keys + the __name__/component dimensions
      val (c1, labels) = get(port, "/api/v1/labels")
      assert(c1 === 200)
      assert(labels ===
        """{"status":"success","data":["__name__","component","user"]}""")
      // values of __name__ under a match[] filter
      val (c2, names) = get(port,
        s"/api/v1/label/__name__/values?match[]=${enc("""{user="7"}""")}")
      assert(c2 === 200)
      val direct = metrics.filter(expr("""try_element_at(labels, 'user') = '7'"""))
        .select("name").distinct().collect().map(_.getString(0)).sorted
      assert(names ===
        s"""{"status":"success","data":[${direct.map("\"" + _ + "\"").mkString(",")}]}""")
      // series for a selector, time-bounded to a half-day span
      val t0 = tMax - 43200
      val (c3, series) = get(port,
        s"/api/v1/series?match[]=${enc("view_total")}&start=$t0&end=$tMax")
      assert(c3 === 200)
      val want = metrics.filter(col("name") === "view_total" &&
        col("timestamp") >= t0 && col("timestamp") <= tMax)
        .select(expr("try_element_at(labels, 'user')").as("u"))
        .distinct().collect().map(_.getString(0)).sorted
        .map(u =>
          s"""{"__name__":"view_total","component":"app","user":"$u"}""")
      assert(series ===
        s"""{"status":"success","data":[${want.mkString(",")}]}""")
      // half-bounded spans: the missing side is open, like Prometheus
      Seq(
        s"start=$t0" -> (col("timestamp") >= t0),
        s"end=$t0" -> (col("timestamp") <= t0)).foreach { case (span, inSpan) =>
        val (ch, half) = get(port,
          s"/api/v1/series?match[]=${enc("view_total")}&$span")
        assert(ch === 200, span)
        val users = metrics.filter(col("name") === "view_total" && inSpan)
          .select(expr("try_element_at(labels, 'user')").as("u"))
          .distinct().collect().map(_.getString(0)).sorted
        assert(users.nonEmpty, span)
        assert(half === s"""{"status":"success","data":[${users.map(u =>
          s"""{"__name__":"view_total","component":"app","user":"$u"}""")
          .mkString(",")}]}""", span)
      }
      // series without match[] is a bad_data error, like Prometheus
      assert(get(port, "/api/v1/series")._1 === 400)
      // a non-selector match[] is refused
      assert(get(port,
        s"/api/v1/labels?match[]=${enc("sum(view_total)")}")._1 === 400)
    } finally server.stop(0)
  }

  private def postRaw(port: Int, path: String, body: String): (Int, String) = {
    val resp = client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
        .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), resp.body())
  }

  test("ingest: POSTed text exposition lands and is immediately queryable") {
    val r = Files.createTempDirectory("pqlingest").toFile.getAbsolutePath
    val server = PromQlHttp.startLandingServer(spark, r)
    try {
      val port = server.getAddress.getPort
      val body =
        """# HELP cpu_seconds total cpu
          |cpu_seconds{host="a"} 1.5 1700000000000
          |cpu_seconds{host="a"} 2.5 1700003600000
          |cpu_seconds{host="b"} 7 1700003600000
          |""".stripMargin
      val (c1, resp1) = postRaw(port, "/api/v1/ingest?component=node", body)
      assert(c1 === 200)
      assert(resp1 ===
        """{"status":"success","data":{"version":0,"samples":3}}""")
      // the landed batch answers the instant endpoint at once
      val (c2, q) = get(port,
        s"/api/v1/query?query=${enc("cpu_seconds")}&time=1700003600&lookback=2h")
      assert(c2 === 200)
      assert(q.contains("""[1700003600,"2.5"]""") &&
        q.contains("""[1700003600,"7"]"""), q)
      assert(q.contains(""""component":"node"""") &&
        q.contains(""""host":"a""""), q)
      // lines without exposition timestamps take the `time` param
      val (c3, resp3) = postRaw(port,
        "/api/v1/ingest?component=node&time=1700007200",
        "cpu_seconds{host=\"a\"} 9\n")
      assert(c3 === 200 && resp3.contains("\"version\":1"), resp3)
      val (_, q2) = get(port,
        s"/api/v1/query?query=${enc("cpu_seconds")}&time=1700007200")
      assert(q2.contains("""[1700007200,"9"]"""), q2)
      // a malformed line REFUSES the whole batch (nothing lands)...
      val before = Versioned.latestVersion(r)
      assert(postRaw(port, "/api/v1/ingest?component=node",
        "cpu_seconds{oops} 1 1700000000000\n")._1 === 400)
      // ...and so do an empty body and a timestamp-less line with no
      // `time` param
      assert(postRaw(port, "/api/v1/ingest", "# only comments\n")._1 === 400)
      assert(postRaw(port, "/api/v1/ingest",
        "cpu_seconds{host=\"a\"} 9\n")._1 === 400)
      assert(Versioned.latestVersion(r) === before)
      // GET is refused
      assert(get(port, "/api/v1/ingest")._1 === 400)
    } finally server.stop(0)
  }

  test("federate: the matched registry as text exposition; the DSv2 prom source round-trips it") {
    val server = PromQlHttp.startLandingServer(spark, root)
    try {
      val port = server.getAddress.getPort
      val (code, text) = get(port, s"/federate?match[]=${enc("view_total")}")
      assert(code === 200)
      // scrape the federation output with the engine's own DSv2 reader
      val dir = Files.createTempDirectory("federate").toFile
      java.nio.file.Files.writeString(
        new java.io.File(dir, "scrape.prom").toPath, text)
      val back = spark.read.format("prom").load(dir.getAbsolutePath)
        .select("metric", "series", "value", "ts_ms").collect()
        .map(r => (r.getString(0), r.getString(1), r.getDouble(2), r.getLong(3)))
        .toSet
      val want = Firehose.gaugeLatest(
        metrics.filter(col("name") === "view_total"))
        .collect()
        .map(r => ("app_" + r.getString(1), r.getString(2),
          math.rint(r.getDouble(3) * 1e6) / 1e6, r.getLong(4) * 1000L))
        .toSet
      assert(back.nonEmpty && back === want)
      // match[] is required, like Prometheus
      assert(get(port, "/federate")._1 === 400)
    } finally server.stop(0)
  }

  test("federate/metadata/newest answer from the incremental registry: " +
      "an append folds only its delta files; warm probes run zero jobs") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    graft.promql.PromRegistry.reset()
    val r = Files.createTempDirectory("pqlreg").toFile.getAbsolutePath
    PromQlVersioned.land(metrics.filter(col("timestamp") < lit(tMax)), r)
    val server = PromQlHttp.startLandingServer(spark, r)
    try {
      val port = server.getAddress.getPort
      val jobs = new java.util.concurrent.atomic.AtomicInteger
      val l = new SparkListener {
        override def onJobStart(j: SparkListenerJobStart): Unit =
          jobs.incrementAndGet()
      }
      spark.sparkContext.addSparkListener(l)
      def jobsFor(path: String): (Int, String) = {
        org.apache.spark.graft.TestBus.drain(spark.sparkContext)
        jobs.set(0)
        val (c, b) = get(port, path)
        assert(c === 200)
        org.apache.spark.graft.TestBus.drain(spark.sparkContext)
        (jobs.get(), b)
      }
      try {
        val fed = s"/federate?match[]=${enc("view_total")}"
        val (nCold, b1) = jobsFor(fed) // builds the registry
        val (nWarm, b2) = jobsFor(fed) // driver-side render over the memo
        assert(b1 === b2)
        assert(nWarm === 0,
          s"warm federate renders driver-side — zero jobs, ran $nWarm " +
            s"(cold was $nCold)")
        // metadata names and the default evaluation time are pure
        // driver-side folds over the registry: ZERO jobs once warm
        val (nMeta, meta) = jobsFor("/api/v1/metadata")
        assert(nMeta === 0, s"warm metadata ran $nMeta jobs")
        assert(meta.contains("\"view_total\""))
        // an append advances the registry by its DELTA files only (a
        // synthetic newest view_total sample, so the matched federate
        // body must visibly change)
        import spark.implicits._
        PromQlVersioned.land(
          Seq(("app", "view_total", Map("user" -> "0"), tMax + 100L,
            "reg-append", 999.5))
            .toDF("component", "name", "labels", "timestamp", "id", "value"),
          r)
        val v1 = Versioned.latestVersion(r)
        val before = Versioned.manifest(r, v1 - 1).map(_.path).toSet
        val delta = Versioned.manifest(r, v1).map(_.path).toSet -- before
        val (_, census) = graft.promql.PromRegistry.refresh(spark, r)
        assert(census.toSet === delta && delta.nonEmpty)
        val (nAfter, b3) = jobsFor(fed)
        assert(b3 !== b2, "the appended newest samples must show")
        assert(nAfter === nWarm,
          "federate after an absorbed append is again registry-local")
        // the federate body matches a from-scratch full-scan render
        val wantLines = Firehose.promRender(Firehose.gaugeLatestLabeled(
            Versioned.latest(spark, r)
              .filter(col("name") === "view_total")))
          .collect().map(_.getString(0)).sorted
        assert(b3 === wantLines.mkString("", "\n", "\n"))
        // the instant FOLD class (bare selectors, grouped aggregations,
        // scalar wrappers — round 15) answers as a LocalRelation, so
        // the whole request runs ZERO Spark jobs once the registry is
        // warm; a shape outside the fold grammar still takes the
        // local-relation compiled plan (stable job count)
        for (q <- Seq("view_total", "sum(view_total)",
            "sum by (user) (view_total)", "view_total > 50",
            // r16 fold growth: absent / vector / scalar-expression
            // operands / label functions serve at zero jobs too
            "absent(nosuch_metric)", "vector(42)",
            "view_total * scalar(sum(view_total))",
            """label_join(view_total, "j", "-", "user", "user")""",
            "abs(view_total)", "clamp_min(round(view_total), 10)",
            // r17 fold growth: the presentation/selection family serves
            // at zero jobs too (row order pinned for sort/sort_desc)
            "sort(view_total)", "sort_desc(view_total)",
            "topk(2, view_total)", "bottomk(2, view_total)",
            "limitk(2, view_total)", "limit_ratio(0.5, view_total)")) {
          val iq = s"/api/v1/query?query=${enc(q)}&lookback=4w"
          val (ni1, ib1) = jobsFor(iq)
          val (ni2, ib2) = jobsFor(iq)
          assert(ib1 === ib2 && ni1 === 0,
            s"warm '$q' instant query ran $ni1 jobs")
          assert(ib1.contains("\"resultType\":\"vector\"") &&
            ib1.contains("\"result\":[{"), q)
        }
        val tq = s"/api/v1/query?query=${enc("quantile(0.5, view_total)")}&lookback=4w"
        val (nt1, _) = jobsFor(tq)
        val (nt2, _) = jobsFor(tq)
        assert(nt1 === nt2 && nt1 > 0)
        // time-UNBOUNDED label/series probes answer from the registry's
        // local frame — and must equal the full-scan span answers (the
        // bounded path), since label sets ride series identity
        val tEnd = tMax + 1000L
        for (p <- Seq("/api/v1/labels", "/api/v1/label/user/values",
            s"/api/v1/series?match[]=${enc("view_total")}")) {
          val sep = if (p.contains("?")) "&" else "?"
          val (cu, unbounded) = get(port, p)
          val (cb, bounded) = get(port, s"$p${sep}start=0&end=$tEnd")
          assert(cu === 200 && cb === 200)
          assert(unbounded === bounded, p)
        }
        // …and at ZERO jobs (round 15: the probes fold over the head map)
        for (p <- Seq("/api/v1/labels", "/api/v1/label/user/values",
            s"/api/v1/series?match[]=${enc("view_total")}")) {
          val (nl, _) = jobsFor(p)
          assert(nl === 0, s"warm unbounded probe $p ran $nl jobs")
        }
        // metadata limit rides the shared validation (review catch):
        // junk and negative are 400, a real cap keeps one name
        assert(get(port, "/api/v1/metadata?limit=x")._1 === 400)
        assert(get(port, "/api/v1/metadata?limit=-1")._1 === 400)
        val (cm, m1) = get(port, "/api/v1/metadata?limit=1")
        assert(cm === 200 && m1.sliding(9).count(_ == "\"unknown\"") === 1)
      } finally spark.sparkContext.removeSparkListener(l)
    } finally server.stop(0)
  }

  test("the scrape client closes the circle: /federate of landing A lands into landing B") {
    val server = PromQlHttp.startLandingServer(spark, root)
    try {
      val port = server.getAddress.getPort
      val rootB = Files.createTempDirectory("scrapeB").toFile.getAbsolutePath
      val url = s"http://127.0.0.1:$port/federate?match[]=${enc("view_total")}"
      val (v1, n1) = graft.promql.PromScraper.scrapeOnce(
        spark, url, rootB, component = "fed")
      assert(v1 === 0L && n1 > 0)
      // the scraped registry == landing A's latest gauges (values at the
      // exposition render's 6-dp, timestamps from the exposition millis)
      val back = Versioned.latest(spark, rootB)
        .select(col("name"), Firehose.seriesKey(col("labels")).as("s"),
          col("timestamp"), col("value"))
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
          r.getDouble(3))).toSet
      val want = Firehose.gaugeLatest(
        metrics.filter(col("name") === "view_total"))
        .collect().map(r => ("app_view_total", r.getString(2), r.getLong(4),
          math.rint(r.getDouble(3) * 1e6) / 1e6)).toSet
      assert(back === want)
      // a second scrape tick appends another prunable version
      val (v2, n2) = graft.promql.PromScraper.run(
        spark, url, rootB, component = "fed", intervalMs = 0L, ticks = 1).head
      assert(v2 === 1L && n2 === n1)
      // a dead target refuses loudly, nothing lands
      intercept[IllegalStateException] {
        graft.promql.PromScraper.scrapeOnce(
          spark, s"http://127.0.0.1:$port/nosuch", rootB)
      }
      assert(Versioned.latestVersion(rootB) === 1L)
    } finally server.stop(0)
  }

  test("the scraper lands a Prometheus 3.x quoted-UTF-8 exposition, and " +
      "/federate re-renders it quoted — the UTF-8 circle closes") {
    import com.sun.net.httpserver.HttpExchange
    // a 3.x endpoint negotiated to escaping=allow-utf-8: quoted metric
    // names (first brace entry), quoted label keys, adversarial values
    val body =
      "{\"http.req.total\",path=\"/a\"} 3 17000\n" +
        "{\"rpc latency\",\"quantile p\"=\"0.99\"} 1.5 18000\n" +
        "classic{\"dot.key\"=\"x=y,z\\\\w\"} 2 19000\n" +
        "{\"lone.metric\"} 7 21000\n"
    val target = HttpServers.create(0)
    target.createContext("/metrics", (ex: HttpExchange) => {
      // the scraper advertises the capability; assert the negotiation
      val acc = ex.getRequestHeaders.getFirst("Accept")
      assert(acc != null && acc.contains("escaping=allow-utf-8"))
      val b = body.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      ex.sendResponseHeaders(200, b.length)
      val os = ex.getResponseBody
      try os.write(b) finally os.close()
    })
    target.start()
    val rootQ = Files.createTempDirectory("scrapeQ").toFile.getAbsolutePath
    try {
      val url = s"http://127.0.0.1:${target.getAddress.getPort}/metrics"
      val (v, n) = graft.promql.PromScraper.scrapeOnce(
        spark, url, rootQ, component = "q")
      assert(v === 0L && n === 4)
      val landed = Versioned.latest(spark, rootQ)
        .select(col("name"), col("labels"), col("timestamp"), col("value"))
        .collect().map(r => (r.getString(0),
          r.getMap[String, String](1).toMap, r.getLong(2), r.getDouble(3)))
        .toSet
      assert(landed === Set(
        ("http.req.total", Map("path" -> "/a"), 17L, 3.0),
        ("rpc latency", Map("quantile p" -> "0.99"), 18L, 1.5),
        ("classic", Map("dot.key" -> "x=y,z\\w"), 19L, 2.0),
        ("lone.metric", Map.empty[String, String], 21L, 7.0)))
      // the landing's /federate renders these names QUOTED (they are
      // non-classic once component-prefixed) and the scrape client
      // lands the re-exposition identically — the UTF-8 round trip
      val server = PromQlHttp.startLandingServer(spark, rootQ)
      try {
        val port = server.getAddress.getPort
        val fedUrl =
          s"http://127.0.0.1:$port/federate?match[]=${enc("{__name__=~\".+\"}")}"
        val fedBody = java.net.http.HttpClient.newHttpClient().send(
          java.net.http.HttpRequest.newBuilder(
            java.net.URI.create(fedUrl))
            // the 3.x negotiation: only a client that asks for UTF-8
            // names gets the quoted form (the scraper below does too)
            .header("Accept",
              "text/plain;version=0.0.4;escaping=allow-utf-8").build(),
          java.net.http.HttpResponse.BodyHandlers.ofString()).body()
        assert(fedBody.contains("{\"q_http.req.total\",path=\"/a\"}"))
        assert(fedBody.contains("{\"q_rpc latency\",\"quantile p\"=\"0.99\"}"))
        // a CLASSIC client (no escaping=allow-utf-8 in its Accept)
        // gets Prometheus 3.x's own downgrade: names underscore-mangled,
        // never a quoted line it cannot parse
        val classicBody = java.net.http.HttpClient.newHttpClient().send(
          java.net.http.HttpRequest.newBuilder(
            java.net.URI.create(fedUrl))
            .header("Accept", "text/plain;version=0.0.4").build(),
          java.net.http.HttpResponse.BodyHandlers.ofString()).body()
        assert(!classicBody.contains("{\""))
        assert(classicBody.contains("q_http_req_total{path=\"/a\"}"))
        assert(classicBody.contains("q_rpc_latency{quantile_p=\"0.99\"}"))
        assert(classicBody.contains("q_lone_metric "))
        assert(classicBody.contains("q_classic{dot_key="))
        val rootR = Files.createTempDirectory("scrapeR").toFile.getAbsolutePath
        val (_, n2) = graft.promql.PromScraper.scrapeOnce(
          spark, fedUrl, rootR, component = "fed")
        assert(n2 === 4)
        val back = Versioned.latest(spark, rootR)
          .select(col("name"), col("labels"), col("timestamp"))
          .collect().map(r => (r.getString(0),
            r.getMap[String, String](1).toMap, r.getLong(2))).toSet
        assert(back === landed.map { case (nm, ls, ts, _) => (s"q_$nm", ls, ts) })
      } finally server.stop(0)
    } finally target.stop(0)
  }

  test("the scraper and the ingest endpoint tolerate an OpenMetrics body: " +
      "exemplars drop, samples land, # EOF skips") {
    import com.sun.net.httpserver.HttpExchange
    // a modern endpoint's exposition: TYPE/HELP metadata, exemplar tails
    // (with and without exemplar timestamps), and the # EOF terminator
    val body =
      """# TYPE http_req_total counter
        |# HELP http_req_total requests
        |http_req_total{path="/a"} 3 17000 # {trace_id="abc"} 1.0 16999
        |http_req_total{path="/b"} 5 # {trace_id="def xyz"} 0.5
        |bare_metric 7 21000
        |# EOF
        |""".stripMargin
    val target = HttpServers.create(0)
    target.createContext("/metrics", (ex: HttpExchange) => {
      val b = body.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      ex.sendResponseHeaders(200, b.length)
      val os = ex.getResponseBody
      try os.write(b) finally os.close()
    })
    target.start()
    try {
      val r = Files.createTempDirectory("pqlscrex").toFile.getAbsolutePath
      val (v, n) = graft.promql.PromScraper.scrapeOnce(spark,
        s"http://127.0.0.1:${target.getAddress.getPort}/metrics", r,
        tsSec = Some(9999L))
      assert(v === 0L && n === 3)
      val landed = Versioned.latest(spark, r)
        .select(col("name"), Firehose.seriesKey(col("labels")).as("s"),
          col("timestamp"), col("value"))
        .collect()
        .map(x => (x.getString(0), x.getString(1), x.getLong(2), x.getDouble(3)))
        .toSet
      // exposition timestamps are millis → floor-seconds; the no-ts line
      // takes the scrape stamp; exemplar labels never become series labels
      assert(landed === Set(
        ("http_req_total", "path=/a", 17L, 3.0),
        ("http_req_total", "path=/b", 9999L, 5.0),
        ("bare_metric", "", 21L, 7.0)))
      // the POST ingest endpoint shares the grammar: same body lands too
      val r2 = Files.createTempDirectory("pqlingex").toFile.getAbsolutePath
      val server = PromQlHttp.startLandingServer(spark, r2)
      try {
        val (code, resp) = postRaw(server.getAddress.getPort,
          "/api/v1/ingest?component=scrape&time=9999", body)
        assert(code === 200 && resp.contains("\"samples\":3"), resp)
      } finally server.stop(0)
    } finally target.stop(0)
    // a target that NEGOTIATES OpenMetrics serves float-SECOND
    // timestamps — the scraper reads the unit from the response
    // content type, never from the line (which is valid in both
    // formats); the ingest endpoint takes it as format=openmetrics
    val omBody =
      """om_metric{path="/a"} 3 1700000000.75 # {trace_id="t"} 1.0
        |om_bare 7
        |# EOF
        |""".stripMargin
    val omTarget = HttpServers.create(0)
    omTarget.createContext("/metrics", (ex: HttpExchange) => {
      val b = omBody.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      ex.getResponseHeaders.add("Content-Type",
        "application/openmetrics-text; version=1.0.0; charset=utf-8")
      ex.sendResponseHeaders(200, b.length)
      val os = ex.getResponseBody
      try os.write(b) finally os.close()
    })
    omTarget.start()
    try {
      val r3 = Files.createTempDirectory("pqlscrom").toFile.getAbsolutePath
      val (_, n) = graft.promql.PromScraper.scrapeOnce(spark,
        s"http://127.0.0.1:${omTarget.getAddress.getPort}/metrics", r3,
        tsSec = Some(5555L))
      assert(n === 2)
      val landed = Versioned.latest(spark, r3)
        .select(col("name"), col("timestamp")).collect()
        .map(x => (x.getString(0), x.getLong(1))).toSet
      // 1700000000.75 s floors to 1700000000 (NOT divided by 1000 —
      // the millis misread would land year 55769…)
      assert(landed === Set(("om_metric", 1700000000L), ("om_bare", 5555L)))
      val r4 = Files.createTempDirectory("pqlingom").toFile.getAbsolutePath
      val server = PromQlHttp.startLandingServer(spark, r4)
      try {
        val port = server.getAddress.getPort
        val (c2, resp2) = postRaw(port,
          "/api/v1/ingest?component=scrape&time=5555&format=openmetrics", omBody)
        assert(c2 === 200 && resp2.contains("\"samples\":2"), resp2)
        val got = Versioned.latest(spark, r4)
          .select(col("name"), col("timestamp")).collect()
          .map(x => (x.getString(0), x.getLong(1))).toSet
        assert(got === Set(("om_metric", 1700000000L), ("om_bare", 5555L)))
        assert(postRaw(port, "/api/v1/ingest?format=nonsense", omBody)._1 === 400)
      } finally server.stop(0)
    } finally omTarget.stop(0)
  }

  test("the scrape loop's auto-compact tick holds the file count down") {
    val server = PromQlHttp.startLandingServer(spark, root)
    try {
      val port = server.getAddress.getPort
      val rootB = Files.createTempDirectory("scrapeC").toFile.getAbsolutePath
      val url = s"http://127.0.0.1:$port/federate?match[]=${enc("view_total")}"
      // four ticks, compacting every second one: versions interleave
      // scrape appends with compaction commits
      val landed = graft.promql.PromScraper.run(
        spark, url, rootB, component = "fed", intervalMs = 0L, ticks = 4,
        compactEvery = 2)
      assert(landed.map(_._1) === Seq(0L, 1L, 3L, 4L))
      val n = landed.head._2
      assert(landed.forall(_._2 === n))
      // the final compaction bin-packed everything into ONE file…
      val vLast = Versioned.latestVersion(rootB)
      assert(vLast === 5L)
      assert(Versioned.manifest(rootB, vLast).size === 1)
      // …losing no rows (four ticks of the registry, distinct ids)
      assert(Versioned.asOf(spark, rootB, vLast).count() === 4L * n)
      // and the merged file keeps its timestamp stats (prunable landing)
      assert(Versioned.manifest(rootB, vLast).head.stats.contains("timestamp"))
      // a transient target failure SKIPS the tick instead of killing the
      // loop (scrapeOnce keeps the loud single-shot refusal): two ticks
      // against a 404 target return no scrapes, throw nothing, land
      // nothing
      val failed = graft.promql.PromScraper.run(
        spark, s"http://127.0.0.1:$port/nosuch", rootB,
        intervalMs = 0L, ticks = 2)
      assert(failed === Nil)
      assert(Versioned.latestVersion(rootB) === vLast)
    } finally server.stop(0)
  }

  test("a scrape tick warms the registry eagerly and can land a " +
      "checkpoint: the next poll reads zero files and runs zero jobs") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    graft.promql.PromRegistry.reset()
    val server = PromQlHttp.startLandingServer(spark, root)
    try {
      val port = server.getAddress.getPort
      val rootB = Files.createTempDirectory("scrapeW").toFile.getAbsolutePath
      val url = s"http://127.0.0.1:$port/federate?match[]=${enc("view_total")}"
      // serve the scraped-into landing from its own server
      val serverB = PromQlHttp.startLandingServer(spark, rootB)
      try {
        val portB = serverB.getAddress.getPort
        // two ticks, checkpointing each one: the loop's eager warm runs
        // the delta fold on the scraper's clock
        graft.promql.PromScraper.run(
          spark, url, rootB, component = "fed", intervalMs = 0L, ticks = 2,
          checkpointEvery = 1)
        // the poll FOLLOWING the tick: memo hit (zero files), driver
        // render (zero jobs)
        val (_, census) = graft.promql.PromRegistry.refresh(spark, rootB)
        assert(census === Nil, "the scrape tick must have warmed the memo")
        val jobs = new java.util.concurrent.atomic.AtomicInteger
        val l = new SparkListener {
          override def onJobStart(j: SparkListenerJobStart): Unit =
            jobs.incrementAndGet()
        }
        spark.sparkContext.addSparkListener(l)
        try {
          org.apache.spark.graft.TestBus.drain(spark.sparkContext)
          jobs.set(0)
          val (c, body) = get(portB,
            s"/federate?match[]=${enc("""{__name__=~".*"}""")}")
          org.apache.spark.graft.TestBus.drain(spark.sparkContext)
          assert(c === 200 && body.nonEmpty)
          assert(jobs.get() === 0,
            s"the poll after a scrape tick ran ${jobs.get()} jobs")
        } finally spark.sparkContext.removeSparkListener(l)
        // the checkpoint tick landed a bootstrap snapshot: a RESTART
        // rebuilds from it without re-reading the scraped corpus
        val ckptRoot = graft.promql.PromRegistry.ckptRoot(rootB)
        val props = Versioned.markerProps(
          ckptRoot, Versioned.latestVersion(ckptRoot))
        assert(props("ckpt.sourceVersion").toLong ===
          Versioned.latestVersion(rootB))
        graft.promql.PromRegistry.reset()
        val (s2, census2) = graft.promql.PromRegistry.refresh(spark, rootB)
        assert(census2.nonEmpty &&
          census2.forall(_.startsWith("_registry_ckpt/")),
          s"restart census must be checkpoint-only, got $census2")
        assert(s2.version === Versioned.latestVersion(rootB))
      } finally serverB.stop(0)
    } finally server.stop(0)
  }

  test("the landing server memoizes newestTs per committed version") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val r = Files.createTempDirectory("pqlcache").toFile.getAbsolutePath
    PromQlVersioned.land(metrics.filter(col("timestamp") < lit(tMax)), r)
    val server = PromQlHttp.startLandingServer(spark, r)
    try {
      val port = server.getAddress.getPort
      val jobs = new java.util.concurrent.atomic.AtomicInteger
      val l = new SparkListener {
        override def onJobStart(j: SparkListenerJobStart): Unit =
          jobs.incrementAndGet()
      }
      spark.sparkContext.addSparkListener(l)
      def jobsFor(path: String): (Int, String) = {
        org.apache.spark.graft.TestBus.drain(spark.sparkContext)
        jobs.set(0)
        val (c, b) = get(port, path)
        assert(c === 200)
        org.apache.spark.graft.TestBus.drain(spark.sparkContext)
        (jobs.get(), b)
      }
      try {
        val u = s"/api/v1/query?query=${enc("sum by (user) (increase(view_total[2d]))")}"
        val (n1, b1) = jobsFor(u) // pays the newestTs aggregate
        val (n2, b2) = jobsFor(u) // memoized: the query's own jobs only
        val (n3, b3) = jobsFor(u)
        assert(b1 === b2 && b2 === b3)
        assert(n2 === n3, s"repeat requests must cost the same ($n2 vs $n3)")
        assert(n2 < n1, s"the cached request must skip the aggregate ($n2 vs $n1)")
        // an append moves the version: the cache recomputes and the
        // answer reflects the new newest sample
        PromQlVersioned.land(metrics.filter(col("timestamp") >= lit(tMax)), r)
        val (n4, b4) = jobsFor(u)
        assert(n4 > n2 && b4 != b2)
        assert(jobsFor(u)._1 === n2)
      } finally spark.sparkContext.removeSparkListener(l)
    } finally server.stop(0)
  }

  test("alert rules carry labels/annotations/keep_firing_for onto the wire; " +
      "label values with commas stay lossless") {
    import spark.implicits._
    graft.promql.PromRegistry.reset()
    // the hand-traced keep_firing_for corpus (see PromQlCompileSpec) plus
    // a series whose label VALUE contains a comma and an '='
    val planted = (Seq(
      (0L, "a0", -1.0), (60L, "a1", 11.0), (120L, "a2", 12.0),
      (180L, "a3", -1.0), (240L, "a4", -1.0), (300L, "a5", -1.0),
      (360L, "a6", 13.0), (420L, "a7", 14.0), (480L, "a8", -1.0),
      (540L, "a9", 15.0), (600L, "b0", -1.0), (660L, "b1", -1.0)
    ).map { case (t, id, v) =>
      ("app", "c_total", Map("user" -> "u1"), t, id, v)
    } :+ ("app", "c_total", Map("user" -> "a,b=c"), 480L, "z1", 7.0))
      .toDF("component", "name", "labels", "timestamp", "id", "value")
    val r = Files.createTempDirectory("pqlkeep").toFile.getAbsolutePath
    PromQlVersioned.land(planted, r)
    val rules = """alert K = c_total{user="u1"} > 0 for 1m keep_firing_for 2m """ +
      """labels {severity="page",user="override"} """ +
      """annotations {summary="c broke"}""" + "\n" +
      """alert L = c_total{user!="u1"} > 0"""
    val server = PromQlHttp.startLandingServer(spark, r, rulesText = Some(rules))
    try {
      val port = server.getAddress.getPort
      // t=480: cond false, but within keep of the 420 breach → FIRING,
      // value = the last breach's; activeAt = the current run's start
      // (360); the rule's static labels override the series label
      val (c1, body) = get(port, "/api/v1/alerts?time=480&step=1m&lookback=1m")
      assert(c1 === 200)
      assert(body.contains(
        """{"labels":{"alertname":"K","component":"app","severity":"page","user":"override"},""" +
          """"annotations":{"summary":"c broke"},"state":"firing",""" +
          """"activeAt":"1970-01-01T00:06:00Z","value":"14.0"}"""), body)
      // the comma-bearing label value survives verbatim (the wire builds
      // from the label MAP, never from re-splitting the series key)
      assert(body.contains(
        """{"labels":{"alertname":"L","component":"app","user":"a,b=c"},""" +
          """"annotations":{},"state":"firing""""), body)
      // /api/v1/rules: keepFiringFor + static labels/annotations at the
      // rule level, and the firing state
      val (c2, rb) = get(port, "/api/v1/rules?time=480&step=1m&lookback=1m")
      assert(c2 === 200)
      assert(rb.contains(""""name":"K""""), rb)
      assert(rb.contains(""""duration":60,"keepFiringFor":120,""" +
        """"labels":{"severity":"page","user":"override"},""" +
        """"annotations":{"summary":"c broke"}"""), rb)
      assert(rb.contains(""""state":"firing""""), rb)
      // t=300: more than keep past the last breach → K inactive
      val (c3, b3) = get(port, "/api/v1/alerts?time=300&step=1m&lookback=1m")
      assert(c3 === 200 && !b3.contains(""""alertname":"K""""), b3)
      // t=360: breaching again but the streak is incomplete → pending
      val (c4, b4) = get(port, "/api/v1/alerts?time=360&step=1m&lookback=1m")
      assert(c4 === 200)
      assert(b4.contains(""""alertname":"K"""") &&
        b4.contains(""""state":"pending"""") &&
        b4.contains(""""value":"13.0""""), b4)
    } finally server.stop(0)
  }

  test("rules + alerts endpoints serve the fleet in the Prometheus wire format") {
    val rules =
      """# per-user current views, and a breach alert held for 2h
        |r:views = sum by (user) (view_total)
        |alert ManyViews = sum(view_total) > 0 for 2h""".stripMargin
    val server = PromQlHttp.startLandingServer(spark, root, rulesText = Some(rules))
    try {
      val port = server.getAddress.getPort
      val (c1, body) = get(port,
        s"/api/v1/rules?time=$tMax&step=1h&lookback=1d")
      assert(c1 === 200)
      // the recording rule renders statically, wire-exact
      assert(body.contains(
        """{"name":"r:views","query":"sum by (user) (view_total)",""" +
          """"health":"ok","type":"recording"}"""), body)
      // the alert: every hourly point in (tMax − 1d-lookback) sees the
      // newest sample, so the 2h streak is complete at tMax → firing
      assert(body.contains(""""name":"ManyViews"""") &&
        body.contains(""""duration":7200""") &&
        body.contains(""""state":"firing""""), body)
      assert(body.startsWith(
        """{"status":"success","data":{"groups":[{"name":"graft","file":"rules.graft","rules":["""))
      val (c2, alerts) = get(port,
        s"/api/v1/alerts?time=$tMax&step=1h&lookback=1d")
      assert(c2 === 200)
      assert(alerts.contains(""""alertname":"ManyViews"""") &&
        alerts.contains(""""state":"firing"""") &&
        alerts.contains(""""activeAt":""""), alerts)
      // without a rules file the endpoints are absent (404 from the JDK
      // server's default handler)
      val bare = PromQlHttp.startLandingServer(spark, root)
      try assert(get(bare.getAddress.getPort, "/api/v1/rules")._1 === 404)
      finally bare.stop(0)
    } finally server.stop(0)
  }

  test("rules/alerts responses memoize per (version, evaluation grid)") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val rules = "alert ManyViews = sum(view_total) > 0 for 2h"
    val r = Files.createTempDirectory("pqlrulescache").toFile.getAbsolutePath
    PromQlVersioned.land(metrics.filter(col("timestamp") < lit(tMax)), r)
    val server = PromQlHttp.startLandingServer(spark, r, rulesText = Some(rules))
    try {
      val port = server.getAddress.getPort
      val jobs = new java.util.concurrent.atomic.AtomicInteger
      val l = new SparkListener {
        override def onJobStart(j: SparkListenerJobStart): Unit =
          jobs.incrementAndGet()
      }
      spark.sparkContext.addSparkListener(l)
      def jobsFor(path: String): (Int, String) = {
        org.apache.spark.graft.TestBus.drain(spark.sparkContext)
        jobs.set(0)
        val (c, b) = get(port, path)
        assert(c === 200, b)
        org.apache.spark.graft.TestBus.drain(spark.sparkContext)
        (jobs.get(), b)
      }
      try {
        val u = s"/api/v1/alerts?time=${tMax - 86400L}&step=1h&lookback=1d"
        val (n1, b1) = jobsFor(u) // pays the two evaluateRange passes
        assert(n1 > 0)
        // a poll of the same grid at the same version is a map lookup
        val (n2, b2) = jobsFor(u)
        assert(n2 === 0, "repeat alert poll must run zero Spark jobs")
        assert(b2 === b1)
        // a different grid is a different entry (no stale cross-talk)...
        assert(jobsFor(s"/api/v1/alerts?time=${tMax - 86400L}&step=2h" +
          "&lookback=1d")._1 > 0)
        // ...and /api/v1/rules at the firing grid keys separately
        val (nr, br) = jobsFor(s"/api/v1/rules?time=${tMax - 86400L}&step=1h" +
          "&lookback=1d")
        assert(nr > 0 && br.contains(""""type":"alerting""""))
        assert(jobsFor(s"/api/v1/rules?time=${tMax - 86400L}&step=1h" +
          "&lookback=1d") === ((0, br)))
        // an APPEND invalidates: same grid re-evaluates at the new version
        PromQlVersioned.land(metrics.filter(col("timestamp") >= lit(tMax)), r)
        assert(jobsFor(u)._1 > 0)
        assert(jobsFor(u)._1 === 0)
      } finally spark.sparkContext.removeSparkListener(l)
    } finally server.stop(0)
  }

  test("datasource probe surfaces: buildinfo, metadata, healthy/ready") {
    val server = PromQlHttp.startLandingServer(spark, root)
    try {
      val port = server.getAddress.getPort
      val (c1, bi) = get(port, "/api/v1/status/buildinfo")
      assert(c1 === 200 && bi.contains(""""version":"graft""""), bi)
      val (c2, md) = get(port, "/api/v1/metadata")
      assert(c2 === 200)
      val names = metrics.select("name").distinct()
        .collect().map(_.getString(0)).sorted
      names.foreach(n => assert(md.contains(
        s""""$n":[{"type":"unknown","help":"","unit":""}]"""), md))
      // limit caps the (sorted) name list
      val (c3, md1) = get(port, "/api/v1/metadata?limit=1")
      assert(c3 === 200 && md1.contains(names.head) &&
        !md1.contains(names.last))
      assert(get(port, "/-/healthy") === ((200, "graft is Healthy.\n")))
      assert(get(port, "/-/ready") === ((200, "graft is Ready.\n")))
      // the name universe memoizes per version: a repeat metadata probe
      // runs ZERO Spark jobs (the handler has no other Spark work)
      import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
      val jobs = new java.util.concurrent.atomic.AtomicInteger
      val l = new SparkListener {
        override def onJobStart(j: SparkListenerJobStart): Unit =
          jobs.incrementAndGet()
      }
      org.apache.spark.graft.TestBus.drain(spark.sparkContext)
      spark.sparkContext.addSparkListener(l)
      try {
        assert(get(port, "/api/v1/metadata")._1 === 200)
        org.apache.spark.graft.TestBus.drain(spark.sparkContext)
        jobs.set(0)
        assert(get(port, "/api/v1/metadata")._2 === md)
        org.apache.spark.graft.TestBus.drain(spark.sparkContext)
        assert(jobs.get() === 0, "repeat metadata probe must be a map lookup")
      } finally spark.sparkContext.removeSparkListener(l)
    } finally server.stop(0)
  }

  test("format_query, flags, and the TSDB-status cardinality page") {
    val server = PromQlHttp.startLandingServer(spark, root)
    try {
      val port = server.getAddress.getPort
      // format_query: the parser+printer round-trip as a wire endpoint
      val (c1, fq) = get(port,
        s"/api/v1/format_query?query=${enc("sum  by(user) (rate(view_total[ 5m ]))")}")
      assert(c1 === 200)
      val want = graft.promql.PromQlPrinter.print(
        graft.promql.PromQlParser.parse("sum by (user) (rate(view_total[5m]))"))
      assert(fq === s"""{"status":"success","data":"$want"}""")
      assert(get(port, s"/api/v1/format_query?query=${enc("sum(")}")._1 === 400)
      // flags: the engine's effective defaults
      val (c2, fl) = get(port, "/api/v1/status/flags")
      assert(c2 === 200 && fl.contains(""""query.lookback-delta":"5m""""), fl)
      // runtimeinfo: real JVM values in Prometheus's field names
      val (cr, ri) = get(port, "/api/v1/status/runtimeinfo")
      assert(cr === 200 && ri.contains(""""startTime":"""") &&
        ri.contains(""""GOMAXPROCS":"""), ri)
      // config: no rules file -> empty yaml; with one -> its text
      assert(get(port, "/api/v1/status/config")._2 ===
        """{"status":"success","data":{"yaml":""}}""")
      val withRules = PromQlHttp.startLandingServer(spark, root,
        rulesText = Some("r:x = sum(view_total)"))
      try assert(get(withRules.getAddress.getPort, "/api/v1/status/config")._2
        .contains("""r:x = sum(view_total)"""))
      finally withRules.stop(0)
      // tsdb status: head stats pinned against an independent recount
      val (c3, td) = get(port, "/api/v1/status/tsdb")
      assert(c3 === 200)
      val numSeries = metrics
        .select(col("component"), col("name"),
          Firehose.seriesKey(col("labels")).as("s"))
        .distinct().count()
      val mm = metrics.agg(min(col("timestamp")), max(col("timestamp"))).head()
      assert(td.contains(s""""numSeries":$numSeries"""), td)
      assert(td.contains(s""""minTime":${mm.getLong(0) * 1000L}"""), td)
      assert(td.contains(s""""maxTime":${mm.getLong(1) * 1000L}"""), td)
      assert(td.contains(""""seriesCountByMetricName":[{"name":""""), td)
      // ... and memoized per version: a repeat probe runs zero jobs
      import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
      val jobs = new java.util.concurrent.atomic.AtomicInteger
      val l = new SparkListener {
        override def onJobStart(j: SparkListenerJobStart): Unit =
          jobs.incrementAndGet()
      }
      org.apache.spark.graft.TestBus.drain(spark.sparkContext)
      spark.sparkContext.addSparkListener(l)
      try {
        jobs.set(0)
        assert(get(port, "/api/v1/status/tsdb")._2 === td)
        org.apache.spark.graft.TestBus.drain(spark.sparkContext)
        assert(jobs.get() === 0, "repeat tsdb probe must be a map lookup")
      } finally spark.sparkContext.removeSparkListener(l)
    } finally server.stop(0)
  }

  test("the limit param caps the series count with Prometheus's warning") {
    val server = PromQlHttp.startLandingServer(spark, root)
    try {
      val port = server.getAddress.getPort
      val q = enc("sum by (user) (view_total)")
      val (c0, all) = get(port, s"/api/v1/query?query=$q&time=$tMax&lookback=1d")
      assert(c0 === 200 && !all.contains("warnings"))
      val n = all.sliding(8).count(_ == "\"metric\"")
      assert(n > 1)
      val (c1, one) = get(port,
        s"/api/v1/query?query=$q&time=$tMax&lookback=1d&limit=1")
      assert(c1 === 200)
      assert(one.sliding(8).count(_ == "\"metric\"") === 1)
      assert(one.endsWith(""","warnings":["results truncated due to limit"]}"""), one)
      // a limit at/above the series count truncates nothing
      val (c2, full) = get(port,
        s"/api/v1/query?query=$q&time=$tMax&lookback=1d&limit=$n")
      assert(c2 === 200 && full === all)
      // query_range takes it too
      val (c3, m1) = get(port, s"/api/v1/query_range?query=$q" +
        s"&start=${tMax - 86400L}&end=$tMax&step=1d&lookback=1d&limit=1")
      assert(c3 === 200 && m1.contains("results truncated due to limit"))
      // malformed / negative limits are bad_data
      assert(get(port, s"/api/v1/query?query=$q&time=$tMax&limit=x")._1 === 400)
      assert(get(port, s"/api/v1/query?query=$q&time=$tMax&limit=-1")._1 === 400)
      // the metadata endpoints take it too (Prometheus 3.x)
      val (cl, lv) = get(port, "/api/v1/label/user/values?limit=1")
      assert(cl === 200)
      assert(lv.matches(""".*"data":\["[^"]*"\].*""") &&
        lv.contains("warnings"), lv)
      val (cs, sr) = get(port,
        s"/api/v1/series?match[]=${enc("view_total")}&limit=1")
      assert(cs === 200 && sr.contains("results truncated due to limit"), sr)
      assert(get(port, "/api/v1/labels?limit=100")._2.contains("\"user\""))
    } finally server.stop(0)
  }

  test("malformed expressions get Prometheus's bad_data envelope") {
    val server = PromQlHttp.startLandingServer(spark, root)
    try {
      val port = server.getAddress.getPort
      val (code, body) = get(port, s"/api/v1/query?query=${enc("sum by (")}")
      assert(code === 400)
      assert(body.startsWith("""{"status":"error","errorType":"bad_data""""))
      // missing required params
      assert(get(port, "/api/v1/query")._1 === 400)
      assert(get(port, s"/api/v1/query_range?query=${enc("x")}&start=1&end=2")._1 === 400)
      // end < start
      assert(get(port,
        s"/api/v1/query_range?query=${enc("x")}&start=9&end=2&step=1")._1 === 400)
    } finally server.stop(0)
  }

  /** Three `up` series: a bare selector's answer is a few hundred bytes,
    * served from the registry fast path.
    */
  private lazy val smallRoot: String = {
    import spark.implicits._
    val r = Files.createTempDirectory("pqlsmall").toFile.getAbsolutePath
    PromQlVersioned.land(Seq(
      ("app", "up", Map("job" -> "a"), 100L, "s1", 1.0),
      ("app", "up", Map("job" -> "b"), 100L, "s2", 1.0),
      ("app", "up", Map("job" -> "c"), 100L, "s3", 0.0))
      .toDF("component", "name", "labels", "timestamp", "id", "value"), r)
    r
  }

  test("a small query response reaches a keep-alive client without the delayed-ACK stall") {
    val server = PromQlHttp.startLandingServer(spark, smallRoot)
    try {
      val port = server.getAddress.getPort
      assert(get(port, "/api/v1/query?query=up&time=100")._1 === 200)
      // timed on buildinfo, whose handler takes about 2 ms, so the bound
      // measures the transport and not the query (a warm `query=up` takes
      // 20-35 ms on 4 cores); the response is written the same way, as
      // headers then a small body
      val (ms, codes) = KeepAliveLatency.medianMs(
        s"http://127.0.0.1:$port/api/v1/status/buildinfo")
      assert(codes.forall(_ == 200))
      // without TCP_NODELAY the body waits for the client's delayed ACK
      // of the headers, about 40 ms per request
      assert(ms < 20.0, s"median $ms ms over 20 keep-alive GETs")
    } finally server.stop(0)
  }

  test("a too deeply nested expression gets 400 bad_data, and the server keeps answering") {
    val server = PromQlHttp.startLandingServer(spark, smallRoot)
    try {
      val port = server.getAddress.getPort
      // the recursive-descent parser overflows a default thread stack
      // long before 2000 levels
      val deep = "(" * 2000 + "up" + ")" * 2000
      val t0 = System.nanoTime()
      val resp = client.send(
        HttpRequest.newBuilder(URI.create(
          s"http://127.0.0.1:$port/api/v1/query?query=${enc(deep)}&time=100"))
          .timeout(java.time.Duration.ofSeconds(30)).build(),
        HttpResponse.BodyHandlers.ofString())
      assert((System.nanoTime() - t0) / 1e9 < 10.0)
      assert(resp.statusCode() === 400)
      assert(resp.body() ===
        """{"status":"error","errorType":"bad_data","error":"expression nested too deeply"}""")
      val (code, body) = get(port, "/api/v1/query?query=up&time=100")
      assert(code === 200 && body.contains("\"job\":\"c\""), body)
    } finally server.stop(0)
  }

  test("every registry surface serves adversarial heads at full " +
      "precision, quotes UTF-8 names, and /federate shows an append") {
    import spark.implicits._
    graft.promql.PromRegistry.reset()
    val r = Files.createTempDirectory("pqlregistry").toFile.getAbsolutePath
    PromQlVersioned.land(metrics, r)
    // adversarial heads: a quoted UTF-8 name + key, escape-relevant
    // label text, sub-microunit and 17-significant-digit values (the
    // r17 full-precision wire — %.6f would have federated 3.5e-7 as
    // 0.000000)
    PromQlVersioned.land(Seq(
      ("app", "dot.name", Map("k.q" -> "v w"), tMax + 1L, "a1", 3.5e-7),
      ("app", "up", Map("z" -> "x,y=q\\", "host" -> "a\nb"),
        tMax + 2L, "a2", 1.0 / 3.0))
      .toDF("component", "name", "labels", "timestamp", "id", "value"), r)
    val srv = PromQlHttp.startLandingServer(spark, r)
    val qt = tMax + 2L
    val paths = Seq(
      s"/federate?match[]=${enc("{__name__=~\".*\"}")}",
      s"/federate?match[]=${enc("view_total")}&match[]=${enc("up")}",
      s"/api/v1/query?query=${enc("view_total")}&time=$qt",
      s"/api/v1/query?query=${enc("sum by (user) (view_total)")}&time=$qt",
      s"/api/v1/query?query=${enc("{\"dot.name\"}")}&time=$qt",
      s"/api/v1/query?query=${enc("rate(view_total[30m])")}&time=$qt",
      "/api/v1/labels",
      "/api/v1/label/user/values",
      s"/api/v1/series?match[]=${enc("up")}",
      "/api/v1/metadata",
      "/api/v1/status/tsdb")
    try {
      val port = srv.getAddress.getPort
      paths.foreach { p =>
        val (c, b) = get(port, p)
        assert(c === 200, s"$p -> $b")
      }
      val utf8 = client.send(
        HttpRequest.newBuilder(URI.create(
          s"http://127.0.0.1:$port/federate?match[]=${enc("{__name__=~\".*\"}")}"))
          .header("Accept", "text/plain;version=0.0.4;escaping=allow-utf-8")
          .build(),
        HttpResponse.BodyHandlers.ofString()).body()
      // full precision on the wire, and the quoted UTF-8 name
      assert(utf8.contains(" 3.5E-7 "))
      assert(utf8.contains(" 0.3333333333333333 "))
      assert(utf8.contains("{\"app_dot.name\","))
      // an append shows up in the next /federate poll
      PromQlVersioned.land(Seq(
        ("app", "up", Map("z" -> "x,y=q\\", "host" -> "a\nb"),
          tMax + 50L, "a3", 2.0e-7))
        .toDF("component", "name", "labels", "timestamp", "id", "value"), r)
      val (c2, b2) = get(port, s"/federate?match[]=${enc("up")}")
      assert(c2 === 200)
      assert(b2.contains(" 2.0E-7 "), b2)
    } finally srv.stop(0)
  }
}
