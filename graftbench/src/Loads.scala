package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardCopyOption}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.FirehoseApp
import graft.config.GraftConfig
import graft.operators.Firehose
import graft.promql.{PromQlHttp, PromQlParser, PromQlRecord, PromQlVersioned, PromRegistry}
import graft.sources.{MetricJson, Versioned}
import graft.streaming.{FirehoseStream, Prometheus}

/** One closed-loop op's outcome. `ms` is the client-visible latency;
  * `classes` splits it when an op is made of several requests.
  */
final case class Op(ms: Double, samples: Long, error: Option[String], classes: Map[String, Double] = Map.empty)

/** A workload: fresh state per `setup`, then ops driven one at a time by
  * a single client over one keep-alive connection.
  */
abstract class Load(val spark: SparkSession, val work: Path) {
  /** Per-op observations of the traced run, by per-layer metric name. */
  val layer: mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]] = mutable.LinkedHashMap.empty
  def obs(name: String, v: Double): Unit = layer.synchronized {
    layer.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v
  }
  /** Milliseconds spent making inputs and reference answers. */
  var genMs = 0.0
  protected def gen[T](body: => T): T = {
    val t = System.nanoTime()
    try body finally genMs += (System.nanoTime() - t) / 1e6
  }
  protected def timed[T](body: => T): (T, Double) = {
    val t = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t) / 1e6)
  }
  /** Close the client-visible part of a traced op and record its Spark
    * figures; later direct calls of the op are not charged to it.
    */
  protected def closeOp(): Option[Trace.SparkTally] = Trace.endOp(spark).map { case (wall, t) =>
    obs("catalyst.analysis_ms", t.analysisMs.toDouble)
    obs("catalyst.optimization_ms", t.optimizationMs.toDouble)
    obs("catalyst.planning_ms", t.planningMs.toDouble)
    obs("spark.exec_ms", t.jobUnionMs.toDouble)
    obs("spark.jobs_per_op", t.jobs.size.toDouble)
    obs("spark.tasks_per_op", t.tasks.toDouble)
    obs("spark.task_ms_per_op", t.taskMs.toDouble)
    obs("spark.shuffle_mb_per_op", t.shuffleBytes / 1048576.0)
    obs("spark.spill_mb_per_op", t.spillBytes / 1048576.0)
    obs("spark.driver_gap_ms", wall - t.jobUnionMs)
    t
  }
  /** Fresh state, ready for op 0; returns the priming op's error, if any. */
  def setup(rep: Int): Option[String]
  def op(i: Int): Op
  def teardown(): Unit
  /** Called once between the warm-up and the measured ops; returns an error, if any. */
  def warmed(): Option[String] = None
  /** Layer figures that are whole-run rather than per-op. */
  def finish(): Map[String, Double] = Map.empty
}

// ─────────────────────────────── firehose ───────────────────────────────

/** JSON-lines files → FirehoseApp's pull pipeline → GET /metrics. */
final class FirehoseLoad(spark: SparkSession, work: Path, seed: Long, traced: Boolean,
    spec: Gen.FirehoseSpec) extends Load(spark, work) {
  private var dir: Path = _
  private var staging: Path = _
  private var query: org.apache.spark.sql.streaming.StreamingQuery = _
  private var stopAll: () => Unit = () => ()
  private var registry: Prometheus.Registry = _
  private var http: Http = _
  private var model: Gen.GaugeModel = _
  private var next = 0
  private var lastBatch = -1L

  def setup(rep: Int): Option[String] = {
    val base = work.resolve(s"firehose-$rep")
    dir = Files.createDirectories(base.resolve("in"))
    staging = Files.createDirectories(base.resolve("staging"))
    val chk = base.resolve("checkpoint").toString
    val port = Http.freePort()
    if (!traced) {
      // the deployment wiring, as FirehoseApp's main builds it
      val running = FirehoseApp.start(spark, GraftConfig(Map(
        "app.source" -> dir.toString, "app.mode" -> "pull",
        "prometheus.listener.port" -> port.toString)), chk)
      query = running.query; registry = running.registry.get; stopAll = running.stop
    } else {
      // FirehoseApp.start's pull branch, with Registry.update timed
      FirehoseStream.ensureCheckpointKeyFormat(spark, chk)
      val gauges = FirehoseStream.gaugeLatest(FirehoseStream.fromJsonFiles(spark, dir.toString))
      val reg = new Prometheus.Registry
      val server = Prometheus.startPullServer(reg, port)
      val q = FirehoseStream.expositionSink(gauges, { lines =>
        Trace.span("registry.update")(reg.update(lines.toSeq))
        obs("sink.lines_per_batch", lines.length)
      }).option("checkpointLocation", chk).start()
      query = q; registry = reg; stopAll = () => { q.stop(); server.stop(0) }
    }
    http = new Http(s"http://127.0.0.1:$port")
    model = new Gen.GaugeModel
    next = 0
    lastBatch = -1L
    // the first file primes the pipeline; setup ends when it is visible
    op(-1).error
  }

  def op(i: Int): Op = {
    val f = gen(Gen.firehoseFile(seed, spec, next))
    next += 1
    val name = f"part-${f.index}%05d.json"
    val staged = staging.resolve(name)
    gen(Files.write(staged, f.lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8)))
    // the newest batch before this op's input: its batches are the later ones
    if (Trace.enabled) lastBatch = Option(query.lastProgress).map(_.batchId).getOrElse(-1L)
    val t0 = System.nanoTime()
    Trace.span("file.move")(Files.move(staged, dir.resolve(name), StandardCopyOption.ATOMIC_MOVE))
    Trace.span("stream.process")(query.processAllAvailable())
    val (code, body) = Trace.span("scrape.http")(http.get("/metrics"))
    val ms = (System.nanoTime() - t0) / 1e6
    closeOp()
    gen(model.add(f.events))
    val err =
      if (code != 200) Some(s"GET /metrics returned $code")
      else gen(Gen.diffGauges(Gen.parseExposition(body), model.expected)) match {
        case Seq() => None
        case d => Some(s"file ${f.index}: /metrics differs from the model: ${d.mkString("; ")}")
      }
    val parseErr = if (Trace.enabled && i >= 0) traceExtras(f, dir.resolve(name), ms, body) else None
    Op(ms, f.events.size.toLong, err.orElse(parseErr))
  }

  /** Layer figures of one traced op; an error when the batch parse drops
    * other lines than the generator's malformed ones.
    */
  private def traceExtras(f: Gen.FirehoseFile, path: Path, opMs: Double, body: String): Option[String] = {
    val batches = query.recentProgress.filter(_.batchId > lastBatch)
    obs("stream.batches_per_input", batches.length)
    def d(p: org.apache.spark.sql.streaming.StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.doubleValue()).getOrElse(0.0)
    for ((metric, key) <- Seq("stream.trigger_ms" -> "triggerExecution", "stream.add_batch_ms" -> "addBatch",
        "stream.latest_offset_ms" -> "latestOffset", "stream.query_planning_ms" -> "queryPlanning",
        "stream.wal_commit_ms" -> "walCommit", "stream.commit_ms" -> "commitOffsets"))
      obs(metric, batches.map(d(_, key)).sum)
    val trig = batches.map(d(_, "triggerExecution")).sum
    val scrape = Trace.ms("scrape.http")
    obs("stream.wait_ms", opMs - trig - scrape)
    batches.lastOption.flatMap(_.stateOperators.headOption).foreach { s =>
      obs("state.rows", s.numRowsTotal.toDouble)
      obs("state.memory_mb", s.memoryUsedBytes / 1048576.0)
    }
    obs("state.commit_ms", batches.flatMap(_.stateOperators.headOption).map(_.commitTimeMs.toDouble).sum)
    obs("registry.update_ms", Trace.ms("registry.update"))
    val (_, renderMs) = timed(registry.render)
    obs("registry.render_ms", renderMs)
    obs("scrape.http_ms", scrape)
    obs("http.overhead_ms", scrape - renderMs)
    obs("http.response_kb", body.length / 1024.0)
    // batch twin of the streaming parse: readJsonLines → tagFilter → seriesKey
    val (rows, parseMs) = timed(Firehose.tagFilter(MetricJson.readJsonLines(spark, path.toString))
      .withColumn("series", Firehose.seriesKey(col("labels"))).count())
    obs("parse.ms_per_10k", parseMs * 10000.0 / f.lines.size)
    val dropped = f.lines.size - rows
    obs("parse.malformed_dropped", dropped.toDouble)
    if (dropped == f.malformed) None
    else Some(s"file ${f.index}: the parser dropped $dropped lines, the generator wrote ${f.malformed} malformed")
  }

  def teardown(): Unit = stopAll()
}

// ──────────────────────── landing shared by query / ingest ────────────────────────

/** A landing built from seeded scrape history, served by the landing server. */
abstract class LandingLoad(spark: SparkSession, work: Path, seed: Long, val spec: Gen.PromSpec,
    historyTicks: Int, commits: Int, extraTicks: Int) extends Load(spark, work) {
  protected val data: Gen.PromData = new Gen.PromData(seed, spec, historyTicks + extraTicks)
  protected var root: String = _
  protected var server: com.sun.net.httpserver.HttpServer = _
  protected var http: Http = _
  protected def newest: Long = data.tickTs(historyTicks - 1)

  /** Land `[from, until)` ticks at `dir` as one bulk commit per chunk. */
  protected def landHistory(dir: String): Unit = {
    val per = math.ceil(historyTicks.toDouble / commits).toInt
    for (c <- 0 until commits) {
      val body = gen(data.body(c * per, math.min(historyTicks, (c + 1) * per)))
      PromQlVersioned.landExposition(spark, dir, body, "scrape", None, s"hist-$c")
    }
  }

  protected def startServer(rep: Int): Unit = {
    root = work.resolve(s"landing-$rep").toString
    landHistory(root)
    val port = Http.freePort()
    server = PromQlHttp.startLandingServer(spark, root, port)
    http = new Http(s"http://127.0.0.1:$port")
  }

  def teardown(): Unit = if (server != null) server.stop(0)

  protected def filesLive(dir: String): Int = Versioned.manifest(dir, Versioned.latestVersion(dir)).size
}

// ─────────────────────────────── query ───────────────────────────────

/** Read-only PromQL over HTTP: selector, instant and range classes. */
final class QueryLoad(spark: SparkSession, work: Path, seed: Long, spec: Gen.PromSpec,
    historyTicks: Int, commits: Int)
    extends LandingLoad(spark, work, seed, spec, historyTicks, commits, 0) {
  private val rateQ = "sum by (job) (rate(http_requests_total[5m]))"
  private val rangeSec = 1800L
  private val stepSec = 60L

  def setup(rep: Int): Option[String] = {
    startServer(rep)
    op(-1).error
  }

  private def selectorQ(i: Int) = s"""cpu_usage{job="j${math.floorMod(i, spec.jobs)}"}"""
  // instant and range evaluation times step back through the last five minutes
  private def evalT(i: Int): Long = newest - spec.stepSec.toLong * math.floorMod(i, 20)

  def op(i: Int): Op = {
    val t = evalT(i)
    val (sel, selMs) = timed(Trace.span("http.selector")(
      http.get(s"/api/v1/query?query=${Http.enc(selectorQ(i))}&time=$newest")))
    val (ins, insMs) = timed(Trace.span("http.instant")(
      http.get(s"/api/v1/query?query=${Http.enc(rateQ)}&time=$t")))
    val (rng, rngMs) = timed(Trace.span("http.range")(
      http.get(s"/api/v1/query_range?query=${Http.enc(rateQ)}&start=${t - rangeSec}&end=$t&step=$stepSec")))
    val tally = closeOp()
    if (i >= 0) {
      obs("query.selector_ms", selMs); obs("query.instant_ms", insMs); obs("query.range_ms", rngMs)
    }
    val (err, returned) = check(i, t, sel, ins, rng)
    tally.filter(_ => i >= 0).foreach(tl => traceExtras(i, t, tl,
      Map("selector" -> selMs, "instant" -> insMs, "range" -> rngMs),
      Map("selector" -> sel._2, "instant" -> ins._2, "range" -> rng._2)))
    Op(selMs + insMs + rngMs, returned, err,
      Map("selector" -> selMs, "instant" -> insMs, "range" -> rngMs))
  }

  /** The round's error, if any, and the number of samples it returned. */
  private def check(i: Int, t: Long, sel: (Int, String), ins: (Int, String),
      rng: (Int, String)): (Option[String], Long) = gen {
    val codes = Seq("selector" -> sel._1, "instant" -> ins._1, "range" -> rng._1).filter(_._2 != 200)
    if (codes.nonEmpty) (Some(s"non-200 responses: $codes"), 0L)
    else try {
      val j = math.floorMod(i, spec.jobs)
      val wantSel = (0 until spec.series).filter(s => data.job(s) == s"j$j")
        .map(s => data.instance(s) -> data.cpu(s)(historyTicks - 1)).toMap
      val wantRange = (t - rangeSec to t by stepSec)
        .flatMap(p => data.rateByJob(p, 300L, historyTicks).map { case (k, v) => (k, p) -> v }).toMap
      val (gotSel, gotIns, gotRng) = (Json.vector(sel._2, "instance"), Json.vector(ins._2, "job"),
        Json.matrix(rng._2, "job"))
      val d = Gen.diffValues(gotSel, wantSel).map("selector " + _) ++
        Gen.diffValues(gotIns, data.rateByJob(t, 300L, historyTicks)).map("instant " + _) ++
        Gen.diffValues(gotRng, wantRange).map("range " + _)
      (if (d.isEmpty) None else Some(d.mkString("; ")), (gotSel.size + gotIns.size + gotRng.size).toLong)
    } catch { case e: Exception => (Some(s"unreadable response: $e"), 0L) }
  }

  private def traceExtras(i: Int, t: Long, tally: Trace.SparkTally, httpMs: Map[String, Double],
      bodies: Map[String, String]): Unit = {
    // the same three calls made directly, to split PromQL, Spark and HTTP
    val sq = selectorQ(i)
    obs("promql.parse_selector_ms", timed(PromQlParser.parse(sq))._2)
    obs("promql.parse_instant_ms", timed(PromQlParser.parse(rateQ))._2)
    obs("promql.parse_range_ms", timed(PromQlParser.parse(rateQ))._2)
    // as the server answers: the registry fast path, else the landed compile
    val ((fast, selDf), selCompile) = timed {
      val f = PromRegistry.instantFastPath(spark, root, sq, newest, 300L)
      (f, f.getOrElse(PromQlVersioned.compileInstantVector(spark, root, sq, newest)))
    }
    val (insDf, insCompile) = timed(PromQlVersioned.compileInstantVector(spark, root, rateQ, t))
    val (rngDf, rngCompile) = timed(PromQlVersioned.compileRangeVector(spark, root, rateQ, t - rangeSec, t, stepSec))
    obs("promql.compile_selector_ms", selCompile)
    obs("promql.compile_instant_ms", insCompile)
    obs("promql.compile_range_ms", rngCompile)
    // 0.5 today: the bare selector hits, the rate query is not one
    obs("registry.fastpath_hit_ratio", if (fast.isDefined) 1.0 else 0.0)
    obs("registry.fastpath_hit_ratio", if (PromRegistry.instantFastPath(spark, root, rateQ, t, 300L).isDefined) 1.0 else 0.0)
    def collectMs(df: org.apache.spark.sql.DataFrame) =
      timed(df.select("component", "name", "labels", "win_start", "value").collect())
    val live = filesLive(root).toDouble
    obs("storage.files_live", live)
    var rowsOut = 0L
    var overhead = 0.0
    for ((cls, df, compileMs) <- Seq(("selector", selDf, selCompile), ("instant", insDf, insCompile),
        ("range", rngDf, rngCompile))) {
      val (rows, execMs) = collectMs(df)
      obs(s"http.overhead_${cls}_ms", httpMs(cls) - compileMs - execMs)
      overhead += httpMs(cls) - compileMs - execMs
      obs(s"http.response_${cls}_kb", bodies(cls).length / 1024.0)
      if (cls != "selector") {
        val read = df.inputFiles.length.toDouble
        obs("storage.files_read_per_op", read)
        obs("storage.prune_ratio", read / live)
        rowsOut += rows.length
      }
    }
    obs("storage.rows_read_per_row_out", tally.scanRows.toDouble / math.max(1L, rowsOut))
    obs("http.overhead_ms", overhead)
    obs("http.response_kb", bodies.values.map(_.length).sum / 1024.0)
  }
}

// ─────────────────────────────── ingest ───────────────────────────────

/** Scrapes POSTed over HTTP, each made visible to an instant query, with
  * client-run maintenance (compaction + recording-rule refresh).
  */
final class IngestLoad(spark: SparkSession, work: Path, seed: Long, spec: Gen.PromSpec,
    historyTicks: Int, commits: Int, totalOps: Int, maintEvery: Int, traced: Boolean)
    extends LandingLoad(spark, work, seed, spec, historyTicks, commits, totalOps + 1) {
  private val rangeSec = 300L
  private val mvRule = "job_cpu_5m = sum by (job) (sum_over_time(cpu_usage[5m]))"
  private val counterRule = "http_rate_5m = rate(http_requests_total[5m])"
  private var mvRoot: String = _
  private var counterRoot: String = _
  private var shadow: String = _
  private var known = 0
  val maintMs: mutable.ArrayBuffer[Double] = mutable.ArrayBuffer.empty
  private val compactBytes = 64L * 1024L
  private val visQ = "sum by (job) (cpu_usage)"

  def setup(rep: Int): Option[String] = {
    startServer(rep)
    mvRoot = work.resolve(s"view-mv-$rep").toString
    counterRoot = work.resolve(s"view-counter-$rep").toString
    PromQlRecord.create(spark, mvRule, root, mvRoot)
    PromQlRecord.create(spark, counterRule, root, counterRoot)
    if (traced) {
      // direct-call twin of the landing: the traced run lands each scrape
      // here too, so commit and refresh can be timed without HTTP
      shadow = work.resolve(s"shadow-$rep").toString
      landHistory(shadow)
      PromRegistry.current(spark, shadow)
    }
    known = historyTicks
    maintMs.clear()
    op(-1).error
  }

  def op(i: Int): Op = {
    val k = known
    val body = gen(data.body(k, k + 1))
    val t = data.tickTs(k)
    val (post, postMs) = timed(Trace.span("http.ingest")(http.post("/api/v1/ingest?component=scrape", body)))
    val (vis, visMs) = timed(Trace.span("http.visible")(
      http.get(s"/api/v1/query?query=${Http.enc(visQ)}&time=$t")))
    known += 1
    closeOp()
    var err = gen {
      if (post._1 != 200 || vis._1 != 200) Some(s"ingest $k: POST ${post._1}, query ${vis._1}: ${post._2.take(200)}")
      else try {
        val n = Json.parse(post._2).path("data").path("samples").asInt()
        val d = Gen.diffValues(Json.vector(vis._2, "job"), data.cpuSumByJob(k))
        if (n != data.samples(k, k + 1)) Some(s"ingest $k: accepted $n samples, sent ${data.samples(k, k + 1)}")
        else if (d.nonEmpty) Some(s"ingest $k not visible: ${d.mkString("; ")}")
        else None
      } catch { case e: Exception => Some(s"ingest $k: unreadable response: $e") }
    }
    if (Trace.enabled && i >= 0) traceExtras(k, body, postMs + visMs, post._2.length + vis._2.length)
    if (i >= 0 && maintEvery > 0 && (i + 1) % maintEvery == 0 && err.isEmpty) err = maintain()
    Op(postMs + visMs, data.samples(k, k + 1).toLong, err)
  }

  /** One maintenance step ends the warm-up, so the measured ones run warm. */
  override def warmed(): Option[String] = maintain(measured = false)

  private def traceExtras(k: Int, body: String, httpMs: Double, bytes: Int): Unit = {
    val (_, parseMs) = timed(body.linesIterator.foreach(l =>
      graft.operators.Firehose.PromGrammar.parseLineLabels(l.trim)))
    val (_, landMs) = timed(PromQlVersioned.landExposition(spark, shadow, body, "scrape", None, s"shadow-$k"))
    val (_, refreshMs) = timed(PromRegistry.refresh(spark, shadow))
    val (_, queryMs) = timed(PromRegistry.instantFastPath(spark, shadow, visQ, data.tickTs(k), 300L)
      .getOrElse(PromQlVersioned.compileInstantVector(spark, shadow, visQ, data.tickTs(k)))
      .select("component", "name", "labels", "win_start", "value").collect())
    obs("ingest.parse_ms", parseMs)
    obs("storage.commit_ms", landMs - parseMs)
    obs("registry.refresh_ms", refreshMs)
    obs("http.overhead_ms", httpMs - landMs - refreshMs - queryMs)
    obs("http.response_kb", bytes / 1024.0)
  }

  /** Client-run maintenance: compact the small scrape files, then advance
    * both recorded views; the views are checked against the model.
    */
  private def maintain(measured: Boolean = true): Option[String] = {
    val t0 = System.nanoTime()
    val (_, compactMs) = timed(Trace.span("storage.compact")(Versioned.compactSmall(spark, root, maxBytes = compactBytes)))
    val (_, mvMs) = timed(Trace.span("ivm.refresh_mv")(PromQlRecord.refresh(spark, mvRoot)))
    val (_, ctrMs) = timed(Trace.span("ivm.refresh_counter")(PromQlRecord.refresh(spark, counterRoot)))
    if (measured) {
      maintMs += (System.nanoTime() - t0) / 1e6
      obs("ingest.maint_ms", maintMs.last)
    }
    obs("storage.compact_ms", compactMs)
    obs("ivm.refresh_mv_ms", mvMs)
    obs("ivm.refresh_counter_ms", ctrMs)
    gen {
      def view(dir: String) = PromQlRecord.read(spark, dir).collect()
        .map(r => (r.getAs[String]("series"), r.getAs[Long]("win_start")) -> r.getAs[Double]("value")).toMap
      val mv = Gen.diffValues(view(mvRoot), data.cpuSumView(rangeSec, known).map { case ((j, w), v) => (s"job=$j", w) -> v })
      val ctr = Gen.diffValues(view(counterRoot), data.counterRateView(rangeSec, known))
      if (mv.isEmpty && ctr.isEmpty) None
      else Some(s"recorded views differ after ${known} ticks: ${(mv.map("mv " + _) ++ ctr.map("counter " + _)).mkString("; ")}")
    }
  }

  override def finish(): Map[String, Double] = {
    val live = Versioned.manifest(root, Versioned.latestVersion(root))
    val bytes = live.map(e => new java.io.File(root, e.path).length()).sum
    Map("storage.bytes_per_sample" -> bytes.toDouble / data.samples(0, known))
  }
}
