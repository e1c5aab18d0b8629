package graft

import java.nio.file.Paths

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQuery

import graft.config.GraftConfig
import graft.streaming.{FirehoseStream, Prometheus}

/** Runnable firehose application — the graft equivalent of the reference's
  * two mains (PrometheusPusher.java:95-170, PrometheusPuller.java), same CLI
  * surface:
  *
  * {{{
  * graft.FirehoseApp [--mode pull|push] [--source <dir>|kafka]
  *                   [-c k=v,k=v] [-f config-file] [-g gateway-url] [-j job]
  *                   [--once]
  * }}}
  *
  * `-j` also defaults `consumer.group.id` like the reference
  * (PrometheusPusher.java:121-125). `--once` processes available input and
  * exits (for smoke runs); otherwise the stream runs until terminated.
  */
object FirehoseApp {

  // local[N] cores of every session main() starts; lazy, so a malformed
  // value fails only the modes that start one
  private lazy val cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt

  final case class Running(
      query: StreamingQuery,
      registry: Option[Prometheus.Registry],
      stop: () => Unit)

  val Usage: String =
    """usage: graft.FirehoseApp [options]
      |  -c <k=v,k=v>      comma-separated config overrides
      |  -f <file>         config file (key=value lines)
      |  -g <url>          Prometheus PushGateway URL
      |  -j <job>          PushGateway job name (also seeds consumer.group.id)
      |  --mode pull|push  serve /metrics (default) or push per batch
      |  --source <dir>|kafka
      |  --once            process available input, then exit
      |  --query <name> <sfDir> [n]
      |                    batch mode: run a named engine query against the
      |                    parquet tables in <sfDir>, show up to n rows, exit
      |  --promql <expr> <sfDir> [n]
      |                    batch mode: compile a PromQL expression against the
      |                    event-derived metric stream in <sfDir>, show up to
      |                    n rows, exit (promql.step.seconds / promql.sliding
      |                    select the engine's windowed grid;
      |                    promql.instant.t=<sec> evaluates Prometheus
      |                    /api/v1/query semantics at that instant, and
      |                    promql.range.start/end the point-grid
      |                    /api/v1/query_range; promql.lookback.seconds
      |                    sets the lookback delta, default 300)
      |  --rules <file> <sfDir> [n]
      |                    batch mode: evaluate a recording-rule file (one
      |                    `name = expr` per line) in order, show up to n rows
      |                    of each recorded series, exit
      |  --record <rule> <sourceRoot> <viewRoot>
      |                    create an INCREMENTAL recording rule: lower the
      |                    `name = expr` rule onto a materialized view over
      |                    the landed metric table at <sourceRoot>; advance
      |                    it later with `--table mv-refresh <viewRoot>`,
      |                    render it with `--table record-read <viewRoot>`
      |  --serve <root> [port]
      |                    serve the Prometheus query API (/api/v1/query,
      |                    /api/v1/query_range) over the landed metric
      |                    table at <root> — each request answers from the
      |                    newest committed version; port 0 picks a free one
      |  --serve-rules <file>
      |                    with --serve: arm /api/v1/rules + /api/v1/alerts
      |                    from a rule file (one `name = expr` or
      |                    `alert N = expr [for D]` per line)
      |  --serve-retention <duration>
      |                    with --serve: retention daemon — every tick,
      |                    expire files wholly older than now - duration
      |  --serve-compact <KB>
      |                    with --serve: compaction daemon — every tick,
      |                    bin-pack files at/below the threshold
      |  --serve-tick <seconds>
      |                    maintenance tick interval (default 60)
      |  --scrape <url> <root> [intervalMs [ticks [compactEvery [checkpointEvery]]]]
      |                    scrape-in loop: poll a text-exposition endpoint
      |                    and land each scrape as one prunable append;
      |                    0 ticks = forever; compactEvery > 0 bin-packs
      |                    the small tick files every N scrapes;
      |                    checkpointEvery > 0 lands a registry checkpoint
      |                    every N scrapes (restart = checkpoint + delta)
      |  --expire <root> <cutoffSec>
      |                    retention tick: drop files whose timestamp stats
      |                    prove all samples older than the cutoff (no
      |                    rewrite; vacuum reclaims the bytes)
      |  --table <cmd> <root> [n]
      |                    versioned-table maintenance: describe (history
      |                    with file/chunk/tombstone counts and props),
      |                    compact [n files], compact-small [threshold KB]
      |                    (bin-pack only small files), rewrite-manifests
      |                    (merge chunk refs, metadata-only), vacuum
      |                    [keep n], mv-refresh (advance a materialized
      |                    view), record-read (show a recorded series' rows)
      |  --list-queries    print the available query names and exit
      |  -h | --help       print this help""".stripMargin

  def parseArgs(args: Array[String]): Map[String, String] = {
    val m = scala.collection.mutable.Map.empty[String, String]
    var i = 0
    // flags with operands get a bounds-checked fetch so a truncated command
    // line reports a usage error instead of an index crash
    def operand(flag: String, offset: Int = 1): String = {
      if (i + offset >= args.length)
        throw new IllegalArgumentException(s"$flag requires an operand")
      args(i + offset)
    }
    while (i < args.length) {
      args(i) match {
        case "-h" | "--help" => m.put("app.help", "true"); i += 1
        case "-c" => GraftConfig.parseProperties(operand("-c").replace(',', '\n'))
          .foreach { case (k, v) => m.put(k, v) }; i += 2
        case "-f" => m.put("_config.file", operand("-f")); i += 2
        case "-g" => m.put("prometheus.gateway", operand("-g")); i += 2
        case "-j" => m.put("prometheus.job", operand("-j")); i += 2
        case "--mode" => m.put("app.mode", operand("--mode")); i += 2
        case "--source" => m.put("app.source", operand("--source")); i += 2
        case "--once" => m.put("app.once", "true"); i += 1
        case "--list-queries" => m.put("app.listQueries", "true"); i += 1
        case "--query" =>
          m.put("app.query", operand("--query <name> <sfDir>"))
          m.put("app.query.sfdir", operand("--query <name> <sfDir>", 2))
          i += 3
          if (i < args.length && args(i).forall(_.isDigit)) {
            m.put("app.query.rows", args(i)); i += 1
          }
        case "--promql" =>
          m.put("app.promql", operand("--promql <expr> <sfDir>"))
          m.put("app.query.sfdir", operand("--promql <expr> <sfDir>", 2))
          i += 3
          if (i < args.length && args(i).forall(_.isDigit)) {
            m.put("app.query.rows", args(i)); i += 1
          }
        case "--rules" =>
          m.put("app.rules", operand("--rules <file> <sfDir>"))
          m.put("app.query.sfdir", operand("--rules <file> <sfDir>", 2))
          i += 3
          if (i < args.length && args(i).forall(_.isDigit)) {
            m.put("app.query.rows", args(i)); i += 1
          }
        case "--record" =>
          m.put("app.record", operand("--record <rule> <sourceRoot> <viewRoot>"))
          m.put("app.record.source",
            operand("--record <rule> <sourceRoot> <viewRoot>", 2))
          m.put("app.record.view",
            operand("--record <rule> <sourceRoot> <viewRoot>", 3))
          i += 4
        case "--serve" =>
          m.put("app.serve", operand("--serve <root>"))
          i += 2
          if (i < args.length && args(i).forall(_.isDigit)) {
            m.put("app.serve.port", args(i)); i += 1
          }
        // arms /api/v1/rules + /api/v1/alerts on --serve (distinct from
        // the standalone `--rules <file> <sfDir>` batch evaluator)
        case "--serve-rules" =>
          m.put("app.serve.rules", operand("--serve-rules <file>"))
          i += 2
        // arms the serving-side maintenance daemon: retention window
        // (PromQL duration or seconds) and/or small-file compaction
        // threshold (KB), applied every --serve-tick seconds
        case "--serve-retention" =>
          m.put("app.serve.retention", operand("--serve-retention <duration>"))
          i += 2
        case "--serve-compact" =>
          m.put("app.serve.compactKb", operand("--serve-compact <KB>"))
          i += 2
        case "--serve-tick" =>
          m.put("app.serve.tickSec", operand("--serve-tick <seconds>"))
          i += 2
        // the scrape-in target loop: poll a text-exposition endpoint,
        // land each scrape (PromScraper); 0 ticks = forever;
        // compactEvery > 0 bin-packs the tick files every N scrapes
        case "--scrape" =>
          m.put("app.scrape",
            operand("--scrape <url> <root> [intervalMs [ticks [compactEvery]]]"))
          m.put("app.scrape.root",
            operand("--scrape <url> <root> [intervalMs [ticks [compactEvery]]]", 2))
          i += 3
          if (i < args.length && args(i).forall(_.isDigit)) {
            m.put("app.scrape.interval", args(i)); i += 1
            if (i < args.length && args(i).forall(_.isDigit)) {
              m.put("app.scrape.ticks", args(i)); i += 1
              if (i < args.length && args(i).forall(_.isDigit)) {
                m.put("app.scrape.compactEvery", args(i)); i += 1
                if (i < args.length && args(i).forall(_.isDigit)) {
                  m.put("app.scrape.checkpointEvery", args(i)); i += 1
                }
              }
            }
          }
        // file-granular retention: drop files wholly older than the cutoff
        case "--expire" =>
          m.put("app.expire", operand("--expire <root> <cutoffSec>"))
          m.put("app.expire.cutoff", operand("--expire <root> <cutoffSec>", 2))
          i += 3
        case "--table" =>
          m.put("app.table", operand("--table <cmd> <root>"))
          m.put("app.table.root", operand("--table <cmd> <root>", 2))
          i += 3
          if (i < args.length && args(i).forall(_.isDigit)) {
            m.put("app.table.n", args(i)); i += 1
          }
        case other => throw new IllegalArgumentException(s"unknown arg: $other")
      }
    }
    // reference parity: the job name seeds the consumer group id
    m.get("prometheus.job").foreach { job =>
      m.getOrElseUpdate("consumer.group.id", job)
    }
    m.toMap
  }

  def buildConfig(args: Array[String]): GraftConfig = {
    val overrides = parseArgs(args)
    GraftConfig.layered(
      overrides = overrides - "_config.file",
      configFile = overrides.get("_config.file").map(Paths.get(_)))
  }

  /** Assemble the pipeline from config; returns the running query. */
  def start(spark: SparkSession, cfg: GraftConfig, checkpointDir: String): Running = {
    // refuse a checkpoint whose streaming state is keyed under another
    // series-key format BEFORE any query starts (r16 ADVICE — the
    // streaming twin of the registry checkpoint's keyFormat refusal)
    FirehoseStream.ensureCheckpointKeyFormat(spark, checkpointDir)
    val metrics = cfg.getOrElse("app.source", "kafka") match {
      case "kafka" =>
        FirehoseStream.fromKafka(
          spark,
          cfg.getOrElse("consumer.bootstrap.servers", "localhost:9092"),
          cfg.getOrElse("consumer.topic", "metrics.v1"))
      case dir => FirehoseStream.fromJsonFiles(spark, dir)
    }
    val gauges = FirehoseStream.gaugeLatest(
      metrics,
      watermarkDelay = cfg.getOrElse("gauge.watermark", "10 minutes"),
      ttlMs = cfg.getInt("gauge.ttl.seconds", 600) * 1000L)

    cfg.getOrElse("app.mode", "pull") match {
      case "push" =>
        val q = FirehoseStream.startGaugeQuery(spark, Prometheus.pushSink(
            gauges,
            cfg.getOrElse("prometheus.gateway", "http://localhost:9091"),
            cfg.getOrElse("prometheus.job", "graft")),
          checkpointDir)
        Running(q, None, () => q.stop())
      case _ =>
        val registry = new Prometheus.Registry
        val server = Prometheus.startPullServer(
          registry, cfg.getInt("prometheus.listener.port", 0))
        println(s"[graft] /metrics listening on ${server.getAddress}")
        val q = FirehoseStream.startGaugeQuery(
          spark, Prometheus.pullSink(gauges, registry), checkpointDir)
        Running(q, Some(registry), () => { q.stop(); server.stop(0) })
    }
  }

  /** One serving-side MAINTENANCE tick: expire files wholly older than
    * `nowSec − retentionSec` (Prometheus's wall-clock retention window),
    * then bin-pack the small files — both manifest-level commits a
    * months-running landing server applies to ITSELF, so the operator
    * never schedules external `--expire`/`--table compact-small` jobs.
    * A lost commit race (a concurrent scraper/ingester won the marker)
    * skips the tick — the next one retries; an empty landing no-ops.
    * Extracted from the daemon loop so specs drive it directly with a
    * pinned clock.
    */
  private[graft] def maintenanceTick(
      spark: SparkSession, root: String,
      retentionSec: Option[Long], compactMaxBytes: Option[Long],
      nowSec: Long): Unit = {
    import graft.sources.Versioned
    // a zero/negative window would expire everything (or the future)
    // every tick — only ever operator error; None disables retention
    retentionSec.foreach(r => require(r > 0,
      s"retention window must be positive (got $r)"))
    if (Versioned.latestVersion(root) < 0) return
    retentionSec.foreach { r =>
      try graft.promql.PromQlVersioned.expire(root, nowSec - r)
      catch { case _: java.util.ConcurrentModificationException => () }
    }
    compactMaxBytes.foreach { mb =>
      try Versioned.compactSmall(spark, root, maxBytes = mb)
      catch { case _: java.util.ConcurrentModificationException => () }
    }
  }

  /** The `--table` maintenance dispatch (session-injected so embedders
    * and tests run it without owning the session lifecycle).
    */
  private[graft] def tableCommand(
      spark: SparkSession, cmd: String, root: String, n: Option[Int]): Unit = {
    import graft.sources.{MaterializedView, Versioned}
    cmd match {
      case "describe" =>
        Versioned.describeHistory(spark, root)
          .orderBy("version")
          .show(n.getOrElse(100), truncate = false)
      case "compact" =>
        val v = Versioned.compact(spark, root, numFiles = n.getOrElse(1))
        println(s"[graft] compacted $root to v$v")
      // bin-pack only the small files (n = threshold KB; default = the
      // shared Versioned.DefaultSmallFileBytes)
      case "compact-small" =>
        val v = Versioned.compactSmall(spark, root,
          maxBytes = n.map(_.toLong * 1024L)
            .getOrElse(Versioned.DefaultSmallFileBytes))
        println(
          if (v < 0) s"[graft] fewer than two small files in $root"
          else s"[graft] compacted small files of $root to v$v")
      case "rewrite-manifests" =>
        val v = Versioned.rewriteManifests(root)
        println(
          if (v < 0) s"[graft] $root already has a single manifest chunk"
          else s"[graft] merged manifests of $root into v$v")
      case "vacuum" =>
        val dropped = Versioned.vacuum(root, keepLast = n.getOrElse(2))
        println(s"[graft] vacuumed $root: dropped versions " +
          (if (dropped.isEmpty) "(none)" else dropped.mkString(", ")))
      case "mv-refresh" =>
        val v = MaterializedView.refresh(spark, root)
        println(
          if (v < 0) s"[graft] view $root already caught up"
          else s"[graft] refreshed view $root to v$v")
      case "record-read" =>
        graft.promql.PromQlRecord.read(spark, root)
          .orderBy("series", "win_start")
          .show(n.getOrElse(20), truncate = false)
      case other => throw new IllegalArgumentException(
        s"unknown --table command '$other' (describe|compact|compact-small|" +
          "rewrite-manifests|vacuum|mv-refresh|record-read)")
    }
  }

  def main(args: Array[String]): Unit = {
    val cfg = buildConfig(args)
    if (cfg.getBoolean("app.help", default = false)) {
      println(Usage)
      return
    }
    if (cfg.getBoolean("app.listQueries", default = false)) {
      SparkEntry.queries.keys.toSeq.sorted.foreach(println)
      return
    }
    // batch query mode: the ad-hoc entry point for every engine operator
    cfg.get("app.query").foreach { name =>
      val fn = SparkEntry.queries.getOrElse(name,
        throw new IllegalArgumentException(
          s"unknown query $name (--list-queries shows the catalog)"))
      val spark = Sessions.local(cpus, "graft-query")
      try {
        fn(spark, cfg.getOrElse("app.query.sfdir", "/root/testdata/sf0.001"))
          .show(cfg.getInt("app.query.rows", 20), truncate = false)
      } finally spark.stop()
      return
    }
    // ad-hoc PromQL: the text front-end against the event-derived stream
    cfg.get("app.promql").foreach { query =>
      val spark = Sessions.local(cpus, "graft-promql")
      try {
        val metrics = graft.operators.Firehose.metricsFromEvents(
          spark, cfg.getOrElse("app.query.sfdir", "/root/testdata/sf0.001"))
        val step = cfg.getInt("promql.step.seconds", 3600).toLong
        val lookback = cfg.getInt("promql.lookback.seconds", 300).toLong
        // evaluation model selection: promql.instant.t = Prometheus
        // /api/v1/query at that unix second; promql.range.start/end =
        // Prometheus /api/v1/query_range on the step grid; default =
        // the engine's windowed grids (tumbling, or sliding with
        // promql.sliding=true)
        val df = (cfg.get("promql.instant.t"),
            cfg.get("promql.range.start"), cfg.get("promql.range.end")) match {
          case (Some(t), _, _) =>
            promql.PromQl.compileInstant(query, metrics, t.toLong, lookback)
          case (_, Some(s0), Some(e0)) =>
            promql.PromQl.compileRange(
              query, metrics, s0.toLong, e0.toLong, step, lookback)
          case (_, s0, e0) if s0.isDefined != e0.isDefined =>
            // a half-specified range would silently print the windowed
            // grid where the user expected query_range points
            throw new IllegalArgumentException(
              "promql.range.start and promql.range.end must be set together")
          case _ =>
            if (cfg.getBoolean("promql.sliding", default = false))
              promql.PromQl.compileSliding(query, metrics, step)
            else promql.PromQl.compile(query, metrics, step)
        }
        df.orderBy("series", "win_start")
          .show(cfg.getInt("app.query.rows", 20), truncate = false)
      } finally spark.stop()
      return
    }
    // recording rules: evaluate a rule file against the event stream
    cfg.get("app.rules").foreach { file =>
      val text = new String(java.nio.file.Files.readAllBytes(Paths.get(file)))
      val spark = Sessions.local(cpus, "graft-rules")
      try {
        val metrics = graft.operators.Firehose.metricsFromEvents(
          spark, cfg.getOrElse("app.query.sfdir", "/root/testdata/sf0.001"))
        val outs = promql.PromQlRules.evaluate(
          text, metrics, cfg.getInt("promql.step.seconds", 3600).toLong,
          cfg.getBoolean("promql.sliding", default = false))
        promql.PromQlRules.parse(text).foreach { r =>
          val kind = r match {
            case _: promql.PromQlRules.Alert => "alert"
            case _ => "rule"
          }
          println(s"[graft] $kind ${r.name}")
          outs(r.name).orderBy("series", "win_start")
            .show(cfg.getInt("app.query.rows", 20), truncate = false)
        }
      } finally spark.stop()
      return
    }
    // versioned-table maintenance: the operational CLI for the storage layer
    cfg.get("app.table").foreach { cmd =>
      val root = cfg.get("app.table.root").getOrElse(
        throw new IllegalArgumentException("--table needs a table root"))
      val spark = Sessions.local(cpus, "graft-table")
      try tableCommand(spark, cmd, root, cfg.get("app.table.n").map(_.toInt))
      finally spark.stop()
      return
    }
    // incremental recording rule: one create (the O(table) pass); later
    // intervals advance it with `--table mv-refresh <viewRoot>`
    cfg.get("app.record").foreach { rule =>
      val source = cfg.get("app.record.source").get
      val view = cfg.get("app.record.view").get
      val spark = Sessions.local(cpus, "graft-record")
      try {
        val v = graft.promql.PromQlRecord.create(spark, rule, source, view)
        println(s"[graft] recorded '$rule' as incremental view $view (v$v)")
      } finally spark.stop()
      return
    }
    // query API server: scrape in, store in Versioned, query out — the
    // deployment loop's read side (PromQlHttp carries the semantics and
    // its own end-to-end spec; this is just the operational wiring)
    // retention tick: one manifest-only commit, then exit
    cfg.get("app.expire").foreach { root =>
      val cutoff = cfg.get("app.expire.cutoff").get.toLong
      val v = graft.promql.PromQlVersioned.expire(root, cutoff)
      println(
        if (v < 0) s"[graft] nothing to expire below $cutoff in $root"
        else s"[graft] expired $root below $cutoff (v$v)")
      return
    }
    // scrape loop: poll the target, land each scrape as one prunable
    // append; 0 ticks = run until killed
    cfg.get("app.scrape").foreach { url =>
      val root = cfg.get("app.scrape.root").get
      val interval = cfg.getInt("app.scrape.interval", 15000).toLong
      val ticks0 = cfg.getInt("app.scrape.ticks", 0)
      val ticks = if (ticks0 <= 0) Int.MaxValue else ticks0
      val spark = Sessions.local(cpus, "graft-scrape")
      // progress rides the onScrape hook — a forever loop never returns,
      // so a post-hoc foreach over the result would print nothing
      try graft.promql.PromScraper.run(spark, url, root,
        intervalMs = interval, ticks = ticks,
        compactEvery = cfg.getInt("app.scrape.compactEvery", 0),
        checkpointEvery = cfg.getInt("app.scrape.checkpointEvery", 0),
        onScrape = (v, n) =>
          println(s"[graft] scraped $n samples from $url into $root (v$v)"))
      finally spark.stop()
      return
    }
    cfg.get("app.serve").foreach { root =>
      val spark = Sessions.local(cpus, "graft-serve")
      // `--serve-rules <file>` arms /api/v1/rules + /api/v1/alerts
      val rules = cfg.get("app.serve.rules").map(p =>
        new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)),
          java.nio.charset.StandardCharsets.UTF_8))
      val server = graft.promql.PromQlHttp.startLandingServer(
        spark, root, cfg.getInt("app.serve.port", 0), rules)
      println(s"[graft] query API on http://127.0.0.1:${
        server.getAddress.getPort} over $root")
      // serving-side lifecycle daemon: retention + small-file compaction
      // ticks against the landing the server answers from
      val retention = cfg.get("app.serve.retention").map(s =>
        s.toLongOption.getOrElse(graft.promql.PromQlDurations.parse(s).fold(
          msg => throw new IllegalArgumentException(
            s"cannot parse '$s' as a retention duration: $msg"),
          identity)))
      // Prometheus's 0s means retention DISABLED; here retention is
      // opt-in per flag, so 0 (expire everything every tick) and
      // negatives (expire the future) can only be operator error —
      // refuse at start, not on the first destructive tick
      retention.foreach(r => require(r > 0,
        s"--serve-retention must be positive (got $r; " +
          "omit the flag to disable retention)"))
      val compactBytes = cfg.get("app.serve.compactKb").map(_.toLong * 1024L)
      if (retention.isDefined || compactBytes.isDefined) {
        val tickMs = cfg.getInt("app.serve.tickSec", 60) * 1000L
        val t = new Thread(() => {
          while (true) {
            Thread.sleep(tickMs)
            try maintenanceTick(spark, root, retention, compactBytes,
              System.currentTimeMillis() / 1000L)
            catch { case e: Exception =>
              System.err.println(s"[graft] maintenance tick failed: ${e.getMessage}")
            }
          }
        }, "graft-serve-maintenance")
        t.setDaemon(true)
        t.start()
        println(s"[graft] maintenance daemon armed (retention=${
          retention.fold("off")(r => s"${r}s")}, compact=${
          compactBytes.fold("off")(b => s"${b}B")}, tick=${tickMs}ms)")
      }
      try Thread.currentThread().join() // serve until killed
      finally { server.stop(0); spark.stop() }
    }
    // reference parity: print the effective layered configuration at startup
    // (ConfigUtils.printProperties / PrometheusPusher.java:127-130)
    println("[graft] effective configuration:")
    cfg.entries.toSeq.sortBy(_._1).foreach { case (k, v) =>
      println(f"[graft]   $k%-40s = $v")
    }
    val spark = Sessions.local(cpus, "graft-firehose")
    val chk = java.nio.file.Files.createTempDirectory("graft-app-chk").toString
    val running = start(spark, cfg, chk)
    if (cfg.getBoolean("app.once", default = false)) {
      running.query.processAllAvailable()
      running.stop()
      spark.stop()
    } else {
      running.query.awaitTermination()
    }
  }
}
