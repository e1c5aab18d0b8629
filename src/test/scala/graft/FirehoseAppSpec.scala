package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest}
import java.net.http.HttpResponse.BodyHandlers
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

import graft.streaming.{FirehoseStream, Prometheus}

class FirehoseAppSpec extends SparkSuite {

  test("CLI args layer into config with reference semantics (-j seeds group id)") {
    val cfg = FirehoseApp.buildConfig(Array(
      "-c", "consumer.topic=metrics.v9,gauge.ttl.seconds=77",
      "-j", "edge-job", "--mode", "pull", "--once"))
    assert(cfg.getOrElse("consumer.topic", "?") === "metrics.v9")
    assert(cfg.getInt("gauge.ttl.seconds", -1) === 77)
    assert(cfg.getOrElse("prometheus.job", "?") === "edge-job")
    assert(cfg.getOrElse("consumer.group.id", "?") === "edge-job")
    assert(cfg.getBoolean("app.once", default = false))
    intercept[IllegalArgumentException](FirehoseApp.parseArgs(Array("--bogus")))
  }

  test("--query args parse with optional row count") {
    val cfg = FirehoseApp.buildConfig(Array("--query", "q1_pricing_summary", "/x/sf", "7"))
    assert(cfg.getOrElse("app.query", "?") === "q1_pricing_summary")
    assert(cfg.getOrElse("app.query.sfdir", "?") === "/x/sf")
    assert(cfg.getInt("app.query.rows", -1) === 7)
    val noRows = FirehoseApp.buildConfig(Array("--query", "q_cube", "/x/sf", "--once"))
    assert(noRows.getInt("app.query.rows", 20) === 20)
    assert(noRows.getBoolean("app.once", default = false))
  }

  test("--serve args parse with optional port") {
    val cfg = FirehoseApp.buildConfig(Array("--serve", "/x/landing", "9123"))
    assert(cfg.getOrElse("app.serve", "?") === "/x/landing")
    assert(cfg.getInt("app.serve.port", -1) === 9123)
    val freePort = FirehoseApp.buildConfig(Array("--serve", "/x/landing"))
    assert(freePort.getInt("app.serve.port", 0) === 0)
    intercept[IllegalArgumentException](FirehoseApp.parseArgs(Array("--serve")))
  }

  test("--scrape/--expire/--serve-rules args parse") {
    val s = FirehoseApp.buildConfig(Array(
      "--scrape", "http://127.0.0.1:9/metrics", "/x/land", "500", "3", "2", "4"))
    assert(s.getOrElse("app.scrape", "?") === "http://127.0.0.1:9/metrics")
    assert(s.getOrElse("app.scrape.root", "?") === "/x/land")
    assert(s.getInt("app.scrape.interval", -1) === 500)
    assert(s.getInt("app.scrape.ticks", -1) === 3)
    assert(s.getInt("app.scrape.compactEvery", -1) === 2)
    assert(s.getInt("app.scrape.checkpointEvery", -1) === 4)
    assert(FirehoseApp.buildConfig(Array(
      "--scrape", "http://t/m", "/x/land", "500", "3"))
      .getInt("app.scrape.compactEvery", 0) === 0) // 0 = never compact
    assert(FirehoseApp.buildConfig(Array(
      "--scrape", "http://t/m", "/x/land", "500", "3", "2"))
      .getInt("app.scrape.checkpointEvery", 0) === 0) // 0 = never checkpoint
    val loop = FirehoseApp.buildConfig(Array(
      "--scrape", "http://t/metrics", "/x/land"))
    assert(loop.getInt("app.scrape.ticks", 0) === 0) // 0 = run forever
    val e = FirehoseApp.buildConfig(Array("--expire", "/x/land", "12345"))
    assert(e.getOrElse("app.expire", "?") === "/x/land")
    assert(e.getOrElse("app.expire.cutoff", "?") === "12345")
    val r = FirehoseApp.buildConfig(Array(
      "--serve", "/x/land", "--serve-rules", "/x/rules.graft"))
    assert(r.getOrElse("app.serve.rules", "?") === "/x/rules.graft")
    intercept[IllegalArgumentException](
      FirehoseApp.parseArgs(Array("--scrape", "http://t")))
    intercept[IllegalArgumentException](
      FirehoseApp.parseArgs(Array("--expire", "/x/land")))
  }

  test("the serving-side maintenance tick expires and compacts the landing") {
    // args parse (duration form and bare seconds)
    val c = FirehoseApp.buildConfig(Array(
      "--serve", "/x/land", "--serve-retention", "30d",
      "--serve-compact", "4096", "--serve-tick", "5"))
    assert(c.getOrElse("app.serve.retention", "?") === "30d")
    assert(c.getInt("app.serve.compactKb", -1) === 4096)
    assert(c.getInt("app.serve.tickSec", -1) === 5)
    // the tick itself, driven with a pinned clock: three daily one-file
    // commits, retention = 1.5 days → the oldest file expires; the
    // compaction leg bin-packs the two survivors into one
    import org.apache.spark.sql.functions._
    val root = java.nio.file.Files.createTempDirectory("graft-tick")
      .toFile.getAbsolutePath
    val day = 86400L
    (0 until 3).foreach { d =>
      graft.promql.PromQlVersioned.land(
        spark.range(24).select(
          lit("app").as("component"), lit("cpu_total").as("name"),
          map(lit("user"), lit("u1")).as("labels"),
          (lit(d * day) + col("id") * 3600L).as("timestamp"),
          concat(lit(d), lit("-"), col("id")).as("id"),
          lit(1.0).as("value")).coalesce(1), root)
    }
    import graft.sources.Versioned
    assert(Versioned.manifest(root, 2L).size === 3)
    FirehoseApp.maintenanceTick(spark, root,
      retentionSec = Some((day * 3) / 2), compactMaxBytes = Some(1L << 20),
      nowSec = 3 * day)
    val v = Versioned.latestVersion(root)
    assert(v === 4L) // one expire commit + one compaction commit
    assert(Versioned.manifest(root, v).size === 1)
    assert(Versioned.latest(spark, root).agg(min(col("timestamp"))).head()
      .getLong(0) === day) // day 0 aged out, days 1-2 survive merged
    assert(Versioned.latest(spark, root).count() === 48L)
    // a repeat tick is a no-op (nothing to expire, one file already)
    FirehoseApp.maintenanceTick(spark, root,
      retentionSec = Some((day * 3) / 2), compactMaxBytes = Some(1L << 20),
      nowSec = 3 * day)
    assert(Versioned.latestVersion(root) === v)
    // an empty landing no-ops instead of crashing
    val empty = java.nio.file.Files.createTempDirectory("graft-tick0")
      .toFile.getAbsolutePath
    FirehoseApp.maintenanceTick(spark, empty, Some(day), Some(1L), 0L)
    // a zero/negative retention window (expire EVERYTHING every tick —
    // Prometheus's 0s means disabled) refuses instead of destroying
    intercept[IllegalArgumentException](
      FirehoseApp.maintenanceTick(spark, root, Some(0L), None, 3 * day))
    intercept[IllegalArgumentException](
      FirehoseApp.maintenanceTick(spark, root, Some(-3600L), None, 3 * day))
    assert(Versioned.latestVersion(root) === v)
  }

  test("truncated operand lists report usage errors, not index crashes") {
    intercept[IllegalArgumentException](FirehoseApp.parseArgs(Array("--query", "q_cube")))
    intercept[IllegalArgumentException](FirehoseApp.parseArgs(Array("--query")))
    intercept[IllegalArgumentException](FirehoseApp.parseArgs(Array("-c")))
    intercept[IllegalArgumentException](FirehoseApp.parseArgs(Array("--mode")))
    intercept[IllegalArgumentException](FirehoseApp.parseArgs(Array("--promql", "up")))
    intercept[IllegalArgumentException](FirehoseApp.parseArgs(Array("--rules", "f")))
  }

  test("--promql args parse with the step/sliding config keys layering") {
    val cfg = FirehoseApp.buildConfig(Array(
      "--promql", "sum by (user) (increase(view_total[1h]))", "/x/sf", "5",
      "-c", "promql.step.seconds=900,promql.sliding=true"))
    assert(cfg.getOrElse("app.promql", "?") === "sum by (user) (increase(view_total[1h]))")
    assert(cfg.getOrElse("app.query.sfdir", "?") === "/x/sf")
    assert(cfg.getInt("app.query.rows", -1) === 5)
    assert(cfg.getInt("promql.step.seconds", -1) === 900)
    assert(cfg.getBoolean("promql.sliding", default = false))
    // the instant / point-range evaluation-model knobs layer the same way
    val inst = FirehoseApp.buildConfig(Array(
      "--promql", "view_total", "/x/sf",
      "-c", "promql.instant.t=1706659032,promql.lookback.seconds=600"))
    assert(inst.get("promql.instant.t").map(_.toLong) === Some(1706659032L))
    assert(inst.getInt("promql.lookback.seconds", -1) === 600)
    val rng = FirehoseApp.buildConfig(Array(
      "--promql", "view_total", "/x/sf",
      "-c", "promql.range.start=100,promql.range.end=400"))
    assert(rng.get("promql.range.start").map(_.toLong) === Some(100L))
    assert(rng.get("promql.range.end").map(_.toLong) === Some(400L))
  }

  test("--table args parse; mv-refresh and maintenance run end-to-end") {
    import graft.sources.{MaterializedView, Versioned}
    import spark.implicits._
    val parsed = FirehoseApp.parseArgs(
      Array("--table", "vacuum", "/tmp/t", "3"))
    assert(parsed("app.table") === "vacuum")
    assert(parsed("app.table.root") === "/tmp/t")
    assert(parsed("app.table.n") === "3")
    // end-to-end through main: build a view, mutate the source, refresh
    // and maintain it via the CLI entry point
    val src = java.nio.file.Files.createTempDirectory("app-src")
      .toFile.getAbsolutePath
    val view = java.nio.file.Files.createTempDirectory("app-view")
      .toFile.getAbsolutePath
    Versioned.appendCommit(Seq((1L, "a", 2.0)).toDF("k", "g", "x").coalesce(1), src)
    MaterializedView.create(spark, src, view, Seq("g"), Seq("x"))
    Versioned.appendCommit(Seq((2L, "a", 3.0)).toDF("k", "g", "x").coalesce(1), src)
    FirehoseApp.tableCommand(spark, "mv-refresh", view, None)
    assert(MaterializedView.read(spark, view)
      .select("cnt", "sum_x").head.toSeq === Seq(2L, 5.0))
    FirehoseApp.tableCommand(spark, "rewrite-manifests", src, None)
    assert(Versioned.chunkRefsOf(src, Versioned.latestVersion(src)).length === 1)
    FirehoseApp.tableCommand(spark, "describe", view, None)
    intercept[IllegalArgumentException](
      FirehoseApp.tableCommand(spark, "bogus", view, None))
  }

  test("--record args parse; create + mv-refresh + record-read run end-to-end") {
    import graft.sources.Versioned
    import spark.implicits._
    val parsed = FirehoseApp.parseArgs(Array(
      "--record", "v:1h = sum_over_time(v_total[1h])", "/s", "/v"))
    assert(parsed("app.record") === "v:1h = sum_over_time(v_total[1h])")
    assert(parsed("app.record.source") === "/s")
    assert(parsed("app.record.view") === "/v")
    val src = java.nio.file.Files.createTempDirectory("app-rec-src")
      .toFile.getAbsolutePath
    val view = java.nio.file.Files.createTempDirectory("app-rec-view")
      .toFile.getAbsolutePath
    def sample(ts: Long, id: String, v: Double) =
      ("app", "v_total", Map("user" -> "u1"), ts, id, v)
    Versioned.appendCommit(
      Seq(sample(100L, "a", 2.0))
        .toDF("component", "name", "labels", "timestamp", "id", "value")
        .coalesce(1), src)
    graft.promql.PromQlRecord.create(
      spark, "v:1h = sum_over_time(v_total[1h])", src, view)
    Versioned.appendCommit(
      Seq(sample(200L, "b", 3.5))
        .toDF("component", "name", "labels", "timestamp", "id", "value")
        .coalesce(1), src)
    // the CLI refresh verb advances the rule view like any MV
    FirehoseApp.tableCommand(spark, "mv-refresh", view, None)
    assert(graft.promql.PromQlRecord.read(spark, view)
      .select("name", "series", "win_start", "value").head.toSeq ===
      Seq("v:1h", "user=u1", 0L, 5.5))
    // and record-read renders it without throwing
    FirehoseApp.tableCommand(spark, "record-read", view, None)
  }

  test("end-to-end pull-mode app: file source to scrapeable /metrics") {
    val dir = Files.createTempDirectory("graft-app").toFile
    val chk = Files.createTempDirectory("graft-appchk").toString
    Files.write(dir.toPath.resolve("b1.json"),
      ("""{"id":"1","name":"bytes_total","timestamp":1000,"component":"app",""" +
        """"tags":{"user":"u9","unit":"bytes"},"value":3.5,""" +
        """"window":{"from":940,"to":1000,"interval":60}}""").getBytes)
    val cfg = FirehoseApp.buildConfig(Array(
      "--mode", "pull", "--source", dir.getAbsolutePath,
      "-c", "gauge.watermark=0 seconds"))
    val running = FirehoseApp.start(spark, cfg, chk)
    try {
      running.query.processAllAvailable()
      assert(running.registry.get.size === 1)
      assert(running.registry.get.render
        .contains("app_bytes_total{user=\"u9\"} 3.5 1000000"))
    } finally running.stop()
  }

  private def metricJson(id: String, name: String, ts: Long, user: String, value: Double): String =
    s"""{"id":"$id","name":"$name","timestamp":$ts,"component":"app",""" +
      s""""tags":{"user":"$user","unit":"bytes"},"value":$value,""" +
      s""""window":{"from":${ts - 60},"to":$ts,"interval":60}}"""

  /** Three inputs under a 30 s watermark and a 60 s TTL. After file 2 the
    * watermark (1070 s) passes u1's timeout (1060 s; u1 is idle from file
    * 2 on). Both files after the first carry a late row inside the
    * watermark, and file 2 one beyond it (dropped).
    */
  private val gaugeFiles = {
    def g(id: String, ts: Long, user: String, value: Double) = metricJson(id, "g", ts, user, value)
    Seq(
      Seq(g("1", 1000, "u1", 1.5), g("2", 1000, "u2", 2.5)),
      Seq(g("3", 1100, "u2", 3.5), g("4", 975, "u2", 9.5),
        g("5", 900, "u2", 99.5), g("6", 1090, "u3", 5.5)),
      Seq(g("7", 1200, "u2", 4.5), g("8", 1080, "u2", 8.5), g("9", 1150, "u3", 6.5)))
  }

  /** The progress of the micro-batches a query ran (idle progress
    * reports, which run no batch, have no `addBatch` phase).
    */
  private def batches(q: StreamingQuery) =
    q.recentProgress.toSeq.filter(_.durationMs.containsKey("addBatch"))

  /** Feed [[gaugeFiles]] one at a time, draining after each; returns the
    * scrape body and the query's per-batch progress.
    */
  private def runGauge(start: (String, String) => (StreamingQuery, Prometheus.Registry, () => Unit))
      : (String, Seq[StreamingQueryProgress]) = {
    val dir = Files.createTempDirectory("graft-gauge1").toFile
    val chk = Files.createTempDirectory("graft-gauge1chk").toString
    val (q, registry, stop) = start(dir.getAbsolutePath, chk)
    try {
      gaugeFiles.zipWithIndex.foreach { case (lines, i) =>
        Files.write(dir.toPath.resolve(s"f$i.json"), lines.mkString("\n").getBytes)
        q.processAllAvailable()
      }
      (registry.render, batches(q))
    } finally stop()
  }

  private val NoData = "spark.sql.streaming.noDataMicroBatches.enabled"

  test("the app's gauge query runs one batch per input and evicts at the next data batch") {
    val (body, progress) = runGauge { (dir, chk) =>
      val r = FirehoseApp.start(spark, FirehoseApp.buildConfig(Array(
        "--mode", "pull", "--source", dir,
        "-c", "gauge.watermark=30 seconds,gauge.ttl.seconds=60")), chk)
      (r.query, r.registry.get, r.stop)
    }
    assert(progress.map(_.numInputRows) === Seq(2L, 4L, 3L),
      s"one batch per file: ${progress.map(_.json)}")
    val state = progress.map(_.stateOperators.head)
    assert(state.map(_.numRowsRemoved) === Seq(0L, 0L, 1L),
      "idle u1 is evicted by file 3's data batch")
    assert(state.last.numRowsTotal === 2L)
    // the same files with no-data batches on (the plain start): two
    // batches per file, the same scrape
    val (bodyOn, progressOn) = runGauge { (dir, chk) =>
      val registry = new Prometheus.Registry
      val q = Prometheus.pullSink(
          FirehoseStream.gaugeLatest(
            FirehoseStream.fromJsonFiles(spark, dir),
            watermarkDelay = "30 seconds", ttlMs = 60000L), registry)
        .option("checkpointLocation", chk).start()
      (q, registry, () => q.stop())
    }
    assert(progressOn.length === 6)
    assert(progressOn.map(_.stateOperators.head.numRowsRemoved).sum > 0)
    assert(body === bodyOn)
    assert(body.contains("app_g{user=\"u1\"} 1.5 1000000"))
    assert(body.contains("app_g{user=\"u2\"} 4.5 1200000"))
    assert(body.contains("app_g{user=\"u3\"} 6.5 1150000"))
  }

  private val CheckpointManager = "spark.sql.streaming.checkpointFileManagerClass"

  // covers the checkpoint-manager setting too
  test("the gauge start restores the session's no-data setting, also when start fails") {
    def gauges = FirehoseStream.gaugeLatest(
      FirehoseStream.fromJsonFiles(
        spark, Files.createTempDirectory("graft-gauge2").toString))
    def chk = Files.createTempDirectory("graft-gauge2chk").toString
    def startAndStop(): Unit = FirehoseStream.startGaugeQuery(spark,
      gauges.writeStream.format("memory").queryName("gauge_conf_t").outputMode("update"), chk)
      .stop()
    def failingStart(): Unit = intercept[Exception] {
      FirehoseStream.startGaugeQuery(spark,
        gauges.writeStream.format("graft-no-such-sink"), chk)
    }
    for (key <- Seq(NoData, CheckpointManager)) {
      assert(!spark.conf.getAll.contains(key))
      startAndStop()
      assert(!spark.conf.getAll.contains(key))
      failingStart()
      assert(!spark.conf.getAll.contains(key))
    }
    val preset = Seq(NoData -> "true", CheckpointManager ->
      "org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager")
    preset.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      startAndStop()
      preset.foreach { case (k, v) => assert(spark.conf.get(k) === v) }
      failingStart()
      preset.foreach { case (k, v) => assert(spark.conf.get(k) === v) }
    } finally preset.foreach { case (k, _) => spark.conf.unset(k) }
  }

  test("the app's gauge query forks no readlink per input on a local checkpoint") {
    // Spark ships no native Hadoop library, so its default FileContext
    // checkpoint manager forks `readlink` around every rename on the local
    // filesystem (about 90 per input), and Hadoop's local filesystem forks
    // `chmod` for each file it creates and its `.crc`; the gauge query's
    // manager renames and creates its files without them
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try {
      // one fork of our own, so the recording is seen to record forks
      new ProcessBuilder("true").start().waitFor()
      runGauge { (dir, chk) =>
        val r = FirehoseApp.start(spark, FirehoseApp.buildConfig(Array(
          "--mode", "pull", "--source", dir)), chk)
        (r.query, r.registry.get, r.stop)
      }
    } finally rec.stop()
    val jfr = Files.createTempFile("graft-forks", ".jfr")
    try {
      rec.dump(jfr)
      // graft's own key-format marker (and its `.crc`) is written once
      // per checkpoint through the session's Hadoop filesystem
      val forks = jdk.jfr.consumer.RecordingFile.readAllEvents(jfr).asScala
        .map(_.getString("command"))
        .filterNot(_.contains("_graft_key_format"))
        .groupBy(_.split(' ').head)
        .map { case (command, events) => command -> events.size }
      assert(forks.getOrElse("true", 0) === 1, forks)
      assert(forks.getOrElse("chmod", 0) === 0, forks)
      assert(forks.getOrElse("readlink", 0) === 0, forks)
    } finally { rec.close(); Files.delete(jfr) }
  }

  test("a gauge checkpoint restarts under the other checkpoint manager with its state") {
    // plain start = Spark's default manager; startGaugeQuery = the
    // FileSystem manager on a local checkpoint. Each direction: u1's
    // state from the first run must outrank a stale u1 sample after the
    // restart, so the restarted gauge keeps 1.5 at 1000 s
    for (gaugeFirst <- Seq(false, true)) {
      val dir = Files.createTempDirectory("graft-gauge4").toFile
      val chk = Files.createTempDirectory("graft-gauge4chk").toString
      def run(viaGauge: Boolean, file: String, lines: Seq[String]): String = {
        val registry = new Prometheus.Registry
        val w = Prometheus.pullSink(FirehoseStream.gaugeLatest(
          FirehoseStream.fromJsonFiles(spark, dir.getAbsolutePath)), registry)
        val q =
          if (viaGauge) FirehoseStream.startGaugeQuery(spark, w, chk)
          else w.option("checkpointLocation", chk).start()
        try {
          Files.write(dir.toPath.resolve(file), lines.mkString("\n").getBytes)
          q.processAllAvailable()
          registry.render
        } finally q.stop()
      }
      val first = run(gaugeFirst, "f0.json", Seq(metricJson("1", "g", 1000, "u1", 1.5)))
      assert(first.contains("app_g{user=\"u1\"} 1.5 1000000"), first)
      val second = run(!gaugeFirst, "f1.json", Seq(
        metricJson("2", "g", 900, "u1", 9.5), metricJson("3", "g", 1000, "u2", 2.5)))
      assert(second.contains("app_g{user=\"u1\"} 1.5 1000000"), s"gaugeFirst=$gaugeFirst: $second")
      assert(second.contains("app_g{user=\"u2\"} 2.5 1000000"), second)
      assert(!second.contains("9.5"), second)
    }
  }

  test("a gauge query started after the app still runs its watermark-only batch") {
    val appDir = Files.createTempDirectory("graft-gauge3").toFile
    val app = FirehoseApp.start(spark, FirehoseApp.buildConfig(Array(
      "--mode", "pull", "--source", appDir.getAbsolutePath)),
      Files.createTempDirectory("graft-gauge3chk").toString)
    val dir = Files.createTempDirectory("graft-gauge3in").toFile
    // 0 s watermark, 1 s TTL: the one file moves the watermark to 250 s,
    // past u1's timeout (51 s); only the watermark-only batch that
    // follows can evict u1, so the app's no-data setting must not reach
    // this plain start on the same session
    Files.write(dir.toPath.resolve("b1.json"), Seq(
      metricJson("1", "g", 10, "u1", 10.0),
      metricJson("2", "g", 50, "u1", 16.0),
      metricJson("3", "g", 250, "u2", 1.0)).mkString("\n").getBytes)
    try {
      val q = FirehoseStream.gaugeLatest(
          FirehoseStream.fromJsonFiles(spark, dir.getAbsolutePath),
          watermarkDelay = "0 seconds", ttlMs = 1000L)
        .writeStream.format("memory").queryName("gauge_after_app_t").outputMode("update")
        .option("checkpointLocation", Files.createTempDirectory("graft-gauge3inchk").toString)
        .start()
      try {
        q.processAllAvailable()
        val progress = batches(q)
        assert(progress.map(_.numInputRows) === Seq(3L, 0L), progress.map(_.json))
        assert(progress.map(_.stateOperators.head.numRowsRemoved) === Seq(0L, 1L),
          "idle u1 is evicted by the watermark-only batch")
      } finally q.stop()
    } finally app.stop()
  }
}
