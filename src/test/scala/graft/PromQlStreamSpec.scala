package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.promql.{PromQl, PromQlCompileException, PromQlStream}

/** The streaming text front-end: the SAME PromQL string lowered onto the
  * verified streaming operators must agree with the batch compile of that
  * string over the same samples — the third leg of the no-drift triangle
  * (text→batch, batch↔stream per operator, text→stream here).
  */
class PromQlStreamSpec extends SparkSuite {

  private def metricJson(id: String, name: String, ts: Long, user: String, value: Double): String =
    s"""{"id":"$id","name":"$name","timestamp":$ts,"component":"app",""" +
      s""""tags":{"user":"$user","unit":"bytes"},"value":$value,""" +
      s""""window":{"from":${ts - 60},"to":$ts,"interval":60}}"""

  test("streaming text increase matches the batch compile of the same string") {
    val dir = Files.createTempDirectory("graft-pqs-inc").toFile
    val chk = Files.createTempDirectory("graft-pqs-incchk").toFile
    // u1 is the asserted series; u2 exists to prove the matcher filters
    Files.write(dir.toPath.resolve("b1.json"),
      Seq(
        metricJson("1", "c_total", 100, "u1", 10.0),
        metricJson("2", "c_total", 200, "u1", 15.0),
        metricJson("3", "c_total", 300, "u1", 3.0),
        metricJson("4", "c_total", 400, "u1", 7.0),
        metricJson("9", "c_total", 150, "u2", 100.0)).mkString("\n").getBytes)
    val query = """increase(c_total{user="u1"}[1h])"""
    val q = PromQlStream.compile(
        query,
        graft.streaming.FirehoseStream.fromJsonFiles(spark, dir.getAbsolutePath),
        watermarkDelay = "0 seconds")
      .writeStream.format("memory").queryName("pqs_inc").outputMode("update")
      .option("checkpointLocation", chk.getAbsolutePath)
      .start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("pqs_inc")
        .groupBy("series", "win_start").agg(last(col("value")).as("v"))
        .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2)).toMap
      // 5 (delta) + 3 (reset clamp) + 4 = 12 for u1 only
      assert(streamed === Map(("user=u1", 0L) -> 12.0))
      val batch = PromQl.compile(
          query, graft.sources.MetricJson.readJsonLines(spark, dir.getAbsolutePath))
        .collect().map(r => (r.getAs[String]("series"), r.getAs[Long]("win_start")) ->
          r.getAs[Double]("value")).toMap
      assert(streamed === batch)
    } finally q.stop()
  }

  test("streaming text set op matches the batch compile on the closed window") {
    val dir = Files.createTempDirectory("graft-pqs-set").toFile
    val chk = Files.createTempDirectory("graft-pqs-setchk").toFile
    // window [0, 3600): u1 error 6 / view 12; u2 error 3 (no view);
    // u3 view-only — `unless` keeps error series without a view match
    Files.write(dir.toPath.resolve("b1.json"),
      Seq(
        metricJson("e1", "error_total", 100, "u1", 6.0),
        metricJson("e2", "error_total", 500, "u2", 3.0),
        metricJson("v1", "view_total", 800, "u1", 12.0),
        metricJson("v3", "view_total", 300, "u3", 9.0)).mkString("\n").getBytes)
    val query = "error_total unless view_total"
    val q = PromQlStream.compile(
        query,
        graft.streaming.FirehoseStream.fromJsonFiles(spark, dir.getAbsolutePath))
      .writeStream.format("memory").queryName("pqs_set").outputMode("append")
      .option("checkpointLocation", chk.getAbsolutePath)
      .start()
    try {
      q.processAllAvailable()
      // advance the watermark past the window close
      Files.write(dir.toPath.resolve("b2.json"),
        Seq(
          metricJson("e9", "error_total", 8000, "u1", 1.0),
          metricJson("v9", "view_total", 8000, "u1", 1.0)).mkString("\n").getBytes)
      q.processAllAvailable()
      val streamed = spark.table("pqs_set")
        .filter(col("win_start") === timestamp_seconds(lit(0)))
        .collect().map(r => r.getAs[String]("series") -> r.getAs[Double]("value")).toMap
      assert(streamed === Map("user=u2" -> 3.0))
      // batch compile of the same string over the same window's samples
      val batch = PromQl.compile(
          query,
          graft.sources.MetricJson.readJsonLines(spark, dir.getAbsolutePath)
            .filter(col("timestamp") < 3600))
        .collect().map(r => r.getAs[String]("series") -> r.getAs[Double]("value")).toMap
      assert(streamed === batch)
    } finally q.stop()
  }

  test("streaming alert rule fires per breach window, batch-identically") {
    val dir = Files.createTempDirectory("graft-pqs-al").toFile
    val chk = Files.createTempDirectory("graft-pqs-alchk").toFile
    // hourly avg breaches > 4 in windows 0 and 3600, recovers in 7200
    Files.write(dir.toPath.resolve("b1.json"),
      Seq(
        metricJson("1", "g", 100, "u1", 5.0),
        metricJson("2", "g", 3700, "u1", 6.0),
        metricJson("3", "g", 7300, "u1", 1.0)).mkString("\n").getBytes)
    val line = "alert HighAvg = avg_over_time(g[1h]) > 4"
    val q = PromQlStream.compileAlert(
        line,
        graft.streaming.FirehoseStream.fromJsonFiles(spark, dir.getAbsolutePath))
      .writeStream.format("memory").queryName("pqs_al").outputMode("append")
      .option("checkpointLocation", chk.getAbsolutePath)
      .start()
    try {
      q.processAllAvailable()
      Files.write(dir.toPath.resolve("b2.json"),
        Seq(metricJson("9", "g", 40000, "u1", 1.0)).mkString("\n").getBytes)
      q.processAllAvailable()
      val streamed = spark.table("pqs_al")
        .collect()
        .map(r => (r.getAs[String]("name"), r.getAs[String]("series"),
          r.getAs[java.sql.Timestamp]("win_start").toInstant.getEpochSecond,
          r.getAs[Double]("value")))
        .toSet
      assert(streamed ===
        Set(("HighAvg", "user=u1", 0L, 5.0), ("HighAvg", "user=u1", 3600L, 6.0)))
      // the batch rule evaluator over the same samples agrees
      val batch = graft.promql.PromQlRules.evaluate(
          line,
          graft.sources.MetricJson.readJsonLines(spark, dir.getAbsolutePath)
            .filter(col("timestamp") < 39000))("HighAvg")
        .collect()
        .map(r => (r.getAs[String]("name"), r.getAs[String]("series"),
          r.getAs[Long]("win_start"), r.getAs[Double]("value")))
        .toSet
      assert(streamed === batch)
      // for-durations outside every streamable shape are refused (no
      // chainable window grid: instant aggregations, gaugeLatest;
      // rate/increase wrappers AND closed rate subqueries now chain —
      // see the dedicated for-duration specs below)
      assertThrows[PromQlCompileException](PromQlStream.compileAlert(
        "alert A = sum(g) > 4 for 1h",
        graft.streaming.FirehoseStream.fromJsonFiles(spark, dir.getAbsolutePath)))
    } finally q.stop()
  }

  test("streaming text histogram family matches the batch compile on closed windows") {
    val dir = Files.createTempDirectory("graft-pqs-nh").toFile
    val chk = Files.createTempDirectory("graft-pqs-nhchk").toFile
    // window [0, 3600): buckets (2,4]=2, (4,8]=1, zero bucket 1
    Files.write(dir.toPath.resolve("b1.json"),
      Seq(
        metricJson("1", "m_total", 100, "u1", 3.0),
        metricJson("2", "m_total", 200, "u2", 4.0),
        metricJson("3", "m_total", 300, "u1", 5.0),
        metricJson("4", "m_total", 400, "u3", 0.0)).mkString("\n").getBytes)
    for ((q, name) <- Seq(
        ("histogram_quantile(0.9, m_total[1h])", "pqs_nhq"),
        ("histogram_count(m_total[1h])", "pqs_nhc"),
        ("histogram_fraction(2, 8, m_total[1h])", "pqs_nhf"))) {
      val qy = PromQlStream.compile(
          q, graft.streaming.FirehoseStream.fromJsonFiles(spark, dir.getAbsolutePath))
        .writeStream.format("memory").queryName(name).outputMode("append")
        .option("checkpointLocation",
          Files.createTempDirectory("graft-pqs-nhc").toFile.getAbsolutePath)
        .start()
      try {
        qy.processAllAvailable()
        Files.write(dir.toPath.resolve(s"close-$name.json"),
          Seq(metricJson("9", "m_total", 40000, "u1", 1.0)).mkString("\n").getBytes)
        qy.processAllAvailable()
        val streamed = spark.table(name)
          .filter(col("win_start") === timestamp_seconds(lit(0)))
          .collect()
          .map(r => (r.getAs[String]("name"), r.getAs[String]("series"),
            r.getAs[Double]("value"))).toSet
        val batch = PromQl.compile(
            q, graft.sources.MetricJson.readJsonLines(spark, dir.getAbsolutePath)
              .filter(col("timestamp") < 3600))
          .collect()
          .map(r => (r.getAs[String]("name"), r.getAs[String]("series"),
            r.getAs[Double]("value"))).toSet
        assert(streamed.nonEmpty && streamed === batch, q)
      } finally qy.stop()
    }
    assert(chk.exists())
  }

  test("streaming `for` duration fires after k consecutive windows, batch-identically") { withRocksDb {
    val dir = Files.createTempDirectory("graft-pqs-for").toFile
    val chk = Files.createTempDirectory("graft-pqs-forchk").toFile
    // counter increases of 10 in windows 0/3600/7200, then 1 in 10800
    // (streak broken); a far sample closes everything
    Files.write(dir.toPath.resolve("b1.json"),
      Seq(
        metricJson("1", "c_total", 100, "u1", 0.0),
        metricJson("2", "c_total", 3500, "u1", 10.0),
        metricJson("3", "c_total", 7100, "u1", 20.0),
        metricJson("4", "c_total", 10700, "u1", 30.0),
        metricJson("5", "c_total", 14300, "u1", 31.0)).mkString("\n").getBytes)
    val line = "alert Hot = increase(c_total[1h]) > 5 for 1h"
    val q = PromQlStream.compileAlert(
        line,
        graft.streaming.FirehoseStream.fromJsonFiles(spark, dir.getAbsolutePath))
      .writeStream.format("memory").queryName("pqs_for").outputMode("append")
      .option("checkpointLocation", chk.getAbsolutePath)
      .start()
    try {
      q.processAllAvailable()
      Files.write(dir.toPath.resolve("b2.json"),
        Seq(metricJson("9", "c_total", 40000, "u1", 31.0)).mkString("\n").getBytes)
      q.processAllAvailable()
      val streamed = spark.table("pqs_for")
        .collect()
        .map(r => (r.getAs[String]("name"), r.getAs[String]("series"),
          r.getAs[Long]("win_start"), r.getAs[Double]("value")))
        .toSet
      // k = 2: the 2nd and 3rd consecutive breaching windows fire; the
      // broken window 10800 does not
      assert(streamed ===
        Set(("Hot", "user=u1", 3600L, 10.0), ("Hot", "user=u1", 7200L, 10.0)))
      // the batch rule evaluator over the same closed samples agrees
      val batch = graft.promql.PromQlRules.evaluate(
          line,
          graft.sources.MetricJson.readJsonLines(spark, dir.getAbsolutePath)
            .filter(col("timestamp") < 39000))("Hot")
        .collect()
        .map(r => (r.getAs[String]("name"), r.getAs[String]("series"),
          r.getAs[Long]("win_start"), r.getAs[Double]("value")))
        .toSet
      assert(streamed === batch)
      // a duration that does not tile the range is refused
      assertThrows[PromQlCompileException](PromQlStream.compileAlert(
        "alert A = increase(c_total[1h]) > 5 for 90m",
        graft.streaming.FirehoseStream.fromJsonFiles(spark, dir.getAbsolutePath)))
      // rate/increase under a WRAPPER (not the bare-threshold shape)
      // chain too: the closed-window increase emits with win_start
      // declared as its event time (the eventTimeColumnName overload),
      // so the streak — a second transformWithState — legally follows;
      // batch-identical on the same closed samples
      val chk2 = Files.createTempDirectory("graft-pqs-forw").toFile
      val line2 = "alert R = rate(c_total[1h]) * 3600 > 5 for 1h"
      val q2 = PromQlStream.compileAlert(
          line2,
          graft.streaming.FirehoseStream.fromJsonFiles(spark, dir.getAbsolutePath))
        .writeStream.format("memory").queryName("pqs_forw").outputMode("append")
        .option("checkpointLocation", chk2.getAbsolutePath)
        .start()
      try {
        q2.processAllAvailable()
        val streamed2 = spark.table("pqs_forw")
          .collect()
          .map(r => (r.getAs[String]("series"), r.getAs[Long]("win_start"),
            r.getAs[Double]("value")))
          .toSet
        val batch2 = graft.promql.PromQlRules.evaluate(
            line2,
            graft.sources.MetricJson.readJsonLines(spark, dir.getAbsolutePath)
              .filter(col("timestamp") < 39000))("R")
          .collect()
          .map(r => (r.getAs[String]("series"), r.getAs[Long]("win_start"),
            r.getAs[Double]("value")))
          .toSet
        assert(streamed2.nonEmpty && streamed2 === batch2)
      } finally q2.stop()
    } finally q.stop()
  } }

  test("general windowed `for` durations stream: the streak chains after " +
      "the expression's own aggregation, batch-identically; late data " +
      "pins at the watermark") { withRocksDb {
    val dir = Files.createTempDirectory("graft-pqs-gfor").toFile
    val chk = Files.createTempDirectory("graft-pqs-gforchk").toFile
    // hourly avg > 4 in windows 0,3600 (streak k=2 fires at 3600), breaks
    // at 7200, then 10800,14400 (fires at 14400); one sample per window
    // keeps avg = value
    Files.write(dir.toPath.resolve("b1.json"),
      Seq(
        metricJson("1", "g", 100, "u1", 5.0),
        metricJson("2", "g", 3700, "u1", 6.0),
        metricJson("3", "g", 7300, "u1", 2.0),
        metricJson("4", "g", 10900, "u1", 7.0),
        metricJson("5", "g", 14500, "u1", 8.0)).mkString("\n").getBytes)
    val line = "alert Hot = avg_over_time(g[1h]) > 4 for 1h"
    val q = PromQlStream.compileAlert(
        line,
        graft.streaming.FirehoseStream.fromJsonFiles(spark, dir.getAbsolutePath))
      .writeStream.format("memory").queryName("pqs_gfor").outputMode("append")
      .option("checkpointLocation", chk.getAbsolutePath)
      .start()
    try {
      q.processAllAvailable()
      // a far sample advances the watermark past every asserted window
      Files.write(dir.toPath.resolve("b2.json"),
        Seq(metricJson("9", "g", 40000, "u1", 0.0)).mkString("\n").getBytes)
      q.processAllAvailable()
      def streamed(): Set[(String, String, Long, Double)] = spark.table("pqs_gfor")
        .collect()
        .map(r => (r.getAs[String]("name"), r.getAs[String]("series"),
          r.getAs[Long]("win_start"), r.getAs[Double]("value")))
        .toSet
      val fires = streamed()
      assert(fires ===
        Set(("Hot", "user=u1", 3600L, 6.0), ("Hot", "user=u1", 14400L, 8.0)))
      // the batch rule evaluator over the same closed samples agrees
      val batch = graft.promql.PromQlRules.evaluate(
          line,
          graft.sources.MetricJson.readJsonLines(spark, dir.getAbsolutePath)
            .filter(col("timestamp") < 39000))("Hot")
        .collect()
        .map(r => (r.getAs[String]("name"), r.getAs[String]("series"),
          r.getAs[Long]("win_start"), r.getAs[Double]("value")))
        .toSet
      assert(fires === batch)
      // LATE DATA pins at the watermark: a sample into the long-closed
      // window 0 (which would break its breach and the first streak) is
      // dropped by the expression's own aggregation — fires never
      // retract, the emitted set is unchanged
      Files.write(dir.toPath.resolve("b3.json"),
        Seq(metricJson("L", "g", 200, "u1", -100.0)).mkString("\n").getBytes)
      q.processAllAvailable()
      assert(streamed() === fires)
      // a duration off the expression's window grid is refused; so is a
      // TWS-family shape (no event-time column to chain on)
      assertThrows[PromQlCompileException](PromQlStream.compileAlert(
        "alert A = avg_over_time(g[1h]) > 4 for 90m",
        graft.streaming.FirehoseStream.fromJsonFiles(spark, dir.getAbsolutePath)))
      // the delta/irate/holt family is window-native too — the chain
      // builds (same agg→streak plan class the runtime leg above runs)
      for (q <- Seq("alert D = idelta(g[1h]) > 0 for 1h",
          "alert E = irate(g[1h]) > 0.5 for 2h",
          "alert F = holt_winters(g[1h], 0.5, 0.5) > 1 for 1h"))
        assert(PromQlStream.compileAlert(q,
          graft.streaming.FirehoseStream.fromJsonFiles(
            spark, dir.getAbsolutePath)).columns.contains("value"), q)
      assertThrows[PromQlCompileException](PromQlStream.compileAlert(
        "alert A = g > 4 for 1h keep_firing_for 1h",
        graft.streaming.FirehoseStream.fromJsonFiles(spark, dir.getAbsolutePath)))
    } finally q.stop()
  } }

  test("keep_firing_for streams: timer-driven keep tails, batch-identical " +
      "to the tumbling rule evaluator on the hand-traced pattern") { withRocksDb {
    val dir = Files.createTempDirectory("graft-pqs-keep").toFile
    val chk = Files.createTempDirectory("graft-pqs-keepchk").toFile
    // the PromQlCompileSpec hand trace as a stream: breach values at
    // 60,120 (streak k=2 fires at 120), tails 180/240, death at 300,
    // re-pend 360, fire 420, gap 480 kept alight, re-arm 540 WITHOUT
    // re-pending, tails 600/660, death at 720
    val vals = Seq(0L -> -1.0, 60L -> 11.0, 120L -> 12.0, 180L -> -1.0,
      240L -> -1.0, 300L -> -1.0, 360L -> 13.0, 420L -> 14.0, 480L -> -1.0,
      540L -> 15.0, 600L -> -1.0, 660L -> -1.0, 720L -> -1.0)
    Files.write(dir.toPath.resolve("b1.json"),
      vals.zipWithIndex.map { case ((t, v), i) =>
        metricJson(f"a$i%02d", "c_total", t, "u1", v)
      }.mkString("\n").getBytes)
    val line = "alert K = max_over_time(c_total[1m]) > 0 for 1m keep_firing_for 2m"
    val q = PromQlStream.compileAlert(
        line,
        graft.streaming.FirehoseStream.fromJsonFiles(spark, dir.getAbsolutePath),
        stepSec = 60L)
      .writeStream.format("memory").queryName("pqs_keep").outputMode("append")
      .option("checkpointLocation", chk.getAbsolutePath)
      .start()
    try {
      q.processAllAvailable()
      // far samples advance the watermark past every window AND give the
      // keep-tail timers batches to fire in
      for ((ts, b) <- Seq((40000L, "b2"), (80000L, "b3"))) {
        Files.write(dir.toPath.resolve(s"$b.json"),
          Seq(metricJson(s"f$b", "c_total", ts, "u1", -1.0)).mkString("\n").getBytes)
        q.processAllAvailable()
      }
      val streamed = spark.table("pqs_keep")
        .collect()
        .map(r => (r.getAs[Long]("win_start"), r.getAs[Double]("value")))
        .toMap
      assert(streamed === Map(
        120L -> 12.0, 180L -> 12.0, 240L -> 12.0,
        420L -> 14.0, 480L -> 14.0,
        540L -> 15.0, 600L -> 15.0, 660L -> 15.0))
      // the batch rule evaluator (tumbling, same step) agrees
      val batch = graft.promql.PromQlRules.evaluate(
          line,
          graft.sources.MetricJson.readJsonLines(spark, dir.getAbsolutePath)
            .filter(col("timestamp") < 39000), stepSec = 60L)("K")
        .collect()
        .map(r => (r.getAs[Long]("win_start"), r.getAs[Double]("value")))
        .toMap
      assert(streamed === batch)
      // off-grid keep durations refuse
      assertThrows[PromQlCompileException](PromQlStream.compileAlert(
        "alert A = max_over_time(c_total[1m]) > 0 keep_firing_for 90s",
        graft.streaming.FirehoseStream.fromJsonFiles(spark, dir.getAbsolutePath),
        stepSec = 60L))
      // keep over a rate WRAPPER rides the chained-closed branch
      // (closed increase → keep streak, TWS → TWS) — batch-identical
      val dir2 = Files.createTempDirectory("graft-pqs-keepc").toFile
      val chk2 = Files.createTempDirectory("graft-pqs-keepcchk").toFile
      // counter: +5 into w60 and w120 (k=2 fires at 120), flat after —
      // keep 2m tails 180/240, dead at 300
      Files.write(dir2.toPath.resolve("b1.json"),
        Seq((30L, "c1", 1.0), (90L, "c2", 6.0), (150L, "c3", 11.0),
          (210L, "c4", 11.0), (270L, "c5", 11.0), (40000L, "c9", 11.0))
          .map { case (t, id, v) => metricJson(id, "c_total", t, "u1", v) }
          .mkString("\n").getBytes)
      val lineC = "alert R = rate(c_total[1m]) * 60 > 0 for 1m keep_firing_for 2m"
      val qc = PromQlStream.compileAlert(
          lineC,
          graft.streaming.FirehoseStream.fromJsonFiles(spark, dir2.getAbsolutePath),
          stepSec = 60L)
        .writeStream.format("memory").queryName("pqs_keepc").outputMode("append")
        .option("checkpointLocation", chk2.getAbsolutePath)
        .start()
      try {
        qc.processAllAvailable()
        Files.write(dir2.toPath.resolve("b2.json"),
          Seq(metricJson("c10", "c_total", 80000L, "u1", 11.0))
            .mkString("\n").getBytes)
        qc.processAllAvailable()
        val streamedC = spark.table("pqs_keepc")
          .collect()
          .map(r => (r.getAs[Long]("win_start"), r.getAs[Double]("value")))
          .toMap
        val batchC = graft.promql.PromQlRules.evaluate(
            lineC,
            graft.sources.MetricJson.readJsonLines(spark, dir2.getAbsolutePath)
              .filter(col("timestamp") < 39000), stepSec = 60L)("R")
          .collect()
          .map(r => (r.getAs[Long]("win_start"), r.getAs[Double]("value")))
          .toMap
        assert(streamedC.keySet === Set(120L, 180L, 240L))
        assert(streamedC === batchC)
      } finally qc.stop()
    } finally q.stop()
  } }

  test("`for` and keep_firing_for stream over closed rate subqueries: " +
      "the subquery's chained grid feeds the streak, batch-identically; " +
      "late data pins at the watermark") { withRocksDb {
    val dir = Files.createTempDirectory("graft-pqs-sqfor").toFile
    // counter sampled once per 10m inner window; per-outer-window (30m)
    // min rates: W0 [0,1800) → 0 (first-ever sample), W1 → 0.1,
    // W2 [3600,5400) → 0 (flat), W3 → 0.1, W4 [7200,9000) → 0.1
    val samples = Seq(
      (100L, 0.0), (700L, 60.0), (1300L, 120.0),
      (1900L, 180.0), (2500L, 240.0), (3100L, 300.0),
      (3700L, 300.0), (4300L, 300.0), (4900L, 300.0),
      (5500L, 360.0), (6100L, 420.0), (6700L, 480.0),
      (7300L, 540.0), (7900L, 600.0), (8500L, 660.0))
    Files.write(dir.toPath.resolve("b1.json"),
      samples.zipWithIndex.map { case ((t, v), i) =>
        metricJson(f"s$i%02d", "c_total", t, "u1", v)
      }.mkString("\n").getBytes)
    // breaches at W1, W3, W4; k = 2 → fires at W4 (7200) only; keep 30m
    // tails one decided-false grid point (9000) with W4's value
    val line = "alert SQ = min_over_time(rate(c_total[10m])[30m:10m]) " +
      "> 0.05 for 30m keep_firing_for 30m"
    def src = graft.streaming.FirehoseStream.fromJsonFiles(spark, dir.getAbsolutePath)
    val chk = Files.createTempDirectory("graft-pqs-sqforchk").toFile
    val q = PromQlStream.compileAlert(line, src)
      .writeStream.format("memory").queryName("pqs_sqfor").outputMode("append")
      .option("checkpointLocation", chk.getAbsolutePath)
      .start()
    try {
      q.processAllAvailable()
      // far samples close every window and give the keep timer batches
      for ((ts, b) <- Seq((40000L, "b2"), (80000L, "b3"))) {
        Files.write(dir.toPath.resolve(s"$b.json"),
          Seq(metricJson(s"f$b", "c_total", ts, "u1", 660.0)).mkString("\n").getBytes)
        q.processAllAvailable()
      }
      def streamed(): Map[Long, Double] = spark.table("pqs_sqfor")
        .collect()
        .map(r => (r.getAs[Long]("win_start"), r.getAs[Double]("value")))
        .toMap
      val fires = streamed()
      assert(fires === Map(7200L -> 0.1, 9000L -> 0.1))
      // the batch rule evaluator on the subquery's own range grid agrees
      val batch = graft.promql.PromQlRules.evaluate(
          line,
          graft.sources.MetricJson.readJsonLines(spark, dir.getAbsolutePath)
            .filter(col("timestamp") < 39000), stepSec = 1800L)("SQ")
        .collect()
        .map(r => (r.getAs[Long]("win_start"), r.getAs[Double]("value")))
        .toMap
      assert(fires === batch)
      // LATE DATA pins at the watermark: a sample into long-closed W3
      // that would break its breach (a counter reset → huge clamp is
      // irrelevant, rate min would change) is dropped by the subquery's
      // own closed fold — the emitted set never changes
      Files.write(dir.toPath.resolve("b4.json"),
        Seq(metricJson("late", "c_total", 5600L, "u1", 0.0)).mkString("\n").getBytes)
      q.processAllAvailable()
      assert(streamed() === fires)
    } finally q.stop()
    // plain `for` (no keep) rides the same chain
    val chk2 = Files.createTempDirectory("graft-pqs-sqfor2chk").toFile
    val line2 = "alert SQ2 = max_over_time(rate(c_total[10m])[30m:10m]) " +
      "> 0.05 for 30m"
    val q2 = PromQlStream.compileAlert(line2, src)
      .writeStream.format("memory").queryName("pqs_sqfor2").outputMode("append")
      .option("checkpointLocation", chk2.getAbsolutePath)
      .start()
    try {
      q2.processAllAvailable()
      // a fresh far sample triggers the post-watermark batch (this query
      // started with the whole corpus already on disk — its first batch
      // ran at watermark 0, parking everything)
      Files.write(dir.toPath.resolve("b5.json"),
        Seq(metricJson("f5", "c_total", 120000L, "u1", 660.0)).mkString("\n").getBytes)
      q2.processAllAvailable()
      val streamed2 = spark.table("pqs_sqfor2")
        .collect()
        .map(r => (r.getAs[Long]("win_start"), r.getAs[Double]("value")))
        .toMap
      val batch2 = graft.promql.PromQlRules.evaluate(
          line2,
          graft.sources.MetricJson.readJsonLines(spark, dir.getAbsolutePath)
            .filter(col("timestamp") < 39000), stepSec = 1800L)("SQ2")
        .collect()
        .map(r => (r.getAs[Long]("win_start"), r.getAs[Double]("value")))
        .toMap
      assert(streamed2.nonEmpty && streamed2 === batch2)
    } finally q2.stop()
    // refusals stay loud: off-grid `for`, a step that does not match the
    // inner range, and a non-rate inner expression
    assertThrows[PromQlCompileException](PromQlStream.compileAlert(
      "alert A = min_over_time(rate(c_total[10m])[30m:10m]) > 1 for 40m", src))
    assertThrows[PromQlCompileException](PromQlStream.compileAlert(
      "alert A = min_over_time(rate(c_total[10m])[30m:5m]) > 1 for 30m", src))
    assertThrows[PromQlCompileException](PromQlStream.compileAlert(
      "alert A = min_over_time(increase(c_total[10m])[30m:10m]) > 1 for 30m",
      src))
  } }

  test("streaming text over_time matches batch; out-of-subset shapes raise") {
    val dir = Files.createTempDirectory("graft-pqs-ot").toFile
    val chk = Files.createTempDirectory("graft-pqs-otchk").toFile
    Files.write(dir.toPath.resolve("b1.json"),
      Seq(
        metricJson("1", "g", 100, "u1", 2.0),
        metricJson("2", "g", 200, "u1", 4.0),
        metricJson("3", "g", 300, "u1", 9.0)).mkString("\n").getBytes)
    val src = graft.streaming.FirehoseStream.fromJsonFiles(spark, dir.getAbsolutePath)
    val q = PromQlStream.compile("avg_over_time(g[1h])", src)
      .writeStream.format("memory").queryName("pqs_ot").outputMode("append")
      .option("checkpointLocation", chk.getAbsolutePath)
      .start()
    try {
      q.processAllAvailable()
      Files.write(dir.toPath.resolve("b2.json"),
        Seq(metricJson("9", "g", 8000, "u1", 1.0)).mkString("\n").getBytes)
      q.processAllAvailable()
      val streamed = spark.table("pqs_ot")
        .filter(col("win_start") === timestamp_seconds(lit(0)))
        .collect().map(r => r.getAs[String]("series") -> r.getAs[Double]("value")).toMap
      assert(streamed === Map("user=u1" -> 5.0))
      val batch = PromQl.compile(
          "avg_over_time(g[1h])",
          graft.sources.MetricJson.readJsonLines(spark, dir.getAbsolutePath)
            .filter(col("timestamp") < 3600))
        .collect().map(r => r.getAs[String]("series") -> r.getAs[Double]("value")).toMap
      assert(streamed === batch)
    } finally q.stop()
    // loud scope boundary, never silently wrong
    assertThrows[PromQlCompileException](
      PromQlStream.compile("sum by (user) (g)", src))
    assertThrows[PromQlCompileException](
      PromQlStream.compile("rate(g[5m] offset 1h)", src))
    assertThrows[PromQlCompileException](
      PromQlStream.compile("abs(g)", src))
  }
}
