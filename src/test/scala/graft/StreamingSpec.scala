package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.streaming.FirehoseStream

class StreamingSpec extends SparkSuite {

  private def metricJson(id: String, name: String, ts: Long, user: String, value: Double): String =
    s"""{"id":"$id","name":"$name","timestamp":$ts,"component":"app",""" +
      s""""tags":{"user":"$user","unit":"bytes"},"value":$value,""" +
      s""""window":{"from":${ts - 60},"to":$ts,"interval":60}}"""

  test("streaming label ops match batch row-for-row (stateless sibling)") {
    val dir = Files.createTempDirectory("graft-lops").toFile
    val chk = Files.createTempDirectory("graft-lopschk").toFile
    // users exercising both label_replace branches: leading digit (tier
    // written) and non-digit (labels untouched)
    Files.write(dir.toPath.resolve("b1.json"),
      Seq(
        metricJson("1", "m_total", 100, "1a", 1.0),
        metricJson("2", "m_total", 200, "u2", 2.0),
        metricJson("3", "m_total", 300, "7", 3.0)).mkString("\n").getBytes)
    val q = FirehoseStream.labelOps(
        FirehoseStream.fromJsonFiles(spark, dir.getAbsolutePath))
      .writeStream.format("memory").queryName("lops_t").outputMode("append")
      .option("checkpointLocation", chk.getAbsolutePath)
      .start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("lops_t")
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      val batch = graft.operators.Firehose.labelOps(
          graft.sources.MetricJson.readJsonLines(spark, dir.getAbsolutePath))
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      assert(streamed === batch)
      assert(streamed("1") === "instance=1a-1,tier=1,user=1a")
      assert(streamed("2") === "instance=u2,user=u2")
    } finally q.stop()
  }

  test("streaming native histograms equal batch buckets on the closed window") {
    val dir = Files.createTempDirectory("graft-snh").toFile
    val chk = Files.createTempDirectory("graft-snhchk").toFile
    // window [0, 3600): values hit buckets (2,4]=2×, (4,8]=1×, (16,32]=1×
    // (32.0 exactly — the power belongs DOWN, the boundary rule)
    Files.write(dir.toPath.resolve("b1.json"),
      Seq(
        metricJson("1", "m_total", 100, "u1", 3.0),
        metricJson("2", "m_total", 200, "u2", 4.0),
        metricJson("3", "m_total", 300, "u1", 5.0),
        metricJson("4", "m_total", 400, "u3", 32.0)).mkString("\n").getBytes)
    val q = FirehoseStream.nativeHistogramClosed(
        FirehoseStream.fromJsonFiles(spark, dir.getAbsolutePath), schema = 0)
      .select(col("win_start"), col("name"),
        graft.operators.NativeHist.bucketsString(col("buckets")).as("b"),
        col("zero_count"), col("n_samples"), col("sum").cast("double").as("s"))
      .writeStream.format("memory").queryName("snh_t").outputMode("append")
      .option("checkpointLocation", chk.getAbsolutePath)
      .start()
    try {
      q.processAllAvailable()
      Files.write(dir.toPath.resolve("b2.json"),
        Seq(metricJson("9", "m_total", 8000, "u1", 1.0)).mkString("\n").getBytes)
      q.processAllAvailable()
      val got = spark.table("snh_t")
        .filter(col("win_start") === timestamp_seconds(lit(0)))
        .collect().map(r => (r.getAs[String]("name"), r.getAs[String]("b"),
          r.getAs[Long]("zero_count"), r.getAs[Long]("n_samples"),
          r.getAs[Double]("s"))).toSet
      assert(got === Set(("m_total", "2:2,3:1,5:1", 0L, 4L, 44.0)))
      // batch reference over the same window's rows — identical fields
      val batch = graft.operators.NativeHist.nativeHistogram(
          graft.sources.MetricJson.readJsonLines(spark, dir.getAbsolutePath)
            .filter(col("timestamp") < 3600),
          schema = 0, by = Seq("name"))
        .select(col("name"),
          graft.operators.NativeHist.bucketsString(col("buckets")).as("b"),
          col("zero_count"), col("n_samples"), col("sum").cast("double").as("s"))
        .collect().map(r => (r.getString(0), r.getString(1),
          r.getLong(2), r.getLong(3), r.getDouble(4))).toSet
      assert(got === batch)
    } finally q.stop()
  }

  test("streaming windowed top-k equals the batch rank on the closed window") {
    val dir = Files.createTempDirectory("graft-stk").toFile
    val chk = Files.createTempDirectory("graft-stkchk").toFile
    // window [0, 3600): m_total gauges u1=5 (latest of 2,5), u2=9, u3=9,
    // u4=1 — top-3 must be u2, u3 (tie on series asc), u1
    Files.write(dir.toPath.resolve("b1.json"),
      Seq(
        metricJson("1", "m_total", 100, "u1", 2.0),
        metricJson("2", "m_total", 900, "u1", 5.0),
        metricJson("3", "m_total", 500, "u2", 9.0),
        metricJson("4", "m_total", 600, "u3", 9.0),
        metricJson("5", "m_total", 700, "u4", 1.0)).mkString("\n").getBytes)
    val q = FirehoseStream.topkSeriesClosed(
        FirehoseStream.fromJsonFiles(spark, dir.getAbsolutePath), k = 3)
      .writeStream.format("memory").queryName("stk_t").outputMode("append")
      .option("checkpointLocation", chk.getAbsolutePath)
      .start()
    try {
      q.processAllAvailable()
      Files.write(dir.toPath.resolve("b2.json"),
        Seq(metricJson("9", "m_total", 8000, "u1", 1.0)).mkString("\n").getBytes)
      q.processAllAvailable()
      val streamed = spark.table("stk_t")
        .filter(col("win_start") === timestamp_seconds(lit(0)))
        .collect()
        .map(r => r.getAs[Long]("rnk") ->
          ((r.getAs[String]("series"), r.getAs[Double]("last_value"))))
        .toMap
      assert(streamed ===
        Map(1L -> (("user=u2", 9.0)), 2L -> (("user=u3", 9.0)), 3L -> (("user=u1", 5.0))))
      // batch reference: rank the same window's gauges with the native
      // top-k operator — identical rows
      import org.apache.spark.sql.graft.GraftOps
      val gauges = graft.operators.Firehose.gaugeLatestLabeled(
        graft.sources.MetricJson.readJsonLines(spark, dir.getAbsolutePath)
          .filter(col("timestamp") < 3600))
      val batch = GraftOps.topKPerKey(
          gauges.select(col("name"), col("series"), col("last_value")),
          keys = Seq("name"),
          orderBy = Seq("last_value" -> true, "series" -> false),
          k = 3)
        .collect().map(r => r.getAs[String]("series") -> r.getAs[Double]("last_value"))
        .toSet
      assert(streamed.values.toSet === batch)
    } finally q.stop()
  }

  test("streaming vector match equals batch vector match on the closed window") {
    val dir = Files.createTempDirectory("graft-vm").toFile
    val chk = Files.createTempDirectory("graft-vmchk").toFile
    // window [0, 3600): u1 error 2→6 (latest 6) / view 12; u2 error 3 /
    // view 4; u3 view-only (no match)
    Files.write(dir.toPath.resolve("b1.json"),
      Seq(
        metricJson("e1", "error_total", 100, "u1", 2.0),
        metricJson("e2", "error_total", 900, "u1", 6.0),
        metricJson("e3", "error_total", 500, "u2", 3.0),
        metricJson("v1", "view_total", 800, "u1", 12.0),
        metricJson("v2", "view_total", 200, "u2", 4.0),
        metricJson("v3", "view_total", 300, "u3", 9.0)).mkString("\n").getBytes)
    val src = FirehoseStream.fromJsonFiles(spark, dir.getAbsolutePath)
    val ratio = (e: org.apache.spark.sql.Column, v: org.apache.spark.sql.Column) =>
      when(v =!= 0.0, e / v)
    val q = FirehoseStream.vectorMatch(
        src.filter(col("name") === "error_total"),
        src.filter(col("name") === "view_total"),
        ratio, out = "ratio")
      .writeStream.format("memory").queryName("vm_t").outputMode("append")
      .option("checkpointLocation", chk.getAbsolutePath)
      .start()
    try {
      q.processAllAvailable()
      // advance the watermark past the window close (8000 - 600 > 3600)
      Files.write(dir.toPath.resolve("b2.json"),
        Seq(
          metricJson("e9", "error_total", 8000, "u1", 1.0),
          metricJson("v9", "view_total", 8000, "u1", 1.0)).mkString("\n").getBytes)
      q.processAllAvailable()
      val streamed = spark.table("vm_t")
        .filter(col("win_start") === timestamp_seconds(lit(0)))
        .collect().map(r => r.getAs[String]("series") -> r.getAs[Double]("ratio")).toMap
      assert(streamed === Map("user=u1" -> 0.5, "user=u2" -> 0.75))
      // batch reference over the same window's rows: identical results
      val lines = graft.sources.MetricJson.readJsonLines(spark, dir.getAbsolutePath)
        .filter(col("timestamp") < 3600)
      val batch = graft.operators.Firehose.vectorMatch(
          graft.operators.Firehose.gaugeLatestLabeled(
            lines.filter(col("name") === "error_total")),
          graft.operators.Firehose.gaugeLatestLabeled(
            lines.filter(col("name") === "view_total")),
          ratio, valueCol = "last_value", out = "ratio")
        .collect().map(r => r.getAs[String]("series") -> r.getAs[Double]("ratio")).toMap
      assert(streamed === batch)
    } finally q.stop()
  }

  test("streaming vector match reports degraded keys while output stays latest-wins") {
    val dir = Files.createTempDirectory("graft-vmdeg").toFile
    val chk = Files.createTempDirectory("graft-vmdegchk").toFile
    def j(id: String, name: String, ts: Long, tags: String, v: Double) =
      s"""{"id":"$id","name":"$name","timestamp":$ts,"component":"app",""" +
        s""""tags":$tags,"value":$v,"window":{"from":${ts - 60},"to":$ts,"interval":60}}"""
    // the right side VIOLATES the cardinality contract: two view series
    // (rep=a, rep=b) collapse onto the one on(user) match key — batch
    // raises here; the stream degrades to latest-wins and must SAY SO
    Files.write(dir.toPath.resolve("b1.json"),
      Seq(
        j("e1", "error_total", 100, """{"user":"u1"}""", 8.0),
        j("v1", "view_total", 200, """{"user":"u1","rep":"a"}""", 2.0),
        j("v2", "view_total", 900, """{"user":"u1","rep":"b"}""", 4.0))
        .mkString("\n").getBytes)
    val src = FirehoseStream.fromJsonFiles(spark, dir.getAbsolutePath)
    val q = FirehoseStream.vectorMatch(
        src.filter(col("name") === "error_total"),
        src.filter(col("name") === "view_total"),
        (e, v) => when(v =!= 0.0, e / v), on = Seq("user"), out = "ratio")
      .writeStream.format("memory").queryName("vmdeg_t").outputMode("append")
      .option("checkpointLocation", chk.getAbsolutePath)
      .start()
    try {
      q.processAllAvailable()
      Files.write(dir.toPath.resolve("b2.json"),
        Seq(j("e9", "error_total", 8000, """{"user":"u1"}""", 1.0),
          j("v9", "view_total", 8000, """{"user":"u1"}""", 1.0)).mkString("\n").getBytes)
      q.processAllAvailable()
      // output: latest right sample (rep=b, ts 900) wins → 8/4
      val streamed = spark.table("vmdeg_t")
        .filter(col("win_start") === timestamp_seconds(lit(0)))
        .collect().map(r => r.getAs[String]("series") -> r.getAs[Double]("ratio")).toMap
      assert(streamed === Map("user=u1" -> 2.0))
      // the degradation signal fired in the batch that emitted the window
      val degraded = q.recentProgress.toSeq
        .flatMap(p => Option(p.observedMetrics.get("graft_vector_match")))
        .map(_.getAs[Long]("degraded_match_keys")).sum
      assert(degraded >= 1L, "collapsed right series must be observable")
    } finally q.stop()
  }

  test("streaming set ops equal batch set ops on the closed window") {
    val dir = Files.createTempDirectory("graft-vso").toFile
    // window [0, 3600): errors for u1/u2, silences for u2/u3 — and → u2,
    // unless → u1, or → u1+u2 errors plus u3's silence (left priority)
    Files.write(dir.toPath.resolve("b1.json"),
      Seq(
        metricJson("e1", "error_total", 100, "u1", 4.0),
        metricJson("e2", "error_total", 900, "u2", 6.0),
        metricJson("s1", "silence_total", 800, "u2", 1.0),
        metricJson("s2", "silence_total", 200, "u3", 1.0)).mkString("\n").getBytes)
    // watermark-advancer past the window close
    Files.write(dir.toPath.resolve("b2.json"),
      Seq(
        metricJson("e9", "error_total", 8000, "u1", 1.0),
        metricJson("s9", "silence_total", 8000, "u1", 1.0)).mkString("\n").getBytes)
    val lines = graft.sources.MetricJson.readJsonLines(spark, dir.getAbsolutePath)
      .filter(col("timestamp") < 3600)
    for (op <- Seq("and", "unless", "or")) {
      val chk = Files.createTempDirectory(s"graft-vsochk-$op").toFile
      val src = FirehoseStream.fromJsonFiles(spark, dir.getAbsolutePath)
      val q = FirehoseStream.vectorSetOp(
          src.filter(col("name") === "error_total"),
          src.filter(col("name") === "silence_total"), op)
        .writeStream.format("memory").queryName(s"vso_$op").outputMode("append")
        .option("checkpointLocation", chk.getAbsolutePath)
        .start()
      try {
        q.processAllAvailable()
        val streamed = spark.table(s"vso_$op")
          .filter(col("win_start") === timestamp_seconds(lit(0)))
          .collect()
          .map(r => (r.getAs[String]("name"), r.getAs[String]("series"),
            r.getAs[Double]("value"))).toSet
        val batch = graft.operators.Firehose.vectorSetOp(
            graft.operators.Firehose.gaugeLatestLabeled(
              lines.filter(col("name") === "error_total")),
            graft.operators.Firehose.gaugeLatestLabeled(
              lines.filter(col("name") === "silence_total")),
            op, valueCol = "last_value")
          .collect()
          .map(r => (r.getAs[String]("name"), r.getAs[String]("series"),
            r.getAs[Double]("last_value"))).toSet
        assert(streamed === batch, s"op=$op")
        val expected = op match {
          case "and"    => Set(("error_total", "user=u2", 6.0))
          case "unless" => Set(("error_total", "user=u1", 4.0))
          case "or"     => Set(("error_total", "user=u1", 4.0),
            ("error_total", "user=u2", 6.0), ("silence_total", "user=u3", 1.0))
        }
        assert(streamed === expected, s"op=$op")
      } finally q.stop()
    }
  }

  test("streaming subquery emits closed outer windows once, batch-identical") {
    val dir = Files.createTempDirectory("graft-subq").toFile
    val chk = Files.createTempDirectory("graft-subqchk").toFile
    def b(id: String, ts: Long, v: Double) = metricJson(id, "c_total", ts, "u1", v)
    // outer window [0,120) = inner wins 0 and 60; the reset lands in the
    // SECOND micro-batch so the inner fold must merge across batches
    Files.write(dir.toPath.resolve("b1.json"),
      Seq(b("s1", 10, 10.0), b("s2", 50, 30.0), b("s3", 70, 35.0))
        .mkString("\n").getBytes)
    val q = FirehoseStream.subqueryOverTimeClosed(
        FirehoseStream.fromJsonFiles(spark, dir.getAbsolutePath),
        innerSec = 60, outerSec = 120, watermarkDelay = "1 second")
      .toDF()
      .writeStream.format("memory").queryName("subq_t").outputMode("update")
      .option("checkpointLocation", chk.getAbsolutePath)
      .start()
    try {
      q.processAllAvailable()
      // reset inside win 60, then a far-future sample to close outer 0
      Files.write(dir.toPath.resolve("b2.json"),
        Seq(b("s4", 100, 20.0), b("s5", 1000, 1.0)).mkString("\n").getBytes)
      q.processAllAvailable()
      Files.write(dir.toPath.resolve("b3.json"),
        Seq(b("s6", 1400, 2.0)).mkString("\n").getBytes)
      q.processAllAvailable()
      val streamed = spark.table("subq_t").filter(col("outer_win") === 0L).collect()
      assert(streamed.length === 1) // exactly once
      val s = streamed.head
      val batch = graft.operators.Firehose.subqueryOverTime(
          graft.sources.MetricJson.readJsonLines(spark, dir.getAbsolutePath)
            .filter(col("timestamp") < 120),
          innerSec = 60, outerSec = 120)
        .collect().head
      assert(s.getAs[Long]("n_points") === batch.getAs[Long]("n_points"))
      for (f <- Seq("min_rate", "max_rate", "avg_rate"))
        assert(s.getAs[Double](f) === batch.getAs[Double](f), f)
      // the reset clamped: win 0 inc = 20, win 60 inc = 5 + 20 (post-reset)
      assert(s.getAs[Double]("min_rate") === 20.0 / 60.0)
      assert(s.getAs[Double]("max_rate") === 25.0 / 60.0)
    } finally q.stop()
  }

  test("streaming gauge state keeps latest value per series across batches") {
    val dir = Files.createTempDirectory("graft-stream").toFile
    val chk = Files.createTempDirectory("graft-chk").toFile
    Files.write(dir.toPath.resolve("b1.json"),
      Seq(
        metricJson("1", "bytes_total", 1000, "u1", 10.0),
        metricJson("2", "bytes_total", 2000, "u1", 20.0),
        metricJson("3", "bytes_total", 1500, "u2", 15.0),
        "not json at all").mkString("\n").getBytes)

    val metrics = FirehoseStream.fromJsonFiles(spark, dir.getAbsolutePath)
    val gauges = FirehoseStream.gaugeLatest(metrics, watermarkDelay = "0 seconds")
    val q = gauges.writeStream
      .format("memory").queryName("gauges_t").outputMode("update")
      .option("checkpointLocation", chk.getAbsolutePath)
      .start()
    try {
      q.processAllAvailable()
      val r1 = spark.table("gauges_t")
        .groupBy("series").agg(max_by(col("last_value"), col("last_ts")).as("v"))
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      assert(r1 === Map("user=u1" -> 20.0, "user=u2" -> 15.0))

      // second micro-batch: newer sample for u1 wins, older one is ignored
      Files.write(dir.toPath.resolve("b2.json"),
        Seq(
          metricJson("4", "bytes_total", 3000, "u1", 30.0),
          metricJson("5", "bytes_total", 500, "u2", 5.0)).mkString("\n").getBytes)
      q.processAllAvailable()
      val r2 = spark.table("gauges_t")
        .groupBy("series").agg(max_by(col("last_value"), col("last_ts")).as("v"))
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      assert(r2("user=u1") === 30.0)
      assert(r2("user=u2") === 15.0) // stale sample must not regress the gauge
    } finally q.stop()
  }

  test("gauge state survives a query restart from the checkpoint") {
    val dir = Files.createTempDirectory("graft-restart").toFile
    val chk = Files.createTempDirectory("graft-restartchk").toFile
    Files.write(dir.toPath.resolve("b1.json"),
      Seq(metricJson("1", "bytes_total", 2000, "u1", 20.0)).mkString("\n").getBytes)
    // memory sink can't recover from a checkpoint — collect via foreachBatch
    val emitted = new java.util.concurrent.ConcurrentLinkedQueue[(String, Double, Long)]()
    // watermark lag long enough that the deliberately-stale b2 sample is NOT
    // dropped as late data — it must reach the operator and lose to the
    // recovered state, not be filtered before it
    def start() = FirehoseStream.gaugeLatest(
        FirehoseStream.fromJsonFiles(spark, dir.getAbsolutePath),
        watermarkDelay = "1 hour")
      .writeStream.outputMode("update")
      .option("checkpointLocation", chk.getAbsolutePath)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[graft.streaming.GaugeOut], _: Long) =>
        batch.collect().foreach(g => emitted.add((g.series, g.last_value, g.last_ts)))
      }
      .start()
    val q1 = start()
    try { q1.processAllAvailable() } finally q1.stop()
    assert(emitted.toArray.toSeq.contains(("user=u1", 20.0, 2000L)))
    // restart from the same checkpoint; feed a STALE sample for the series —
    // the recovered state must keep the newer value (the reference's
    // in-process registry would have lost it)
    emitted.clear()
    Files.write(dir.toPath.resolve("b2.json"),
      Seq(metricJson("2", "bytes_total", 1000, "u1", 5.0)).mkString("\n").getBytes)
    val q2 = start()
    try {
      q2.processAllAvailable()
      val outs = emitted.toArray.toSeq.asInstanceOf[Seq[(String, Double, Long)]]
      assert(outs.nonEmpty, "restarted query emitted nothing for the new batch")
      assert(outs.forall(_ == ("user=u1", 20.0, 2000L)),
        s"stale post-restart sample regressed the recovered gauge state: $outs")
    } finally q2.stop()
  }

  test("gauge state runs on the RocksDB state store provider") {
    // the scale-grade state backend (state >> heap at 100 TB): same query,
    // same results, RocksDB-backed state
    val dir = Files.createTempDirectory("graft-rocks").toFile
    val chk = Files.createTempDirectory("graft-rockschk").toFile
    Files.write(dir.toPath.resolve("b1.json"),
      Seq(
        metricJson("1", "bytes_total", 1000, "u1", 10.0),
        metricJson("2", "bytes_total", 2000, "u1", 20.0)).mkString("\n").getBytes)
    withRocksDb {
      val q = FirehoseStream.gaugeLatest(
          FirehoseStream.fromJsonFiles(spark, dir.getAbsolutePath),
          watermarkDelay = "0 seconds")
        .writeStream.format("memory").queryName("rocks_t").outputMode("update")
        .option("checkpointLocation", chk.getAbsolutePath)
        .start()
      try {
        q.processAllAvailable()
        val out = spark.table("rocks_t")
          .groupBy("series").agg(max_by(col("last_value"), col("last_ts")).as("v"))
          .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
        assert(out === Map("user=u1" -> 20.0))
        assert(q.lastProgress.stateOperators.length > 0)
      } finally q.stop()
    }
  }

  test("streaming counter increase accumulates deltas and clamps resets") {
    val dir = Files.createTempDirectory("graft-inc").toFile
    val chk = Files.createTempDirectory("graft-incchk").toFile
    // series u1: 10 → 15 (+5) in batch 1; 3 (reset → +3) → 7 (+4) in batch 2
    Files.write(dir.toPath.resolve("b1.json"),
      Seq(
        metricJson("1", "c_total", 100, "u1", 10.0),
        metricJson("2", "c_total", 200, "u1", 15.0)).mkString("\n").getBytes)
    val q = FirehoseStream.counterIncrease(
        FirehoseStream.fromJsonFiles(spark, dir.getAbsolutePath),
        widthSec = 3600, watermarkDelay = "0 seconds")
      .writeStream.format("memory").queryName("inc_t").outputMode("update")
      .option("checkpointLocation", chk.getAbsolutePath)
      .start()
    try {
      q.processAllAvailable()
      def latest(): Map[Long, Double] = spark.table("inc_t")
        .groupBy("win_start").agg(last(col("increase")).as("v"))
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(latest() === Map(0L -> 5.0)) // first sample contributes 0
      Files.write(dir.toPath.resolve("b2.json"),
        Seq(
          metricJson("3", "c_total", 300, "u1", 3.0),
          metricJson("4", "c_total", 400, "u1", 7.0)).mkString("\n").getBytes)
      q.processAllAvailable()
      // running increase for the same window: 5 + 3 (reset clamp) + 4 = 12,
      // matching the batch operator's semantics on the same samples
      assert(latest() === Map(0L -> 12.0))
    } finally q.stop()
  }

  test("transformWithState gauge bootstraps from a landed batch snapshot") {
    // named for the API it first ran on; it now runs flatMapGroupsWithState
    val dir = Files.createTempDirectory("graft-boot").toFile
    val chk = Files.createTempDirectory("graft-bootchk").toFile
    // landed snapshot says u1 = 20.0 @ ts 2000; the stream's first sample
    // is STALE (5.0 @ ts 1000) — with an empty registry it would win;
    // bootstrapped state must hold the landed value
    val snapshot = spark.createDataFrame(Seq(
      ("app", "bytes_total", "user=u1", 20.0, 2000L)))
      .toDF("component", "name", "series", "last_value", "last_ts")
    Files.write(dir.toPath.resolve("b1.json"),
      Seq(metricJson("9", "bytes_total", 1000, "u1", 5.0)).mkString("\n").getBytes)
    val q = FirehoseStream.gaugeLatestBootstrapped(
        FirehoseStream.fromJsonFiles(spark, dir.getAbsolutePath),
        snapshot, watermarkDelay = "1 hour")
      .writeStream.format("memory").queryName("boot_t").outputMode("update")
      .option("checkpointLocation", chk.getAbsolutePath)
      .start()
    try {
      q.processAllAvailable()
      val out = spark.table("boot_t")
        .groupBy("series").agg(max_by(col("last_value"), col("last_ts")).as("v"))
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      assert(out === Map("user=u1" -> 20.0),
        s"stale first sample beat the bootstrapped snapshot: $out")
    } finally q.stop()
  }

  test("a series only in the bootstrap snapshot emits nothing and is evicted " +
      "once the watermark passes its last sample plus the TTL") {
    val dir = Files.createTempDirectory("graft-boot-evict").toFile
    val chk = Files.createTempDirectory("graft-boot-evictchk").toFile
    // u1 is in the snapshot and the stream; u9 only in the snapshot, last
    // seen at 1000 s, so with a 600 s TTL it times out at 1600 s
    val snapshot = spark.createDataFrame(Seq(
      ("app", "bytes_total", "user=u1", 20.0, 2000L),
      ("app", "bytes_total", "user=u9", 99.0, 1000L)))
      .toDF("component", "name", "series", "last_value", "last_ts")
    Files.write(dir.toPath.resolve("b1.json"),
      Seq(metricJson("1", "bytes_total", 1500, "u1", 5.0)).mkString("\n").getBytes)
    val q = FirehoseStream.gaugeLatestBootstrapped(
        FirehoseStream.fromJsonFiles(spark, dir.getAbsolutePath),
        snapshot, watermarkDelay = "0 seconds", ttlMs = 600 * 1000L)
      .writeStream.format("memory").queryName("boot_evict_t").outputMode("update")
      .option("checkpointLocation", chk.getAbsolutePath)
      .start()
    // the series held in the operator's state at the last committed batch
    def stateSeries(): Set[String] =
      spark.read.format("statestore").load(chk.getAbsolutePath)
        .select(col("key").getField("_3")).collect().map(_.getString(0)).toSet
    def emitted(): Seq[String] =
      spark.table("boot_evict_t").collect().map(_.getAs[String]("series")).toSeq
    try {
      q.processAllAvailable()
      // the first batch runs the fold for u9 with no rows: it emits nothing
      assert(emitted() === Seq("user=u1"))
      assert(stateSeries() === Set("user=u1", "user=u9"))
      // u2's sample moves the watermark to 1700 s, past u9's timeout but
      // not u1's (2000 s + TTL); the watermark-only batch after it evicts
      Files.write(dir.toPath.resolve("b2.json"),
        Seq(metricJson("2", "bytes_total", 1700, "u2", 1.0)).mkString("\n").getBytes)
      q.processAllAvailable()
      assert(stateSeries() === Set("user=u1", "user=u2"))
      assert(!emitted().contains("user=u9"))
    } finally q.stop()
  }

  test("the incremental registry bootstraps the streaming gauge: a fresh " +
      "deployment's stream starts from the landed heads") {
    import spark.implicits._
    graft.promql.PromRegistry.reset()
    // land two ticks; the registry's head for u1 is 20.0 @ 2000
    val root = Files.createTempDirectory("graft-boot-reg").toFile.getAbsolutePath
    graft.promql.PromQlVersioned.land(
      Seq(("app", "bytes_total", Map("user" -> "u1"), 1500L, "a", 7.0))
        .toDF("component", "name", "labels", "timestamp", "id", "value"), root)
    graft.promql.PromQlVersioned.land(
      Seq(("app", "bytes_total", Map("user" -> "u1"), 2000L, "b", 20.0))
        .toDF("component", "name", "labels", "timestamp", "id", "value"), root)
    val snapshot = graft.promql.PromRegistry.frame(spark,
      graft.promql.PromRegistry.current(spark, root))
    val dir = Files.createTempDirectory("graft-boot-reg-in").toFile
    val chk = Files.createTempDirectory("graft-boot-reg-chk").toFile
    // the stream's first sample is STALE vs the landed head — the
    // bootstrapped state must hold the registry value
    Files.write(dir.toPath.resolve("b1.json"),
      Seq(metricJson("9", "bytes_total", 1000, "u1", 5.0)).mkString("\n").getBytes)
    val q = FirehoseStream.gaugeLatestBootstrapped(
        FirehoseStream.fromJsonFiles(spark, dir.getAbsolutePath),
        snapshot, watermarkDelay = "1 hour")
      .writeStream.format("memory").queryName("boot_reg_t").outputMode("update")
      .option("checkpointLocation", chk.getAbsolutePath)
      .start()
    try {
      q.processAllAvailable()
      val out = spark.table("boot_reg_t")
        .groupBy("series").agg(max_by(col("last_value"), col("last_ts")).as("v"))
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      assert(out === Map("user=u1" -> 20.0),
        s"stale first sample beat the registry bootstrap: $out")
    } finally q.stop()
  }

  test("streaming counter increase handles late-but-in-watermark samples (batch parity)") {
    val dir = Files.createTempDirectory("graft-inc-late").toFile
    val chk = Files.createTempDirectory("graft-inc-latechk").toFile
    // batch 1: 10@100, 30@300. batch 2 delivers 20@200 LATE but inside the
    // 1-hour watermark. Correct semantics (the batch operator's): deltas
    // 0, +10 (100→200), +10 (200→300) → window 0 total 20. A last-sample
    // state would diff 20 against 30, misread the counter as reset, and
    // inflate the window to 40.
    Files.write(dir.toPath.resolve("b1.json"),
      Seq(
        metricJson("1", "c_total", 100, "u1", 10.0),
        metricJson("3", "c_total", 300, "u1", 30.0)).mkString("\n").getBytes)
    val q = FirehoseStream.counterIncrease(
        FirehoseStream.fromJsonFiles(spark, dir.getAbsolutePath),
        widthSec = 3600, watermarkDelay = "1 hour")
      .writeStream.format("memory").queryName("inc_late_t").outputMode("update")
      .option("checkpointLocation", chk.getAbsolutePath)
      .start()
    try {
      q.processAllAvailable()
      Files.write(dir.toPath.resolve("b2.json"),
        Seq(metricJson("2", "c_total", 200, "u1", 20.0)).mkString("\n").getBytes)
      q.processAllAvailable()
      // latest emission per window must equal the batch operator on the
      // union of all samples
      val streamed = spark.table("inc_late_t")
        .groupBy("win_start").agg(last(col("increase")).as("v"))
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val batchDf = spark.createDataFrame(Seq(
        ("1", "c_total", 100L, "app", 10.0),
        ("2", "c_total", 200L, "app", 20.0),
        ("3", "c_total", 300L, "app", 30.0)))
        .toDF("id", "name", "timestamp", "component", "value")
        .withColumn("tags", map(lit("user"), lit("u1")))
      val batch = graft.operators.Firehose.counterIncrease(batchDf, widthSec = 3600)
        .collect().map(r => r.getAs[Long]("win_start") -> r.getAs[Double]("increase")).toMap
      assert(batch === Map(0L -> 20.0))
      assert(streamed === batch,
        s"late in-watermark sample broke batch parity: streamed=$streamed batch=$batch")
    } finally q.stop()
  }

  test("streaming resets/changes buffers late in-watermark samples (batch parity)") {
    val dir = Files.createTempDirectory("graft-rst-late").toFile
    val chk = Files.createTempDirectory("graft-rst-latechk").toFile
    // batch 1: 10@100, 30@300. batch 2 delivers 20@200 LATE but inside the
    // 1-hour watermark. Correct fold (10, 20, 30): resets=0, changes=2.
    // Last-sample state would diff 20 against 30 and miscount a reset.
    Files.write(dir.toPath.resolve("b1.json"),
      Seq(
        metricJson("1", "c_total", 100, "u1", 10.0),
        metricJson("3", "c_total", 300, "u1", 30.0)).mkString("\n").getBytes)
    val q = FirehoseStream.resetsChanges(
        FirehoseStream.fromJsonFiles(spark, dir.getAbsolutePath),
        watermarkDelay = "1 hour")
      .writeStream.format("memory").queryName("rst_late_t").outputMode("update")
      .option("checkpointLocation", chk.getAbsolutePath)
      .start()
    try {
      q.processAllAvailable()
      Files.write(dir.toPath.resolve("b2.json"),
        Seq(metricJson("2", "c_total", 200, "u1", 20.0)).mkString("\n").getBytes)
      q.processAllAvailable()
      val rows = spark.table("rst_late_t").collect()
      val finalRow = rows.last
      val streamed = (finalRow.getAs[Long]("resets"),
        finalRow.getAs[Long]("changes"), finalRow.getAs[Long]("n_samples"))
      val batchDf = spark.createDataFrame(Seq(
        ("1", "c_total", 100L, "app", 10.0),
        ("2", "c_total", 200L, "app", 20.0),
        ("3", "c_total", 300L, "app", 30.0)))
        .toDF("id", "name", "timestamp", "component", "value")
        .withColumn("tags", map(lit("user"), lit("u1")))
      val batch = graft.operators.Firehose.resetsChanges(batchDf)
        .collect().map(r => (r.getAs[Long]("resets"),
          r.getAs[Long]("changes"), r.getAs[Long]("n_samples"))).head
      assert(batch === ((0L, 2L, 3L)))
      assert(streamed === batch,
        s"late in-watermark sample broke resets/changes parity: streamed=$streamed batch=$batch")
    } finally q.stop()
  }

  test("closed-window counter increase emits each window once with its final total") {
    withRocksDb {
      val dir = Files.createTempDirectory("graft-inc-closed").toFile
      val chk = Files.createTempDirectory("graft-inc-closedchk").toFile
      // widthSec 100: window 0 = [0,100), window 100 = [100,200). Batch 1
      // fills window 0; batch 2's ts 250 pushes the 0-delay watermark past
      // both windows' ends, closing them
      Files.write(dir.toPath.resolve("b1.json"),
        Seq(
          metricJson("1", "c_total", 10, "u1", 10.0),
          metricJson("2", "c_total", 50, "u1", 16.0),
          metricJson("3", "c_total", 150, "u1", 20.0)).mkString("\n").getBytes)
      val q = graft.streaming.FirehoseTws.counterIncreaseClosed(
          FirehoseStream.fromJsonFiles(spark, dir.getAbsolutePath),
          widthSec = 100, watermarkDelay = "0 seconds")
        .writeStream.format("memory").queryName("inc_closed_t").outputMode("append")
        .option("checkpointLocation", chk.getAbsolutePath)
        .start()
      try {
        q.processAllAvailable()
        Files.write(dir.toPath.resolve("b2.json"),
          Seq(metricJson("4", "c_total", 250, "u1", 25.0)).mkString("\n").getBytes)
        q.processAllAvailable()
        // each batch's watermark applies during the NEXT batch, so advance
        // twice more: b3's arrival closes windows 0/100 (wm 250), b4's
        // arrival closes window 200 (wm 400)
        Files.write(dir.toPath.resolve("b3.json"),
          Seq(metricJson("5", "c_total", 400, "u1", 30.0)).mkString("\n").getBytes)
        q.processAllAvailable()
        Files.write(dir.toPath.resolve("b4.json"),
          Seq(metricJson("6", "c_total", 500, "u1", 31.0)).mkString("\n").getBytes)
        q.processAllAvailable()
        val rows = spark.table("inc_closed_t")
          .collect().map(r => r.getAs[Long]("win_start") -> r.getAs[Double]("value"))
        // exactly once per closed window, with the batch totals:
        // window 0: 0 + 6 = 6; window 100: +4 (16→20); window 200: +5 (20→25)
        assert(rows.map(_._1).distinct.length === rows.length,
          s"window emitted twice: ${rows.toSeq}")
        val byWin = rows.toMap
        assert(byWin.get(0L) === Some(6.0), s"got $byWin")
        assert(byWin.get(100L) === Some(4.0), s"got $byWin")
        assert(byWin.get(200L) === Some(5.0), s"got $byWin")
      } finally q.stop()
    }
  }

  test("closed-window emission stays exactly-once when the TTL fires inside an open window") {
    withRocksDb {
      // The double-emit trap: a series posts in window 0, goes idle, its TTL
      // fires while window 0 is still open (other series advance the
      // watermark), then the series RESUMES inside window 0. A force-close at
      // TTL time would emit window 0 twice — once partial, once after the
      // resume. The fix keeps open windows in state past the TTL and closes
      // them only when the watermark passes their end.
      val dir = Files.createTempDirectory("graft-inc-ttl").toFile
      val chk = Files.createTempDirectory("graft-inc-ttlchk").toFile
      // widthSec 100, 0-delay watermark, 1 s TTL: u1 idles far past its TTL
      // while u2's traffic advances the watermark — long before window 0's
      // end, where u1's timer waits while the window is open
      Files.write(dir.toPath.resolve("b1.json"),
        Seq(
          metricJson("1", "c_total", 10, "u1", 10.0),
          metricJson("2", "c_total", 50, "u2", 1.0)).mkString("\n").getBytes)
      val q = graft.streaming.FirehoseTws.counterIncreaseClosed(
          FirehoseStream.fromJsonFiles(spark, dir.getAbsolutePath),
          widthSec = 100, watermarkDelay = "0 seconds", ttlMs = 1000L)
        .writeStream.format("memory").queryName("inc_ttl_t").outputMode("append")
        .option("checkpointLocation", chk.getAbsolutePath)
        .start()
      try {
        q.processAllAvailable()
        // u1 is idle past its TTL here (wm 50) while window 0 is open
        Files.write(dir.toPath.resolve("b2.json"),
          Seq(metricJson("3", "c_total", 60, "u2", 2.0)).mkString("\n").getBytes)
        q.processAllAvailable()
        // u1 resumes INSIDE window 0 (ts 90 >= wm 60)
        Files.write(dir.toPath.resolve("b3.json"),
          Seq(
            metricJson("4", "c_total", 90, "u1", 17.0),
            metricJson("5", "c_total", 95, "u2", 3.0)).mkString("\n").getBytes)
        q.processAllAvailable()
        // push the watermark past window 0's end (twice: a batch's watermark
        // applies during the NEXT batch)
        Files.write(dir.toPath.resolve("b4.json"),
          Seq(metricJson("6", "c_total", 250, "u2", 4.0)).mkString("\n").getBytes)
        q.processAllAvailable()
        Files.write(dir.toPath.resolve("b5.json"),
          Seq(metricJson("7", "c_total", 400, "u2", 5.0)).mkString("\n").getBytes)
        q.processAllAvailable()
        val u1 = spark.table("inc_ttl_t")
          .filter(col("series").contains("u1"))
          .collect().map(r => r.getAs[Long]("win_start") -> r.getAs[Double]("value"))
        assert(u1.map(_._1).distinct.length === u1.length,
          s"window emitted twice after TTL + resume: ${u1.toSeq}")
        // batch semantics over u1's full history: 0 (first) + 7 (10→17)
        assert(u1.toMap.get(0L) === Some(7.0), s"got ${u1.toSeq}")
      } finally q.stop()
    }
  }

  test("streaming ratio alert emits exactly-once closed long windows with batch parity") {
    val dir = Files.createTempDirectory("graft-ratio").toFile
    val chk = Files.createTempDirectory("graft-ratiochk").toFile
    // short 100 s, long 300 s. u1's counters over long window [0, 300):
    //   error_total: 0@10, 2@50, 3@150, 7@250 → wins 0/100/200 inc 2/1/4
    //   view_total: 10@10, 14@60, 16@160, 20@260 → wins inc 4/2/4
    // short ratios 0.5 / 0.5 / 1.0; long ratio 7/10 = 0.7; θ=0.6 ⇒ only
    // window 200 alerts
    Files.write(dir.toPath.resolve("b1.json"),
      Seq(
        metricJson("e1", "error_total", 10, "u1", 0.0),
        metricJson("e2", "error_total", 50, "u1", 2.0),
        metricJson("v1", "view_total", 10, "u1", 10.0),
        metricJson("v2", "view_total", 60, "u1", 14.0)).mkString("\n").getBytes)
    val q = FirehoseStream.ratioAlertClosed(
        FirehoseStream.fromJsonFiles(spark, dir.getAbsolutePath),
        shortSec = 100, longSec = 300, threshold = 0.6,
        watermarkDelay = "0 seconds")
      .writeStream.format("memory").queryName("ratio_t").outputMode("update")
      .option("checkpointLocation", chk.getAbsolutePath)
      .start()
    try {
      q.processAllAvailable()
      Files.write(dir.toPath.resolve("b2.json"),
        Seq(
          metricJson("e3", "error_total", 150, "u1", 3.0),
          metricJson("v3", "view_total", 160, "u1", 16.0)).mkString("\n").getBytes)
      q.processAllAvailable()
      // nothing can emit while the long window is open
      assert(spark.table("ratio_t").isEmpty)
      Files.write(dir.toPath.resolve("b3.json"),
        Seq(
          metricJson("e4", "error_total", 250, "u1", 7.0),
          metricJson("v4", "view_total", 260, "u1", 20.0)).mkString("\n").getBytes)
      q.processAllAvailable()
      // push the watermark past 300 (applies during the NEXT batch)
      Files.write(dir.toPath.resolve("b4.json"),
        Seq(metricJson("v5", "view_total", 350, "u1", 21.0)).mkString("\n").getBytes)
      q.processAllAvailable()
      Files.write(dir.toPath.resolve("b5.json"),
        Seq(metricJson("v6", "view_total", 400, "u1", 22.0)).mkString("\n").getBytes)
      q.processAllAvailable()
      val streamed = spark.table("ratio_t").collect()
        .map(r => r.getAs[Long]("win_start") ->
          ((r.getAs[Double]("short_ratio"), r.getAs[Double]("long_ratio"),
            r.getAs[Int]("alert"))))
      // exactly once per window
      assert(streamed.map(_._1).distinct.length === streamed.length, s"dups: ${streamed.toSeq}")
      // batch parity over the SAME samples (the batch operator sees all
      // windows; the closed long window's rows must agree verbatim)
      val batchDf = spark.createDataFrame(Seq(
        ("e1", "error_total", 10L, 0.0), ("e2", "error_total", 50L, 2.0),
        ("e3", "error_total", 150L, 3.0), ("e4", "error_total", 250L, 7.0),
        ("v1", "view_total", 10L, 10.0), ("v2", "view_total", 60L, 14.0),
        ("v3", "view_total", 160L, 16.0), ("v4", "view_total", 260L, 20.0),
        ("v5", "view_total", 350L, 21.0), ("v6", "view_total", 400L, 22.0)))
        .toDF("id", "name", "timestamp", "value")
        .withColumn("component", lit("app"))
        .withColumn("tags", map(lit("user"), lit("u1")))
      val batch = graft.operators.Firehose.ratioAlert(
          batchDf, "error_total", "view_total",
          shortSec = 100, longSec = 300, threshold = 0.6)
        .filter(col("win_start") < 300)
        .collect()
        .map(r => r.getAs[Long]("win_start") ->
          ((r.getAs[Double]("short_ratio"), r.getAs[Double]("long_ratio"),
            r.getAs[Int]("alert")))).toMap
      assert(batch(200L)._3 === 1) // sanity: the planted alert fires
      assert(streamed.toMap === batch,
        s"streamed=${streamed.toSeq} batch=$batch")
    } finally q.stop()
  }

  test("transformWithState for-duration alert fires on k consecutive closed windows (batch parity)") {
    withRocksDb {
      val dir = Files.createTempDirectory("graft-tws-fd").toFile
      val chk = Files.createTempDirectory("graft-tws-fdchk").toFile
      // counter for u1, width 100, minIncrease 5, k 3:
      // wins 0,100,200 breach (+10 each) -> fire at 200; win 300 is a weak
      // +1 (streak reset); 400,500,600 breach again -> fire at 600; the
      // tail windows only advance the watermark
      def b(id: String, ts: Long, v: Double) = metricJson(id, "c_total", ts, "u1", v)
      Files.write(dir.toPath.resolve("b1.json"),
        Seq(b("1", 10, 0.0), b("2", 50, 10.0), b("3", 150, 20.0),
          b("4", 250, 30.0), b("5", 350, 31.0), b("6", 450, 40.0),
          b("7", 550, 50.0), b("8", 650, 60.0)).mkString("\n").getBytes)
      val q = graft.streaming.FirehoseTws.forDurationAlert(
          FirehoseStream.fromJsonFiles(spark, dir.getAbsolutePath),
          widthSec = 100, minIncrease = 5.0, k = 3,
          watermarkDelay = "0 seconds")
        .writeStream.format("memory").queryName("tws_fd_t").outputMode("append")
        .option("checkpointLocation", chk.getAbsolutePath)
        .start()
      try {
        q.processAllAvailable()
        Files.write(dir.toPath.resolve("b2.json"),
          Seq(b("9", 1000, 61.0)).mkString("\n").getBytes)
        q.processAllAvailable()
        Files.write(dir.toPath.resolve("b3.json"),
          Seq(b("10", 1100, 61.0)).mkString("\n").getBytes)
        q.processAllAvailable()
        val fires = spark.table("tws_fd_t").collect()
          .map(r => r.getAs[Long]("fire_win") -> r.getAs[Double]("increase"))
        assert(fires.map(_._1).distinct.length === fires.length, "a window fired twice")
        assert(fires.toMap === Map(200L -> 10.0, 600L -> 10.0), s"got ${fires.toSeq}")
        // batch parity over the SAME samples: the batch operator's fires
        // (restricted to windows the stream has closed) must be identical
        val batchMetrics = graft.sources.MetricJson.readJsonLines(spark, dir.getAbsolutePath)
        val batchFires = graft.operators.Firehose
          .forDurationAlert(batchMetrics, widthSec = 100, minIncrease = 5.0, k = 3)
          .collect().map(r => r.getAs[Long]("fire_win") -> r.getAs[Double]("increase"))
          .filter(_._1 + 100 <= 1100) // stream-closed windows only
        assert(batchFires.toMap === fires.toMap, s"batch ${batchFires.toSeq}")
      } finally q.stop()
    }
  }

  test("for-duration alert fires for a silent series via its re-armed timer") {
    withRocksDb {
      // u1 breaches three consecutive windows then goes silent; only u2's
      // unrelated traffic advances the watermark. u1's fire must still
      // emit — closure happens in handleExpiredTimer, not on u1 traffic.
      val dir = Files.createTempDirectory("graft-tws-fdidle").toFile
      val chk = Files.createTempDirectory("graft-tws-fdidlechk").toFile
      Files.write(dir.toPath.resolve("b1.json"),
        Seq(
          metricJson("1", "c_total", 10, "u1", 0.0),
          metricJson("2", "c_total", 50, "u1", 10.0),
          metricJson("3", "c_total", 150, "u1", 20.0),
          metricJson("4", "c_total", 250, "u1", 30.0)).mkString("\n").getBytes)
      val q = graft.streaming.FirehoseTws.forDurationAlert(
          FirehoseStream.fromJsonFiles(spark, dir.getAbsolutePath),
          widthSec = 100, minIncrease = 5.0, k = 3,
          watermarkDelay = "0 seconds")
        .writeStream.format("memory").queryName("tws_fdi_t").outputMode("append")
        .option("checkpointLocation", chk.getAbsolutePath)
        .start()
      try {
        q.processAllAvailable()
        // u2-only traffic pushes the watermark far past u1's windows
        Seq(500L, 900L).zipWithIndex.foreach { case (ts, i) =>
          Files.write(dir.toPath.resolve(s"adv$i.json"),
            Seq(metricJson(s"x$i", "c_total", ts, "u2", 1.0)).mkString("\n").getBytes)
          q.processAllAvailable()
        }
        val fires = spark.table("tws_fdi_t").collect()
          .map(r => (r.getAs[String]("series"), r.getAs[Long]("fire_win")))
        assert(fires.toSet === Set(("user=u1", 200L)), s"got ${fires.toSeq}")
      } finally q.stop()
    }
  }

  test("streaming predict_linear matches the batch trend as samples accumulate") {
    // OLS as one native streaming aggregation: after each micro-batch the
    // updated (slope, predicted) must equal the batch operator run over
    // every sample seen so far, to FP round-off (the two center x
    // differently — fixed base vs per-series min — which slope and the
    // extrapolation point are invariant to)
    val dir = Files.createTempDirectory("graft-pl").toFile
    val chk = Files.createTempDirectory("graft-plchk").toFile
    def b(id: String, ts: Long, v: Double) = metricJson(id, "c_total", ts, "u1", v)
    Files.write(dir.toPath.resolve("b1.json"),
      Seq(b("1", 100, 10.0), b("2", 200, 30.0), b("3", 300, 25.0))
        .mkString("\n").getBytes)
    val q = FirehoseStream.predictLinear(
        FirehoseStream.fromJsonFiles(spark, dir.getAbsolutePath),
        seriesCols = Seq("component", "name"),
        baseEpochSec = 0L, horizonSec = 600)
      .writeStream.format("memory").queryName("pl_t").outputMode("update")
      .option("checkpointLocation", chk.getAbsolutePath)
      .start()
    def latestStream(): (Double, Double) = {
      val r = spark.table("pl_t").orderBy(col("n").desc).collect().head
      (r.getAs[Double]("slope"), r.getAs[Double]("predicted"))
    }
    def batchNow(): (Double, Double) = {
      val m = graft.sources.MetricJson.readJsonLines(spark, dir.getAbsolutePath)
      val r = graft.operators.Firehose.predictLinear(
        m, Seq("component", "name"), col("timestamp"), col("value"), horizonSec = 600)
        .collect().head
      (r.getAs[Double]("slope"), r.getAs[Double]("predicted"))
    }
    def close(a: (Double, Double), b: (Double, Double)): Boolean =
      math.abs(a._1 - b._1) <= 1e-9 * math.max(1.0, math.abs(b._1)) &&
        math.abs(a._2 - b._2) <= 1e-9 * math.max(1.0, math.abs(b._2))
    try {
      q.processAllAvailable()
      assert(close(latestStream(), batchNow()), s"${latestStream()} vs ${batchNow()}")
      Files.write(dir.toPath.resolve("b2.json"),
        Seq(b("4", 400, 60.0), b("5", 500, 55.0)).mkString("\n").getBytes)
      q.processAllAvailable()
      val s2 = latestStream()
      assert(spark.table("pl_t").agg(max(col("n"))).collect().head.getLong(0) === 5L)
      assert(close(s2, batchNow()), s"$s2 vs ${batchNow()}")
    } finally q.stop()
  }

  test("transformWithState gap fill emits the dense forward-filled grid (batch parity)") {
    withRocksDb {
      val dir = Files.createTempDirectory("graft-tws-gf").toFile
      val chk = Files.createTempDirectory("graft-tws-gfchk").toFile
      // u1 samples at slots 0 and 200 (gap at 100), then 600, then 900;
      // wm closes slots progressively across batches + timers
      def b(id: String, ts: Long, v: Double) = metricJson(id, "c_total", ts, "u1", v)
      Files.write(dir.toPath.resolve("b1.json"),
        Seq(b("1", 10, 1.0), b("2", 250, 5.0)).mkString("\n").getBytes)
      val q = graft.streaming.FirehoseTws.gapFill(
          FirehoseStream.fromJsonFiles(spark, dir.getAbsolutePath),
          stepSec = 100, watermarkDelay = "0 seconds")
        .writeStream.format("memory").queryName("tws_gf_t").outputMode("append")
        .option("checkpointLocation", chk.getAbsolutePath)
        .start()
      try {
        q.processAllAvailable()
        Files.write(dir.toPath.resolve("b2.json"),
          Seq(b("3", 610, 7.0)).mkString("\n").getBytes)
        q.processAllAvailable()
        Files.write(dir.toPath.resolve("b3.json"),
          Seq(b("4", 950, 9.0)).mkString("\n").getBytes)
        q.processAllAvailable()
        val streamed = spark.table("tws_gf_t").collect()
          .map(r => r.getAs[Long]("slot") ->
            ((r.getAs[Double]("value"), r.getAs[Boolean]("filled")))).toSeq
        assert(streamed.map(_._1).distinct.length === streamed.length,
          s"a slot emitted twice: $streamed")
        // final wm = 950: slots through 800 are closed; slot 900 stays open
        assert(streamed.toMap === Map(
          0L -> ((1.0, false)), 100L -> ((1.0, true)), 200L -> ((5.0, false)),
          300L -> ((5.0, true)), 400L -> ((5.0, true)), 500L -> ((5.0, true)),
          600L -> ((7.0, false)), 700L -> ((7.0, true)), 800L -> ((7.0, true))),
          s"got ${streamed.sortBy(_._1)}")
        // batch parity over the same samples, restricted to closed slots
        val batchRows = graft.operators.Firehose.gapFill(
            graft.sources.MetricJson.readJsonLines(spark, dir.getAbsolutePath),
            stepSec = 100)
          .collect()
          .map(r => r.getAs[Long]("slot") ->
            ((r.getAs[Double]("value"), r.getAs[Boolean]("filled"))))
          .filter(_._1 <= 800L)
        assert(batchRows.toMap === streamed.toMap, s"batch ${batchRows.sortBy(_._1).toSeq}")
      } finally q.stop()
    }
  }

  test("streaming quantile_over_time tracks the batch exact quantile") {
    // the sketch agg must land on the batch operator's exact per-window
    // value for a small sample set (percentile_approx is exact when the
    // sample count is far below the accuracy parameter)
    val dir = Files.createTempDirectory("graft-qot").toFile
    val chk = Files.createTempDirectory("graft-qotchk").toFile
    def b(id: String, ts: Long, v: Double) = metricJson(id, "lat_ms", ts, "u1", v)
    Files.write(dir.toPath.resolve("b1.json"),
      (1 to 20).map(i => b(s"s$i", 100 + i, i * 10.0)).mkString("\n").getBytes)
    val q = FirehoseStream.quantileOverTime(
        FirehoseStream.fromJsonFiles(spark, dir.getAbsolutePath),
        q = 0.9, width = "1 hour")
      .writeStream.format("memory").queryName("qot_t").outputMode("update")
      .option("checkpointLocation", chk.getAbsolutePath)
      .start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("qot_t")
        .orderBy(col("n_samples").desc).collect().head
      assert(streamed.getAs[Long]("n_samples") === 20L)
      val batch = graft.operators.Firehose.quantileOverTime(
          graft.sources.MetricJson.readJsonLines(spark, dir.getAbsolutePath),
          q = 0.9, widthSec = 3600)
        .collect().head
      val exact = batch.getAs[Double]("q_value")
      val approx = streamed.getAs[Double]("q_value")
      assert(math.abs(approx - exact) <= 0.05 * math.abs(exact),
        s"sketch $approx vs exact $exact")
    } finally q.stop()
  }

  test("streaming irate/delta matches the batch endpoint arithmetic across batches") {
    val dir = Files.createTempDirectory("graft-irate").toFile
    val chk = Files.createTempDirectory("graft-iratechk").toFile
    def b(id: String, ts: Long, v: Double) = metricJson(id, "c_total", ts, "u1", v)
    Files.write(dir.toPath.resolve("b1.json"),
      Seq(b("s1", 100, 10.0), b("s2", 200, 20.0)).mkString("\n").getBytes)
    val q = FirehoseStream.irateDelta(
        FirehoseStream.fromJsonFiles(spark, dir.getAbsolutePath), width = "1 hour")
      .writeStream.format("memory").queryName("irate_t").outputMode("update")
      .option("checkpointLocation", chk.getAbsolutePath)
      .start()
    try {
      q.processAllAvailable()
      // the second micro-batch lands the reset pair (20 → 14): the state
      // list must merge across batches before the endpoint finish
      Files.write(dir.toPath.resolve("b2.json"),
        Seq(b("s3", 300, 14.0)).mkString("\n").getBytes)
      q.processAllAvailable()
      val streamed = spark.table("irate_t").orderBy(col("n_samples").desc).collect().head
      val batch = graft.operators.Firehose.irateDelta(
          graft.sources.MetricJson.readJsonLines(spark, dir.getAbsolutePath))
        .collect().head
      assert(streamed.getAs[Long]("n_samples") === 3L)
      for (f <- Seq("delta", "idelta", "irate"))
        assert(streamed.getAs[Double](f) === batch.getAs[Double](f), f)
      assert(batch.getAs[Double]("irate") === 0.14) // reset clamp: 14/(300−200)
    } finally q.stop()
  }

  test("streaming over-time family matches the batch aggregates across batches") {
    val dir = Files.createTempDirectory("graft-ota").toFile
    val chk = Files.createTempDirectory("graft-otachk").toFile
    def b(id: String, ts: Long, v: Double) = metricJson(id, "g", ts, "u1", v)
    // decimal sums and the (ts, id)-tiebroken last must merge across the
    // micro-batch split; the tie pair lands in the SECOND batch
    Files.write(dir.toPath.resolve("b1.json"),
      Seq(b("s1", 100, 1.0), b("s2", 200, 2.0)).mkString("\n").getBytes)
    val q = FirehoseStream.overTimeAgg(
        FirehoseStream.fromJsonFiles(spark, dir.getAbsolutePath), width = "1 hour")
      .writeStream.format("memory").queryName("ota_t").outputMode("update")
      .option("checkpointLocation", chk.getAbsolutePath)
      .start()
    try {
      q.processAllAvailable()
      Files.write(dir.toPath.resolve("b2.json"),
        Seq(b("s3", 300, 3.0), b("a1", 300, 7.0), b("a2", 300, 4.0))
          .mkString("\n").getBytes)
      q.processAllAvailable()
      val streamed = spark.table("ota_t")
        .orderBy(col("n_samples").desc).collect().head
      val batch = graft.operators.Firehose.overTimeAgg(
          graft.sources.MetricJson.readJsonLines(spark, dir.getAbsolutePath))
        .collect().head
      assert(streamed.getAs[Long]("n_samples") === 5L)
      for (f <- Seq("min_value", "max_value", "sum_value", "sumsq_value",
          "last_value", "avg_value", "stdvar_value", "stddev_value"))
        assert(streamed.getAs[Double](f) === batch.getAs[Double](f), f)
      // the same-ts tie at 300 resolves by string id: "s3" > "a2" > "a1"
      assert(batch.getAs[Double]("last_value") === 3.0)
    } finally q.stop()
  }

  test("streaming count_values matches the batch distinct-value counts") {
    val dir = Files.createTempDirectory("graft-cv").toFile
    val chk = Files.createTempDirectory("graft-cvchk").toFile
    def b(id: String, ts: Long, v: Double) = metricJson(id, "c_total", ts, "u1", v)
    Files.write(dir.toPath.resolve("b1.json"),
      Seq(b("s1", 100, 7.0), b("s2", 200, 7.0)).mkString("\n").getBytes)
    val q = FirehoseStream.countValues(
        FirehoseStream.fromJsonFiles(spark, dir.getAbsolutePath), width = "1 hour")
      .writeStream.format("memory").queryName("cv_t").outputMode("update")
      .option("checkpointLocation", chk.getAbsolutePath)
      .start()
    try {
      q.processAllAvailable()
      // the third 7.0 lands in a SECOND micro-batch: the count must merge
      Files.write(dir.toPath.resolve("b2.json"),
        Seq(b("s3", 300, 7.0), b("s4", 300, 9.0)).mkString("\n").getBytes)
      q.processAllAvailable()
      val streamed = spark.table("cv_t")
        .groupBy("value").agg(max("n").as("n")).collect()
        .map(r => r.getAs[Double]("value") -> r.getAs[Long]("n")).toMap
      val batch = graft.operators.Firehose.countValues(
          graft.sources.MetricJson.readJsonLines(spark, dir.getAbsolutePath))
        .collect()
        .map(r => r.getAs[Double]("value") -> r.getAs[Long]("n")).toMap
      assert(streamed === batch && batch === Map(7.0 -> 3L, 9.0 -> 1L))
    } finally q.stop()
  }

  test("streaming instant agg chains two stateful ops and matches batch on the closed window") {
    val dir = Files.createTempDirectory("graft-ia").toFile
    val chk = Files.createTempDirectory("graft-iachk").toFile
    def b(id: String, ts: Long, u: String, v: Double) = metricJson(id, "c_total", ts, u, v)
    // three series (users) in window [0, 3600): u1's last is 30 (two
    // samples, max_by must pick ts=300), u2=5, u3=10
    Files.write(dir.toPath.resolve("b1.json"),
      Seq(b("s1", 100, "u1", 10.0), b("s2", 300, "u1", 30.0),
        b("s3", 200, "u2", 5.0)).mkString("\n").getBytes)
    val q = FirehoseStream.instantAgg(
        FirehoseStream.fromJsonFiles(spark, dir.getAbsolutePath), width = "1 hour")
      .writeStream.format("memory").queryName("ia_t").outputMode("append")
      .option("checkpointLocation", chk.getAbsolutePath)
      .start()
    try {
      q.processAllAvailable()
      // u3 lands in a SECOND micro-batch (per-series state must merge);
      // the far-future sample advances the watermark past 3600 + delay so
      // the first window closes through BOTH stateful operators
      Files.write(dir.toPath.resolve("b2.json"),
        Seq(b("s4", 900, "u3", 10.0), b("s5", 9000, "u9", 1.0)).mkString("\n").getBytes)
      q.processAllAvailable()
      val streamed = spark.table("ia_t").filter(col("n_series") === 3).collect().head
      val batch = graft.operators.Firehose.instantAgg(
          graft.sources.MetricJson.readJsonLines(spark, dir.getAbsolutePath)
            .filter(col("timestamp") < 3600))
        .collect().head
      for (f <- Seq("min_value", "max_value", "sum_value", "q_value", "avg_value"))
        assert(streamed.getAs[Double](f) === batch.getAs[Double](f), f)
      assert(streamed.getAs[Long]("n_series") === batch.getAs[Long]("n_series"))
      assert(batch.getAs[Double]("q_value") === 10.0) // median of {30, 5, 10}
    } finally q.stop()
  }

  test("streaming holt winters matches the batch fold across batch splits") {
    val dir = Files.createTempDirectory("graft-hw").toFile
    val chk = Files.createTempDirectory("graft-hwchk").toFile
    def b(id: String, ts: Long, v: Double) = metricJson(id, "c_total", ts, "u1", v)
    Files.write(dir.toPath.resolve("b1.json"),
      Seq(b("s1", 100, 10.0), b("s2", 200, 20.0)).mkString("\n").getBytes)
    val q = FirehoseStream.holtWinters(
        FirehoseStream.fromJsonFiles(spark, dir.getAbsolutePath), width = "1 hour")
      .writeStream.format("memory").queryName("hw_t").outputMode("update")
      .option("checkpointLocation", chk.getAbsolutePath)
      .start()
    try {
      q.processAllAvailable()
      // the third sample arrives in a SECOND micro-batch: the state list
      // must merge and re-sort before the sequential fold
      Files.write(dir.toPath.resolve("b2.json"),
        Seq(b("s3", 300, 14.0)).mkString("\n").getBytes)
      q.processAllAvailable()
      val streamed = spark.table("hw_t").orderBy(col("n_samples").desc).collect().head
      val batch = graft.operators.Firehose.holtWinters(
          graft.sources.MetricJson.readJsonLines(spark, dir.getAbsolutePath))
        .collect().head
      assert(streamed.getAs[Long]("n_samples") === 3L)
      assert(streamed.getAs[Double]("smoothed") === batch.getAs[Double]("smoothed"))
      assert(batch.getAs[Double]("smoothed") === 22.0) // 0.5·14 + 0.5·(20+10)
    } finally q.stop()
  }

  test("ratio alert emits an idle series' parked long window via its re-armed timer") {
    // u1 posts both counters inside long window [0, 300) then goes silent;
    // only u2's unrelated traffic advances the watermark. u1's rows must
    // still emit — the state re-arms its event-time timer to the long
    // window's end instead of waiting for traffic that never comes.
    val dir = Files.createTempDirectory("graft-ratio-idle").toFile
    val chk = Files.createTempDirectory("graft-ratio-idlechk").toFile
    Files.write(dir.toPath.resolve("b1.json"),
      Seq(
        metricJson("e1", "error_total", 10, "u1", 0.0),
        metricJson("e2", "error_total", 50, "u1", 4.0),
        metricJson("v1", "view_total", 20, "u1", 0.0),
        metricJson("v2", "view_total", 60, "u1", 5.0)).mkString("\n").getBytes)
    val q = FirehoseStream.ratioAlertClosed(
        FirehoseStream.fromJsonFiles(spark, dir.getAbsolutePath),
        shortSec = 100, longSec = 300, threshold = 0.6,
        watermarkDelay = "0 seconds")
      .writeStream.format("memory").queryName("ratio_idle_t").outputMode("update")
      .option("checkpointLocation", chk.getAbsolutePath)
      .start()
    try {
      q.processAllAvailable()
      // u2-only traffic pushes the watermark far past u1's long window
      Seq(500L, 700L, 900L).zipWithIndex.foreach { case (ts, i) =>
        Files.write(dir.toPath.resolve(s"adv$i.json"),
          Seq(metricJson(s"a$i", "view_total", ts, "u2", i.toDouble)).mkString("\n").getBytes)
        q.processAllAvailable()
      }
      val u1 = spark.table("ratio_idle_t")
        .filter(col("series").contains("u1")).collect()
        .map(r => r.getAs[Long]("win_start") ->
          ((r.getAs[Double]("short_ratio"), r.getAs[Int]("alert"))))
      // window 0: err inc 4, view inc 5 → ratio 0.8; long ratio 0.8 > 0.6
      assert(u1.toMap === Map(0L -> ((0.8, 1))), s"got ${u1.toSeq}")
      assert(u1.length === 1)
    } finally q.stop()
  }

  test("streaming absent alert flags gaps and silence via timers, late data cancels") {
    val dir = Files.createTempDirectory("graft-absent").toFile
    val chk = Files.createTempDirectory("graft-absentchk").toFile
    // width 100, watermark delay 200 s. u1 present in windows 0 and 300 —
    // window 100 would be a gap, but a LATE in-watermark sample at ts 150
    // (batch 2; the wm after batch 1 is 310-200=110, so 150 is admitted
    // and window 100's presence is still undecided at wm 110) fills it,
    // so only window 200 flags. u1 then goes silent; u2's traffic drives
    // the watermark so u1's trailing window 400 emits via its timer.
    Files.write(dir.toPath.resolve("b1.json"),
      Seq(
        metricJson("1", "c_total", 10, "u1", 1.0),
        metricJson("2", "c_total", 310, "u1", 2.0)).mkString("\n").getBytes)
    val q = FirehoseStream.absentAlert(
        FirehoseStream.fromJsonFiles(spark, dir.getAbsolutePath),
        widthSec = 100, watermarkDelay = "200 seconds")
      .writeStream.format("memory").queryName("absent_t").outputMode("update")
      .option("checkpointLocation", chk.getAbsolutePath)
      .start()
    try {
      q.processAllAvailable()
      // late but in-watermark: wm is now 110 (310 - 200 s delay), 150 >= 110
      Files.write(dir.toPath.resolve("b2.json"),
        Seq(metricJson("3", "c_total", 150, "u1", 3.0)).mkString("\n").getBytes)
      q.processAllAvailable()
      // u2 pushes the watermark far past u1's horizon (a batch's own max
      // only becomes the watermark for the NEXT batch)
      Seq(800L, 1600L, 2400L).zipWithIndex.foreach { case (ts, i) =>
        Files.write(dir.toPath.resolve(s"adv$i.json"),
          Seq(metricJson(s"a$i", "c_total", ts, "u2", 1.0)).mkString("\n").getBytes)
        q.processAllAvailable()
      }
      val u1 = spark.table("absent_t").filter(col("series").contains("u1"))
        .collect().map(_.getAs[Long]("absent_win")).sorted
      // window 100 filled late → NOT flagged; gap first-missing 200 flags;
      // trailing silence flags 400 via the timer
      assert(u1.toSeq === Seq(200L, 400L), s"got ${u1.toSeq}")
    } finally q.stop()
  }

  test("streaming counter increase finalizes windows below the watermark and prunes state") {
    val dir = Files.createTempDirectory("graft-inc-fin").toFile
    val chk = Files.createTempDirectory("graft-inc-finchk").toFile
    // 0-second watermark delay: after batch 1 the watermark is at ts 200,
    // so sample 100 freezes into the finalized sum and the buffer shrinks;
    // batch 2 keeps accumulating into the same window across the freeze
    Files.write(dir.toPath.resolve("b1.json"),
      Seq(
        metricJson("1", "c_total", 100, "u1", 10.0),
        metricJson("2", "c_total", 200, "u1", 15.0)).mkString("\n").getBytes)
    val q = FirehoseStream.counterIncrease(
        FirehoseStream.fromJsonFiles(spark, dir.getAbsolutePath),
        widthSec = 3600, watermarkDelay = "0 seconds")
      .writeStream.format("memory").queryName("inc_fin_t").outputMode("update")
      .option("checkpointLocation", chk.getAbsolutePath)
      .start()
    try {
      q.processAllAvailable()
      def latest(): Map[Long, Double] = spark.table("inc_fin_t")
        .groupBy("win_start").agg(last(col("increase")).as("v"))
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(latest() === Map(0L -> 5.0))
      // reset (15 → 3, clamps to 3) then +4: window total 5 + 3 + 4 = 12,
      // spanning the frozen/live boundary
      Files.write(dir.toPath.resolve("b2.json"),
        Seq(
          metricJson("3", "c_total", 300, "u1", 3.0),
          metricJson("4", "c_total", 400, "u1", 7.0)).mkString("\n").getBytes)
      q.processAllAvailable()
      assert(latest() === Map(0L -> 12.0))
    } finally q.stop()
  }

  test("streaming tumbling window aggregates per series name") {
    val dir = Files.createTempDirectory("graft-stream2").toFile
    val chk = Files.createTempDirectory("graft-chk2").toFile
    Files.write(dir.toPath.resolve("b1.json"),
      Seq(
        metricJson("1", "m", 0, "u1", 1.0),
        metricJson("2", "m", 30, "u2", 3.0),
        metricJson("3", "m", 70, "u1", 5.0)).mkString("\n").getBytes)
    val q = FirehoseStream.windowAgg(
        FirehoseStream.fromJsonFiles(spark, dir.getAbsolutePath))
      .writeStream.format("memory").queryName("winagg_t").outputMode("append")
      .option("checkpointLocation", chk.getAbsolutePath)
      .start()
    try {
      q.processAllAvailable()
      // append mode only emits closed windows; with a 10m watermark nothing
      // closes yet — assert the query runs and state is formed
      assert(q.lastProgress != null)
    } finally q.stop()
  }

  test("streaming hopping windows match the batch sliding aggregation") {
    val dir = Files.createTempDirectory("graft-hop").toFile
    val chk = Files.createTempDirectory("graft-hopchk").toFile
    // 60 s windows hopping every 30 s: ts 70 → wins {30, 60}, ts 100 →
    // {60, 90}, ts 130 → {90, 120}; ts ≥ width so the truncating integer
    // division in the batch form is exact
    Files.write(dir.toPath.resolve("b1.json"),
      Seq(
        metricJson("1", "m", 70, "u1", 1.0),
        metricJson("2", "m", 100, "u1", 3.0),
        metricJson("3", "m", 130, "u2", 5.0)).mkString("\n").getBytes)
    val q = FirehoseStream.slidingWindowAgg(
        FirehoseStream.fromJsonFiles(spark, dir.getAbsolutePath),
        width = "60 seconds", slide = "30 seconds", watermarkDelay = "0 seconds")
      .writeStream.format("memory").queryName("hop_t").outputMode("update")
      .option("checkpointLocation", chk.getAbsolutePath)
      .start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("hop_t")
        .groupBy(unix_timestamp(col("win_start")).as("w"), col("name"))
        .agg(last(col("n")).as("n"), last(col("sum_value")).as("s"))
        .collect().map(r => (r.getLong(0), r.getLong(2), r.getDouble(3))).toSet
      val batchDf = spark.createDataFrame(Seq(
        ("app", "m_total", 70L, 1.0),
        ("app", "m_total", 100L, 3.0),
        ("app", "m_total", 130L, 5.0)))
        .toDF("component", "name", "timestamp", "value")
      val batch = graft.operators.Firehose.slidingWindowAgg(batchDf, 60, 30)
        .collect().map(r => (r.getAs[Long]("win_start"),
          r.getAs[Long]("n"), r.getAs[Double]("sum_value"))).toSet
      assert(batch.map(_._1) === Set(30L, 60L, 90L, 120L))
      assert(streamed === batch,
        s"hopping windows diverged: streamed=$streamed batch=$batch")
    } finally q.stop()
  }

  test("streaming histogram buckets match the batch bucket classification") {
    val dir = Files.createTempDirectory("graft-hist").toFile
    val chk = Files.createTempDirectory("graft-histchk").toFile
    // values 40, 60, 450 with boundaries (50, 100, ...): buckets 50, 100, +Inf;
    // all samples inside one 1-minute window so global batch counts apply
    Files.write(dir.toPath.resolve("b1.json"),
      Seq(
        metricJson("1", "lat", 10, "u1", 40.0),
        metricJson("2", "lat", 20, "u1", 60.0),
        metricJson("3", "lat", 30, "u2", 450.0),
        metricJson("4", "lat", 40, "u2", 45.0)).mkString("\n").getBytes)
    val q = FirehoseStream.histogramBuckets(
        FirehoseStream.fromJsonFiles(spark, dir.getAbsolutePath),
        watermarkDelay = "0 seconds")
      .writeStream.format("memory").queryName("hist_t").outputMode("update")
      .option("checkpointLocation", chk.getAbsolutePath)
      .start()
    try {
      q.processAllAvailable()
      // second batch accumulates into the same window's buckets
      Files.write(dir.toPath.resolve("b2.json"),
        Seq(metricJson("5", "lat", 50, "u1", 42.0)).mkString("\n").getBytes)
      q.processAllAvailable()
      val streamed = spark.table("hist_t")
        .groupBy("win_start", "name", "le").agg(last(col("n")).as("n"))
        .select("le", "n")
        .collect().map(r => r.getDouble(0) -> r.getLong(1)).toMap
      // batch classification of the same five samples via the shared
      // bucket expression
      import spark.implicits._
      val batch = Seq(40.0, 60.0, 450.0, 45.0, 42.0).toDF("value")
        .select(graft.operators.Firehose.bucketLe(col("value")).as("le"))
        .groupBy("le").count()
        .collect().map(r => r.getDouble(0) -> r.getLong(1)).toMap
      assert(batch === Map(50.0 -> 3L, 100.0 -> 1L, Double.PositiveInfinity -> 1L))
      assert(streamed === batch, s"streamed=$streamed batch=$batch")
    } finally q.stop()
  }

  test("streaming session windows group per series with gap semantics") {
    val dir = Files.createTempDirectory("graft-sess").toFile
    val chk = Files.createTempDirectory("graft-sesschk").toFile
    // two sessions for "m": ts 0 and 60 (same session, gap 30m), ts 10000 (new)
    Files.write(dir.toPath.resolve("b1.json"),
      Seq(
        metricJson("1", "m", 0, "u1", 1.0),
        metricJson("2", "m", 60, "u1", 2.0),
        metricJson("3", "m", 10000, "u1", 4.0)).mkString("\n").getBytes)
    val q = FirehoseStream.sessionAgg(
        FirehoseStream.fromJsonFiles(spark, dir.getAbsolutePath),
        gap = "30 minutes", watermarkDelay = "0 seconds")
      .writeStream.format("memory").queryName("sess_t").outputMode("append")
      .option("checkpointLocation", chk.getAbsolutePath)
      .start()
    try {
      q.processAllAvailable()
      // advance the watermark so the sessions close and emit
      Files.write(dir.toPath.resolve("b2.json"),
        Seq(metricJson("4", "m", 50000, "u1", 0.5)).mkString("\n").getBytes)
      q.processAllAvailable()
      val rows = spark.table("sess_t")
        .select("n_events", "sum_value").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSet
      assert(rows.contains((2L, 3.0)), s"missing merged session in $rows") // ts 0+60
      assert(rows.contains((1L, 4.0)), s"missing second session in $rows") // ts 10000
    } finally q.stop()
  }

  test("streaming landing sink writes component/date-partitioned parquet") {
    val dir = Files.createTempDirectory("graft-land-in").toFile
    val out = Files.createTempDirectory("graft-land-out").toFile.getAbsolutePath + "/landed"
    val chk = Files.createTempDirectory("graft-landchk").toFile
    Files.write(dir.toPath.resolve("b1.json"),
      Seq(
        metricJson("1", "m", 1704067200, "u1", 1.0),   // 2024-01-01
        metricJson("2", "m", 1704153600, "u1", 2.0)).mkString("\n").getBytes) // 2024-01-02
    val q = FirehoseStream.landingSink(
        FirehoseStream.fromJsonFiles(spark, dir.getAbsolutePath), out)
      .option("checkpointLocation", chk.getAbsolutePath)
      .start()
    try {
      q.processAllAvailable()
      val landed = spark.read.parquet(out)
      assert(landed.count() === 2)
      val dates = landed.select("event_date").collect().map(_.get(0).toString).sorted
      assert(dates.toSeq === Seq("2024-01-01", "2024-01-02"))
      // partition directories exist → downstream partition pruning works
      val dirs = new java.io.File(out + "/component=app").list()
      assert(dirs.count(_.startsWith("event_date=")) === 2, dirs.mkString(","))
    } finally q.stop()
  }

  test("landed parquet feeds the batch operators identically to the live parse") {
    // the full pipeline story: stream lands partitioned parquet, the batch
    // OLAP layer queries the landed table — results must equal running the
    // same operators over the directly-parsed stream
    val dir = Files.createTempDirectory("graft-rt-in").toFile
    val out = Files.createTempDirectory("graft-rt-out").toFile.getAbsolutePath + "/landed"
    val chk = Files.createTempDirectory("graft-rtchk").toFile
    val lines = Seq(
      metricJson("1", "c_total", 1704067200, "u1", 10.0),
      metricJson("2", "c_total", 1704067500, "u1", 25.0),
      metricJson("3", "c_total", 1704070900, "u1", 5.0), // reset
      metricJson("4", "g", 1704067200, "u2", 7.0),
      metricJson("5", "g", 1704067300, "u2", 3.0))
    Files.write(dir.toPath.resolve("b1.json"), lines.mkString("\n").getBytes)
    val q = FirehoseStream.landingSink(
        FirehoseStream.fromJsonFiles(spark, dir.getAbsolutePath), out)
      .option("checkpointLocation", chk.getAbsolutePath)
      .start()
    try q.processAllAvailable() finally q.stop()
    val landed = spark.read.parquet(out).drop("event_date")
    val direct = graft.sources.MetricJson.parse(
      spark.createDataFrame(lines.map(Tuple1(_))).toDF("value"), "value")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    assert(
      canon(graft.operators.Firehose.gaugeLatest(landed)) ===
        canon(graft.operators.Firehose.gaugeLatest(direct)))
    assert(
      canon(graft.operators.Firehose.counterIncrease(landed)) ===
        canon(graft.operators.Firehose.counterIncrease(direct)))
    assert(
      canon(graft.operators.Firehose.resetsChanges(landed)) ===
        canon(graft.operators.Firehose.resetsChanges(direct)))
  }

  test("landing compaction rewrites many small files into few, content-preserving") {
    val dir = Files.createTempDirectory("graft-comp-in").toFile
    val out = Files.createTempDirectory("graft-comp-out").toFile.getAbsolutePath + "/landed"
    val compacted = Files.createTempDirectory("graft-comp-c").toFile.getAbsolutePath + "/compacted"
    val chk = Files.createTempDirectory("graft-compchk").toFile
    // five micro-batches → ≥5 files in the same partition directory
    val q = FirehoseStream.landingSink(
        FirehoseStream.fromJsonFiles(spark, dir.getAbsolutePath), out)
      .option("checkpointLocation", chk.getAbsolutePath)
      .start()
    try {
      (1 to 5).foreach { b =>
        Files.write(dir.toPath.resolve(s"b$b.json"),
          Seq(metricJson(s"$b", "m", 1704067200 + b, "u1", b.toDouble)).mkString("\n").getBytes)
        q.processAllAvailable()
      }
    } finally q.stop()
    val before = spark.read.parquet(out)
    assert(before.inputFiles.length >= 5, s"expected many small files, got ${before.inputFiles.length}")
    val stats = graft.sources.Landing.compact(
      spark, out, compacted, partitionCols = Seq("component", "event_date"))
    assert(stats.rows === 5)
    assert(stats.outputFiles < stats.inputFiles,
      s"no compaction: ${stats.inputFiles} -> ${stats.outputFiles}")
    // content preserved exactly
    val a = before.selectExpr("id", "value").collect().map(_.toString).sorted.toSeq
    val b = spark.read.parquet(compacted).selectExpr("id", "value")
      .collect().map(_.toString).sorted.toSeq
    assert(a === b)
    // partition layout preserved → pruning still works downstream
    assert(new java.io.File(compacted + "/component=app").exists())
  }

  test("streaming dedup keeps first occurrence per key with bounded state") {
    val dir = Files.createTempDirectory("graft-dedup").toFile
    val chk = Files.createTempDirectory("graft-dchk").toFile
    Files.write(dir.toPath.resolve("b1.json"),
      Seq(
        metricJson("a", "m", 1000, "u1", 1.0),
        metricJson("a", "m", 1001, "u1", 2.0), // dup id within watermark
        metricJson("b", "m", 1002, "u2", 3.0)).mkString("\n").getBytes)
    val q = FirehoseStream.streamingDedup(
        FirehoseStream.fromJsonFiles(spark, dir.getAbsolutePath), Seq("id"))
      .writeStream.format("memory").queryName("dedup_t").outputMode("append")
      .option("checkpointLocation", chk.getAbsolutePath)
      .start()
    try {
      q.processAllAvailable()
      val ids = spark.table("dedup_t").select("id").collect().map(_.getString(0)).sorted
      assert(ids.toSeq === Seq("a", "b"))
    } finally q.stop()
  }

  test("stream-stream interval join matches events within the window") {
    val ldir = Files.createTempDirectory("graft-ij-l").toFile
    val rdir = Files.createTempDirectory("graft-ij-r").toFile
    val chk = Files.createTempDirectory("graft-ijchk").toFile
    // left purchase at t=1000; right clicks at 700 (in window) and 100 (out)
    Files.write(ldir.toPath.resolve("l.json"),
      Seq(metricJson("p1", "purchase", 1000, "u1", 9.0)).mkString("\n").getBytes)
    Files.write(rdir.toPath.resolve("r.json"),
      Seq(
        metricJson("c1", "click", 700, "u1", 1.0),
        metricJson("c2", "click", 100, "u1", 2.0)).mkString("\n").getBytes)
    val joined = FirehoseStream.intervalJoin(
      FirehoseStream.fromJsonFiles(spark, ldir.getAbsolutePath)
        .withColumn("user", col("tags").getItem("user")),
      FirehoseStream.fromJsonFiles(spark, rdir.getAbsolutePath)
        .withColumn("user", col("tags").getItem("user")),
      key = "user", window = "10 minutes")
    val q = joined.writeStream.format("memory").queryName("ij_t").outputMode("append")
      .option("checkpointLocation", chk.getAbsolutePath)
      .start()
    try {
      q.processAllAvailable()
      val pairs = spark.table("ij_t").select("l_id", "r_id")
        .collect().map(r => (r.getString(0), r.getString(1))).toSet
      assert(pairs === Set(("p1", "c1"))) // c2 is outside the 10-minute window
    } finally q.stop()
  }

  test("wav decode runs identically under a file stream and in batch") {
    // the multimodal decoders are engine-native: the same decodeWavPcm16
    // drives the batch mapPartitions path and a stateless typed flatMap
    // that a streaming landing-zone ingest uses — results must be equal
    val payloadDir = Files.createTempDirectory("graft-wav-stream").toFile
    val chk = Files.createTempDirectory("graft-wav-chk").toFile
    val docs = Tables(spark, sfDir, "documents").limit(50)
    val payloads = graft.operators.Multimodal.asWav(docs)
    payloads.write.mode("overwrite").parquet(payloadDir.getAbsolutePath)
    val stream = spark.readStream
      .schema(payloads.schema)
      .parquet(payloadDir.getAbsolutePath)
    val q = graft.operators.Multimodal.wavFeaturesStreaming(stream)
      .writeStream.format("memory").queryName("wav_t").outputMode("append")
      .option("checkpointLocation", chk.getAbsolutePath)
      .start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("wav_t").collect().map(_.toString).sorted.toSeq
      val batch = graft.operators.Multimodal
        .wavFeatures(spark.read.parquet(payloadDir.getAbsolutePath))
        .collect().map(_.toString).sorted.toSeq
      assert(streamed.size === 50)
      assert(streamed === batch)
    } finally q.stop()
  }

  test("passage stripping runs identically on streamed micro-batches against a landed index") {
    // d23's streaming sibling: the duplicate-passage index is landed once
    // by ingest; each arriving micro-batch is stripped against it inside
    // foreachBatch (the reference's per-batch endOfSet() shape). The apply
    // half is the SAME stripWithIndex as batch — results must match
    // row-for-row
    val dir = Files.createTempDirectory("graft-strip").toFile
    val chk = Files.createTempDirectory("graft-strip-chk").toFile
    val docs = Tables(spark, sfDir, "documents").limit(100).select("doc_id", "text")
    docs.write.mode("overwrite").parquet(dir.getAbsolutePath + "/docs")
    graft.operators.Dedup.dupPassageIndex(docs).write.parquet(dir.getAbsolutePath + "/pidx")
    val landed = spark.read.parquet(dir.getAbsolutePath + "/pidx")
    val expected = graft.operators.Dedup.stripWithIndex(docs, landed)
      .collect().map(_.toString).sorted.toSeq
    val out = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val stream = spark.readStream.schema(docs.schema).parquet(dir.getAbsolutePath + "/docs")
    val q = stream.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        graft.operators.Dedup.stripWithIndex(batch.toDF(), landed)
          .collect().foreach(r => out.add(r.toString))
        ()
      }
      .option("checkpointLocation", chk.getAbsolutePath)
      .start()
    try {
      q.processAllAvailable()
      assert(out.toArray(Array.empty[String]).sorted.toSeq === expected)
    } finally q.stop()
  }

  test("CDC merge applies streamed changesets onto the landed snapshot sequentially") {
    // p4's streaming sibling: each arriving changeset micro-batch MERGEs
    // into the current snapshot version inside foreachBatch — the
    // standard lakehouse streaming-upsert sink shape. The second batch
    // updates a row the FIRST batch inserted and deletes a base row, so
    // the expected state is reachable only by sequential per-batch apply
    // (a single combined apply would no-op the update and insert the
    // original row instead).
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-cdc").toFile
    val chk = Files.createTempDirectory("graft-cdc-chk").toFile
    val snapRoot = dir.getAbsolutePath + "/snap"
    val chgDir = dir.toPath.resolve("chg")
    Files.createDirectories(chgDir)
    Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0)).toDF("k", "name", "v")
      .write.parquet(snapRoot + "/v0")
    val version = new java.util.concurrent.atomic.AtomicInteger(0)
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "k BIGINT, op STRING, name STRING, v DOUBLE")
    val q = spark.readStream.schema(schema).json(chgDir.toString)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        if (!batch.isEmpty) {
          val cur = version.get()
          val snap = spark.read.parquet(s"$snapRoot/v$cur")
          graft.operators.Curate.mergeUpsert(snap, batch.toDF(), "k")
            .write.parquet(s"$snapRoot/v${cur + 1}")
          version.incrementAndGet()
        }
        ()
      }
      .option("checkpointLocation", chk.getAbsolutePath)
      .start()
    try {
      Files.write(chgDir.resolve("b1.json"),
        Seq(
          """{"k":1,"op":"U","name":"a2","v":11.0}""",
          """{"k":4,"op":"I","name":"d","v":40.0}""").mkString("\n").getBytes)
      q.processAllAvailable()
      Files.write(chgDir.resolve("b2.json"),
        Seq(
          """{"k":4,"op":"U","name":"d2","v":41.0}""",
          """{"k":2,"op":"D","name":"b","v":20.0}""").mkString("\n").getBytes)
      q.processAllAvailable()
      assert(version.get() === 2)
      val fin = spark.read.parquet(s"$snapRoot/v2")
        .as[(Long, String, Double)].collect().toSet
      assert(fin === Set((1L, "a2", 11.0), (3L, "c", 30.0), (4L, "d2", 41.0)))
    } finally q.stop()
  }

  test("exposition sink renders prometheus text per micro-batch") {
    val dir = Files.createTempDirectory("graft-stream3").toFile
    val chk = Files.createTempDirectory("graft-chk3").toFile
    Files.write(dir.toPath.resolve("b1.json"),
      Seq(metricJson("1", "bytes_total", 1000, "u1", 12.5)).mkString("\n").getBytes)
    val collected = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val gauges = FirehoseStream.gaugeLatest(
      FirehoseStream.fromJsonFiles(spark, dir.getAbsolutePath), "0 seconds")
    val q = FirehoseStream.expositionSink(gauges, lines => lines.foreach(collected.add))
      .option("checkpointLocation", chk.getAbsolutePath)
      .start()
    try {
      q.processAllAvailable()
      val lines = collected.toArray(Array.empty[String])
      assert(lines.exists(_.startsWith("app_bytes_total{user=\"u1\"} 12.5 ")))
    } finally q.stop()
  }

  test("streaming checkpoint key-format guard: stamps fresh dirs, accepts " +
      "its own stamp, refuses foreign-format or pre-stamp checkpoints") {
    import graft.operators.Firehose
    // fresh directory: stamped and accepted
    val fresh = Files.createTempDirectory("graft-kfmt").toFile.getAbsolutePath
    FirehoseStream.ensureCheckpointKeyFormat(spark, fresh)
    val marker = new java.io.File(fresh, "_graft_key_format")
    assert(marker.exists())
    assert(Files.readString(marker.toPath).trim === Firehose.SeriesKeyFormat)
    // normal restart (same stamp): accepted, marker untouched
    FirehoseStream.ensureCheckpointKeyFormat(spark, fresh)
    assert(Files.readString(marker.toPath).trim === Firehose.SeriesKeyFormat)
    // a checkpoint stamped under a FOREIGN key format (planted through
    // the same FS API an older binary would use): refused loudly
    // (state keyed by another rendering would split series on restore)
    val hp = new org.apache.hadoop.fs.Path(fresh, "_graft_key_format")
    val hfs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    hfs.delete(hp, false)
    val out = hfs.create(hp, false)
    try out.write("esc0\n".getBytes("UTF-8")) finally out.close()
    val e = intercept[IllegalStateException](
      FirehoseStream.ensureCheckpointKeyFormat(spark, fresh))
    assert(e.getMessage.contains("esc0"))
    // a POPULATED pre-stamp checkpoint (offsets/ exists, no marker) is
    // necessarily pre-esc1: refused, never silently restamped
    val old = Files.createTempDirectory("graft-kfmt-old").toFile.getAbsolutePath
    assert(new java.io.File(old, "offsets").mkdirs())
    val e2 = intercept[IllegalStateException](
      FirehoseStream.ensureCheckpointKeyFormat(spark, old))
    assert(e2.getMessage.contains("predates"))
    assert(!new java.io.File(old, "_graft_key_format").exists())
  }
}
