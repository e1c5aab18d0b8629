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
    // label_replace + label_join are row-local, so the batch operator runs
    // unchanged on the unbounded relation
    val q = graft.operators.Firehose.labelOps(
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

  test("streaming gauge state keeps latest value per series across batches") {
    val dir = Files.createTempDirectory("graft-stream").toFile
    val chk = Files.createTempDirectory("graft-chk").toFile
    // a timestamp tie between ids "\uFFFF" and "\uD83D\uDE00" (JSON
    // escapes): UTF-16 order picks the first, UTF-8 byte order (the batch
    // max_by_ts_id) the second
    val bs = "\\"
    Files.write(dir.toPath.resolve("b1.json"),
      Seq(
        metricJson("1", "bytes_total", 1000, "u1", 10.0),
        metricJson("2", "bytes_total", 2000, "u1", 20.0),
        metricJson("3", "bytes_total", 1500, "u2", 15.0),
        metricJson(s"${bs}uFFFF", "bytes_total", 100, "tie", 1.0),
        metricJson(s"${bs}uD83D${bs}uDE00", "bytes_total", 100, "tie", 2.0),
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
      assert(r1 === Map("user=u1" -> 20.0, "user=u2" -> 15.0, "user=tie" -> 2.0))
      val batch = graft.operators.Firehose.gaugeLatest(
          graft.sources.MetricJson.readJsonLines(spark, dir.getAbsolutePath))
        .collect().map(r => r.getAs[String]("series") -> r.getAs[Double]("last_value")).toMap
      assert(r1 === batch)

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
