package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.sources.MetricJson

class SourcesSpec extends SparkSuite {

  test("all ten testdata tables load with expected key columns") {
    val expectFirstCol = Map(
      "region" -> "r_regionkey", "nation" -> "n_nationkey",
      "customer" -> "c_custkey", "supplier" -> "s_suppkey",
      "part" -> "p_partkey", "orders" -> "o_orderkey",
      "lineitem" -> "l_orderkey", "documents" -> "doc_id",
      "embeddings" -> "vec_id")
    expectFirstCol.foreach { case (name, key) =>
      val df = Tables(spark, sfDir, name)
      assert(df.columns.contains(key), s"$name missing $key")
      assert(df.limit(1).count() === 1, s"$name empty")
    }
    // events needs the nanos-as-long read path
    val e = graft.operators.Firehose.eventsRaw(spark, sfDir)
    assert(e.schema("ts").dataType.typeName === "long")
  }

  test("DSv2 prom source reads exposition files identically to the expression parse") {
    // render real exposition lines from the gauge registry, write them as
    // two scrape files (+ comments/blanks the format allows), read them
    // back through the connector-API source, and demand row equality with
    // the expression-based parser over the same text
    val dir = Files.createTempDirectory("graft-prom").toFile
    val lines = graft.operators.Firehose.promRender(
      graft.operators.Firehose.gaugeLatestLabeled(
        graft.operators.Firehose.metricsFromEvents(spark, sfDir)))
      .collect().map(_.getString(0))
    // sf0.001 yields 75 gauge series (one per event_type×user pair present);
    // the floor only guards against an accidentally-empty render, so keep it
    // below the smallest suite scale rather than pinned to a larger one
    assert(lines.length > 50)
    val (a, b) = lines.splitAt(lines.length / 2)
    Files.write(dir.toPath.resolve("scrape1.prom"),
      ("# HELP app_x scrape one" +: a).mkString("\n").getBytes)
    Files.write(dir.toPath.resolve("scrape2.prom"),
      ("" +: b.toSeq).mkString("\n").getBytes)
    val viaSource = spark.read.format("graft.sources.PromTableProvider")
      .load(dir.getAbsolutePath)
    // one partition per file → the scan parallelizes across scrape files
    assert(viaSource.rdd.getNumPartitions === 2)
    val viaExpr = graft.operators.Firehose.promParse(
      spark.read.text(dir.getAbsolutePath)
        .withColumnRenamed("value", "line")
        .filter(length(trim(col("line"))) > 0 && !col("line").startsWith("#")))
    val s = viaSource.collect().map(_.toString).sorted.toSeq
    val e = viaExpr.collect().map(_.toString).sorted.toSeq
    assert(s.length === lines.length)
    assert(s === e)
  }

  test("prom short name resolves; scanner and expression parser agree on adversarial lines") {
    // comments, blanks, quoted values with spaces/escapes/braces, a missing
    // timestamp, and three malformed shapes — the DSv2 scanner and the
    // expression parser must drop/keep/render identically on all of them
    val dir = Files.createTempDirectory("graft-prom-adv").toFile
    val lines = Seq(
      "# HELP adv_metric tricky lines",
      "",
      "   ",
      "up0 1 1700000000000", // bare metric, no label block
      "up{job=\"api\"} 0.5 1700000000001",
      "lat{job=\"a b\",q=\"0.99\"} 3.25 1700000000002", // space inside a value
      "esc{msg=\"say \\\"hi\\\"\"} 2 1700000000003", // escaped quote
      "esc2{path=\"c:\\\\tmp\"} 4 1700000000004", // escaped backslash
      "brace{sel=\"{a=b}\"} 5 1700000000005", // braces inside a value
      "nots{k=\"v\"} 7", // timestamp omitted (the format allows it)
      "hist{le=\"+Inf\"} +Inf 1700000000007", // canonical +Inf bucket value
      "trail{k=\"v\",} 8 1700000000008", // trailing comma (Prometheus allows)
      "nl{msg=\"a\\nb\"} 9 1700000000009", // \n escape → real newline
      "nl2{p=\"c:\\\\nx\"} 10 1700000000010", // \\ then literal n (odd-run)
      "garbage", // malformed: single token
      "bad{k=\"v\"} notanumber 1700000000006", // malformed value
      "badts{k=\"v\"} 1 notalong", // malformed timestamp
      "res{oops} 1 1700000000011", // malformed: label-block residue
      "res2{k=\"v\" j=\"w\"} 1 1700000000012", // malformed: missing comma
      // OpenMetrics tolerance: exemplar tails drop, the sample stays
      "ex1{k=\"v\"} 3 1700000000013 # {trace_id=\"abc\"} 1.0 1700000000012",
      "ex2{k=\"v2\"} 4 # {trace_id=\"d e\"} 0.5", // no sample ts, exemplar
      "ex3 5 1700000000014 # {t=\"x\"} 2", // bare metric + exemplar
      "# EOF", // OpenMetrics terminator → comment, skipped
      "exbad{k=\"v\"} 6 # {unclosed 1.0", // malformed even after strip
      "hashy{k=\"a # {b} c\"} 7 1700000000015", // ' # {' INSIDE a value: no strip
      // Prometheus 3.x UTF-8 quoted-name forms (escaping=allow-utf-8)
      "{\"my.metric\"} 11 1700000000016", // quoted name, no labels
      "{\"my.metric2\",code=\"200\"} 12 1700000000017", // quoted name + pair
      "{\"q m\",\"l w\"=\"x y\"} 13 1700000000018", // quoted name + quoted key
      "cls{\"dot.key\"=\"v\"} 14 1700000000019", // classic name + quoted key
      "{code=\"200\"} 15 1700000000020", // malformed: no name anywhere
      "nm{\"also.name\",k=\"v\"} 16 1700000000021") // malformed: name twice
    Files.write(dir.toPath.resolve("adv.prom"), lines.mkString("\n").getBytes)
    val viaSource = spark.read.format("prom").load(dir.getAbsolutePath)
    val viaExpr = graft.operators.Firehose.promParse(
      spark.read.text(dir.getAbsolutePath).withColumnRenamed("value", "line"))
    val s = viaSource.collect().map(_.toString).sorted.toSeq
    val e = viaExpr.collect().map(_.toString).sorted.toSeq
    assert(s === e)
    assert(s.length === 19) // exactly the well-formed samples survive
    val series = viaSource.collect().map(r => (r.getString(0), r.getString(1))).toMap
    assert(series("lat") === "job=a b,q=0.99")
    assert(series("esc") === "msg=say \"hi\"")
    // parsed label text re-renders through the ESCAPED series identity
    // (r16): raw `\` doubles, raw `=` and `,` take a backslash
    assert(series("esc2") === "path=c:\\\\tmp")
    assert(series("brace") === "sel={a\\=b}")
    assert(series("up0") === "")
    assert(series("up") === "job=api")
    assert(series("hist") === "le=+Inf")
    assert(series("trail") === "k=v")
    assert(series("nl") === "msg=a\nb")
    assert(series("nl2") === "p=c:\\\\nx")
    assert(!series.contains("res") && !series.contains("res2"))
    // exemplar-bearing lines keep their samples, tails dropped
    assert(series("ex1") === "k=v" && series("ex2") === "k=v2" &&
      series("ex3") === "")
    assert(!series.contains("exbad"))
    assert(series("hashy") === "k=a # {b} c")
    // the quoted-name forms parse: the first bare quoted entry IS the
    // metric; quoted keys join the series like classic ones
    assert(series("my.metric") === "")
    assert(series("my.metric2") === "code=200")
    assert(series("q m") === "l w=x y")
    assert(series("cls") === "dot.key=v")
    assert(!series.contains("")) // nameless block dropped
    assert(!series.contains("nm") && !series.contains("also.name"))
    val ex1 = viaSource.filter(col("metric") === "ex1").collect()(0)
    assert(ex1.getDouble(ex1.fieldIndex("value")) === 3.0 &&
      ex1.getLong(ex1.fieldIndex("ts_ms")) === 1700000000013L)
    val ex2 = viaSource.filter(col("metric") === "ex2").collect()(0)
    assert(ex2.getDouble(ex2.fieldIndex("value")) === 4.0 &&
      ex2.isNullAt(ex2.fieldIndex("ts_ms")))
    val histVal = viaSource.filter(col("metric") === "hist").collect()(0)
    assert(histVal.getDouble(histVal.fieldIndex("value")).isPosInfinity)
    val nots = viaSource.filter(col("metric") === "nots").collect()(0)
    assert(nots.isNullAt(nots.fieldIndex("ts_ms")))
  }

  test("prom source scale properties: N files → N partitions, rows read in tasks") {
    // the doc-comment's parallelism claim, pinned: a directory of N scrape
    // files must plan N input partitions (one reader per file, so a
    // thousand-file federation dump scans on a thousand cores), and the
    // rows must flow through executor task input metrics — not a
    // driver-side listFiles+readLines collect
    val nFiles = 8
    val linesPerFile = 200
    val dir = Files.createTempDirectory("graft-prom-scale").toFile
    (0 until nFiles).foreach { f =>
      val lines = (0 until linesPerFile).map(i =>
        s"""m$f{k="v$i"} $i ${1700000000000L + i}""")
      Files.write(dir.toPath.resolve(f"scrape$f%02d.prom"),
        lines.mkString("\n").getBytes)
    }
    val df = spark.read.format("prom").load(dir.getAbsolutePath)
    assert(df.rdd.getNumPartitions === nFiles)
    @volatile var taskRecords = 0L
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        taskRecords += te.taskMetrics.inputMetrics.recordsRead
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      assert(df.count() === nFiles.toLong * linesPerFile)
      // listener events are delivered async — poll until they drain
      val deadline = System.nanoTime() + 30e9.toLong
      while (taskRecords < nFiles.toLong * linesPerFile && System.nanoTime() < deadline)
        Thread.sleep(50)
      assert(taskRecords === nFiles.toLong * linesPerFile,
        s"expected all rows read inside tasks, input metrics saw $taskRecords")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("json-lines landing reader parses a written firehose file") {
    val dir = Files.createTempDirectory("graft-jsonl").toFile
    val line = """{"id":"x1","name":"n","timestamp":5,"component":"c","tags":{"a":"b"},"value":1.5,"window":{"from":0,"to":5,"interval":5}}"""
    Files.write(dir.toPath.resolve("part-0.json"), (line + "\nbroken\n").getBytes)
    val parsed = MetricJson.readJsonLines(spark, dir.getAbsolutePath)
    assert(parsed.count() === 1)
    assert(parsed.select("value").collect()(0).getDouble(0) === 1.5)
  }

  test("orc export round-trips the orders table") {
    val dir = Files.createTempDirectory("graft-orc").toFile.getAbsolutePath + "/out"
    val o = Tables(spark, sfDir, "orders")
    o.write.orc(dir)
    val back = spark.read.orc(dir)
    assert(back.count() === o.count())
    assert(back.schema === o.schema)
  }

  test("csv export round-trips the events table") {
    val dir = Files.createTempDirectory("graft-csv").toFile.getAbsolutePath + "/out"
    val e = graft.operators.Firehose.eventsRaw(spark, sfDir)
      .select("event_id", "ts", "user_id", "event_type", "value")
    e.write.option("header", "true").csv(dir)
    val back = spark.read.option("header", "true").option("inferSchema", "true").csv(dir)
    assert(back.count() === e.count())
    val bs = back.agg(sum("value")).collect()(0).getDouble(0)
    val es = e.agg(sum("value")).collect()(0).getDouble(0)
    assert(math.abs(bs - es) < 0.01)
  }

  test("versioned table: merge commits are time-travelable and orphan data is invisible") {
    import spark.implicits._
    import graft.sources.Versioned
    val root = Files.createTempDirectory("graft-versioned").toFile.getAbsolutePath
    assert(Versioned.latestVersion(root) === -1L)
    val v0 = Versioned.commit(
      Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0)).toDF("k", "name", "v"), root)
    assert(v0 === 0L)
    val v1 = Versioned.mergeCommit(spark, root,
      Seq((1L, "U", "a2", 11.0), (4L, "I", "d", 40.0)).toDF("k", "op", "name", "v"), "k")
    val v2 = Versioned.mergeCommit(spark, root,
      Seq((2L, "D", "b", 0.0)).toDF("k", "op", "name", "v"), "k")
    assert((v1, v2) === ((1L, 2L)))
    def snap(v: Long) =
      Versioned.asOf(spark, root, v).as[(Long, String, Double)].collect().toSet
    // time travel: every committed version stays exactly as written
    assert(snap(0) === Set((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0)))
    assert(snap(1) === Set((1L, "a2", 11.0), (2L, "b", 20.0), (3L, "c", 30.0), (4L, "d", 40.0)))
    assert(snap(2) === Set((1L, "a2", 11.0), (3L, "c", 30.0), (4L, "d", 40.0)))
    assert(Versioned.latest(spark, root).count() === 3L)
    // a crashed writer's data directory (no commit marker) must be
    // invisible: latest stays v2 and reading the orphan version is refused
    Seq((99L, "x", 0.0)).toDF("k", "name", "v").write.parquet(s"$root/v5")
    assert(Versioned.latestVersion(root) === 2L)
    intercept[IllegalArgumentException](Versioned.asOf(spark, root, 5L))
    // … and an orphan can NEVER block later commits: staging names are
    // unique, so committing straight past the orphan succeeds and the
    // new version's marker references fresh data, not the orphan rows
    val v3 = Versioned.commit(Seq((7L, "g", 70.0)).toDF("k", "name", "v"), root)
    assert(v3 === 3L && snap(3) === Set((7L, "g", 70.0)))
    assert(Versioned.manifest(root, 3L).forall(!_.path.startsWith("v5")))
    // retention vacuum drops v0/v1 (marker + files), keeps v2/v3 readable,
    // and leaves the orphan directory alone (it may be a concurrent commit)
    val v0files = Versioned.manifest(root, 0L).map(e => new java.io.File(root, e.path))
    assert(v0files.nonEmpty && v0files.forall(_.exists()))
    assert(Versioned.history(root) === Seq(0L, 1L, 2L, 3L))
    assert(Versioned.vacuum(root, keepLast = 2) === Seq(0L, 1L))
    assert(Versioned.history(root) === Seq(2L, 3L))
    intercept[IllegalArgumentException](Versioned.asOf(spark, root, 0L))
    assert(v0files.forall(!_.exists()))
    assert(new java.io.File(s"$root/v5").exists())
    assert(snap(2).size === 3 && snap(3).size === 1)
  }

  test("versioned table: manifests share unchanged files across versions") {
    import spark.implicits._
    import graft.sources.Versioned
    val root = Files.createTempDirectory("graft-manifest").toFile.getAbsolutePath
    def poolParquet(): Set[String] =
      Option(new java.io.File(root, "_files").listFiles()).getOrElse(Array.empty)
        .map(_.getName).filter(_.endsWith(".parquet")).toSet
    // v0: one base file; v1/v2: append-only delta commits
    Versioned.commit(Seq((1L, "a"), (2L, "b")).toDF("k", "name").coalesce(1), root)
    Versioned.appendCommit(Seq((3L, "c")).toDF("k", "name").coalesce(1), root)
    Versioned.appendCommit(Seq((4L, "d")).toDF("k", "name").coalesce(1), root)
    val m = (0L to 2L).map(v => Versioned.manifest(root, v).map(_.path))
    // the unchanged base file is LISTED by all three versions …
    assert(m(0).size === 1 && m(1).size === 2 && m(2).size === 3)
    assert(m(1).startsWith(m(0)) && m(2).startsWith(m(1)))
    // … and STORED once: three versions, three distinct pooled files total
    assert(poolParquet().size === 3)
    // every manifest entry carries the content digest of its pooled file
    assert(Versioned.manifest(root, 2L).forall(e =>
      e.path === s"_files/f-${e.sha256}-${new java.io.File(root, e.path).length}.parquet"))
    // time travel stays exact across shared files
    def snap(v: Long) = Versioned.asOf(spark, root, v).as[(Long, String)].collect().toSet
    assert(snap(0) === Set((1L, "a"), (2L, "b")))
    assert(snap(1) === snap(0) + ((3L, "c")))
    assert(snap(2) === snap(1) + ((4L, "d")))
    // mark-sweep vacuum: dropping v0 deletes NOTHING (its one file is
    // still listed by v1 and v2) — shared files survive retention
    assert(Versioned.vacuum(root, keepLast = 2) === Seq(0L))
    assert(poolParquet().size === 3)
    assert(snap(1) === Set((1L, "a"), (2L, "b"), (3L, "c")) && snap(2).size === 4)
    // a byte-identical delta dedupes against the pool instead of storing
    // a second copy (content-address sharing, not just manifest reuse)
    val before = poolParquet()
    Versioned.appendCommit(Seq((3L, "c")).toDF("k", "name").coalesce(1), root)
    assert(poolParquet() === before)
    assert(Versioned.manifest(root, 3L).size === 4)
    assert(Versioned.asOf(spark, root, 3L).count() === 5L)
    // losing the marker race is a DESCRIPTIVE first-writer-wins conflict
    val ex = intercept[java.util.ConcurrentModificationException](
      Versioned.writeMarker(root, 3L, Nil))
    assert(ex.getMessage.contains("concurrent commit conflict"))
  }

  test("versioned table: manifest stats skip files on read (z-ordered commit)") {
    import spark.implicits._
    import graft.sources.Versioned
    val root = Files.createTempDirectory("graft-stats").toFile.getAbsolutePath
    val rows = (1L to 500L).map(i => (i, i % 7, s"n$i", i * 1.5))
    val v0 = Versioned.commitZordered(
      rows.toDF("k", "g", "name", "v").repartition(8), root,
      cols = Seq("k", "g"), numFiles = 8)
    // every entry carries tight stats for both clustered dimensions
    val m = Versioned.manifest(root, v0)
    assert(m.size === 8 && m.forall(e => e.stats.keySet === Set("k", "g")))
    // a 10% k-slice touches a fraction of the files, result row-identical
    // to the full scan + filter
    // (z-order interleaves BOTH dims, so a single-dim slice prunes less
    // than a pure k-sort would — half the files skipped is the honest
    // bound here; the conjunctive case below multiplies the skipping)
    val pruned = Versioned.prunedRead(spark, root, v0, Seq(("k", 1.0, 50.0)))
    assert(pruned.inputFiles.length <= 4,
      s"expected <=4 of 8 files, read ${pruned.inputFiles.length}")
    val full = Versioned.asOf(spark, root, v0).filter(col("k").between(1, 50))
    assert(pruned.as[(Long, Long, String, Double)].collect().toSet ===
      full.as[(Long, Long, String, Double)].collect().toSet)
    val both = Versioned.prunedRead(spark, root, v0,
      Seq(("k", 1.0, 50.0), ("g", 0.0, 1.0)))
    assert(both.inputFiles.length <= pruned.inputFiles.length)
    assert(both.as[(Long, Long, String, Double)].collect().toSet ===
      full.filter(col("g") <= 1).as[(Long, Long, String, Double)].collect().toSet)
    // a statless append stays readable through the pruned path: its files
    // cannot be proven skippable, so they are kept
    Versioned.appendCommit(Seq((1000L, 0L, "x", 1.0)).toDF("k", "g", "name", "v")
      .coalesce(1), root)
    val v1p = Versioned.prunedRead(spark, root, 1L, Seq(("k", 999.0, 2000.0)))
    assert(v1p.as[(Long, Long, String, Double)].collect().toSet ===
      Set((1000L, 0L, "x", 1.0)))
    assert(v1p.inputFiles.length <= 3) // pruned z-files + the statless append file
  }

  test("versioned table: race guards — marker existence re-check, age-gated sweep, legacy residue") {
    import spark.implicits._
    import graft.sources.Versioned
    val root = Files.createTempDirectory("graft-race").toFile.getAbsolutePath
    // 1. a manifest referencing a missing file (vacuum won mid-commit)
    //    must fail the commit loudly, never publish
    Versioned.commit(Seq((1L, "a")).toDF("k", "name").coalesce(1), root)
    val ghost = Versioned.manifest(root, 0L).head.copy(path = "_files/f-dead-1.parquet")
    val ex = intercept[IllegalStateException](
      Versioned.writeMarker(root, 1L, Seq(ghost)))
    assert(ex.getMessage.contains("concurrent vacuum"))
    assert(Versioned.latestVersion(root) === 0L)
    // 2. an age-gated vacuum drops the version but leaves too-young files
    //    for the orphan sweep, which also honors the horizon
    Versioned.commit(Seq((2L, "b")).toDF("k", "name").coalesce(1), root)
    val f0 = Versioned.manifest(root, 0L).map(e => new java.io.File(root, e.path))
    assert(Versioned.vacuum(root, keepLast = 1, minAgeMs = 3600000L) === Seq(0L))
    assert(f0.forall(_.exists()), "files younger than the horizon must survive")
    assert(Versioned.vacuumOrphans(root, minAgeMs = 3600000L) === Nil)
    val swept = Versioned.vacuumOrphans(root, minAgeMs = 0L)
    assert(swept.nonEmpty && f0.forall(!_.exists()))
    assert(Versioned.latest(spark, root).as[(Long, String)].collect().toSet ===
      Set((2L, "b")))
    // 3. a legacy whole-directory version vacuums away completely —
    //    residual _SUCCESS/.crc markers must not strand the directory
    val root2 = Files.createTempDirectory("graft-legacy").toFile.getAbsolutePath
    Seq((1L, "x")).toDF("k", "name").coalesce(1).write.parquet(s"$root2/d-legacy")
    assert(new java.io.File(s"$root2/d-legacy/_SUCCESS").exists())
    new java.io.File(s"$root2/_commits").mkdirs()
    Files.write(java.nio.file.Paths.get(s"$root2/_commits/v0.json"),
      """{"version":0,"data":"d-legacy"}""".getBytes)
    assert(Versioned.asOf(spark, root2, 0L).count() === 1L)
    Versioned.commit(Seq((2L, "y")).toDF("k", "name").coalesce(1), root2)
    assert(Versioned.vacuum(root2, keepLast = 1) === Seq(0L))
    assert(!new java.io.File(s"$root2/d-legacy").exists(),
      "legacy data directory must be fully removed, residue included")
  }

  test("versioned table: non-finite stats never prune a file") {
    import spark.implicits._
    import graft.sources.Versioned
    val root = Files.createTempDirectory("graft-nan").toFile.getAbsolutePath
    // one file whose clustered column holds a NaN: Spark's max treats NaN
    // as largest, so the file's max stat is NaN — which proves nothing
    val v0 = Versioned.commitZordered(
      Seq((1.0, "a"), (Double.NaN, "b"), (60.0, "c")).toDF("v", "name"),
      root, cols = Seq("v"), numFiles = 1)
    val pruned = Versioned.prunedRead(spark, root, v0, Seq(("v", 0.0, 5.0)))
    assert(pruned.as[(Double, String)].collect().toSet === Set((1.0, "a")),
      "a NaN-stats file may hold in-range finite rows and must be scanned")
  }

  test("versioned table: row-level deletes are O(delta) tombstone commits") {
    import spark.implicits._
    import graft.sources.Versioned
    val root = Files.createTempDirectory("graft-del").toFile.getAbsolutePath
    def poolCount = Option(new java.io.File(root, "_files").listFiles())
      .map(_.length).getOrElse(0)
    Versioned.commit(Seq((1L, "a"), (2L, "b")).toDF("k", "name").coalesce(1), root)
    val v1 = Versioned.appendCommit(
      Seq((3L, "c"), (4L, "d")).toDF("k", "name").coalesce(1), root)
    val before = poolCount
    // delete k=2: a manifest-only commit — zero data files written
    val v2 = Versioned.deleteCommit(spark, root, "k", Seq("2"))
    assert(poolCount === before, "a delete commit must write no data files")
    def rows(v: Long) =
      Versioned.asOf(spark, root, v).as[(Long, String)].collect().toSet
    assert(rows(v1) === Set((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")))
    assert(rows(v2) === Set((1L, "a"), (3L, "c"), (4L, "d")))
    // exactly ONE file carries the tombstone (the locate scan found it)
    val m2 = Versioned.manifest(root, v2)
    assert(m2.count(_.deletes.nonEmpty) === 1 &&
      m2.find(_.deletes.nonEmpty).get.deletes === Seq("2"))
    assert(Versioned.deleteKeyOf(root, v2) === Some("k"))
    // second delete hits the other file; tombstones accumulate
    val v3 = Versioned.deleteCommit(spark, root, "k", Seq("3"))
    assert(rows(v3) === Set((1L, "a"), (4L, "d")))
    assert(Versioned.manifest(root, v3).count(_.deletes.nonEmpty) === 2)
    // a second delete KEY requires materializing first
    intercept[IllegalArgumentException](
      Versioned.deleteCommit(spark, root, "name", Seq("a")))
    // stats-pruned reads apply tombstones too (guarantee: full scan + filter)
    // — no stats here, so all files are kept and only the anti-join matters
    assert(Versioned.prunedRead(spark, root, v3, Seq(("k", 1.0, 9.0)))
      .as[(Long, String)].collect().toSet === Set((1L, "a"), (4L, "d")))
    // compact materializes the tombstones away: clean manifest, same rows
    val v4 = Versioned.compact(spark, root)
    assert(Versioned.manifest(root, v4).forall(_.deletes.isEmpty))
    assert(Versioned.deleteKeyOf(root, v4) === None)
    assert(rows(v4) === Set((1L, "a"), (4L, "d")))
    // tombstoned files survive vacuum while any live version lists them
    assert(rows(v2) === Set((1L, "a"), (3L, "c"), (4L, "d")))
  }

  test("versioned table: upsert is an O(delta) tombstone+append commit") {
    import spark.implicits._
    import graft.sources.Versioned
    val root = Files.createTempDirectory("graft-ups").toFile.getAbsolutePath
    def poolCount = Option(new java.io.File(root, "_files").listFiles())
      .map(_.length).getOrElse(0)
    def rows(v: Long) =
      Versioned.asOf(spark, root, v).as[(Long, String)].collect().toSet
    Versioned.commit(Seq((1L, "a"), (2L, "b")).toDF("k", "name").coalesce(1), root)
    val v1 = Versioned.appendCommit(
      Seq((3L, "c"), (4L, "d")).toDF("k", "name").coalesce(1), root)
    val before = poolCount
    // upsert: k=2 replaced, k=5 inserted — ONE delta file, nothing rewritten
    val v2 = Versioned.upsertCommit(
      Seq((2L, "B"), (5L, "e")).toDF("k", "name").coalesce(1), root, "k")
    assert(poolCount === before + 1, "an upsert writes only its delta file")
    assert(rows(v2) === Set((1L, "a"), (2L, "B"), (3L, "c"), (4L, "d"), (5L, "e")))
    assert(rows(v1) === Set((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")),
      "the pre-upsert version still time-travels exactly")
    val m2 = Versioned.manifest(root, v2)
    // the matched key tombstones exactly the one file holding it; the
    // delta file carries a bloom on the key for the NEXT upsert's locate
    assert(m2.count(_.deletes.nonEmpty) === 1 &&
      m2.find(_.deletes.nonEmpty).get.deletes === Seq("2"))
    assert(m2.last.blooms.contains("k"))
    // a second upsert replaces a row the FIRST upsert inserted — its
    // tombstone lands in the delta file itself
    val v3 = Versioned.upsertCommit(
      Seq((5L, "E")).toDF("k", "name").coalesce(1), root, "k")
    assert(rows(v3) === Set((1L, "a"), (2L, "B"), (3L, "c"), (4L, "d"), (5L, "E")))
    assert(Versioned.manifest(root, v3)
      .exists(e => e.path == m2.last.path && e.deletes == Seq("5")))
    // an upsert on a different key is refused while tombstones reference k
    intercept[IllegalArgumentException](
      Versioned.upsertCommit(Seq(("a", 1L)).toDF("name", "k"), root, "name"))
    // compact materializes the tombstones away; rows unchanged
    val v4 = Versioned.compact(spark, root)
    assert(Versioned.manifest(root, v4).forall(_.deletes.isEmpty))
    assert(Versioned.deleteKeyOf(root, v4) === None)
    assert(rows(v4) === rows(v3))
  }

  test("versioned table: restore rolls back as a metadata-only commit") {
    import spark.implicits._
    import graft.sources.Versioned
    val root = Files.createTempDirectory("graft-restore").toFile.getAbsolutePath
    def poolCount = Option(new java.io.File(root, "_files").listFiles())
      .map(_.length).getOrElse(0)
    def rows(v: Long) =
      Versioned.asOf(spark, root, v).as[(Long, String)].collect().toSet
    val v0 = Versioned.commit(
      Seq((1L, "a"), (2L, "b")).toDF("k", "name").coalesce(1), root)
    Versioned.appendCommit(Seq((3L, "c")).toDF("k", "name").coalesce(1), root)
    val v2 = Versioned.deleteCommit(spark, root, "k", Seq("1"))
    val before = poolCount
    // roll back to v0: one marker, zero data movement
    val v3 = Versioned.restore(root, v0)
    assert(poolCount === before, "restore must write no data files")
    assert(v3 === 3L && Versioned.history(root) === Seq(0L, 1L, 2L, 3L))
    assert(rows(v3) === Set((1L, "a"), (2L, "b")))
    assert(rows(v2) === Set((2L, "b"), (3L, "c")),
      "rolled-back versions still time-travel")
    // restoring a tombstone-carrying version carries its tombstones
    val v4 = Versioned.restore(root, v2)
    assert(rows(v4) === Set((2L, "b"), (3L, "c")))
    assert(Versioned.deleteKeyOf(root, v4) === Some("k"))
  }

  test("versioned table: tags pin versions through vacuum") {
    import spark.implicits._
    import graft.sources.Versioned
    val root = Files.createTempDirectory("graft-tags").toFile.getAbsolutePath
    def rows(v: Long) =
      Versioned.asOf(spark, root, v).as[(Long, String)].collect().toSet
    for (i <- 0 to 3)
      Versioned.commit(Seq((i.toLong, s"n$i")).toDF("k", "name").coalesce(1), root)
    Versioned.tag(root, "release-1", 1L)
    assert(Versioned.tags(root) === Map("release-1" -> 1L))
    // retention drops everything but the tail AND the pinned tag
    assert(Versioned.vacuum(root, keepLast = 1) === Seq(0L, 2L))
    assert(Versioned.history(root) === Seq(1L, 3L))
    assert(Versioned.asOfTag(spark, root, "release-1")
      .as[(Long, String)].collect().toSet === rows(1L))
    // tag names are immutable refs; re-pointing is untag + tag
    intercept[IllegalArgumentException](Versioned.tag(root, "release-1", 3L))
    Versioned.untag(root, "release-1")
    assert(Versioned.vacuum(root, keepLast = 1) === Seq(1L))
    assert(Versioned.history(root) === Seq(3L))
    intercept[IllegalArgumentException](Versioned.asOfTag(spark, root, "release-1"))
    // a tag cannot pin an uncommitted (or already-swept) version
    intercept[IllegalArgumentException](Versioned.tag(root, "bad", 0L))
  }

  test("versioned table: append-time stats keep a landing prunable without rewrites") {
    import spark.implicits._
    import graft.sources.Versioned
    val root = Files.createTempDirectory("graft-apstats").toFile.getAbsolutePath
    // three time-keyed appends with disjoint k ranges — the streaming
    // landing shape where append-time stats prune like a re-cluster
    var v = -1L
    for (b <- 0 until 3)
      v = Versioned.appendCommit(
        (b * 100L until b * 100L + 100L).map(i => (i, s"n$i")).toDF("k", "name")
          .coalesce(1),
        root, statsCols = Seq("k"))
    val m = Versioned.manifest(root, v)
    assert(m.length === 3 && m.forall(_.stats.contains("k")))
    val pruned = Versioned.prunedRead(spark, root, v, Seq(("k", 120.0, 180.0)))
    assert(pruned.inputFiles.length === 1, "stats must skip the other two appends")
    assert(pruned.select("k").as[Long].collect().toSet === (120L to 180L).toSet)
  }

  test("versioned table: CDC apply is an O(delta) commit matching mergeUpsert") {
    import spark.implicits._
    import graft.sources.Versioned
    val root = Files.createTempDirectory("graft-cdc").toFile.getAbsolutePath
    def poolCount = Option(new java.io.File(root, "_files").listFiles())
      .map(_.length).getOrElse(0)
    def rows(v: Long) =
      Versioned.asOf(spark, root, v).as[(Long, String)].collect().toSet
    val base = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "name")
    Versioned.commit(base.coalesce(1), root)
    // every MERGE branch in one batch: matched-U, matched-D, unmatched-I,
    // matched-I (no-op), unmatched-U (no-op), unmatched-D (no-op)
    val changes = Seq(
      (2L, "U", "B"), (3L, "D", ""), (4L, "I", "d"),
      (1L, "I", "x"), (9L, "U", "z"), (8L, "D", "")
    ).toDF("k", "op", "name")
    val before = poolCount
    val m0 = Versioned.manifest(root, 0L).map(_.path).toSet
    val v1 = Versioned.applyCdc(changes, root, "k")
    // O(delta): every base file is still LISTED (tombstoned, never
    // rewritten); the pool grew by exactly the delta files
    val m1 = Versioned.manifest(root, v1)
    assert(m0.subsetOf(m1.map(_.path).toSet), "base files must not be rewritten")
    assert(poolCount === before + (m1.length - m0.size),
      "the pool grows by exactly the delta files")
    val want = graft.operators.Curate
      .mergeUpsert(base, changes.select("k", "op", "name"), "k")
      .as[(Long, String)].collect().toSet
    assert(rows(v1) === want && want === Set((1L, "a"), (2L, "B"), (4L, "d")))
    // sequential dependency: the second batch updates a row the FIRST
    // batch inserted and deletes a base survivor
    val v2 = Versioned.applyCdc(
      Seq((4L, "U", "D4"), (1L, "D", "")).toDF("k", "op", "name"), root, "k")
    assert(rows(v2) === Set((2L, "B"), (4L, "D4")))
    assert(rows(v1) === want, "pre-CDC versions still time-travel")
    // an all-no-op batch commits nothing
    assert(Versioned.applyCdc(
      Seq((99L, "U", "q"), (98L, "D", "")).toDF("k", "op", "name"), root, "k") === -1L)
    assert(Versioned.latestVersion(root) === v2)
  }

  test("streaming CDC batches land as O(delta) applyCdc commits") {
    import spark.implicits._
    import graft.sources.Versioned
    val root = Files.createTempDirectory("graft-scdc").toFile.getAbsolutePath
    Versioned.commit(
      Seq((1L, "a"), (2L, "b")).toDF("k", "name").coalesce(1), root)
    val dir = Files.createTempDirectory("graft-scdc-in").toFile
    val chk = Files.createTempDirectory("graft-scdc-chk").toFile
    Files.write(dir.toPath.resolve("b1.json"),
      """{"k":2,"op":"U","name":"B"}
        |{"k":3,"op":"I","name":"c"}""".stripMargin.getBytes)
    val schema = "k LONG, op STRING, name STRING"
    val stream = spark.readStream.schema(schema).json(dir.getAbsolutePath)
    val q = stream.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        if (!batch.isEmpty) { Versioned.applyCdc(batch, root, "k"); () }
      }
      .option("checkpointLocation", chk.getAbsolutePath)
      .start()
    try {
      q.processAllAvailable()
      assert(Versioned.latest(spark, root).as[(Long, String)].collect().toSet ===
        Set((1L, "a"), (2L, "B"), (3L, "c")))
      // second micro-batch updates the row the first INSERTED and deletes
      // a base row — reachable only by sequential per-batch apply
      Files.write(dir.toPath.resolve("b2.json"),
        """{"k":3,"op":"U","name":"C"}
          |{"k":1,"op":"D","name":""}""".stripMargin.getBytes)
      q.processAllAvailable()
      assert(Versioned.latest(spark, root).as[(Long, String)].collect().toSet ===
        Set((2L, "B"), (3L, "C")))
      // each batch cost one delta commit; base files were never rewritten
      assert(Versioned.history(root).length === 3)
    } finally q.stop()
  }

  test("versioned table: append markers reuse manifest chunks — O(delta) metadata") {
    import spark.implicits._
    import graft.sources.Versioned
    val root = Files.createTempDirectory("graft-chunk").toFile.getAbsolutePath
    def refs(v: Long): Seq[String] = Versioned.chunkRefsOf(root, v)
    def markerBytes(v: Long): Long =
      new java.io.File(s"$root/_commits/v$v.json").length()
    for (i <- 0 until 4)
      Versioned.appendCommit(
        Seq((i.toLong, s"n$i")).toDF("k", "name").coalesce(1), root,
        bloomCols = Seq("k"), expectedKeysPerFile = 256L)
    // each append carries the previous marker's chunks VERBATIM plus one
    // new chunk — the previous file list (and its bloom blobs) is never
    // re-read or re-serialized
    for (v <- 1L to 3L) {
      assert(refs(v).take(refs(v - 1).length) === refs(v - 1),
        s"v$v must reuse v${v - 1}'s chunks")
      assert(refs(v).length === refs(v - 1).length + 1)
    }
    // the marker itself stays tiny (chunk refs, not entries-with-blooms);
    // the bloom blobs live once in the shared chunks
    assert(markerBytes(3) < 2048,
      s"marker should hold refs only, got ${markerBytes(3)} bytes")
    assert(refs(3).toSet.size === 4)
    // reads, stats, and blooms all flow through the chunk indirection
    assert(Versioned.latest(spark, root).count() === 4L)
    assert(Versioned.pointRead(spark, root, 3L, "k", Seq("2"))
      .collect().map(_.getString(1)).toSeq === Seq("n2"))
    // a compact collapses to one fresh chunk; vacuum then sweeps every
    // chunk no retained marker lists
    Versioned.compact(spark, root, numFiles = 1)
    assert(refs(4L).length === 1)
    Versioned.vacuum(root, keepLast = 1)
    val left = Option(new java.io.File(s"$root/_manifests").listFiles())
      .getOrElse(Array.empty).map(_.getName).toSet
    assert(left === refs(4L).toSet, s"stale chunks not swept: $left")
    assert(Versioned.latest(spark, root).count() === 4L)
  }

  test("versioned table: a delete rewrites only the chunks holding its keys") {
    import spark.implicits._
    import graft.sources.Versioned
    val root = Files.createTempDirectory("graft-chunkdel").toFile.getAbsolutePath
    for (i <- 0 until 3)
      Versioned.appendCommit(
        Seq((i.toLong, s"n$i")).toDF("k", "name").coalesce(1), root,
        bloomCols = Seq("k"), expectedKeysPerFile = 256L)
    val before = Versioned.chunkRefsOf(root, 2L)
    // key 1 lives only in the second append's file → only its chunk
    // (and no other) may change; a restore reuses ALL chunks verbatim
    Versioned.deleteCommit(spark, root, "k", Seq("1"))
    val after = Versioned.chunkRefsOf(root, 3L)
    assert(after.length === before.length)
    val changed = before.zip(after).count { case (a, b) => a != b }
    assert(changed === 1, s"expected exactly one rewritten chunk:\n$before\n$after")
    assert(Versioned.latest(spark, root).as[(Long, String)].collect().toSet ===
      Set((0L, "n0"), (2L, "n2")))
    val rv = Versioned.restore(root, 2L)
    assert(Versioned.chunkRefsOf(root, rv) === before, "restore reuses chunks")
    assert(Versioned.latest(spark, root).count() === 3L)
  }

  test("versioned table: rewriteManifests merges chunks; maintenance carries props") {
    import spark.implicits._
    import graft.sources.Versioned
    val root = Files.createTempDirectory("graft-rwm").toFile.getAbsolutePath
    Versioned.appendCommit(Seq((0L, "a")).toDF("k", "name").coalesce(1), root,
      props = Map("w" -> "7"))
    for (i <- 1 to 3)
      Versioned.appendCommit(Seq((i.toLong, s"n$i")).toDF("k", "name").coalesce(1),
        root, props = Map("w" -> s"${7 + i}"))
    assert(Versioned.chunkRefsOf(root, 3L).length === 4)
    val before = Versioned.latest(spark, root).as[(Long, String)].collect().toSet
    // merge to one chunk, nothing else changes — props carry forward
    val rv = Versioned.rewriteManifests(root)
    assert(rv === 4L)
    assert(Versioned.chunkRefsOf(root, rv).length === 1)
    assert(Versioned.latest(spark, root).as[(Long, String)].collect().toSet === before)
    assert(Versioned.markerProps(root, rv) === Map("w" -> "10"))
    assert(Versioned.rewriteManifests(root) === -1L, "already one chunk")
    // compact and restore are maintenance/state ops: props survive both
    Versioned.compact(spark, root, numFiles = 1)
    assert(Versioned.markerProps(root, 5L) === Map("w" -> "10"))
    Versioned.restore(root, 2L)
    assert(Versioned.markerProps(root, 6L) === Map("w" -> "9"),
      "restore restores the restored version's props")
  }

  test("versioned table: describeHistory reports per-version metadata") {
    import spark.implicits._
    import graft.sources.Versioned
    val root = Files.createTempDirectory("graft-desc").toFile.getAbsolutePath
    Versioned.appendCommit(Seq((1L, "a"), (2L, "b")).toDF("k", "name").coalesce(1),
      root, bloomCols = Seq("k"), props = Map("job" -> "j1"))
    Versioned.appendCommit(Seq((3L, "c")).toDF("k", "name").coalesce(1), root)
    Versioned.deleteCommit(spark, root, "k", Seq("2"))
    val h = Versioned.describeHistory(spark, root)
      .orderBy("version").collect()
    assert(h.map(_.getLong(0)).toSeq === Seq(0L, 1L, 2L))
    assert(h.map(_.getAs[Long]("num_files")).toSeq === Seq(1L, 2L, 2L))
    assert(h.map(_.getAs[Long]("num_chunks")).toSeq === Seq(1L, 2L, 2L))
    assert(h.map(_.getAs[Long]("num_tombstones")).toSeq === Seq(0L, 0L, 1L))
    assert(h.map(_.getAs[String]("delete_key")).toSeq === Seq("", "", "k"))
    assert(h.head.getAs[Map[String, String]]("props") === Map("job" -> "j1"))
    assert(h.forall(_.getAs[Long]("num_columns") === 2L))
    assert(h.forall(_.getAs[Long]("commit_ts") > 0L))
  }

  test("incremental curation: batches dedup against the landing via blooms") {
    import graft.sources.Versioned
    import graft.operators.Curate
    val root = Files.createTempDirectory("graft-p10s").toFile.getAbsolutePath
    val docs = Tables(spark, sfDir, "documents").limit(120)
    val b0 = docs.filter(col("doc_id") % 2 === 0)
    assert(Curate.curateBatchCommit(root, b0) === 0L)
    val n0 = Versioned.latest(spark, root).count()
    assert(n0 > 0)
    // re-ingesting the SAME batch adds nothing — every hash bloom-hits
    assert(Curate.curateBatchCommit(root, b0) === -1L)
    assert(Versioned.history(root) === Seq(0L))
    // a second batch lands only its genuinely-new docs, one delta commit
    assert(Curate.curateBatchCommit(root, docs) === 1L)
    val n1 = Versioned.latest(spark, root).count()
    assert(n1 > n0)
    // final state equals the one-shot gate over the union
    val oneShot = Curate.qualityGate(docs).count()
    assert(n1 === oneShot)
    assert(Versioned.history(root) === Seq(0L, 1L))
  }

  test("streaming incremental curation: each micro-batch lands one deduped commit") {
    import graft.sources.Versioned
    import graft.operators.Curate
    val root = Files.createTempDirectory("graft-p10st").toFile.getAbsolutePath
    val dir = Files.createTempDirectory("p10-in").toFile
    val chk = Files.createTempDirectory("p10-chk").toFile
    // quality-passing docs need enough words + stopwords; doc 2 is an
    // exact duplicate of doc 1 across batches
    val body = ("the quick brown fox jumps over the lazy dog and runs " * 6).trim
    def line(id: Long, text: String) =
      s"""{"doc_id":$id,"source":"s","text":"$text"}"""
    Files.write(dir.toPath.resolve("b1.json"), line(1L, body).getBytes)
    val stream = spark.readStream
      .schema("doc_id LONG, source STRING, text STRING").json(dir.getAbsolutePath)
    val q = stream.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        if (!batch.isEmpty) { Curate.curateBatchCommit(root, batch); () }
      }
      .option("checkpointLocation", chk.getAbsolutePath)
      .start()
    try {
      q.processAllAvailable()
      assert(Versioned.latest(spark, root).count() === 1L)
      // batch 2: one exact dupe (bloom-hit, dropped) + one new doc
      Files.write(dir.toPath.resolve("b2.json"),
        (line(2L, body) + "\n" + line(3L, body + " extra words here")).getBytes)
      q.processAllAvailable()
      val docs = Versioned.latest(spark, root)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(docs === Set(1L, 3L), "the cross-batch duplicate must not land")
      assert(Versioned.history(root) === Seq(0L, 1L))
    } finally q.stop()
  }

  test("versioned table: concurrent appenders all land via optimistic retry") {
    import spark.implicits._
    import graft.sources.Versioned
    val root = Files.createTempDirectory("graft-conc").toFile.getAbsolutePath
    Versioned.commit(Seq((0L, "base")).toDF("k", "name").coalesce(1), root)
    // eight committers race the marker link; appends commute, so
    // every one must land (losers retry marker-only on the new latest)
    val dfs = (1 to 8).map(i => Seq((i.toLong, s"t$i")).toDF("k", "name").coalesce(1))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val futures = dfs.map { d =>
        pool.submit(new java.util.concurrent.Callable[Long] {
          override def call(): Long =
            Versioned.appendCommitWithRetry(d, root, maxRetries = 50)
        })
      }
      val versions = futures.map(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
      assert(versions.toSet === (1L to 8L).toSet, "every committer lands a distinct version")
    } finally pool.shutdown()
    assert(Versioned.history(root) === (0L to 8L))
    assert(Versioned.latest(spark, root).as[(Long, String)].collect().toSet ===
      (Set(0L -> "base") ++ (1 to 8).map(i => i.toLong -> s"t$i")).map {
        case (k, n) => (k, n)
      })
  }

  test("versioned table: shallow clone shares bytes and diverges independently") {
    import spark.implicits._
    import graft.sources.Versioned
    val root = Files.createTempDirectory("graft-cl-src").toFile.getAbsolutePath
    val dest = Files.createTempDirectory("graft-cl-dst").toFile.getAbsolutePath + "/t"
    def rows(r: String) =
      Versioned.latest(spark, r).as[(Long, String)].collect().toSet
    Versioned.commit(Seq((1L, "a"), (2L, "b")).toDF("k", "name").coalesce(1), root)
    Versioned.appendCommit(Seq((3L, "c")).toDF("k", "name").coalesce(1), root)
    assert(Versioned.cloneTo(root, dest) === 0L)
    assert(rows(dest) === rows(root))
    // zero-copy: the clone's pool entries are HARD LINKS to the source's
    val p = Versioned.manifest(root, 1L).head.path
    assert(Files.isSameFile(
      new java.io.File(root, p).toPath, new java.io.File(dest, p).toPath),
      "clone must link, not copy")
    // full independence: each side commits without touching the other
    Versioned.appendCommit(Seq((4L, "d")).toDF("k", "name").coalesce(1), dest)
    Versioned.deleteCommit(spark, root, "k", Seq("1"))
    assert(rows(dest) === Set((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")))
    assert(rows(root) === Set((2L, "b"), (3L, "c")))
    // source rewrites + vacuums everything the clone references; the
    // clone's links keep the bytes alive
    Versioned.compact(spark, root)
    Versioned.vacuum(root, keepLast = 1)
    assert(rows(dest) === Set((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")))
    // a second clone into the same destination is refused
    intercept[IllegalArgumentException](Versioned.cloneTo(root, dest))
  }

  test("versioned table: string and date stat columns prune files on read") {
    import spark.implicits._
    import graft.sources.Versioned
    val root = Files.createTempDirectory("graft-sstats").toFile.getAbsolutePath
    // name and day ride along k so their per-file bounds are tight
    val rows = (1L to 400L).map(i =>
      (i, f"n$i%04d", java.sql.Date.valueOf("2024-01-01").toLocalDate.plusDays(i / 10).toString))
    val df = rows.toDF("k", "name", "day").withColumn("day", col("day").cast("date"))
    val v0 = Versioned.commitZordered(df, root,
      cols = Seq("k"), numFiles = 8, statsCols = Seq("name", "day"))
    val m = Versioned.manifest(root, v0)
    assert(m.forall(e => e.stats.keySet === Set("k", "day") &&
      e.strStats.keySet === Set("name")))
    // lexical slice on the string stat column: fewer files, identical rows
    val s = Versioned.prunedRead(spark, root, v0, Nil,
      strPreds = Seq(("name", "n0001", "n0040")))
    assert(s.inputFiles.length < 8, s"expected pruning, read ${s.inputFiles.length}")
    assert(s.select("k").as[Long].collect().toSet === (1L to 40L).toSet)
    // epoch-range slice on the date stat column (stats are stored as epoch)
    val dayEpoch = java.sql.Date.valueOf("2024-01-03").toLocalDate
      .atStartOfDay(java.time.ZoneOffset.UTC).toEpochSecond.toDouble
    val d = Versioned.prunedRead(spark, root, v0,
      Seq(("day", 0.0, dayEpoch)))
    assert(d.inputFiles.length < 8)
    assert(d.select("k").as[Long].collect().toSet ===
      (1L to 400L).filter(_ / 10 <= 2).toSet)
    // a statless append stays readable through the string-pruned path
    Versioned.appendCommit(Seq((999L, "zz", null)).toDF("k", "name", "day")
      .withColumn("day", col("day").cast("date")).coalesce(1), root)
    val s1 = Versioned.prunedRead(spark, root, 1L, Nil,
      strPreds = Seq(("name", "z", "zzz")))
    assert(s1.select("k").as[Long].collect().toSet === Set(999L))
  }

  test("versioned table: predicate deletes and metadata-only column drops") {
    import spark.implicits._
    import graft.sources.Versioned
    val root = Files.createTempDirectory("graft-dw").toFile.getAbsolutePath
    Versioned.commit(
      (1L to 10L).map(i => (i, s"n$i", i * 10.0)).toDF("k", "name", "score")
        .coalesce(2), root)
    // DELETE WHERE: one scan collects doomed keys, tombstone commit follows
    val v1 = Versioned.deleteWhere(spark, root, "k", col("score") > 70.0)
    assert(v1 === 1L)
    assert(Versioned.latest(spark, root).select("k").as[Long].collect().toSet ===
      (1L to 7L).toSet)
    // matching nothing commits nothing
    assert(Versioned.deleteWhere(spark, root, "k", col("score") > 1000.0) === -1L)
    assert(Versioned.latestVersion(root) === 1L)
    // dropping the tombstone key is refused while tombstones reference it
    intercept[IllegalArgumentException](Versioned.dropColumns(root, Seq("k")))
    // a metadata-only drop: same files, reduced schema, O(1) commit
    val before = Versioned.manifest(root, 1L).map(_.path)
    val v2 = Versioned.dropColumns(root, Seq("score"))
    assert(Versioned.manifest(root, v2).map(_.path) === before)
    val dropped = Versioned.latest(spark, root)
    assert(dropped.columns.toSeq === Seq("k", "name"))
    assert(dropped.as[(Long, String)].collect().toSet ===
      (1L to 7L).map(i => (i, s"n$i")).toSet)
    // time travel still carries the full schema and the pre-delete rows
    assert(Versioned.asOf(spark, root, 0L).columns.toSeq === Seq("k", "name", "score"))
    assert(Versioned.asOf(spark, root, 0L).count() === 10L)
    // the change feed across a metadata-only boundary is EMPTY, not an error
    assert(Versioned.changesBetween(spark, root, 1L, v2).count() === 0L)
  }

  test("versioned table: append may add columns; old versions read exact") {
    import spark.implicits._
    import graft.sources.Versioned
    val root = Files.createTempDirectory("graft-evo").toFile.getAbsolutePath
    val v0 = Versioned.commit(Seq((1L, "a")).toDF("k", "name").coalesce(1), root)
    val v1 = Versioned.appendCommit(
      Seq((2L, "b", 5.0)).toDF("k", "name", "score").coalesce(1), root)
    // v0 is exactly what was committed — no phantom column
    assert(Versioned.asOf(spark, root, v0).columns.toSeq === Seq("k", "name"))
    assert(Versioned.asOf(spark, root, v0).as[(Long, String)].collect().toSet ===
      Set((1L, "a")))
    // v1 unions by name: the old file reads the new column as null
    val got = Versioned.asOf(spark, root, v1)
    assert(got.columns.toSeq === Seq("k", "name", "score"))
    assert(got.as[(Long, String, Option[Double])].collect().toSet ===
      Set((1L, "a", None), (2L, "b", Some(5.0))))
    // type evolution is refused loudly
    val ex = intercept[IllegalArgumentException](Versioned.appendCommit(
      Seq(("x", "c")).toDF("k", "name"), root))
    assert(ex.getMessage.contains("cannot change column"))
  }

  test("versioned table: change feed and timestamp travel on append/delete lineage") {
    import spark.implicits._
    import graft.sources.Versioned
    val root = Files.createTempDirectory("graft-cdf").toFile.getAbsolutePath
    // distinct commit timestamps so "as of commitTime(v)" resolves to v
    // even on a fast box (marker times have millisecond granularity)
    val v0 = Versioned.commit(Seq((1L, "a"), (2L, "b")).toDF("k", "name").coalesce(1), root)
    Thread.sleep(2)
    val v1 = Versioned.appendCommit(Seq((3L, "c")).toDF("k", "name").coalesce(1), root)
    Thread.sleep(2)
    val v2 = Versioned.deleteCommit(spark, root, "k", Seq("2"))
    Thread.sleep(2)
    def changes(a: Long, b: Long) =
      Versioned.changesBetween(spark, root, a, b)
        .select("_change_type", "k", "name").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
    // append delta: only the new file's rows, as inserts
    assert(changes(v0, v1) === Set(("insert", 3L, "c")))
    // tombstone delta: the deleted ROW, fetched from the fromV image
    assert(changes(v1, v2) === Set(("delete", 2L, "b")))
    // composed span: both, and already-deleted rows never re-report
    assert(changes(v0, v2) === Set(("insert", 3L, "c"), ("delete", 2L, "b")))
    // schema evolution rides the feed: an added column reads null on the
    // delete side (old image) and populated on the insert side
    val v3 = Versioned.appendCommit(
      Seq((4L, "d", 9.0)).toDF("k", "name", "score").coalesce(1), root)
    val evo = Versioned.changesBetween(spark, root, v2, v3)
      .select("_change_type", "k", "score").collect()
      .map(r => (r.getString(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toSet
    assert(evo === Set(("insert", 4L, Some(9.0))))
    // timestamp travel: each commit's recorded time resolves to exactly
    // that version's snapshot
    for (v <- Seq(v0, v1, v2, v3)) {
      val got = Versioned.asOfTimestamp(spark, root, Versioned.commitTime(root, v))
        .select("k").as[Long].collect().toSet
      val want = Versioned.asOf(spark, root, v)
        .select("k").as[Long].collect().toSet
      assert(got === want, s"v$v")
    }
    intercept[IllegalArgumentException](
      Versioned.asOfTimestamp(spark, root, Versioned.commitTime(root, v0) - 1))
  }

  test("versioned table: bloom point lookups skip files, prune the delete scan") {
    import spark.implicits._
    import graft.sources.Versioned
    val root = Files.createTempDirectory("graft-bloom").toFile.getAbsolutePath
    for (batch <- Seq(Seq(1L, 2L), Seq(3L, 4L), Seq(5L, 6L)))
      Versioned.appendCommit(
        batch.map(k => (k, s"n$k")).toDF("k", "name").coalesce(1), root,
        bloomCols = Seq("k"), expectedKeysPerFile = 1024L)
    val m = Versioned.manifest(root, 2L)
    assert(m.size === 3 && m.forall(_.blooms.contains("k")))
    // a point lookup reads exactly the one file that might hold the key
    val pr = Versioned.pointRead(spark, root, 2L, "k", Seq("3"))
    assert(pr.inputFiles.length === 1,
      s"expected 1 file, read ${pr.inputFiles.length}")
    assert(pr.as[(Long, String)].collect().toSet === Set((3L, "n3")))
    // an absent key returns empty (bloom misses everywhere)
    assert(Versioned.pointRead(spark, root, 2L, "k", Seq("999")).count() === 0L)
    // a bloomless append stays reachable: its file can never be skipped
    Versioned.appendCommit(Seq((7L, "n7")).toDF("k", "name").coalesce(1), root)
    val mixed = Versioned.pointRead(spark, root, 3L, "k", Seq("7"))
    assert(mixed.inputFiles.length === 1, "bloom'd files skip, bloomless kept")
    assert(mixed.as[(Long, String)].collect().toSet === Set((7L, "n7")))
    // deletes work through the bloom-pruned locate scan: the tombstone
    // lands on exactly the file holding the key
    val v4 = Versioned.deleteCommit(spark, root, "k", Seq("4"))
    val m4 = Versioned.manifest(root, v4)
    assert(m4.count(_.deletes.nonEmpty) === 1 &&
      m4.find(_.deletes.nonEmpty).get.deletes === Seq("4"))
    assert(Versioned.latest(spark, root).select("k").as[Long].collect().toSet ===
      Set(1L, 2L, 3L, 5L, 6L, 7L))
    // point lookups apply tombstones like every read
    assert(Versioned.pointRead(spark, root, v4, "k", Seq("4")).count() === 0L)
  }

  test("streaming delete events land as tombstone commits per micro-batch") {
    import spark.implicits._
    import graft.sources.Versioned
    val root = Files.createTempDirectory("graft-sdel").toFile.getAbsolutePath
    Versioned.commit(
      (1L to 6L).map(i => (i, s"n$i")).toDF("k", "name").coalesce(2), root)
    val dir = Files.createTempDirectory("graft-sdelsrc").toFile
    val chk = Files.createTempDirectory("graft-sdelchk").toFile
    Files.write(dir.toPath.resolve("b1.json"), """{"k": 2}""".getBytes)
    // the GDPR/CDC wipe loop: each micro-batch's keys land as ONE O(delta)
    // tombstone commit — no file rewritten, history per batch (the delete
    // set is delta-bounded by contract, so the driver-side key collect is)
    val q = spark.readStream.schema("k BIGINT").json(dir.getAbsolutePath)
      .writeStream
      .option("checkpointLocation", chk.getAbsolutePath)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val keys = batch.select(col("k").cast("string"))
          .collect().map(_.getString(0)).toSeq
        if (keys.nonEmpty) { Versioned.deleteCommit(spark, root, "k", keys); () }
      }
      .start()
    try {
      q.processAllAvailable()
      assert(Versioned.latest(spark, root).select("k").as[Long].collect().toSet ===
        Set(1L, 3L, 4L, 5L, 6L))
      Files.write(dir.toPath.resolve("b2.json"), """{"k": 5}""".getBytes)
      q.processAllAvailable()
      assert(Versioned.latest(spark, root).select("k").as[Long].collect().toSet ===
        Set(1L, 3L, 4L, 6L))
      // tombstones accumulated across batches; every version time-travels
      assert(Versioned.history(root) === Seq(0L, 1L, 2L))
      assert(Versioned.manifest(root, 2L).flatMap(_.deletes).toSet === Set("2", "5"))
      assert(Versioned.asOf(spark, root, 1L).count() === 5L)
      assert(Versioned.asOf(spark, root, 0L).count() === 6L)
    } finally q.stop()
  }

  test("stage landing is a durable re-readable file landing (no commit ceremony)") {
    import spark.implicits._
    val (landed, root) = graft.Tables.materializeStageOwned(
      Seq((1L, "a"), (2L, "b")).toDF("k", "name"))
    assert(landed.as[(Long, String)].collect().toSet ===
      Set((1L, "a"), (2L, "b")))
    // the stage is plain landed parquet — the durable fault story (an
    // executor loss re-reads landed files; nothing rides lost lineage) —
    // with NONE of a Versioned commit's ceremony: no driver-side sha256
    // content pooling of the staged bytes, no manifest/marker writes
    // (r13 verdict #4 — the ceremony was pure write amplification for an
    // anonymous, single-writer, refresh-scoped intermediate)
    val dataDir = new java.io.File(new java.net.URI(landed.inputFiles.head))
      .getParentFile
    assert(dataDir.getParentFile.getAbsolutePath === root)
    assert(!new java.io.File(root, "_commits").exists())
    assert(!new java.io.File(root, "_files").exists())
    // a fresh reader over the same root sees the same rows (re-readable)
    assert(spark.read.parquet(dataDir.getAbsolutePath)
      .as[(Long, String)].collect().toSet === Set((1L, "a"), (2L, "b")))
    graft.Tables.dropStage(root)
    assert(!new java.io.File(root).exists())
  }

  test("streaming curation lands append-only manifest commits per micro-batch") {
    import graft.operators.Curate
    import graft.sources.Versioned
    val dir = Files.createTempDirectory("graft-scur").toFile
    val chk = Files.createTempDirectory("graft-scurchk").toFile
    val root = Files.createTempDirectory("graft-scurtbl").toFile.getAbsolutePath
    val good = ("w " * 45) + "the and of to a in" // 51 words, stopword-rich
    def doc(id: Long, src: String, text: String) =
      s"""{"doc_id":$id,"source":"$src","text":"$text"}"""
    // batch 1: two keepers (one duplicated text → one survivor) + junk
    Files.write(dir.toPath.resolve("b1.json"),
      Seq(doc(1, "src0", good), doc(2, "src0", good), doc(3, "src0", "!!! ???"))
        .mkString("\n").getBytes)
    val schema = "doc_id BIGINT, source STRING, text STRING"
    val q = spark.readStream.schema(schema).json(dir.getAbsolutePath)
      .writeStream
      .option("checkpointLocation", chk.getAbsolutePath)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        // the ingest-time curation loop: gate the micro-batch, land it as
        // an O(delta) manifest commit — the durable form of the p8 stage
        // landing (cross-batch dedup is d10's incremental job, not the gate's)
        val gated = Curate.qualityGate(batch)
        // bloom-indexed landing: the ingest loop's manifests carry the
        // point-lookup index from the start (no later OPTIMIZE needed)
        if (!gated.isEmpty) {
          Versioned.appendCommit(gated, root,
            bloomCols = Seq("doc_id"), expectedKeysPerFile = 1024L); ()
        }
      }
      .start()
    try {
      q.processAllAvailable()
      assert(Versioned.history(root) === Seq(0L))
      assert(Versioned.latest(spark, root).select("doc_id")
        .collect().map(_.getLong(0)).toSet === Set(1L))
      // batch 2: one more keeper — the new version's manifest STARTS WITH
      // batch 1's files (append sharing from a real stream)
      Files.write(dir.toPath.resolve("b2.json"),
        Seq(doc(10, "src1", good + " more words here")).mkString("\n").getBytes)
      q.processAllAvailable()
      assert(Versioned.history(root) === Seq(0L, 1L))
      val m0 = Versioned.manifest(root, 0L).map(_.path)
      val m1 = Versioned.manifest(root, 1L).map(_.path)
      assert(m1.startsWith(m0) && m1.size > m0.size)
      assert(Versioned.latest(spark, root).select("doc_id")
        .collect().map(_.getLong(0)).toSet === Set(1L, 10L))
      // time travel still shows the first ingest exactly
      assert(Versioned.asOf(spark, root, 0L).count() === 1L)
      // the landed manifests carry blooms; a point lookup skips to 1 file
      assert(Versioned.manifest(root, 1L).forall(_.blooms.contains("doc_id")))
      val pr = Versioned.pointRead(spark, root, 1L, "doc_id", Seq("10"))
      assert(pr.inputFiles.length === 1 && pr.count() === 1L)
    } finally q.stop()
  }

  test("versioned table: compaction commits the same rows in fewer, z-ordered files") {
    import spark.implicits._
    import graft.sources.Versioned
    val root = Files.createTempDirectory("graft-compact").toFile.getAbsolutePath
    // a fragmented ingest: 500 rows scattered over 8 files
    val rows = (1L to 500L).map(i => (i, i % 7, s"n$i", i * 1.5))
    Versioned.commit(
      rows.toDF("k", "g", "name", "v").repartition(8), root)
    def files(v: Long) = Versioned.manifest(root, v).size
    assert(files(0) === 8)
    val v1 = Versioned.compact(spark, root, numFiles = 2, zorderCols = Seq("k", "g"))
    assert(v1 === 1L && files(1) === 2)
    // layout-only: the compacted snapshot is row-identical …
    def snap(v: Long) =
      Versioned.asOf(spark, root, v).as[(Long, Long, String, Double)].collect().toSet
    assert(snap(1) === snap(0))
    // … and the pre-compaction version still time-travels
    assert(Versioned.history(root) === Seq(0L, 1L))
    assert(snap(0).size === 500)
    // OPTIMIZE rebuilds the skipping indexes instead of losing them: the
    // z-ordered path records per-file stats, bloomCols adds bloom indexes
    val v2 = Versioned.compact(spark, root, numFiles = 2,
      zorderCols = Seq("k", "g"), bloomCols = Seq("k"))
    val m2 = Versioned.manifest(root, v2)
    assert(m2.forall(e => e.stats.keySet === Set("k", "g") && e.blooms.contains("k")))
    val pr = Versioned.pointRead(spark, root, v2, "k", Seq("42"))
    assert(pr.inputFiles.length === 1)
    assert(pr.select("k").as[Long].collect().toSeq === Seq(42L))
  }

  test("versioned table: bin-packed compaction settles full bins for good") {
    import spark.implicits._
    import graft.sources.Versioned
    val root = Files.createTempDirectory("graft-bins").toFile.getAbsolutePath
    // payload-dominated files (distinct strings defeat compression), so
    // a merged bin's OUTPUT also crosses the threshold — the settle
    // property is about output bytes, and tiny footer-dominated files
    // would shrink on merge
    def slice(lo: Long, n: Long) = spark.range(n)
      .select((col("id") + lo).as("k"), (lit(lo) + col("id")).as("ts"),
        sha2(concat(lit("s"), col("id") + lo), 256).as("payload"))
    // six equal-size tick files; threshold ≈ 2.5 files: greedy fill
    // crosses after the third file → two settled outputs of ~3 files
    (0 until 6).foreach { i =>
      Versioned.appendCommit(slice(i * 10000L, 5000L).coalesce(1), root,
        statsCols = Seq("ts"))
    }
    val v0 = Versioned.latestVersion(root)
    val sizes = Versioned.manifest(root, v0)
      .map(e => new java.io.File(root, e.path).length())
    val threshold = (sizes.max * 5) / 2
    val before = Versioned.asOf(spark, root, v0)
      .as[(Long, Long, String)].collect().toSet
    val v1 = Versioned.compactSmall(spark, root, maxBytes = threshold)
    val m1 = Versioned.manifest(root, v1)
    assert(m1.size === 2)
    // bins are RANGE-ADJACENT (ordered on the ts stats), so each output
    // covers a contiguous tick run — the pruning index stays tight
    assert(m1.map(_.stats("ts")).toSet ===
      Set((0.0, 24999.0), (30000.0, 54999.0)))
    // both outputs crossed the threshold: they SETTLED, and the next
    // tick has nothing small to merge — no rewrite churn on a hot landing
    assert(m1.forall(e => new java.io.File(root, e.path).length() > threshold))
    assert(Versioned.compactSmall(spark, root, maxBytes = threshold) === -1L)
    assert(Versioned.asOf(spark, root, v1)
      .as[(Long, Long, String)].collect().toSet === before)
  }

  test("versioned table: small-file compaction bin-packs ONLY the small files") {
    import spark.implicits._
    import graft.sources.Versioned
    val root = Files.createTempDirectory("graft-csm").toFile.getAbsolutePath
    // the scrape-landing shape: one big historical file plus five tiny
    // tick files, all carrying timestamp stats
    def slice(lo: Long, n: Long) = spark.range(n)
      .select((col("id") + lo).as("k"), (col("id") % 5).as("g"),
        (col("id") * 2.0).as("v"), (lit(lo) + col("id")).as("ts"))
    Versioned.appendCommit(slice(0L, 200000L).coalesce(1), root,
      statsCols = Seq("ts"))
    (0 until 5).foreach { i =>
      Versioned.appendCommit(
        slice(2000000L + i * 1000L, 50L).coalesce(1), root,
        statsCols = Seq("ts"))
    }
    val v0 = Versioned.latestVersion(root)
    val m0 = Versioned.manifest(root, v0)
    assert(m0.size === 6)
    val bigEntry = m0.maxBy(e => new java.io.File(root, e.path).length())
    val threshold = new java.io.File(root, bigEntry.path).length() - 1
    def snap(v: Long) = Versioned.asOf(spark, root, v)
      .as[(Long, Long, Double, Long)].collect().toSet
    val before = snap(v0)
    val v1 = Versioned.compactSmall(spark, root, maxBytes = threshold)
    assert(v1 === v0 + 1)
    val m1 = Versioned.manifest(root, v1)
    // big file untouched (same path AND digest — never rewritten);
    // the five ticks merged into one
    assert(m1.size === 2)
    assert(m1.exists(e => e.path == bigEntry.path && e.sha256 == bigEntry.sha256))
    // rows identical; the pre-compaction version still time-travels
    assert(snap(v1) === before)
    assert(Versioned.asOf(spark, root, v0).count() === before.size.toLong)
    // the merged file KEEPS the skipping index: its ts stats are the
    // union of the compacted ticks', so a tick-range query still lists
    // one file, not the big one
    val merged = m1.find(_.path != bigEntry.path).get
    assert(merged.stats("ts") === ((2000000.0, 2004049.0)))
    val pr = Versioned.prunedRead(spark, root, v1,
      Seq(("ts", 2000000.0, 3000000.0)))
    assert(pr.inputFiles.length === 1 && pr.count() === 250L)
    // nothing left to merge: one small file is not worth a commit
    assert(Versioned.compactSmall(spark, root, maxBytes = threshold) === -1L)
    // tombstones on small files MATERIALIZE away in the rewrite: delete
    // a merged-tick key, land one more tick (two small files again),
    // compact — the new merged file carries no tombstones and the
    // deleted row is gone for good
    Versioned.deleteCommit(spark, root, "k", Seq("2000000"))
    Versioned.appendCommit(slice(3000000L, 50L).coalesce(1), root,
      statsCols = Seq("ts"))
    val v3 = Versioned.compactSmall(spark, root, maxBytes = threshold)
    assert(v3 > 0)
    val m3 = Versioned.manifest(root, v3)
    assert(m3.size === 2 && m3.forall(_.deletes.isEmpty))
    assert(m3.find(_.path != bigEntry.path).get.stats("ts") ===
      ((2000001.0, 3000049.0)))
    assert(Versioned.asOf(spark, root, v3).filter(col("k") === 2000000L).count() === 0L)
    assert(Versioned.asOf(spark, root, v3).count() === before.size.toLong + 50 - 1)
    // stats on a DROPPED column (old files still carry ts stats after the
    // drop) must not break the rewrite — the merged file just re-stats
    // the live columns
    Versioned.dropColumns(root, Seq("ts"))
    Versioned.appendCommit(slice(4000000L, 50L).coalesce(1)
      .drop("ts"), root)
    val v4 = Versioned.compactSmall(spark, root, maxBytes = threshold)
    assert(v4 > 0)
    assert(Versioned.manifest(root, v4).size === 2)
    assert(Versioned.manifest(root, v4).forall(e => !e.stats.contains("ts") ||
      e.path == bigEntry.path))
    assert(Versioned.asOf(spark, root, v4).count() === before.size.toLong + 100 - 1)
  }
}
