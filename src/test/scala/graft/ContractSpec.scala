package graft

/** Driver-contract guard: every declared query must execute at smoke scale,
  * and every oracle key must name a real query (the driver's compare treats
  * a missing/renamed key as a silent correctness zero).
  */
class ContractSpec extends SparkSuite {

  test("oracle keys are exactly a subset of query keys") {
    val queries = SparkEntry.queries.keySet
    val orphans = SparkEntry.oracleSql.keySet -- queries
    assert(orphans.isEmpty, s"oracle entries without a query: $orphans")
    val rowsOnly = queries -- SparkEntry.oracleSql.keySet
    // rows-only queries are the deliberate, documented exceptions: solver
    // outputs (KMeans cells, LR coefficients) have no portable oracle and
    // are spec-verified instead (recall floor / agreement floor)
    assert(
      rowsOnly === Set(
        "s3_ann_ivf", "s9_ann_ivfpq", "t10_quality_model", "d27_semdedup_ivf"),
      s"unexpected rows-only set: $rowsOnly")
  }

  test("every declared query executes at smoke scale") {
    val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      try {
        fn(spark, sfDir).count()
        None
      } catch {
        case e: Throwable => Some(s"$name: ${e.getMessage.take(120)}")
      }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("a failing bench query is listed as failed and left out of the timings") {
    var runs = 0
    val ordered = Seq[(String, (org.apache.spark.sql.SparkSession, String) =>
        org.apache.spark.sql.DataFrame)](
      "ok" -> ((s, _) => s.range(3).toDF()),
      "broken" -> ((_, _) => { runs += 1; throw new IllegalStateException("boom") }))
    val m = Bench.measure(spark, sfDir, ordered)
    assert(m.failed === Seq("broken"))
    assert(m.results.map(_._1) === Seq("ok"))
    assert(m.pass1.map(_._1) === Seq("ok"))
    assert(runs === 1, "a failed query is not run again")
    assert(Bench.jsonList(m.failed) === "[\"broken\"]")
  }

  test("the flagship entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("invalidateMemos drops the jaccard-pair memo and releases its blocks") {
    // start from a clean slate (other suites share the session and may have
    // populated the memo already)
    SparkEntry.invalidateMemos(spark)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    SparkEntry.queries("d2_dedup_ngram_jaccard")(spark, sfDir).count()
    assert(SparkEntry.memoEntries(spark) === 1, "memo not populated by d2")
    val added = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(added.nonEmpty, "expected the localCheckpoint to persist a block set")
    // the parsed-metric-stream memo populates on first m-family use
    SparkEntry.queries("m2_gauge_latest")(spark, sfDir).count()
    assert(SparkEntry.memoEntries(spark) === 2, "metrics memo not populated by m2")
    SparkEntry.invalidateMemos(spark)
    assert(SparkEntry.memoEntries(spark) === 0, "memo entry survived invalidation")
    val after = spark.sparkContext.getPersistentRDDs.keySet
    assert(added.intersect(after).isEmpty,
      s"checkpoint blocks still pinned after invalidation: ${added.intersect(after)}")
    // and the next use rebuilds rather than failing
    assert(SparkEntry.queries("d2_dedup_ngram_jaccard")(spark, sfDir).count() > 0)
  }
}
