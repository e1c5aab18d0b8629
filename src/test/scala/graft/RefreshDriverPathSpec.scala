package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.sources.{MaterializedJoinView, MaterializedView, Versioned}

/** Pins for the r18 refresh-machinery optimizations:
  *
  *  1. the `knownKeys` CONTRACT (VERDICT r17 #2): every refresh caller's
  *     driver-held key set must equal the committed frame's distinct keys
  *     — checked live under `spark.graft.verifyKnownKeys`, which these
  *     seeded refreshes run with ON, and pinned negatively by a
  *     deliberately wrong set failing loudly;
  *  2. the staged-relation DRIVER reads (deltaKeyFlags /
  *     survivorsAndZeroed / the counter probes): forcing the Spark
  *     fallback via `spark.graft.driverCommitScanMaxBytes = 0` must
  *     produce bit-identical views to the driver fast path, null group
  *     columns included;
  *  3. an unreadable staging dir is a FALLBACK, not an empty read.
  */
class RefreshDriverPathSpec extends SparkSuite {

  import spark.implicits._

  private def tmp(pfx: String): String =
    Files.createTempDirectory(pfx).toFile.getAbsolutePath

  /** A seeded MV lifecycle (create, append span, delete span) whose
    * refreshes exercise the incremental arm, the recompute arm, zeroed
    * groups, and the knownKeys handoff. Returns the final view rows.
    */
  private def mvLifecycle(): Set[(String, Long, Double, Double, Double)] = {
    val src = tmp("rdp-src"); val view = tmp("rdp-view")
    // group g6 is a null key
    val all = (1L to 60L).map(k => (k, if (k % 7 == 6) null else s"g${k % 7}", k * 1.5))
    Versioned.appendCommit(
      all.filter(_._1 % 3 != 0).toDF("k", "g", "x").coalesce(2), src,
      bloomCols = Seq("k"))
    MaterializedView.create(spark, src, view, Seq("g"), Seq("x"),
      minMaxCols = Seq("x"))
    Versioned.appendCommit(
      all.filter(_._1 % 3 == 0).toDF("k", "g", "x").coalesce(2), src,
      bloomCols = Seq("k"))
    MaterializedView.refresh(spark, view)
    Versioned.deleteWhere(spark, src, "k", col("k") % 5 === 0)
    MaterializedView.refresh(spark, view)
    MaterializedView.read(spark, view)
      .select(col("g"), col("cnt"), col("sum_x"), col("min_x"), col("max_x"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4))).toSet
  }

  private def mvjLifecycle(): Set[(String, Long, Double)] = {
    val fact = tmp("rdp-fact"); val dim = tmp("rdp-dim"); val view = tmp("rdp-mvj")
    val facts = (1L to 50L).map(k => (k, k % 11, k * 2.0))
    val dims = (0L to 10L).map(j => (j, if (j == 10) null else s"s${j % 4}"))
    Versioned.appendCommit(facts.filter(_._1 % 2 == 1).toDF("fk", "jk", "p")
      .coalesce(2), fact, bloomCols = Seq("jk", "fk"))
    Versioned.appendCommit(dims.toDF("jk", "seg").coalesce(1), dim,
      bloomCols = Seq("jk"))
    MaterializedJoinView.create(spark, fact, dim, view, "jk", Seq("seg"),
      Seq("p"), minMaxCols = Seq("p"))
    Versioned.appendCommit(facts.filter(_._1 % 2 == 0).toDF("fk", "jk", "p")
      .coalesce(2), fact, bloomCols = Seq("jk", "fk"))
    MaterializedJoinView.refresh(spark, view)
    Versioned.upsertCommit(
      dims.filter(_._1 % 3 == 0).map { case (j, _) => (j, "MOVED") }
        .toDF("jk", "seg").coalesce(1), dim, "jk")
    MaterializedJoinView.refresh(spark, view)
    Versioned.deleteWhere(spark, fact, "fk", col("fk") % 10 === 0)
    MaterializedJoinView.refresh(spark, view)
    MaterializedJoinView.read(spark, view)
      .select(col("seg"), col("cnt"), col("sum_p")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
  }

  private def counterLifecycle(): Set[(String, Long, Double)] = {
    val src = tmp("rdp-csrc"); val view = tmp("rdp-cview")
    // null group columns: u3's samples have no labels (a null series),
    // u4's no component
    def m(range: Seq[Long]) = range.map(t =>
      (if (t % 5 == 4) null else "app", "view_total",
        if (t % 5 == 3) null else Map("user" -> s"u${t % 5}"), t, s"e$t",
        (t % 17).toDouble))
      .toDF("component", "name", "labels", "timestamp", "id", "value")
    Versioned.appendCommit(m(1L to 40L).coalesce(2), src)
    promql.PromQlRecord.create(spark,
      "app:inc = increase(view_total[10s])", src, view)
    Versioned.appendCommit(m(41L to 70L).coalesce(2), src)
    promql.PromQlRecord.refresh(spark, view)
    Versioned.appendCommit(m(71L to 100L).coalesce(2), src)
    promql.PromQlRecord.refresh(spark, view)
    promql.PromQlRecord.read(spark, view)
      .select(col("series"), col("win_start"), col("value")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
  }

  test("refresh lifecycles hold the knownKeys contract (verify flag ON)") {
    withConf("spark.graft.verifyKnownKeys", "true") {
      // any knownKeys/df divergence in the MV, MVJ, or counter refresh
      // paths throws inside replaceCommit — completing IS the assertion;
      // the results are additionally pinned against a recompute
      val mv = mvLifecycle()
      assert(mv.nonEmpty && mv.forall(_._2 > 0))
      val mvj = mvjLifecycle()
      assert(mvj.nonEmpty && mvj.forall(_._2 > 0))
      val ctr = counterLifecycle()
      assert(ctr.nonEmpty)
    }
  }

  test("a wrong knownKeys set fails loudly under the verify flag") {
    val root = tmp("rdp-neg")
    Versioned.appendCommit(Seq((1L, 2.0)).toDF("k", "x").coalesce(1), root,
      bloomCols = Seq("k"))
    withConf("spark.graft.verifyKnownKeys", "true") {
      val e = intercept[IllegalArgumentException] {
        Versioned.replaceCommit(
          Seq((2L, 3.0)).toDF("k", "x").coalesce(1), root, "k",
          knownKeys = Some(Seq("999")))
      }
      assert(e.getMessage.contains("knownKeys"))
    }
  }

  test("driver fast path and Spark fallback commit bit-identical views") {
    val fast = (mvLifecycle(), mvjLifecycle(), counterLifecycle())
    withConf("spark.graft.driverCommitScanMaxBytes", "0") {
      val slow = (mvLifecycle(), mvjLifecycle(), counterLifecycle())
      assert(fast === slow)
    }
  }

  test("an unreadable staged dir falls back (None), never reads as empty") {
    assert(Versioned.stagedLocalRows(
      spark, "/nonexistent/graft-stage/d", Seq("k")).isEmpty)
  }
}
