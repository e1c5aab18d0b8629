package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The signed-aggregation machinery SHARED by [[MaterializedView]] and
  * [[MaterializedJoinView]] — one implementation of the per-group
  * evidence aggregation, the no-touch lemma, the incremental merge, and
  * the view-row projection, so a fix to either view's maintenance core
  * is structurally a fix to both (the two views previously duplicated
  * ~100 lines of this and had already begun to drift).
  *
  * Both views feed it SIGNED rows (+1 insert, −1 retraction — the
  * single-table view signs by `_change_type`, the join view by the
  * delta-term weight product) and differ only in where those rows come
  * from and in small hooks: an extra aggregate (the join view's ΔA⋈ΔB
  * taint flag) and an extra lemma-keep predicate.
  */
private[graft] object Ivm {

  val GK = "_gk"

  /** Refresh-scoped DURABLE staging, shared by both view flavors: each
    * intermediate a refresh re-reads (the collected delta, the merged
    * incremental arm, the recompute arm) lands as files via
    * [[graft.Tables.materializeStageOwned]] instead of a bare
    * `localCheckpoint` — truncated-lineage blocks are unrecoverable
    * after executor loss on a real cluster, where a landed stage just
    * re-reads. Stages live exactly as long as their refresh: the owner
    * calls [[dropAll]] in a `finally` once the commit has published (or
    * the refresh failed), so a refresh LOOP never grows the stage
    * volume. A failed refresh retries safely either way — the commit's
    * `expectedVersion` check makes double-apply impossible.
    */
  final class Stages {
    private val roots = scala.collection.mutable.ArrayBuffer.empty[String]
    def apply(df: DataFrame): DataFrame = applyWithRoot(df)._1
    /** [[apply]] returning the landed root too — callers that want to
      * re-read the staged bytes DRIVER-side (the key/flag collects) need
      * the files' location. Thread-safe: [[inParallel]] stages from two
      * threads.
      */
    def applyWithRoot(df: DataFrame): (DataFrame, String) = {
      val (out, root) = graft.Tables.materializeStageOwned(df)
      synchronized { roots += root }
      (out, root)
    }
    def dropAll(): Unit = synchronized(roots.toSeq).foreach(graft.Tables.dropStage)
  }

  /** The threads [[inParallel]] runs its second arm on: daemon threads,
    * so a pending arm never holds the JVM open, and not the common
    * ForkJoinPool, which blocking Spark actions would share with
    * unrelated work.
    */
  private lazy val armPool = java.util.concurrent.Executors.newCachedThreadPool { r =>
    val t = new Thread(r, "graft-ivm-arm")
    t.setDaemon(true)
    t
  }

  /** Run two INDEPENDENT pieces of refresh work concurrently (guide §2.6
    * — actions are only sequential because driver code calls them
    * sequentially; submitting the second from another thread lets its
    * jobs back-fill executors the first's tail leaves idle). Used only
    * where the two sides share no data dependency and their effects are
    * order-independent (separate stage landings, separate key collects),
    * so the refresh outcome is bit-identical to the sequential order.
    *
    * When `a` throws, `b` is awaited before the exception surfaces (its
    * own failure rides along as a suppressed exception): the owner's
    * [[Stages.dropAll]] must see every stage `b` lands, and must not
    * delete one while `b` is still writing it.
    */
  def inParallel[A, B](a: => A, b: => B): (A, B) = {
    import org.apache.spark.sql.SparkSession
    val session = SparkSession.getActiveSession
    val fb = armPool.submit(new java.util.concurrent.Callable[B] {
      def call(): B = {
        session match {
          case Some(s) => SparkSession.setActiveSession(s)
          case None => SparkSession.clearActiveSession()
        }
        b
      }
    })
    def joinB(): B =
      try fb.get()
      catch { case e: java.util.concurrent.ExecutionException =>
        throw Option(e.getCause).getOrElse(e) }
    val ra =
      try a
      catch { case e: Throwable =>
        try joinB() catch { case eb: Throwable => e.addSuppressed(eb) }
        throw e
      }
    (ra, joinB())
  }

  /** The staged-relation data dir [[graft.Tables.materializeStageOwned]]
    * wrote under `root`.
    */
  private def stagedDataDir(root: String): String =
    new java.io.File(root, "d").getAbsolutePath

  /** The concatenated group-key column — the view table's upsert key.
    * Unit separator between columns; nulls render distinct from the
    * string "null" via a sentinel.
    */
  def gkOf(groupCols: Seq[String]): Column =
    concat_ws("\u0001",
      groupCols.map(c => coalesce(col(c).cast("string"), lit("\u0000"))): _*)

  def zero: Column = lit(0).cast("decimal(28,6)")

  /** Signed per-group evidence over change rows: `_dcnt` (net count),
    * exact decimal `_dsum_<c>` per sum column, `_del` (any retraction),
    * and — when min/max are maintained — the four extremum-evidence
    * stats per column (insert-side min/max, retraction-side min/max).
    */
  def evidenceAgg(
      rows: DataFrame,
      sign: Column,
      groupCols: Seq[String],
      sumCols: Seq[String],
      minMaxCols: Seq[String],
      extraAggs: Seq[Column] = Nil): DataFrame = {
    val isIns = sign > 0
    rows.groupBy(groupCols.map(col): _*)
      .agg(
        sum(sign).cast("bigint").as("_dcnt"),
        sumCols.map(c =>
          sum(sign * col(c).cast("decimal(18,6)"))
            .cast("decimal(28,6)").as(s"_dsum_$c")) ++
          Seq(max(when(!isIns, lit(1)).otherwise(lit(0))).as("_del")) ++
          extraAggs ++
          minMaxCols.flatMap(c => Seq(
            min(when(isIns, col(c))).as(s"_imin_$c"),
            max(when(isIns, col(c))).as(s"_imax_$c"),
            min(when(!isIns, col(c))).as(s"_rmin_$c"),
            max(when(!isIns, col(c))).as(s"_rmax_$c"))): _*)
  }

  /** The no-touch LEMMA keep-predicate: a group whose insert-side stats
    * equal its retraction-side stats — count, each decimal sum, min AND
    * max per maintained column — provably keeps its exact view row
    * (deletes only retract existing rows: if min(M)∈D then
    * min(I)=min(D)=min(M) restores it, else min(M−D)=min(M) kept it;
    * dually for max; cnt/sum trivially by linearity), which is what
    * makes a compact span a watermark-only commit. `extraKeep` ORs in a
    * caller-side soundness override (the join view keeps every group its
    * correction term touched — see its lemma note).
    */
  def lemmaKeep(
      sumCols: Seq[String],
      minMaxCols: Seq[String],
      extraKeep: Option[Column] = None): Column = {
    val base =
      (sumCols.map(c => col(s"_dsum_$c") =!= zero) ++
        minMaxCols.flatMap(c => Seq(
          !(col(s"_imin_$c") <=> col(s"_rmin_$c")),
          !(col(s"_imax_$c") <=> col(s"_rmax_$c")))))
        .foldLeft(col("_dcnt") =!= 0L)(_ || _)
    extraKeep.fold(base)(base || _)
  }

  /** The incremental arm's merge: each delta group joined to its current
    * view row (absent = fresh group), counts and exact decimal sums
    * added, extremes self-maintained via `least`/`greatest` (sound for
    * insert-only groups — retraction-touched groups take the caller's
    * recompute arm instead), and a count below zero raising loudly
    * (`what` names the view flavor in the error).
    */
  def mergeIncr(
      delta: DataFrame,
      old: DataFrame,
      groupCols: Seq[String],
      sumCols: Seq[String],
      minMaxCols: Seq[String],
      what: String): DataFrame =
    delta.alias("d")
      .join(old.alias("o"), Seq(GK), "left")
      .select(
        Seq(col(GK),
          (coalesce(col("o.cnt"), lit(0L)) + col("d._dcnt")).as("cnt")) ++
        groupCols.map(c => col(s"d.$c")) ++
        sumCols.map(c =>
          (coalesce(col(s"o.sum_$c"), zero) + col(s"d._dsum_$c"))
            .cast("decimal(28,6)").as(s"sum_$c")) ++
        minMaxCols.flatMap(c => Seq(
          least(col(s"o.min_$c"), col(s"d._imin_$c")).as(s"min_$c"),
          greatest(col(s"o.max_$c"), col(s"d._imax_$c")).as(s"max_$c"))): _*)
      .withColumn("cnt",
        when(col("cnt") < 0L,
          raise_error(concat(lit(s"$what underflow on group "),
            col(GK))).cast("bigint"))
          .otherwise(col("cnt")))

  /** The view table's column set, in its canonical order. */
  def viewCols(
      groupCols: Seq[String],
      sumCols: Seq[String],
      minMaxCols: Seq[String]): Seq[Column] =
    (groupCols.map(col) :+ col("cnt")) ++
      sumCols.map(c => col(s"sum_$c")) ++
      minMaxCols.flatMap(c => Seq(col(s"min_$c"), col(s"max_$c"))) :+ col(GK)

  /** Read-side projection: each exact decimal sum as a double
    * `sum_<c>` with the derived `avg_<c>` alongside.
    */
  def readWithAvg(df: DataFrame, sumCols: Seq[String]): DataFrame =
    sumCols.foldLeft(df) { (acc, c) =>
      acc.withColumn(s"avg_$c", (col(s"sum_$c") / col("cnt")).cast("double"))
        .withColumn(s"sum_$c", col(s"sum_$c").cast("double"))
    }

  /** Split the merged incremental arm + optional recompute arm into the
    * commit's survivors, the group keys to tombstone, and the survivors'
    * exact key set (handed to `replaceCommit(knownKeys = …)` so the
    * commit never re-runs the survivor frame just to learn its keys):
    * zero-count incremental groups vanish, and so do recompute-arm probe
    * keys whose recomputed relation came back empty (all their rows are
    * gone). ONE action: the zero-count keys and the recompute arm's
    * alive keys collect as a single unioned scan of the (staged) arms —
    * both group-bounded, the established O(delta) driver contract.
    * `incrKeys` is the key set of the delta rows fed to [[mergeIncr]]
    * (the caller already holds it from its delta collect); the merge's
    * left join preserves it exactly, so survivors-from-merged =
    * incrKeys − zeroed-from-merged without another pass.
    */
  def survivorsAndZeroed(
      merged: DataFrame,
      mergedRoot: String,
      recomputed: Option[(DataFrame, String)],
      recomputeKeys: Seq[String],
      cols: Seq[Column],
      incrKeys: Seq[String]): (DataFrame, Seq[String], Seq[String]) = {
    val survivors = (merged.filter(col("cnt") > 0L).select(cols: _*) +:
      recomputed.map(_._1.select(cols: _*)).toSeq).reduce(_.unionByName(_))
    // the zeroed/alive key lists come from the STAGED arms — landed local
    // files — so the metadata-sized case reads them driver-side instead of
    // paying a scheduler round trip (the r17 driver-commit-scan
    // discipline; oversized/unreadable stages fall back to the collect).
    // The staged merged arm has already evaluated mergeIncr's underflow
    // raise_error at its write, so no check is skipped.
    val viaDriver: Option[(Seq[String], Seq[String])] = for {
      m <- Versioned.stagedLocalRows(
        merged.sparkSession, stagedDataDir(mergedRoot), Seq(GK, "cnt"))
      r <- recomputed match {
        case None => Some(Nil: Seq[String])
        case Some((_, root)) =>
          Versioned.stagedLocalRows(
            merged.sparkSession, stagedDataDir(root), Seq(GK))
            .map(_.flatMap(_(0)))
      }
    } yield (m.filter(_(1).contains("0")).flatMap(_(0)), r)
    val (zeroFromMerged, alive) = viaDriver.getOrElse {
      val marks = (merged.filter(col("cnt") === 0L)
        .select(col(GK), lit(0).as("_m")) +:
        recomputed.map(_._1.select(col(GK), lit(1).as("_m"))).toSeq)
        .reduce(_.unionByName(_)).collect()
      (marks.filter(_.getInt(1) == 0).map(_.getString(0)).toSeq,
        marks.filter(_.getInt(1) == 1).map(_.getString(0)).toSeq)
    }
    val zeroed = zeroFromMerged ++ recomputeKeys.filterNot(alive.toSet)
    val survivorKeys =
      (incrKeys.filterNot(zeroFromMerged.toSet) ++ alive).distinct
    (survivors, zeroed, survivorKeys)
  }

  /** The staged delta's `(GK, _del)` key/flag rows — driver-side from the
    * landed stage files when metadata-sized, the Spark collect otherwise
    * (same contract as [[survivorsAndZeroed]]'s key lists).
    */
  def deltaKeyFlags(
      delta: DataFrame, deltaRoot: String): Seq[(String, Int)] =
    Versioned.stagedLocalRows(
      delta.sparkSession, stagedDataDir(deltaRoot), Seq(GK, "_del")) match {
      case Some(rows) => rows.map(r => (r(0).get, r(1).get.toInt))
      case None => delta.select(col(GK), col("_del")).collect()
        .map(r => (r.getString(0), r.getInt(1))).toSeq
    }
}
