package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions

/** Incrementally-maintained GROUP BY aggregates over a [[Versioned]]
  * table — the materialized-view shape (Delta Live Tables / Materialize /
  * the IVM literature): the view holds `cnt` + exact decimal `sum_<c>`
  * per group (avg derives as sum/cnt at read time), optionally
  * `min_<c>`/`max_<c>`, and [[refresh]] advances it by consuming ONLY
  * the change feed ([[Versioned.changesBetween]]) since the last
  * refresh. Count and sum are SELF-MAINTAINABLE (inserts add, deletes
  * subtract — O(delta) always). Min/max are self-maintainable only
  * under inserts; a delete that might retract the extremum needs the
  * runner-up, which only the base data knows — those groups are
  * RECOMPUTED from the source (the hybrid strategy production IVM
  * engines use), costing O(affected groups' rows), never O(table).
  *
  * == Correctness levers ==
  *
  *  - **Exact arithmetic**: sums are DECIMAL(28,6) (the engine-wide
  *    order-independent float discipline), so increments commute and a
  *    refreshed view is BIT-IDENTICAL to a full recompute — hash-
  *    comparable, not approximately equal.
  *  - **Atomicity**: each refresh is ONE [[Versioned.replaceCommit]]
  *    carrying the updated groups, the tombstones of groups whose count
  *    reached zero, AND the new source watermark in the marker's
  *    `props` — a crash at any point either applied the whole delta
  *    (watermark advanced) or none of it (watermark unchanged; the next
  *    refresh re-reads the same change span). Double-apply is
  *    structurally impossible.
  *  - **The no-touch lemma**: a group whose change-span insert-side
  *    stats equal its delete-side stats — count, decimal sum per sum
  *    column, min AND max per min/max column — provably has an
  *    unchanged view row: deletes only retract existing rows, so
  *    `min(D) ≥ min(M)`; if `min(M) ∈ D` then `min(I) = min(D) =
  *    min(M)` restores it, else `min(M − D) = min(M)` kept it (dually
  *    for max; cnt/sum trivially). Across a source
  *    [[Versioned.compact]] the feed degenerates to delete-all +
  *    insert-all of IDENTICAL rows, so every group passes the lemma and
  *    the refresh is a watermark-only metadata commit — even with
  *    min/max columns maintained.
  *
  * == Scale shape ==
  *
  * The refresh reads the change span (delta files only on append/delete
  * lineage), aggregates it map-side into per-group deltas (bounded by
  * |affected groups| ≤ |delta|), bloom-point-reads exactly the view
  * files holding the affected groups, recomputes only the groups a
  * delete touched (one source scan filtered to those group keys), and
  * commits O(affected groups). Group keys travel to the driver only as
  * the point-read probe list — the same O(delta) contract
  * [[Versioned.applyCdc]] documents; payloads never leave the cluster.
  */
object MaterializedView {

  /** The concatenated group-key column — the view table's upsert key.
    * Unit separator between columns; nulls render distinct from the
    * string "null" via a sentinel.
    */
  private val GK = Ivm.GK

  private def gkOf(groupCols: Seq[String]): Column = Ivm.gkOf(groupCols)

  private def decSum(c: String): Column =
    sum(col(c).cast("decimal(18,6)")).cast("decimal(28,6)").as(s"sum_$c")

  private case class Def(
      sourceRoot: String,
      groupCols: Seq[String],
      sumCols: Seq[String],
      minMaxCols: Seq[String],
      where: String,
      srcVersion: Long,
      exprCols: Seq[(String, String)] = Nil)

  // expression-column encoding in the marker props: SQL text can hold
  // commas and newlines, so pairs join on the ASCII record separator
  // and name/sql on the group separator (neither appears in SQL the
  // engine accepts — both are rejected by the lexer as control chars)
  private val ExprRS = "\u001E"
  private val ExprGS = "\u001D"

  private def propsOf(d: Def): Map[String, String] = Map(
    "mv.sourceRoot" -> d.sourceRoot,
    "mv.groupCols" -> d.groupCols.mkString(","),
    "mv.sumCols" -> d.sumCols.mkString(","),
    "mv.minMaxCols" -> d.minMaxCols.mkString(","),
    "mv.where" -> d.where,
    "mv.exprCols" -> d.exprCols.map { case (n, s) => n + ExprGS + s }.mkString(ExprRS),
    "mv.sourceVersion" -> d.srcVersion.toString)

  /** The view's computed columns followed by its WHERE predicate. Both
    * are DETERMINISTIC row functions of the source columns, so a
    * change-feed row derives and filters IDENTICALLY whether it arrives
    * as insert or delete — the standard projection/selection-pushes-
    * through-Δ rule of IVM. Computed columns let the view group by
    * derived keys (a window bucket of a timestamp, a rendered series
    * key of a label map) the source doesn't store physically; they
    * apply before WHERE, so the predicate may reference them.
    */
  private def filtered(df: DataFrame, d: Def): DataFrame = {
    // computed columns may call graft's SQL functions (a recording rule's
    // series key is `series_key(labels)`), on a session graft did not build
    if (d.exprCols.nonEmpty) GraftFunctions.register(df.sparkSession)
    val derived = d.exprCols.foldLeft(df) {
      case (acc, (n, sql)) => acc.withColumn(n, expr(sql))
    }
    if (d.where.isEmpty) derived else derived.filter(expr(d.where))
  }

  private def defOf(viewRoot: String): Def = {
    val v = Versioned.latestVersion(viewRoot)
    require(v >= 0, s"no committed versions in $viewRoot")
    val p = Versioned.markerProps(viewRoot, v)
    require(p.contains("mv.sourceVersion"),
      s"$viewRoot is not a materialized view (no mv.* props on v$v)")
    def cols(k: String): Seq[String] =
      p.getOrElse(k, "").split(',').toSeq.filter(_.nonEmpty)
    val exprCols = p.getOrElse("mv.exprCols", "")
      .split(ExprRS).toSeq.filter(_.nonEmpty)
      .map { pair =>
        val i = pair.indexOf(ExprGS)
        (pair.take(i), pair.drop(i + 1))
      }
    Def(p("mv.sourceRoot"), cols("mv.groupCols"), cols("mv.sumCols"),
      cols("mv.minMaxCols"), p.getOrElse("mv.where", ""),
      p("mv.sourceVersion").toLong, exprCols)
  }

  /** The full per-group aggregation — create's one O(table) pass, and
    * the recompute arm's per-group authority.
    */
  private def aggregated(src: DataFrame, d: Def): DataFrame =
    src.groupBy(d.groupCols.map(col): _*)
      .agg(
        count(lit(1)).as("cnt"),
        d.sumCols.map(decSum) ++
          d.minMaxCols.flatMap(c => Seq(
            min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c"))): _*)
      .withColumn(GK, gkOf(d.groupCols))

  private def viewCols(d: Def): Seq[Column] =
    Ivm.viewCols(d.groupCols, d.sumCols, d.minMaxCols)

  /** Materialize the view over `sourceRoot`'s LATEST version into a new
    * Versioned table at `viewRoot` (the one O(table) pass; every later
    * [[refresh]] is O(delta + delete-affected group rows)). Returns the
    * view's committed version.
    */
  def create(
      spark: SparkSession,
      sourceRoot: String,
      viewRoot: String,
      groupCols: Seq[String],
      sumCols: Seq[String],
      minMaxCols: Seq[String] = Nil,
      where: String = "",
      exprCols: Seq[(String, String)] = Nil,
      extraProps: Map[String, String] = Map.empty): Long = {
    val srcV = Versioned.latestVersion(sourceRoot)
    require(srcV >= 0, s"no committed versions in $sourceRoot")
    val d = Def(sourceRoot, groupCols, sumCols, minMaxCols, where, srcV, exprCols)
    Versioned.appendCommit(
      aggregated(filtered(Versioned.asOf(spark, sourceRoot, srcV), d), d),
      viewRoot, bloomCols = Seq(GK), props = extraProps ++ propsOf(d))
  }

  /** The view's current contents: group columns, `cnt`, each sum as a
    * double `sum_<c>` with the derived `avg_<c>`, and any maintained
    * `min_<c>`/`max_<c>` in their source types.
    */
  def read(spark: SparkSession, viewRoot: String): DataFrame = {
    val d = defOf(viewRoot)
    Ivm.readWithAvg(Versioned.latest(spark, viewRoot).drop(GK), d.sumCols)
  }

  /** Advance the view to the source's latest version by consuming the
    * change feed since the recorded watermark — ONE atomic commit (or
    * nothing, when the source hasn't moved). Returns the view's new
    * version, or -1 if the source was already caught up.
    */
  def refresh(spark: SparkSession, viewRoot: String): Long = {
    val d = defOf(viewRoot)
    // the view version this refresh's reads are based on — passed to the
    // replaceCommit as its optimistic-concurrency expectation, so a
    // concurrent refresher that commits first fails THIS one loudly
    // (retry re-reads) instead of double-applying the same change span
    val viewV = Versioned.latestVersion(viewRoot)
    val vNow = Versioned.latestVersion(d.sourceRoot)
    require(vNow >= d.srcVersion,
      s"source ${d.sourceRoot} went backwards ($vNow < ${d.srcVersion})")
    if (vNow == d.srcVersion) return -1L
    // caller-owned props (e.g. a recording rule's rule.* metadata) carry
    // forward across refreshes; the mv.* definition keys are rewritten
    val carried = Versioned.markerProps(viewRoot, viewV)
      .filterNot { case (k, _) => k.startsWith("mv.") }
    val newProps = carried ++ propsOf(d.copy(srcVersion = vNow))
    // refresh-scoped DURABLE staging (the shared [[Ivm.Stages]] core,
    // the same fault story as the join view's): intermediates the
    // refresh re-reads land as files, never lineage-truncated blocks
    val stage = new Ivm.Stages
    try {
      val cdf = filtered(
        Versioned.changesBetween(spark, d.sourceRoot, d.srcVersion, vNow), d)
      val sign = when(col("_change_type") === "insert", lit(1)).otherwise(lit(-1))
      // signed evidence + the no-touch lemma — the shared [[Ivm]] core
      // (this is what makes a compact span a watermark-only commit)
      val (delta, deltaRoot) = stage.applyWithRoot(
        Ivm.evidenceAgg(cdf, sign, d.groupCols, d.sumCols, d.minMaxCols)
          .filter(Ivm.lemmaKeep(d.sumCols, d.minMaxCols))
          .withColumn(GK, gkOf(d.groupCols)))
      // both driver-held key lists (the point-read probe set and the
      // recompute probe set) read from the STAGED delta's landed files —
      // zero scheduler round trips in the metadata-sized case
      val kd = Ivm.deltaKeyFlags(delta, deltaRoot)
      val keys = kd.map(_._1).sorted
      if (keys.isEmpty)
        // watermark-only metadata commit (e.g. the span was a compact)
        return Versioned.replaceCommit(
          Versioned.latest(spark, viewRoot).filter(lit(false)),
          viewRoot, GK, props = newProps, expectedVersion = viewV,
          knownKeys = Some(Nil))
      val old = Versioned.pointRead(spark, viewRoot, viewV, GK, keys)
      // groups a delete touched (and that failed the lemma) lose their
      // extremum evidence — recompute exactly those from the source
      val recomputeKeys =
        if (d.minMaxCols.isEmpty) Nil
        else kd.filter(_._2 == 1).map(_._1).sorted
      val incrKeys =
        if (d.minMaxCols.isEmpty) keys
        else kd.filter(_._2 == 0).map(_._1)
      // the two arms are independent stage landings — submitted
      // concurrently so the recompute's scan back-fills the incremental
      // arm's tail (guide §2.6); outcome identical to the sequential order
      val ((incr, incrRoot), recomputed) = Ivm.inParallel(
        stage.applyWithRoot(Ivm.mergeIncr(
          delta.filter(col("_del") === 0 || lit(d.minMaxCols.isEmpty)),
          old, d.groupCols, d.sumCols, d.minMaxCols, "materialized view")),
        if (recomputeKeys.isEmpty) None
        else Some(stage.applyWithRoot(
          aggregated(filtered(Versioned.asOf(spark, d.sourceRoot, vNow), d), d)
            .filter(col(GK).isin(recomputeKeys: _*)))))
      val (survivors, zeroed, survivorKeys) =
        Ivm.survivorsAndZeroed(incr, incrRoot, recomputed, recomputeKeys,
          viewCols(d), incrKeys)
      Versioned.replaceCommit(
        survivors, viewRoot, GK, deleteKeys = zeroed.sorted, props = newProps,
        expectedVersion = viewV, knownKeys = Some(survivorKeys))
    } finally stage.dropAll()
  }
}
