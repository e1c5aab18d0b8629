package graft.promql

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.Versioned

/** The PromQL path over a LANDED [[Versioned]] metric corpus, with
  * TIME-RANGE FILE PRUNING: the landed corpus is the 100 TB object of
  * this engine, and an instant query's visibility is finite by
  * construction — each selector sees `(t − lookback, t]` (or
  * `(t − R, t]`, shifted by `offset`, re-anchored by `@`) — so a
  * 1-hour query over a year of landed metrics must read HOURS of
  * files, not the year. [[land]] appends scrape batches with per-file
  * `timestamp` range stats (manifest metadata — no read-time cost),
  * and [[compileInstant]] walks the parsed expression to its exact
  * sample-visibility bounds and routes the scan through
  * [[Versioned.prunedRead]]: files whose stats block lies outside the
  * bounds are never listed to the reader. Results are IDENTICAL to the
  * full-scan compile — the bounds are an over-approximation of every
  * selector's own window filter.
  *
  * The bounds walk ([[instantBounds]]) is interval arithmetic over the
  * AST: an unpinned selector needs `[t − offset − ext, t − offset]`
  * (`ext` = the lookback delta for instant selectors, `R` for range
  * selectors) — folded into a (back, fwd) reach around `t`; an
  * `@`-pinned selector contributes the ABSOLUTE interval around its
  * pin (`start()`/`end()` both resolve to `t` — an instant query's
  * range is the point itself); a subquery widens its inner expression's
  * reach by the subquery range plus one inner step (tumbling-grid
  * slop on both sides). The intervals stay SEPARATE: a far-away `@`
  * pin prunes to ITS files plus the lookback's files and nothing
  * between ([[Versioned.prunedReadAny]] takes a union of disjoint
  * ranges — `metric @ <last year> / metric` reads two slices of the
  * year, not the year).
  *
  * The one shape that cannot prune: expressions whose value depends on
  * the COMPONENT UNIVERSE — `absent`/`absent_over_time` (report
  * components with nothing present), `time()`/`vector()` (one row per
  * observed component) — where dropping a file could drop a component
  * observed only outside the span. Those fall back to the full
  * version read, detected by [[needsUniverse]] and pinned by spec.
  *
  * The SERIES-LAG family (`rate`/`increase` under grid evaluation —
  * top-level in `mode=grid` range queries, under a subquery in every
  * mode) reaches back to the previous sample ANYWHERE in history for
  * its first crossing delta — but that is ONE sample per series, not
  * a scan: [[gridLagHeads]] finds each in-span series' predecessor by
  * walking the manifest newest-first (reading a one-file margin in the
  * common append-ordered landing) and unions those head rows into the
  * pruned span. Soundness: a delta is attributed to the window(s) of
  * its LATER sample, and any sample below the pruning bound only
  * produces windows below the requested span (the bounds walk's own
  * invariant) — so in-span windows receive deltas only from in-span
  * later samples, whose predecessors are the in-span rows plus exactly
  * the per-series head. Pinned by the pruning fuzz (seeded,
  * row-identical vs full scan) and the head-census spec.
  */
object PromQlVersioned {

  /** Append a scrape batch to the landing at `root` with per-file
    * `timestamp` range stats (the pruning index — manifest metadata,
    * written once per file at commit time). Expects the engine's
    * labeled metric shape `(component, name, labels, timestamp, id,
    * value)`; feed [[graft.operators.Firehose.tagFilter]] output.
    */
  def land(df: DataFrame, root: String): Long =
    Versioned.appendCommit(df, root, statsCols = Seq("timestamp"))

  /** Parse a text-exposition body and append it to the landing — the
    * shared ingest core of the HTTP `POST /api/v1/ingest` endpoint and
    * the [[PromScraper]] client. Comment/blank lines skip; a MALFORMED
    * line refuses the whole batch (an ingest must not silently drop
    * samples the way a scraper's skip-and-continue does); per-line
    * exposition timestamps are millis — or float SECONDS under
    * `omTimestamps = true`, the OpenMetrics unit, selected by the
    * scraper's negotiated content type or the ingest `format` param
    * (the same line is valid in both formats, so the unit is never
    * guessed) — and lines without one take
    * `defaultSec` or refuse. The append retries on marker races
    * (concurrent scrapers commute) and lands timestamp stats, so the
    * batch is immediately file-prunable. Returns (version, samples).
    */
  def landExposition(
      spark: SparkSession, root: String, body: String, component: String,
      defaultSec: Option[Long], idPrefix: String,
      omTimestamps: Boolean = false): (Long, Int) = {
    import graft.operators.Firehose.PromGrammar
    // tuple rows, not a nested case class: an object-nested Product's
    // accessors defeat the encoder's codegen (interpreted-projection
    // fallback on every ingest batch)
    val rows = body.linesIterator.zipWithIndex.flatMap { case (line, i) =>
      val t = line.trim
      if (t.isEmpty || t.startsWith("#")) None
      else PromGrammar.parseLineLabels(t, omTimestamps) match {
        case None => throw new IllegalArgumentException(
          s"malformed exposition line ${i + 1}: '$t'")
        case Some((metric, labels, value, tsMs)) =>
          val sec = tsMs.map(Math.floorDiv(_, 1000L)).orElse(defaultSec)
            .getOrElse(throw new IllegalArgumentException(
              s"line ${i + 1} has no timestamp and no default time"))
          Some((component, metric, labels, sec, s"$idPrefix-${i + 1}", value))
      }
    }.toSeq
    if (rows.isEmpty)
      throw new IllegalArgumentException("the body contains no samples")
    import spark.implicits._
    val df = rows.toDF("component", "name", "labels", "timestamp", "id", "value")
    (Versioned.appendCommitWithRetry(df, root, statsCols = Seq("timestamp")),
      rows.length)
  }

  /** TSDB RETENTION for the landing: commit a new version dropping
    * every file whose timestamp stats prove all its samples older than
    * `cutoffSec` — file-granular, like Prometheus's own block
    * retention: everything at/after the cutoff always survives; older
    * samples linger only until their file wholly ages out (straddling
    * files stay untouched — no rewrite, no data read, O(manifest)
    * driver work). A later [[Versioned.vacuum]] reclaims the dropped
    * files' pool bytes. Returns the committed version, or -1 when
    * nothing expired.
    */
  def expire(root: String, cutoffSec: Long): Long =
    Versioned.expireBefore(root, "timestamp", cutoffSec.toDouble)

  /** Does the expression's value depend on the component universe
    * (components with samples only OUTSIDE the pruned span)? Those
    * expressions read the full version — pruning could change rows.
    */
  def needsUniverse(e: PromExpr): Boolean = e match {
    case Call(fn, args) =>
      fn == "absent" || fn == "absent_over_time" ||
        fn == "time" || fn == "vector" || args.exists(needsUniverse)
    case Agg(_, expr, param, _) =>
      needsUniverse(expr) || param.exists(needsUniverse)
    case Binary(_, l, r, _, _) => needsUniverse(l) || needsUniverse(r)
    case Neg(inner) => needsUniverse(inner)
    // a subquery's inner expression evaluates in GRID mode, where an
    // `@`-pinned selector spreads its pinned value across the
    // component's OBSERVED window span (pinSpread over streamGrid) —
    // that span is itself universe-shaped, so pruning could drop grid
    // windows a component earned only from out-of-span samples. (An
    // inner `rate`/`increase`'s full-series crossing lag, previously
    // also a fallback here, is handled by the head seed instead —
    // [[hasSubqueryLag]] routes it through [[gridLagHeads]].)
    case Subquery(inner, _, _) =>
      hasPin(inner) || needsUniverse(inner)
    case RangeSelector(sel, _) => needsUniverse(sel)
    case _: VectorSelector | _: NumberLit | _: StringLit => false
  }

  private def hasPin(e: PromExpr): Boolean = e match {
    case sel: VectorSelector => sel.atSec.nonEmpty
    case RangeSelector(sel, _) => sel.atSec.nonEmpty
    case Call(_, args) => args.exists(hasPin)
    case Agg(_, expr, param, _) => hasPin(expr) || param.exists(hasPin)
    case Binary(_, l, r, _, _) => hasPin(l) || hasPin(r)
    case Neg(inner) => hasPin(inner)
    case Subquery(inner, _, _) => hasPin(inner)
    case _: NumberLit | _: StringLit => false
  }

  /** An expression's sample visibility: the interval RELATIVE to its
    * evaluation point (`None` when every selector is `@`-anchored), plus
    * the absolute intervals its pinned selectors need.
    */
  private case class Reach(
      rel: Option[(Long, Long)], pinned: Seq[(Long, Long)]) {
    def union(o: Reach): Reach = {
      val merged = (rel, o.rel) match {
        case (Some((a, b)), Some((c, d))) =>
          Some((math.min(a, c), math.max(b, d)))
        case (some @ Some(_), None) => some
        case (None, other) => other
      }
      Reach(merged, pinned ++ o.pinned)
    }
    def widen(slop: Long): Reach =
      Reach(rel.map { case (lo, hi) => (lo - slop, hi + slop) },
        pinned.map { case (lo, hi) => (lo - slop, hi + slop) })
  }
  private val NoReach = Reach(None, Nil)

  /** The closed sample-timestamp interval an instant evaluation of
    * `expr` at `tSec` can touch — a superset of every selector's own
    * window, so pruning to it never changes results.
    */
  def instantBounds(
      expr: PromExpr, tSec: Long,
      lookbackSec: Long = 300L, subqueryStepSec: Long = 3600L): (Long, Long) =
    pointBounds(expr, tSec, tSec, lookbackSec, subqueryStepSec)

  /** The closed sample interval a POINT-GRID evaluation over
    * `[startSec, endSec]` can touch — [[instantBounds]] generalized:
    * every point's backward reach anchors the relative interval to the
    * span (`[start + lo, end + hi]`), pins stay absolute, and
    * `start()`/`end()` resolve to the range bounds (the point-grid
    * rule). One covering interval; [[pointIntervals]] keeps the pieces.
    */
  def pointBounds(
      expr: PromExpr, startSec: Long, endSec: Long,
      lookbackSec: Long = 300L, subqueryStepSec: Long = 3600L): (Long, Long) = {
    val all = pointIntervals(expr, startSec, endSec, lookbackSec, subqueryStepSec)
    (all.map(_._1).min, all.map(_._2).max)
  }

  /** [[pointBounds]] as separate intervals: the relative reach anchored
    * to the span plus each pin's absolute interval.
    */
  def pointIntervals(
      expr: PromExpr, startSec: Long, endSec: Long,
      lookbackSec: Long = 300L, subqueryStepSec: Long = 3600L): Seq[(Long, Long)] = {
    def resolvePin(a: Long): Long =
      if (a == PromQlAst.AtStart) startSec
      else if (a == PromQlAst.AtEnd) endSec
      else a
    def selReach(sel: VectorSelector, ext: Long): Reach = sel.atSec match {
      case Some(a) =>
        val base = resolvePin(a) - sel.offsetSec
        Reach(None, Seq((base - ext, base)))
      case None =>
        Reach(Some((-sel.offsetSec - ext, -sel.offsetSec)), Nil)
    }
    def walk(e: PromExpr): Reach = e match {
      case sel: VectorSelector => selReach(sel, lookbackSec)
      case RangeSelector(sel, r) => selReach(sel, r)
      case Subquery(inner, r, step) =>
        val s = step.getOrElse(subqueryStepSec)
        // the outer range selects inner GRID windows w ∈ (t − r, t],
        // and the inner expression evaluates on the tumbling/sliding
        // grid — where a window w touches samples in [w + glo, w + ghi)
        // ([[gridReach]], the forward-covering model; the instant walk
        // under-reached here: a [2d] range inside a [2d:1d] subquery
        // sees samples up to 2d AFTER its window timestamp, caught by
        // the pruning fuzz). The subquery's reach anchors at the
        // evaluation time regardless of the inner shape (a pinned
        // inner is universe-shaped and never reaches pruning).
        gridReach(inner, s, subqueryStepSec) match {
          case Empty => Reach(Some((-r, 0L)), Nil)
          case (glo, ghi) => Reach(Some((glo - r, ghi)), Nil)
        }
      case Call(_, args) => args.map(walk).foldLeft(NoReach)(_ union _)
      case Agg(_, inner, param, _) =>
        walk(inner) union param.map(walk).getOrElse(NoReach)
      case Binary(_, l, r, _, _) => walk(l) union walk(r)
      case Neg(inner) => walk(inner)
      case _: NumberLit | _: StringLit => NoReach
    }
    val r = walk(expr)
    // a fully-pinned expression (every selector `@`-anchored) needs
    // nothing near the span — its scan collapses to the pins alone, the
    // case the far-lookback dashboards (`metric @ <last week>`) want
    val rels = r.rel.map { case (lo, hi) => (startSec + lo, endSec + hi) }.toSeq
    if (rels.isEmpty && r.pinned.isEmpty)
      Seq((startSec - lookbackSec, endSec))
    else rels ++ r.pinned
  }

  /** The metric relation an instant evaluation at `tSec` reads: the
    * file-pruned interval union when the expression's bounds are finite
    * and universe-independent (plus the per-series lag heads when a
    * subquery hides a grid-mode `rate`/`increase`), the full version
    * otherwise. Exposed so PlanSpec can pin the pruned scan's file
    * census.
    */
  def prunedMetrics(
      spark: SparkSession, root: String, query: String, tSec: Long,
      lookbackSec: Long = 300L, subqueryStepSec: Long = 3600L): DataFrame = {
    val ast = PromQlParser.parse(query)
    val v = Versioned.latestVersion(root)
    require(v >= 0, s"no committed versions in $root")
    if (needsUniverse(ast)) Versioned.asOf(spark, root, v)
    else seededRead(spark, root, v, ast,
      pointIntervals(ast, tSec, tSec, lookbackSec, subqueryStepSec))
  }

  /** The pruned read over the intervals — plus, when the expression
    * hides a grid-evaluated `rate`/`increase` inside a subquery, the
    * per-series head rows that seed the crossing delta at the earliest
    * interval's edge (one covering interval then: the head argument
    * needs every sample above the seed bound present).
    */
  private def seededRead(
      spark: SparkSession, root: String, v: Long, ast: PromExpr,
      intervals: Seq[(Long, Long)]): DataFrame =
    if (hasSubqueryLag(ast)) {
      val lo = intervals.map(_._1).min
      val hi = intervals.map(_._2).max
      val span = Versioned.prunedRead(spark, root, v,
        Seq(("timestamp", lo.toDouble, hi.toDouble)))
      span.unionByName(cachedLagHeads(spark, root, v, lo, span)._1)
    } else
      Versioned.prunedReadAny(spark, root, v, "timestamp",
        intervals.map { case (lo, hi) => (lo.toDouble, hi.toDouble) })

  // ───────────────────── grid (query_range) pruning ─────────────────────

  /** Does the expression contain `rate`/`increase` — the one family the
    * GRID evaluation computes with a FULL-SERIES lag (the window's first
    * delta reaches back to the previous sample anywhere in history, the
    * engine's documented crossing-delta model)? The back-reach is one
    * SAMPLE per series, not a span: [[gridLagHeads]] seeds it from a
    * bounded newest-first manifest walk, so these shapes prune too.
    * (The INSTANT evaluation's top-level increase is window-interior
    * and needs no seed; under a subquery the inner evaluates on the
    * grid and does.)
    */
  def hasSeriesLag(e: PromExpr): Boolean = e match {
    case Call(fn, args) =>
      fn == "rate" || fn == "increase" || args.exists(hasSeriesLag)
    case Agg(_, expr, param, _) =>
      hasSeriesLag(expr) || param.exists(hasSeriesLag)
    case Binary(_, l, r, _, _) => hasSeriesLag(l) || hasSeriesLag(r)
    case Neg(inner) => hasSeriesLag(inner)
    case Subquery(inner, _, _) => hasSeriesLag(inner)
    case _ => false
  }

  /** Does a SUBQUERY anywhere in the expression contain the series-lag
    * family? Under instant/point evaluation the top-level lag is
    * window-interior, but a subquery's inner expression evaluates on
    * the tumbling grid — the one instant-mode shape that needs the
    * [[gridLagHeads]] seed to prune.
    */
  def hasSubqueryLag(e: PromExpr): Boolean = e match {
    case Subquery(inner, _, _) => hasSeriesLag(inner) || hasSubqueryLag(inner)
    case Call(_, args) => args.exists(hasSubqueryLag)
    case Agg(_, expr, param, _) =>
      hasSubqueryLag(expr) || param.exists(hasSubqueryLag)
    case Binary(_, l, r, _, _) => hasSubqueryLag(l) || hasSubqueryLag(r)
    case Neg(inner) => hasSubqueryLag(inner)
    case RangeSelector(sel, _) => hasSubqueryLag(sel)
    case _ => false
  }

  /** The closed sample interval a GRID evaluation restricted to windows
    * `win_start ∈ [startSec, endSec]` can touch, for the prunable shapes
    * (no pins — grid-mode pinSpread is universe-shaped — and no
    * series-lag family). Grid windows cover FORWARD: a window `w` of
    * width R holds samples in `[w, w + R)`, so selectors reach
    * `[start − off, end + ext − off)`.
    */
  def gridBounds(
      expr: PromExpr, startSec: Long, endSec: Long,
      stepSec: Long, subqueryStepSec: Long = 3600L): (Long, Long) =
    gridReach(expr, stepSec, subqueryStepSec) match {
      case Empty => (startSec, endSec + stepSec) // literal-only: one grid cell
      case (lo, hi) => (startSec + lo, endSec + hi)
    }

  /** Per-window sample reach of a GRID evaluation of `e` at `step`: a
    * window `w` touches samples in `[w + lo, w + hi)`. Shared by
    * [[gridBounds]] (top-level `mode=grid`) and [[pointIntervals]]'s
    * subquery case (a subquery's inner ALWAYS evaluates on the grid,
    * whatever the outer mode).
    */
  private def gridReach(
      e: PromExpr, step: Long, subqueryStepSec: Long): (Long, Long) = e match {
    case sel: VectorSelector =>
      (-sel.offsetSec, step - sel.offsetSec)
    case RangeSelector(sel, r) =>
      (-sel.offsetSec, r - sel.offsetSec)
    case Subquery(inner, r, s) =>
      // the outer window w range-selects inner grid points in
      // [w, w + r); the inner expression's reach rides on each point
      // at ITS step
      gridReach(inner, s.getOrElse(subqueryStepSec), subqueryStepSec) match {
        case Empty => Empty
        case (ilo, ihi) => (ilo, r + ihi)
      }
    case Call(_, args) =>
      merge(args.map(gridReach(_, step, subqueryStepSec)))
    case Agg(_, inner, param, _) =>
      merge(gridReach(inner, step, subqueryStepSec) +:
        param.map(gridReach(_, step, subqueryStepSec)).toSeq)
    case Binary(_, l, r, _, _) =>
      merge(Seq(gridReach(l, step, subqueryStepSec),
        gridReach(r, step, subqueryStepSec)))
    case Neg(inner) => gridReach(inner, step, subqueryStepSec)
    // a selector-free subtree reaches nowhere — the EMPTY interval,
    // which must not widen a sibling's bound (a literal beside an
    // offset selector would otherwise drag the interval back to 0)
    case _: NumberLit | _: StringLit => Empty
  }

  private val Empty: (Long, Long) = (Long.MaxValue, Long.MinValue)

  /** Interval union that ignores [[Empty]] members. */
  private def merge(rs: Seq[(Long, Long)]): (Long, Long) = {
    val real = rs.filterNot(_ == Empty)
    if (real.isEmpty) Empty
    else (real.map(_._1).min, real.map(_._2).max)
  }

  /** The metric relation the engine's step-GRID evaluation over
    * `[startSec, endSec]` reads: pruned when the shape allows
    * (universe-independent and pin-free), the full version otherwise.
    * The series-lag family (`rate`/`increase` — the landing's hottest
    * `mode=grid` dashboard shape) prunes too: its one-sample-per-series
    * back-reach is seeded by [[gridLagHeads]], so a week's rate
    * dashboard over a landed year reads the week's files plus a
    * one-margin head probe, not the year.
    */
  def gridRangeMetrics(
      spark: SparkSession, root: String, query: String,
      startSec: Long, endSec: Long, stepSec: Long,
      subqueryStepSec: Long = 3600L): DataFrame = {
    val ast = PromQlParser.parse(query)
    val v = Versioned.latestVersion(root)
    require(v >= 0, s"no committed versions in $root")
    if (needsUniverse(ast) || hasPin(ast)) Versioned.asOf(spark, root, v)
    else {
      val (lo, hi) = gridBounds(ast, startSec, endSec, stepSec, subqueryStepSec)
      val span = Versioned.prunedRead(spark, root, v,
        Seq(("timestamp", lo.toDouble, hi.toDouble)))
      if (hasSeriesLag(ast))
        span.unionByName(cachedLagHeads(spark, root, v, lo, span)._1)
      else span
    }
  }

  /** The per-series PREDECESSOR samples ("heads") of a pruned span: for
    * every series with a sample in `span`, its latest sample strictly
    * before `loSec` — the one row the grid crossing-delta lag reaches
    * back to. Found by a driver-side manifest walk, newest file first:
    * read a batch of candidate files (those whose timestamp stats admit
    * samples below `loSec`), keep the best (timestamp, id) row per
    * series, and SETTLE a series once its best head is provably newer
    * than everything unread (its timestamp exceeds the next candidate's
    * max stat) — in an append-ordered landing every live series settles
    * in the first batch, so the walk reads a one-margin file census
    * regardless of history depth. Series collection is registry-sized
    * (the engine's scrape-registry posture; the same driver bound the
    * HTTP result collects and p13's span keys carry).
    *
    * Returns the head relation (a local relation — adds no scanned
    * files) and the file census the walk actually read, pinned by spec.
    */
  private[graft] def gridLagHeads(
      spark: SparkSession, root: String, v: Long, loSec: Long,
      span: DataFrame): (DataFrame, Seq[String]) = {
    val schema = span.schema
    val spanKeys = spanKeysOf(span)
    if (spanKeys.isEmpty) return (emptyOf(spark, schema), Nil)
    val (best, readFiles) = headWalk(spark, root, v, loSec,
      spanKeys.toSet, schema)
    (framed(spark, schema, spanKeys.flatMap(best.get)), readFiles)
  }

  /** [[gridLagHeads]] MEMOIZED per (root, version, loSec): a committed
    * version's per-series head at a bound is immutable, so a dashboard's
    * panels (and its polls within one append) pay the manifest walk once
    * — later requests at the same (version, bound) resolve their span
    * series from the memo and walk only for series it has not seen (a
    * wider span fills incrementally; a fully-covered request reads ZERO
    * files). Returns (heads, the file census THIS call had to read —
    * empty on a full memo hit, the spec's pin). Same bounded-clear
    * discipline as the manifest memo: entries are immutable, clearing is
    * always safe; values are registry-sized (one row per live series).
    */
  private val headsMemo = new java.util.concurrent.ConcurrentHashMap[
    (String, Long, Long),
    scala.collection.concurrent.TrieMap[
      String, Option[org.apache.spark.sql.Row]]]()

  private[graft] def cachedLagHeads(
      spark: SparkSession, root: String, v: Long, loSec: Long,
      span: DataFrame): (DataFrame, Seq[String]) = {
    val schema = span.schema
    val spanKeys = spanKeysOf(span)
    if (spanKeys.isEmpty) return (emptyOf(spark, schema), Nil)
    val key = (new java.io.File(root).getAbsolutePath, v, loSec)
    if (headsMemo.size > 64) headsMemo.clear()
    val memo = headsMemo.computeIfAbsent(key,
      _ => scala.collection.concurrent.TrieMap.empty)
    val missing = spanKeys.filterNot(memo.contains)
    val census =
      if (missing.isEmpty) Nil
      else {
        val (best, readFiles) = headWalk(spark, root, v, loSec,
          missing.toSet, schema)
        missing.foreach(k => memo.put(k, best.get(k)))
        readFiles
      }
    (framed(spark, schema, spanKeys.flatMap(k => memo(k))), census)
  }

  private def headKeyCol: org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    concat_ws("\u0000", col("component"), col("name"),
      graft.operators.Firehose.seriesKey(col("labels")))
  }

  private def spanKeysOf(span: DataFrame): Seq[String] =
    span.select(headKeyCol.as("_hk")).distinct()
      .collect().map(_.getString(0)).toSeq

  private def emptyOf(
      spark: SparkSession,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](), schema)

  private def framed(
      spark: SparkSession,
      schema: org.apache.spark.sql.types.StructType,
      rows: Seq[org.apache.spark.sql.Row]): DataFrame =
    if (rows.isEmpty) emptyOf(spark, schema)
    else {
      import scala.jdk.CollectionConverters._
      spark.createDataFrame(rows.asJava, schema)
    }

  /** The head WALK: for each of `keys`, its latest sample strictly
    * before `loSec` in version `v`. Per-key results are independent of
    * the key SET (the settling criterion compares a key's own best
    * against the unread candidates), which is what lets
    * [[cachedLagHeads]] fill incrementally. Returns (best row per key
    * that has one, files read).
    */
  private def headWalk(
      spark: SparkSession, root: String, v: Long, loSec: Long,
      keys: Set[String],
      schema: org.apache.spark.sql.types.StructType)
      : (Map[String, org.apache.spark.sql.Row], Seq[String]) = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.Row
    val KEY = "_hk"
    val cols = schema.fieldNames.toSeq
    // candidate files that can hold samples before the span, newest
    // first; a file without timestamp stats could hold anything — it
    // sorts first and blocks settling until read
    def maxOf(st: Option[(Double, Double)]): Double =
      st.filter(s => java.lang.Double.isFinite(s._2)).fold(Double.MaxValue)(_._2)
    val candidates = Versioned.manifest(root, v)
      .map(e => (e, e.stats.get("timestamp")))
      .filter { case (_, st) =>
        st.forall { case (mn, _) => !java.lang.Double.isFinite(mn) || mn < loSec }
      }
      .sortBy { case (_, st) => -maxOf(st) }
    var remaining = keys
    val best = scala.collection.mutable.Map.empty[String, (Long, String, Row)]
    val readFiles = Seq.newBuilder[String]
    // doubling probe: the first batch is the single newest candidate —
    // in an append-ordered landing every live series' head is there and
    // the walk stops after ONE margin file; a quiet series doubles the
    // batch instead of paying one job per historical file
    var batchSize = 1
    var i = 0
    while (i < candidates.length && remaining.nonEmpty) {
      val batch = candidates.slice(i, i + batchSize)
      i += batchSize
      batchSize = math.min(batchSize * 2, 64)
      val nextMax =
        if (i >= candidates.length) Double.NegativeInfinity
        else maxOf(candidates(i)._2)
      readFiles ++= batch.map(_._1.path)
      val keyDf = spark.createDataset(remaining.toSeq)(
        org.apache.spark.sql.Encoders.STRING).toDF(KEY)
      val rows = Versioned.readSubset(spark, root, v, batch.map(_._1))
        .filter(col("timestamp") < lit(loSec))
        .withColumn(KEY, headKeyCol)
        .join(broadcast(keyDf), Seq(KEY))
        .groupBy(col(KEY))
        .agg(graft.functions.GraftFunctions.max_by_ts_id(
          struct(cols.map(col): _*), col("timestamp"), col("id")).as("_r"))
        .select(col(KEY), col("_r.*"))
        .collect()
      val tsIdx = 1 + cols.indexOf("timestamp")
      val idIdx = 1 + cols.indexOf("id")
      rows.foreach { r =>
        val k = r.getString(0)
        val ts = r.getLong(tsIdx)
        val id = r.getString(idIdx)
        val better = best.get(k).forall { case (bts, bid, _) =>
          ts > bts || (ts == bts && id > bid)
        }
        if (better) best(k) = (ts, id, Row.fromSeq(r.toSeq.tail))
      }
      remaining = remaining.filter(k => best.get(k).forall(_._1.toDouble <= nextMax))
    }
    (best.view.mapValues(_._3).toMap, readFiles.result())
  }

  /** The engine's step-grid (windowed) evaluation over the landing,
    * file-pruned to the requested span, restricted to
    * `win_start ∈ [startSec, endSec]` — the labels-map relation.
    */
  def compileGridRangeVector(
      spark: SparkSession, root: String, query: String,
      startSec: Long, endSec: Long, stepSec: Long): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    PromQlCompiler.compileSlidingVector(query,
      gridRangeMetrics(spark, root, query, startSec, endSec, stepSec), stepSec)
      .filter(col("win_start") >= lit(startSec) && col("win_start") <= lit(endSec))
  }

  /** The metric relation a POINT-GRID (Prometheus `query_range`)
    * evaluation over `[startSec, endSec]` reads. Point evaluation is
    * strictly MORE prunable than the engine grid: every point's
    * visibility is finite and backward-anchored, top-level pins spread
    * over a LITERAL point sequence (no observed-span dependence), and
    * increase/rate are window-interior per point — so the fallbacks
    * reduce to exactly the instant rules ([[needsUniverse]]: the
    * component-universe family plus pins/lag UNDER subqueries, whose
    * inner still evaluates in grid mode).
    */
  def pointRangeMetrics(
      spark: SparkSession, root: String, query: String,
      startSec: Long, endSec: Long,
      lookbackSec: Long = 300L, subqueryStepSec: Long = 3600L): DataFrame = {
    val ast = PromQlParser.parse(query)
    val v = Versioned.latestVersion(root)
    require(v >= 0, s"no committed versions in $root")
    if (needsUniverse(ast)) Versioned.asOf(spark, root, v)
    else seededRead(spark, root, v, ast,
      pointIntervals(ast, startSec, endSec, lookbackSec, subqueryStepSec))
  }

  /** The metric relation a rule-fleet evaluation ([[PromQlRules
    * .evaluateRange]]) over `[startSec, endSec]` reads: the pruned
    * union of EVERY rule expression's point-grid visibility. Recorded
    * series re-enter the universe as compile-time unions (they are
    * never read from the landing), and their samples land inside
    * `[startSec, endSec]` — inside every rule's own relative reach — so
    * pruning the raw relation cannot drop them. Universe-dependent or
    * subquery-lag rules fall back to the full read (the lag seed's head
    * argument needs a single covering span, which a fleet of
    * heterogeneous rules does not have).
    */
  def ruleSpanMetrics(
      spark: SparkSession, root: String, exprs: Seq[String],
      startSec: Long, endSec: Long,
      lookbackSec: Long = 300L, subqueryStepSec: Long = 3600L,
      version: Option[Long] = None): DataFrame = {
    // callers that memoize per version (the landing server's rules
    // cache) PIN the version they keyed on — re-resolving latest here
    // would let an append racing the request cache newer (or, across
    // the two evaluateRange passes, internally MIXED) data under the
    // old version's key
    val v = version.getOrElse(Versioned.latestVersion(root))
    require(v >= 0, s"no committed versions in $root")
    val asts = exprs.map(PromQlParser.parse)
    if (asts.exists(a => needsUniverse(a) || hasSubqueryLag(a)))
      Versioned.asOf(spark, root, v)
    else
      Versioned.prunedReadAny(spark, root, v, "timestamp",
        asts.flatMap(
          pointIntervals(_, startSec, endSec, lookbackSec, subqueryStepSec))
          .map { case (lo, hi) => (lo.toDouble, hi.toDouble) })
  }

  /** [[PromQl.compileRange]] (point-grid Prometheus `query_range`
    * semantics) over the landing, file-pruned to the queried span —
    * the labels-map relation.
    */
  def compileRangeVector(
      spark: SparkSession, root: String, query: String,
      startSec: Long, endSec: Long, stepSec: Long,
      lookbackSec: Long = 300L, extrapolate: Boolean = false): DataFrame =
    PromQlCompiler.compileRangeVector(query,
      pointRangeMetrics(spark, root, query, startSec, endSec, lookbackSec),
      startSec, endSec, stepSec, lookbackSec, extrapolate = extrapolate)

  /** [[PromQl.compileInstant]] over the landing at `root`, reading only
    * the files whose timestamp stats intersect the query's visibility.
    */
  def compileInstant(
      spark: SparkSession, root: String, query: String, tSec: Long,
      lookbackSec: Long = 300L, subqueryStepSec: Long = 3600L,
      extrapolate: Boolean = false): DataFrame =
    PromQlCompiler.compileInstant(query,
      prunedMetrics(spark, root, query, tSec, lookbackSec, subqueryStepSec),
      tSec, lookbackSec, subqueryStepSec, extrapolate)

  /** [[compileInstant]] to the labels-map relation. */
  def compileInstantVector(
      spark: SparkSession, root: String, query: String, tSec: Long,
      lookbackSec: Long = 300L, subqueryStepSec: Long = 3600L,
      extrapolate: Boolean = false): DataFrame =
    PromQlCompiler.compileInstantVector(query,
      prunedMetrics(spark, root, query, tSec, lookbackSec, subqueryStepSec),
      tSec, lookbackSec, subqueryStepSec, extrapolate)
}
