package graft.promql

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions
import graft.sources.{Ivm, MaterializedView, Versioned}

/** INCREMENTAL recording rules — a PromQL `record` rule maintained as a
  * materialized view over a LANDED [[graft.sources.Versioned]] metric
  * table, refreshed O(delta) from the table's change feed instead of
  * re-evaluated over the whole corpus each interval.
  *
  * [[PromQlRules.evaluate]] is the batch rule loop: every evaluation
  * recomputes the rule over the full stream — correct, but O(corpus)
  * per interval. For the rules production fleets actually precompute —
  * per-window aggregations of raw samples — the work a new scrape batch
  * induces is confined to the (series, window) groups the batch touches,
  * which is exactly the [[MaterializedView]] maintenance model. This
  * module lowers the incrementalizable rule subset onto it:
  *
  * {{{
  * name = sum_over_time(metric{matchers}[R])      // also min/max/count/avg
  * name = sum by (l1, l2) (sum_over_time(metric{matchers}[R]))
  *                                                // also sum by/count_over_
  *                                                // time (the flat sample
  *                                                // count), min by/min,
  *                                                // max by/max
  * }}}
  *
  * The lowering: `win_start = timestamp − timestamp % R` and the
  * rendered series key (or the by-labels' values) become COMPUTED view
  * columns (deterministic row functions — the projection-pushes-
  * through-Δ rule), the matchers become the view's WHERE (each the
  * compiler's own predicate spelling: equality against the
  * empty-string-coalesced label value, regexes fully anchored), and the
  * aggregate maps onto the view's native lanes — sum/avg to the exact
  * decimal sum + count, count to the count, min/max to the maintained
  * extremes with their hybrid delete-recompute arm. The outer-`by` form
  * is sound because each raw sample belongs to exactly one series:
  * `sum by (ls) (sum_over_time(x[R]))` == one flat sum of samples
  * grouped by (ls, window) — the same exact-decimal total the compiler's
  * two-level spelling produces (dually min/max, and `sum by` of
  * `count_over_time` is the flat sample count). `avg by` of per-series
  * avgs is NOT a flat average and `count by` counts SERIES, not
  * samples — both refused.
  *
  * `increase`/`rate` rules — the rules production fleets most commonly
  * precompute — are NOT group aggregates (each sample's contribution is
  * a lag over series order), so they take a dedicated maintainer
  * instead of the view lowering: the table holds the per-(series,
  * window) exact decimal increase PLUS one state row per series (the
  * series' freshest `(ts, id, value)`, the anchor of a counter-increase
  * fold), and a refresh seeds the new span's first delta per series from
  * that state.
  * Sound ONLY on APPEND-ONLY, per-series-in-order lineage (a scrape
  * pipeline's natural shape — and the only shape where a window's
  * interior deltas are final): a change span that retracts samples, or
  * appends behind a series' recorded head, refuses loudly and points at
  * the batch loop (a compact's self-cancelling delete+insert pairs net
  * out and stay maintainable). Both commits of a refresh ride ONE
  * atomic `replaceCommit` — window rows and state rows live in the same
  * table under kind-prefixed keys, so a crash can never tear state from
  * sums.
  *
  * Static rule labels (`name = expr labels {k: v}`, m58) lower too:
  * the recorded series key is the batch evaluator's merge (static over
  * series labels, rule wins) as ONE MORE deterministic computed column —
  * grouped alongside the source series key (so per-source-series
  * granularity matches the batch output exactly) and O(delta)-neutral.
  *
  * Everything else — subqueries, offsets/`@` pins, binary operators —
  * refuses loudly with the supported grammar in the message; the batch
  * loop remains the general path.
  *
  * Value contract: the landed samples must be finite (the view's exact
  * decimal lanes, like every Versioned numeric column, carry no
  * NaN/±Inf — the IeeeLanes machinery guards the STREAM operators;
  * a landing pipeline drops or flags non-finite samples before commit).
  *
  * Scale shape: create is the one O(table) pass; each refresh reads
  * only the change span, point-reads only the bloom-hit view files, and
  * commits O(affected groups) — at 100 TB of landed samples a scrape
  * batch's refresh touches the batch, not the corpus. A source compact
  * degenerates to a watermark-only metadata commit (the view's no-touch
  * lemma).
  */
object PromQlRecord {

  private val overTimeFns =
    Set("sum_over_time", "min_over_time", "max_over_time",
      "count_over_time", "avg_over_time")

  // (outer aggregation op, inner *_over_time) pairs that compose FLATLY
  // over raw samples: sum-of-sums, sum-of-counts (the flat sample
  // count), min-of-mins, max-of-maxes. Deliberately absent:
  // avg (avg-of-avgs ≠ flat avg) and count (counts SERIES, not samples
  // — `count by (u) (count_over_time(x[R]))` is the series count,
  // which no flat sample aggregation expresses)
  private val byCompatible = Set(
    ("sum", "sum_over_time"), ("sum", "count_over_time"),
    ("min", "min_over_time"), ("max", "max_over_time"))

  /** Spark SQL string literal of `s` (quotes doubled, backslashes
    * escaped — the parser's default escaped-literal mode).
    */
  private def sqlStr(s: String): String =
    "'" + s.replace("\\", "\\\\").replace("'", "''") + "'"

  /** The compiler's `labelVal` in SQL text: absent labels read as "". */
  private def labelValSql(label: String): String =
    s"coalesce(try_element_at(labels, ${sqlStr(label)}), '')"

  /** [[graft.operators.Firehose.seriesKey]] in SQL text: the same
    * kernel, registered as `series_key`, as a deterministic computed
    * column.
    */
  private val seriesKeySql: String = "series_key(labels)"

  /** The RECORDED series key under static rule labels, in SQL text: the
    * batch evaluator's m58 merge (the labels without the rule's keys,
    * `map_concat` the static labels — rule wins, Prometheus's merge)
    * rendered through the canonical series key. A deterministic per-row
    * function of `labels`, so it rides the view as a computed column.
    */
  private def mergedSeriesSql(static: Map[String, String]): String = {
    val keys = static.keys.toSeq.sorted.map(sqlStr).mkString(", ")
    val kvs = static.toSeq.sortBy(_._1)
      .flatMap { case (k, v) => Seq(sqlStr(k), sqlStr(v)) }.mkString(", ")
    s"series_key(map_concat(drop_map_keys(labels, $keys), map($kvs)))"
  }

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** Static rule labels as a marker prop — JSON object with sorted keys
    * (lossless for any label text; the marker writer escapes strings).
    */
  private def encodeLabels(m: Map[String, String]): String = {
    val tm = new java.util.TreeMap[String, String]()
    m.foreach { case (k, v) => tm.put(k, v) }
    mapper.writeValueAsString(tm)
  }

  private def decodeLabels(s: String): Map[String, String] = {
    import scala.jdk.CollectionConverters._
    if (s.isEmpty) Map.empty
    else mapper.readTree(s).fields().asScala
      .map(e => e.getKey -> e.getValue.asText()).toMap
  }

  /** The recorded OUTPUT series column of a `by`-grouped rule: the
    * present by-label values (absent ones drop from the labelset, per
    * PromQL) merged with the static rule labels (static wins — m58),
    * rendered as the canonical sorted series key. With no statics this
    * is exactly the pre-m58 rendering.
    */
  private def bySeriesCol(
      by: Seq[String], static: Map[String, String]): Column = {
    val keys = (by ++ static.keys).distinct.sorted
    array_join(
      filter(
        array(keys.map(k =>
          if (static.contains(k)) concat(lit(k + "="), lit(static(k)))
          else when(col(s"_lbl_$k").isNotNull,
            concat(lit(k + "="), col(s"_lbl_$k")))): _*),
        x => x.isNotNull),
      ",")
  }

  private def matcherSql(m: LabelMatcher): String = {
    // the compiler's labelVal special case: __name__ reads the metric
    // name column, not the label map
    val v = if (m.label == "__name__") "name" else labelValSql(m.label)
    def anchored = sqlStr("^(?:" + m.value + ")$")
    m.op match {
      case MatchOp.Eq => s"$v = ${sqlStr(m.value)}"
      case MatchOp.Neq => s"$v != ${sqlStr(m.value)}"
      case MatchOp.Re => s"$v rlike $anchored"
      case MatchOp.NotRe => s"not ($v rlike $anchored)"
    }
  }

  private def err(msg: String): Nothing = throw PromQlCompileException(
    msg + " — incremental recording supports " +
      "`agg_over_time(metric{matchers}[R])` for agg in " +
      "sum/min/max/count/avg, the flat compositions " +
      "`sum by (ls) (sum_over_time|count_over_time)`, " +
      "`min by (ls) (min_over_time)`, `max by (ls) (max_over_time)`, " +
      "and `increase|rate(metric{matchers}[R])` on append-only lineage; " +
      "use the batch rule loop (PromQlRules.evaluate) for everything else")

  private case class Lowered(
      ruleName: String,
      fn: String,
      rangeSec: Long,
      byLabels: Option[Seq[String]],
      where: String,
      exprCols: Seq[(String, String)],
      groupCols: Seq[String],
      sumCols: Seq[String],
      minMaxCols: Seq[String],
      static: Map[String, String])

  private def lower(ruleLine: String): Lowered = {
    val rule = PromQlRules.parse(ruleLine) match {
      case Seq(r: PromQlRules.Rule) => r
      case _ => err("expected exactly one `name = expr` recording rule")
    }
    val (fn, sel, rangeSec, byLabels) = PromQlParser.parse(rule.expr) match {
      case Call(f, Seq(RangeSelector(s, r))) if overTimeFns(f) =>
        (f, s, r, None)
      case Agg(op, Call(f, Seq(RangeSelector(s, r))), None, AggGroup.By(ls))
          if byCompatible((op, f)) =>
        (f, s, r, Some(ls))
      case Agg(op, _, _, _) if op == "avg" =>
        err("avg by (…) of per-series averages is not a flat average")
      case _ => err(s"rule '${rule.name}' is not incrementalizable")
    }
    if (sel.name.isEmpty && sel.matchers.isEmpty)
      err("the selector needs a metric name or at least one matcher")
    if (sel.offsetSec != 0 || sel.atSec.nonEmpty)
      err("offset/@ modifiers don't lower")
    val where = (sel.name.map(n => s"name = ${sqlStr(n)}").toSeq ++
      sel.matchers.map(matcherSql)).mkString(" AND ")
    val winSql = s"timestamp - timestamp % $rangeSec"
    val (exprCols, groupCols) = byLabels match {
      case None =>
        // `name` stays in the group key: a nameless or __name__-regex
        // selector spans several metrics, and the compiler's per-series
        // identity is (name, series) — read() renames to the rule name
        // AFTER grouping, exactly like the batch loop's recorded-series
        // rename (which also keeps the underlying rows distinct).
        // Static rule labels (m58) ride as ONE MORE computed group
        // column — the merged render is per-row deterministic and
        // constant within a source series, so grouping by (series,
        // _rseries) keeps the batch evaluator's per-source-series
        // granularity while the output key carries the merge
        ((Seq("series" -> seriesKeySql) ++
          (if (rule.labels.isEmpty) Nil
           else Seq("_rseries" -> mergedSeriesSql(rule.labels))) :+
          ("win_start" -> winSql)),
          ("component" +: "name" +: "series" +:
            (if (rule.labels.isEmpty) Nil else Seq("_rseries"))) :+ "win_start")
      case Some(ls) =>
        val sorted = ls.sorted
        (sorted.map(l => s"_lbl_$l" -> s"try_element_at(labels, ${sqlStr(l)})") :+
          ("win_start" -> winSql),
          "component" +: sorted.map(l => s"_lbl_$l") :+ "win_start")
    }
    val (sumCols, minMaxCols) = fn match {
      case "sum_over_time" | "avg_over_time" => (Seq("value"), Nil)
      case "min_over_time" | "max_over_time" => (Nil, Seq("value"))
      case "count_over_time" => (Nil, Nil)
    }
    Lowered(rule.name, fn, rangeSec, byLabels.map(_.sorted), where,
      exprCols, groupCols, sumCols, minMaxCols, rule.labels)
  }

  /** Lower `ruleLine` (one `name = expr` recording rule) onto a
    * materialized view at `viewRoot` over the landed metric table at
    * `sourceRoot` (columns `component, name, labels, timestamp, id,
    * value`; timestamps epoch seconds). One O(table) pass; returns the
    * view's committed version. Refusal (with the supported grammar) for
    * non-incrementalizable rules.
    */
  def create(
      spark: SparkSession,
      ruleLine: String,
      sourceRoot: String,
      viewRoot: String): Long = counterShape(ruleLine) match {
    case Some(c) => Counter.create(spark, c, sourceRoot, viewRoot)
    case None =>
      val lo = lower(ruleLine)
      MaterializedView.create(
        spark, sourceRoot, viewRoot, lo.groupCols, lo.sumCols,
        minMaxCols = lo.minMaxCols, where = lo.where, exprCols = lo.exprCols,
        extraProps = Map(
          "rule.name" -> lo.ruleName,
          "rule.fn" -> lo.fn,
          "rule.by" -> lo.byLabels.map(_.mkString(",")).getOrElse("")) ++
          (if (lo.static.isEmpty) Map.empty[String, String]
           else Map("rule.labels" -> encodeLabels(lo.static))))
  }

  /** Advance the recorded series to the source's latest version —
    * O(delta) via the change feed ([[MaterializedView.refresh]] for the
    * group-aggregate lowerings, [[Counter.refresh]] for increase/rate).
    */
  def refresh(spark: SparkSession, viewRoot: String): Long =
    if (isCounter(viewRoot)) Counter.refresh(spark, viewRoot)
    else MaterializedView.refresh(spark, viewRoot)

  /** The recorded series, rendered like every rule output:
    * `(component, name = rule name, series, win_start, value)`.
    */
  def read(spark: SparkSession, viewRoot: String): DataFrame = {
    if (isCounter(viewRoot)) return Counter.read(spark, viewRoot)
    val p = graft.sources.Versioned.markerProps(
      viewRoot, graft.sources.Versioned.latestVersion(viewRoot))
    require(p.contains("rule.name") && p.contains("rule.fn"),
      s"$viewRoot is not an incremental recording rule " +
        "(no rule.* props on its latest marker)")
    val ruleName = p("rule.name")
    val fn = p("rule.fn")
    val by = p.getOrElse("rule.by", "").split(',').toSeq.filter(_.nonEmpty)
    val static = decodeLabels(p.getOrElse("rule.labels", ""))
    val v = MaterializedView.read(spark, viewRoot)
    val value = (fn match {
      case "sum_over_time" => col("sum_value")
      case "avg_over_time" => col("avg_value")
      case "count_over_time" => col("cnt")
      case "min_over_time" => col("min_value")
      case "max_over_time" => col("max_value")
    }).cast("double")
    val series =
      if (by.isEmpty) {
        // statics merged INTO the group key at create ([[lower]]'s
        // `_rseries` computed column — m58's merge, rule wins)
        if (static.isEmpty) col("series") else col("_rseries")
      } else
        // absent by-labels drop from the output labelset, per PromQL;
        // statics merge over the by-values (rule wins); label names
        // pre-sorted, so the rendering is the canonical series key
        bySeriesCol(by, static)
    v.select(
      col("component"), lit(ruleName).as("name"), series.as("series"),
      col("win_start"), value.as("value"))
  }

  // ───────────────────── increase / rate rules ─────────────────────

  private case class LoweredCounter(
      ruleName: String, fn: String, rangeSec: Long, where: String,
      static: Map[String, String])

  /** `Some` when the rule is a counter rule (`name =
    * increase|rate(metric{matchers}[R])`), with the counter family's own
    * refusals; `None` hands the rule to the group-aggregate lowering.
    */
  private def counterShape(ruleLine: String): Option[LoweredCounter] = {
    val rule = PromQlRules.parse(ruleLine) match {
      case Seq(r: PromQlRules.Rule) => r
      case _ => err("expected exactly one `name = expr` recording rule")
    }
    PromQlParser.parse(rule.expr) match {
      case Call(f @ ("increase" | "rate"), Seq(RangeSelector(sel, r))) =>
        if (sel.name.isEmpty && sel.matchers.isEmpty)
          err("the selector needs a metric name or at least one matcher")
        if (sel.offsetSec != 0 || sel.atSec.nonEmpty)
          err("offset/@ modifiers don't lower")
        val where = (sel.name.map(n => s"name = ${sqlStr(n)}").toSeq ++
          sel.matchers.map(matcherSql)).mkString(" AND ")
        Some(LoweredCounter(rule.name, f, r, where, rule.labels))
      case _ => None
    }
  }

  private def isCounter(viewRoot: String): Boolean =
    Versioned.markerProps(viewRoot, Versioned.latestVersion(viewRoot))
      .contains("cr.sourceVersion")

  /** The increase/rate maintainer — see the class doc's counter-rule
    * section for the model. One Versioned table holds BOTH row kinds
    * under kind-prefixed upsert keys:
    *
    *  - window rows (`_gk = W␟component␟name␟series␟win`): `cnt` samples,
    *    exact decimal `inc` — the window's summed reset-clamped deltas,
    *    the SAME per-sample math as the compiler's `increase`
    *    (delta vs the series' previous sample anywhere in history,
    *    a negative delta reads as a counter reset contributing `value`,
    *    a series' first-ever sample contributes 0);
    *  - state rows (`_gk = S␟component␟name␟series`): the series'
    *    freshest `(last_ts, last_id, last_value)` — the seed for the
    *    next span's first delta.
    *
    * Scale shape: create is the one O(table) pass (a shuffle by series
    * for the lag — the compiler's own increase shape); each refresh
    * reads only the change span's delta files, shuffles only the span,
    * bloom point-reads exactly the state/window rows the span touches,
    * and commits O(touched series + touched windows). The span's series
    * and window keys travel to the driver only as point-read probe
    * lists — the established O(delta) contract.
    */
  private object Counter {

    private val GK = Ivm.GK
    private val Sep = "\u001F"

    private def winGk: Column = concat_ws(Sep, lit("W"), col("component"),
      col("name"), col("series"), col("win_start").cast("string"))
    private def stateGk: Column = concat_ws(Sep, lit("S"), col("component"),
      col("name"), col("series"))
    /** [[winGk]]/[[stateGk]] rendered on the driver: like `concat_ws`, a
      * null part is skipped.
      */
    private def keyOf(parts: Option[String]*): String = parts.flatten.mkString(Sep)

    /** The engine's per-sample increase contribution, `prev` being the
      * series' previous value (null = first-ever sample).
      */
    private def incOf(prev: Column): Column =
      when(prev.isNull, lit(0.0))
        .when(col("value") - prev < 0, col("value"))
        .otherwise(col("value") - prev)

    private def decSumInc: Column =
      sum(col("_inc").cast("decimal(18,6)")).cast("decimal(28,6)").as("inc")

    /** Normalize a metric relation to the counter table's input shape:
      * the rule's WHERE, then `(component, name, series, timestamp, id,
      * value)` with the rendered series key.
      */
    private def normalized(
        df: DataFrame, where: String, extra: Seq[Column] = Nil): DataFrame = {
      val kept = if (where.isEmpty) df else df.filter(expr(where))
      kept.select(
        Seq(col("component"), col("name"),
          graft.operators.Firehose.seriesKey(col("labels")).as("series"),
          col("timestamp").cast("long").as("timestamp"),
          col("id").cast("string").as("id"),
          col("value").cast("double").as("value")) ++ extra: _*)
    }

    private def lagWin =
      Window.partitionBy("component", "name", "series")
        .orderBy(col("timestamp"), col("id"))

    // static rule labels (m58) ride window rows as the merged recorded
    // series key `_rseries` (constant within a source series — computed
    // in [[normalized]], grouped alongside it); state rows carry a null
    private def winRows(windows: DataFrame, hasStatic: Boolean): DataFrame =
      windows.select(
        Seq(col("component"), col("name"), col("series")) ++
          (if (hasStatic) Seq(col("_rseries")) else Nil) ++
          Seq(col("win_start"), col("cnt"), col("inc"),
            lit(null).cast("long").as("last_ts"),
            lit(null).cast("string").as("last_id"),
            lit(null).cast("double").as("last_value"),
            winGk.as(GK)): _*)

    private def stateRows(src: DataFrame, hasStatic: Boolean): DataFrame =
      // `max_by_ts_id` over the (ts, id, value) head struct ≡ the previous
      // `max(struct(ts, id, value))`: `id` is unique per row, so the
      // lexicographic max never reaches the value field — and the typed
      // aggregate routes the plan through ObjectHashAggregate (no sort)
      src.groupBy(col("component"), col("name"), col("series"))
        .agg(graft.functions.GraftFunctions.max_by_ts_id(
          struct(col("timestamp"), col("id"), col("value")),
          col("timestamp"), col("id")).as("_l"))
        .select(
          Seq(col("component"), col("name"), col("series")) ++
            (if (hasStatic) Seq(lit(null).cast("string").as("_rseries"))
             else Nil) ++
            Seq(
              lit(null).cast("long").as("win_start"),
              lit(null).cast("long").as("cnt"),
              lit(null).cast("decimal(28,6)").as("inc"),
              col("_l.timestamp").as("last_ts"),
              col("_l.id").as("last_id"),
              col("_l.value").as("last_value"),
              stateGk.as(GK)): _*)

    private def propsOf(
        c: LoweredCounter, sourceRoot: String, srcV: Long): Map[String, String] =
      Map(
        "rule.name" -> c.ruleName,
        "rule.fn" -> c.fn,
        "cr.range" -> c.rangeSec.toString,
        "cr.where" -> c.where,
        "cr.sourceRoot" -> sourceRoot,
        "cr.sourceVersion" -> srcV.toString) ++
        (if (c.static.isEmpty) Map.empty[String, String]
         else Map("rule.labels" -> encodeLabels(c.static)))

    private def defOf(viewRoot: String): (LoweredCounter, String, Long) = {
      val p = Versioned.markerProps(viewRoot, Versioned.latestVersion(viewRoot))
      (LoweredCounter(p("rule.name"), p("rule.fn"), p("cr.range").toLong,
        p.getOrElse("cr.where", ""),
        decodeLabels(p.getOrElse("rule.labels", ""))),
        p("cr.sourceRoot"), p("cr.sourceVersion").toLong)
    }

    private def staticExtra(spark: SparkSession, c: LoweredCounter): Seq[Column] =
      if (c.static.isEmpty) Nil
      else {
        GraftFunctions.register(spark)
        Seq(expr(mergedSeriesSql(c.static)).as("_rseries"))
      }

    private def winGroup(c: LoweredCounter): Seq[Column] =
      Seq(col("component"), col("name"), col("series")) ++
        (if (c.static.isEmpty) Nil else Seq(col("_rseries"))) :+
        col("win_start")

    /** One touched series' probe facts: the append-only violation (if
      * any), the earliest fresh (ts, id), and the net-multiplicity
      * bound — the per-series aggregation's row, producible by either
      * executor.
      */
    private case class Probe(
        component: String, name: String, series: String, sgk: String,
        bad: Option[(Long, String, Long)],
        first: Option[(Long, String)],
        maxNet: Long)

    /** The per-series probe pass over the STAGED netted span: a
      * driver-side fold over the landed stage files when metadata-sized
      * (zero scheduler round trips — the r17 driver-commit-scan
      * discipline), the Spark aggregation otherwise. The driver fold
      * replicates the Spark spelling exactly: `min(struct(ts, id, net))`
      * compares ts, then id as UTF8 bytes (unsigned lexicographic —
      * [[PromRegistry.utf8Gt]]), then net. Timestamp, id and net are never
      * null in the netted span (real samples); a null group column keys
      * its own series and is skipped in the rendered state key, as
      * `concat_ws` skips it.
      */
    private def perSeriesProbes(
        spark: SparkSession, netted: DataFrame, nettedRoot: String): Seq[Probe] =
      Versioned.stagedLocalRows(
        spark, new java.io.File(nettedRoot, "d").getAbsolutePath,
        Seq("component", "name", "series", "timestamp", "id", "_net")) match {
        case Some(rows) =>
          val acc = scala.collection.mutable.LinkedHashMap
            .empty[(String, String, String),
              (Option[(Long, String, Long)], Option[(Long, String)], Long)]
          def lt3(a: (Long, String, Long), b: (Long, String, Long)): Boolean =
            a._1 < b._1 || (a._1 == b._1 &&
              (PromRegistry.utf8Gt(b._2, a._2) ||
                (a._2 == b._2 && a._3 < b._3)))
          def lt2(a: (Long, String), b: (Long, String)): Boolean =
            a._1 < b._1 || (a._1 == b._1 && PromRegistry.utf8Gt(b._2, a._2))
          rows.foreach { r =>
            val key = (r(0).orNull, r(1).orNull, r(2).orNull)
            val ts = r(3).get.toLong
            val id = r(4).get
            val net = r(5).get.toLong
            val (bad0, first0, max0) =
              acc.getOrElse(key, (None, None, Long.MinValue))
            val bad =
              if (net < 0 || net > 1) {
                val cand = (ts, id, net)
                Some(bad0.filter(b => !lt3(cand, b)).getOrElse(cand))
              } else bad0
            val first =
              if (net == 1) {
                val cand = (ts, id)
                Some(first0.filter(f => !lt2(cand, f)).getOrElse(cand))
              } else first0
            acc(key) = (bad, first, math.max(max0, net))
          }
          acc.iterator.map { case ((co, na, se), (bad, first, maxNet)) =>
            Probe(co, na, se, keyOf(Some("S"), Option(co), Option(na), Option(se)),
              bad, first, maxNet)
          }.toSeq
        case None =>
          netted
            .groupBy(col("component"), col("name"), col("series"))
            .agg(
              min(when(col("_net") < 0 || col("_net") > 1,
                struct(col("timestamp"), col("id"), col("_net")))).as("_bad"),
              min(when(col("_net") === 1,
                struct(col("timestamp"), col("id")))).as("_first"),
              max(col("_net")).as("_maxNet"))
            .select(col("component"), col("name"), col("series"),
              stateGk.as("_sgk"), col("_bad"), col("_first"), col("_maxNet"))
            .collect()
            .map { r =>
              Probe(r.getString(0), r.getString(1), r.getString(2),
                r.getString(3),
                if (r.isNullAt(4)) None
                else Some((r.getStruct(4).getLong(0), r.getStruct(4).getString(1),
                  r.getStruct(4).getLong(2))),
                if (r.isNullAt(5)) None
                else Some((r.getStruct(5).getLong(0), r.getStruct(5).getString(1))),
                r.getLong(6))
            }.toSeq
      }

    /** The staged window-delta's rendered win-keys ([[winGk]]) —
      * driver-side from the landed stage files when metadata-sized, the
      * Spark collect otherwise. The driver rendering mirrors `concat_ws`:
      * long `win_start` renders via toString = `cast(win_start AS string)`,
      * and a null group column is skipped.
      */
    private def winKeysOf(
        spark: SparkSession, deltas: DataFrame, deltasRoot: String): Seq[String] =
      Versioned.stagedLocalRows(
        spark, new java.io.File(deltasRoot, "d").getAbsolutePath,
        Seq("component", "name", "series", "win_start")) match {
        case Some(rows) =>
          rows.map(r => keyOf(Some("W") +: r: _*)).sorted
        case None =>
          deltas.select(winGk).collect().map(_.getString(0)).toSeq.sorted
      }

    def create(
        spark: SparkSession,
        c: LoweredCounter,
        sourceRoot: String,
        viewRoot: String): Long = {
      val srcV = Versioned.latestVersion(sourceRoot)
      require(srcV >= 0, s"no committed versions in $sourceRoot")
      val src = normalized(Versioned.asOf(spark, sourceRoot, srcV), c.where,
        extra = staticExtra(spark, c))
      val incs = src
        .withColumn("_inc", incOf(lag(col("value"), 1).over(lagWin)))
        .withColumn("win_start",
          (col("timestamp") - pmod(col("timestamp"), lit(c.rangeSec))).cast("long"))
      val windows = incs
        .groupBy(winGroup(c): _*)
        .agg(count(lit(1)).as("cnt"), decSumInc)
      Versioned.appendCommit(
        winRows(windows, c.static.nonEmpty)
          .unionByName(stateRows(src, c.static.nonEmpty)), viewRoot,
        bloomCols = Seq(GK), props = propsOf(c, sourceRoot, srcV))
    }

    def refresh(spark: SparkSession, viewRoot: String): Long = {
      val (c, sourceRoot, srcV) = defOf(viewRoot)
      val viewV = Versioned.latestVersion(viewRoot)
      val vNow = Versioned.latestVersion(sourceRoot)
      require(vNow >= srcV,
        s"source $sourceRoot went backwards ($vNow < $srcV)")
      if (vNow == srcV) return -1L
      val newProps = propsOf(c, sourceRoot, vNow)
      val stage = new Ivm.Stages
      try {
        val span = normalized(
          Versioned.changesBetween(spark, sourceRoot, srcV, vNow), c.where,
          extra = staticExtra(spark, c) :+
            when(col("_change_type") === "insert", lit(1))
              .otherwise(lit(-1)).as("_sign"))
        // net multiplicity per sample: a compact's delete+insert of the
        // same rows cancels to 0 (maintainable, possibly watermark-only);
        // +1 is a genuinely appended sample; anything else breaks the
        // append-only contract this maintainer is sound under
        val (netted, nettedRoot) = stage.applyWithRoot(span
          .groupBy(Seq(col("component"), col("name"), col("series")) ++
            (if (c.static.isEmpty) Nil else Seq(col("_rseries"))) ++
            Seq(col("timestamp"), col("id"), col("value")): _*)
          .agg(sum(col("_sign")).as("_net")))
        // ONE per-series pass over the staged netted span replaces three
        // separate actions (the append-only check, the state probe keys,
        // the out-of-order firsts): per series — net bounds, a sample
        // violating row for the error message, the earliest fresh
        // (ts, id), and the rendered state key. Rows = touched series,
        // the established O(delta) driver contract — and since the staged
        // netted span is LANDED local files, the metadata-sized case folds
        // it driver-side ([[perSeriesProbes]]) with zero scheduler round
        // trips; oversized stages take the Spark aggregation unchanged.
        val perSeries = perSeriesProbes(spark, netted, nettedRoot)
        perSeries.find(_.bad.nonEmpty).foreach { r =>
          val (bts, bid, bnet) = r.bad.get
          throw new IllegalStateException(
            s"counter rule '${c.ruleName}': the change span " +
              s"v$srcV→v$vNow of $sourceRoot " +
              (if (bnet < 0) "retracts" else "re-appends") +
              s" sample (series=${r.series}, ts=$bts, " +
              s"id=$bid) — increase/rate rules maintain " +
              "APPEND-ONLY lineage; rebuild with create() or use the " +
              "batch rule loop (PromQlRules.evaluate) for delete lineage")
        }
        val freshSeries = perSeries.filter(_.maxNet == 1L)
        val sKeys = freshSeries.map(_.sgk).distinct.sorted
        if (sKeys.isEmpty)
          // self-cancelling span (a compact): watermark-only commit
          return Versioned.replaceCommit(
            Versioned.latest(spark, viewRoot).filter(lit(false)),
            viewRoot, GK, props = newProps, expectedVersion = viewV,
            knownKeys = Some(Nil))
        val fresh = netted.filter(col("_net") === 1).drop("_net")
        // the touched series' recorded heads, collected ONCE (state-row
        // count = touched series — the same O(delta) bound as the probe
        // keys) and re-used both driver-side (the out-of-order check) and
        // as a LocalRelation in the seed join — the point read no longer
        // re-executes per consumer
        val stateDf = Versioned.pointRead(spark, viewRoot, viewV, GK, sKeys)
          .select(col("component"), col("name"), col("series"),
            col("last_ts"), col("last_id"), col("last_value"))
        val stateRowsHeld = stateDf.collect()
        // the seed is only valid when every new sample lands AFTER the
        // series' recorded head — a backfill behind it would need the
        // already-summed deltas around the insertion point re-cut.
        // (ts, id) tuples compare like Spark's struct ordering: ts as
        // long, id as UTF8 bytes (unsigned lexicographic).
        def utf8Gte(a: String, b: String): Boolean = {
          val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          val n = math.min(x.length, y.length)
          var i = 0
          while (i < n) {
            val d = (x(i) & 0xff) - (y(i) & 0xff)
            if (d != 0) return d > 0
            i += 1
          }
          x.length >= y.length
        }
        val firstBySeries = freshSeries.flatMap(r =>
          r.first.map((r.component, r.name, r.series) -> _)).toMap
        stateRowsHeld.foreach { s =>
          firstBySeries.get((s.getString(0), s.getString(1), s.getString(2)))
            .foreach { case (fts, fid) =>
              val atOrBehind = s.getLong(3) > fts ||
                (s.getLong(3) == fts && utf8Gte(s.getString(4), fid))
              if (atOrBehind)
                throw new IllegalStateException(
                  s"counter rule '${c.ruleName}': the change span appends " +
                    s"sample(s) at/behind series ${s.getString(2)}'s " +
                    s"recorded head (ts=$fts) — out-of-order " +
                    "backfills need create() or the batch rule loop")
            }
        }
        val state = spark.createDataFrame(
          java.util.Arrays.asList(stateRowsHeld: _*), stateDf.schema)
        val incs = fresh
          .withColumn("_prev", lag(col("value"), 1).over(lagWin))
          .join(state.select(col("component"), col("name"), col("series"),
            col("last_value")), Seq("component", "name", "series"), "left")
          .withColumn("_inc", incOf(coalesce(col("_prev"), col("last_value"))))
          .withColumn("win_start",
            (col("timestamp") - pmod(col("timestamp"), lit(c.rangeSec))).cast("long"))
        val (deltas, deltasRoot) = stage.applyWithRoot(incs
          .groupBy(winGroup(c): _*)
          .agg(count(lit(1)).as("_dcnt"), decSumInc.as("_dinc")))
        val wKeys = winKeysOf(spark, deltas, deltasRoot)
        val old = Versioned.pointRead(spark, viewRoot, viewV, GK, wKeys)
          .select(col(GK), col("cnt"), col("inc"))
        val merged = deltas.withColumn(GK, winGk).alias("d")
          .join(old.alias("o"), Seq(GK), "left")
          .select(
            Seq(col("d.component"), col("d.name"), col("d.series")) ++
              (if (c.static.isEmpty) Nil else Seq(col("d._rseries"))) ++
              Seq(col("d.win_start"),
                (coalesce(col("o.cnt"), lit(0L)) + col("d._dcnt")).as("cnt"),
                (coalesce(col("o.inc"), Ivm.zero) + col("d._dinc"))
                  .cast("decimal(28,6)").as("inc")): _*)
        Versioned.replaceCommit(
          winRows(merged, c.static.nonEmpty)
            .unionByName(stateRows(fresh, c.static.nonEmpty)), viewRoot, GK,
          bloomCols = Seq(GK), props = newProps, expectedVersion = viewV,
          // the commit's key set is already driver-held: the merged
          // window keys (the left join preserves the delta's exactly)
          // plus the fresh series' state keys
          knownKeys = Some((wKeys ++ sKeys).distinct))
      } finally stage.dropAll()
    }

    def read(spark: SparkSession, viewRoot: String): DataFrame = {
      val (c, _, _) = defOf(viewRoot)
      val value =
        if (c.fn == "rate") (col("inc").cast("double") / lit(c.rangeSec.toDouble))
        else col("inc").cast("double")
      val series =
        if (c.static.isEmpty) col("series") else col("_rseries")
      Versioned.latest(spark, viewRoot)
        .filter(col("win_start").isNotNull)
        .select(col("component"), lit(c.ruleName).as("name"),
          series.as("series"), col("win_start"), value.as("value"))
    }
  }
}
