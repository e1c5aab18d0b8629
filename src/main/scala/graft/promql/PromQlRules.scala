package graft.promql

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Firehose

/** Recording rules — the evaluation loop a Prometheus server runs over a
  * rule file: each rule names an expression, the result is REGISTERED as
  * a new metric, and later rules (or dashboards) select it by name —
  * precomputation chains like `job:err_rate:1h` feeding
  * `job:err_rate:topk`. Rule text, one rule per line:
  *
  * {{{
  * # comments and blank lines are skipped
  * app:view:increase1h = sum by (user) (increase(view_total[1h]))
  * app:view:top = topk(3, app:view:increase1h)
  * }}}
  *
  * Evaluation is file-order: every rule compiles against the metric
  * UNIVERSE seen so far (the input stream plus all earlier rule
  * outputs), so chains cannot reference forward. A rule's output joins
  * the universe as ordinary samples — `(component, name = rule name,
  * labels, timestamp = win_start, id = "", value)` — which is exactly
  * how a recorded series lands in a real TSDB, and means EVERY compiler
  * construct (matchers, range functions over the step grid, binary ops,
  * `@` pins) works on recorded series with no special cases. Rule names
  * follow the metric-name grammar with interior colons (the lexer
  * already tokenizes them).
  *
  * Scale shape: pure plan composition — no rule materializes unless the
  * caller lands it ([[samples]] is the landing-ready union; in
  * production each evaluation interval appends it via
  * `Versioned.appendCommit`, making the rule loop an O(delta) ingest).
  */
object PromQlRules {

  sealed trait Line { def name: String }

  /** A recording rule; `labels` are static labels merged into every
    * recorded series' label set (rule label wins on conflict —
    * Prometheus's own merge), becoming part of the recorded series
    * IDENTITY that later rules and dashboards select on.
    */
  final case class Rule(
      name: String, expr: String,
      labels: Map[String, String] = Map.empty) extends Line

  /** An alerting rule: fires at evaluation windows where `expr` has
    * produced a row for the series in `forSec/step` CONSECUTIVE windows
    * (Prometheus's `for:` pending→firing transition, window-quantized).
    * A non-zero `keepFiringForSec` keeps a firing series firing for that
    * long past its last breaching window (Prometheus's
    * `keep_firing_for`); `labels` are the rule's STATIC labels, merged
    * over the series labels on the alert wire bodies (rule label wins on
    * conflict, Prometheus's own merge), and `annotations` ride the wire
    * verbatim (the engine renders no templates).
    */
  final case class Alert(
      name: String, expr: String, forSec: Long,
      keepFiringForSec: Long = 0L,
      labels: Map[String, String] = Map.empty,
      annotations: Map[String, String] = Map.empty) extends Line

  private val NameRe = "[A-Za-z_:][A-Za-z0-9_:]*".r

  // trailing `labels {...}` / `annotations {...}` clause: the block
  // extends to the line's LAST '}' and must tile as exposition label
  // pairs (the shared PromGrammar) — a non-tiling block is not a clause
  private val MapClauseRe =
    "(?s)^(.*\\S)\\s+(labels|annotations)\\s*\\{(.*)\\}\\s*$".r
  private val KeepRe = "(?s)^(.*\\S)\\s+keep_firing_for\\s+(\\S+)\\s*$".r
  private lazy val BlockPattern = java.util.regex.Pattern.compile(
    graft.operators.Firehose.PromGrammar.BlockRe)
  private lazy val PairPattern = java.util.regex.Pattern.compile(
    graft.operators.Firehose.PromGrammar.PairRe)

  /** Render a label map back to its clause text (`labels {k="v",…}`,
    * empty string for no labels) — the exposition escapes inverted, so
    * `parse(render(x)) == x`. Used to REBUILD rule lines (the wire
    * layer's bare-condition rebuild must not strip recording labels —
    * they are part of the recorded series' identity).
    */
  def clauseText(keyword: String, labels: Map[String, String]): String =
    if (labels.isEmpty) ""
    else labels.toSeq.sorted.map { case (k, v) =>
      // non-classic keys render QUOTED (Prometheus 3.x form), exactly
      // like the exposition render — the clause parser reads both
      val key =
        if (k.matches(graft.operators.Firehose.ClassicLabelNameRe)) k
        else "\"" + graft.operators.Firehose.escapeExpoValueStr(k) + "\""
      s"""$key="${graft.operators.Firehose.escapeExpoValueStr(v)}""""
    }.mkString(s" $keyword {", ",", "}")

  private def labelBlock(block: String): Option[Map[String, String]] =
    if (!BlockPattern.matcher(block).matches()) None
    else {
      val b = Map.newBuilder[String, String]
      val m = PairPattern.matcher(block)
      // pairOf resolves classic vs quoted (Prometheus 3.x UTF-8) keys —
      // the clause grammar rides the shared exposition pair grammar
      while (m.find()) b += graft.operators.Firehose.PromGrammar.pairOf(m)
      Some(b.result())
    }

  /** Parse rule text: `name = expr` recording lines and
    * `alert name = expr [for <dur>] [keep_firing_for <dur>]
    * [labels {k="v",…}] [annotations {k="v",…}]` alerting lines (the
    * clause order is canonical; the two map clauses commute); `#`
    * comments and blanks skipped. Duplicate names, duplicate clauses,
    * and malformed lines are refused loudly. Clause keywords only bind
    * when their payload parses (a duration after `for`/
    * `keep_firing_for`, a label-pair tiling inside the braces) — an
    * expression ending in e.g. `x > bool 5 for` stays part of the
    * expression, same discipline the bare `for` always had; the one
    * documented ambiguity is an expression ENDING in a selector
    * literally named `labels`/`annotations` with a space before its
    * brace, which reads as the clause (write it brace-adjacent).
    */
  def parse(text: String): Seq[Line] = {
    val rules: Seq[Line] = text.linesIterator
      .map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l =>
        val i = l.indexOf('=')
        if (i <= 0) throw PromQlCompileException(s"malformed rule line: '$l'")
        val head = l.take(i).trim
        val body = l.drop(i + 1).trim
        def checkName(n: String): String = {
          if (!NameRe.pattern.matcher(n).matches())
            throw PromQlCompileException(s"invalid rule name: '$n'")
          n
        }
        if (head.startsWith("alert ")) {
          val name = checkName(head.stripPrefix("alert ").trim)
          // strip trailing clauses right-to-left: map clauses first
          // (either order), then keep_firing_for, then for
          var rest = body
          var labels = Option.empty[Map[String, String]]
          var annotations = Option.empty[Map[String, String]]
          var more = true
          while (more) {
            rest match {
              case MapClauseRe(pre, kw, block) =>
                labelBlock(block) match {
                  case Some(m) =>
                    if (kw == "labels") {
                      if (labels.nonEmpty) throw PromQlCompileException(
                        s"alert '$name': duplicate labels clause")
                      labels = Some(m)
                    } else {
                      if (annotations.nonEmpty) throw PromQlCompileException(
                        s"alert '$name': duplicate annotations clause")
                      annotations = Some(m)
                    }
                    rest = pre.trim
                  case None => more = false
                }
              case _ => more = false
            }
          }
          var keep = 0L
          rest match {
            case KeepRe(pre, dur) =>
              PromQlDurations.parse(dur).foreach { sec =>
                keep = sec
                rest = pre.trim
              }
            case _ =>
          }
          var forSec = 0L
          val forIdx = rest.lastIndexOf(" for ")
          if (forIdx >= 0) {
            val dur = rest.drop(forIdx + 5).trim
            PromQlDurations.parse(dur) match {
              case Right(sec) =>
                forSec = sec
                rest = rest.take(forIdx).trim
              // no duration after `for`: the word belonged to the expr
              case Left(_) =>
            }
          }
          Alert(name, rest, forSec, keep,
            labels.getOrElse(Map.empty), annotations.getOrElse(Map.empty))
        } else {
          // recording rules take the labels clause too (Prometheus
          // merges rule labels into the recorded series); annotations
          // are alert-only and refuse loudly
          val name = checkName(head)
          body match {
            case MapClauseRe(pre, "labels", block) if labelBlock(block).nonEmpty =>
              Rule(name, pre.trim, labelBlock(block).get)
            case MapClauseRe(_, "annotations", block) if labelBlock(block).nonEmpty =>
              throw PromQlCompileException(
                s"rule '$name': annotations are alert-only")
            case _ => Rule(name, body)
          }
        }
      }
      .toSeq
    val dup = rules.groupBy(_.name).collect { case (n, rs) if rs.size > 1 => n }
    if (dup.nonEmpty)
      throw PromQlCompileException(s"duplicate rule name(s): ${dup.mkString(", ")}")
    rules
  }

  /** Evaluate every line in file order; returns name → its rendered
    * relation `(component, name, series, win_start, value)` with `name`
    * the RULE's (or alert's) name. Recording rules re-enter the metric
    * universe; alert outputs do not (Prometheus exposes firing alerts as
    * the synthetic ALERTS series, not as scrapeable metrics — select the
    * recording rule an alert derives from instead).
    *
    * An alert with `for d` fires at windows where the expression held
    * for `d/step` consecutive evaluation windows — the m22 streak shape:
    * one `lag(win, k-1)` over the series ordering, firing where the
    * window `k-1` steps back is exactly `(k-1)·step` seconds back.
    * `d` must be a multiple of the evaluation step, and the alert
    * expression must land on the step grid (instant selectors,
    * `R == step` range functions, or sliding mode — where EVERY
    * expression lands on the step grid, the natural alerting mode).
    * A subquery's OUTPUT lands on the subquery's own range grid, so
    * the guard checks that range — the inner expression's grids are
    * consumed inside the subquery and never reach the alert.
    */
  def evaluate(
      rulesText: String,
      metrics: DataFrame,
      stepSec: Long = 3600L,
      sliding: Boolean = false): Map[String, DataFrame] =
    evalCore(rulesText, metrics, stepSec,
      (expr, universe) =>
        if (sliding) PromQlCompiler.compileSlidingVector(expr, universe, stepSec)
        else PromQlCompiler.compileVector(expr, universe, stepSec),
      checkTumblingRanges = !sliding, clampEnd = None)
      .view.mapValues(dropLabels).toMap

  private def dropLabels(df: DataFrame): DataFrame =
    df.select(col("component"), col("name"), col("series"),
      col("win_start"), col("value"))

  /** The rule fleet evaluated on a POINT GRID — Prometheus's own rule
    * cadence: every rule evaluates as an instant query at each point
    * `start + i·step ≤ end` ([[PromQlCompiler.compileRangeVector]]),
    * recording rules re-entering the universe as samples AT their
    * evaluation points (a later rule's instant selector sees them — the
    * left-open lookback window includes its own point, exactly
    * Prometheus's same-cycle visibility), and an alert's `for d` firing
    * after `d/step + 1` consecutive breaching points (`d` a multiple of
    * the step; no grid-alignment demands — every output lands on the
    * point grid by construction).
    */
  def evaluateRange(
      rulesText: String,
      metrics: DataFrame,
      startSec: Long,
      endSec: Long,
      stepSec: Long,
      lookbackSec: Long = 300L): Map[String, DataFrame] =
    evaluateRangeLabeled(rulesText, metrics, startSec, endSec, stepSec,
      lookbackSec).view.mapValues(dropLabels).toMap

  /** [[evaluateRange]] keeping each output's label MAP alongside the
    * rendered series key — the alert wire bodies build their flat label
    * objects from it (splitting the rendered `k=v,…` key would truncate
    * values containing commas; the map is lossless).
    */
  def evaluateRangeLabeled(
      rulesText: String,
      metrics: DataFrame,
      startSec: Long,
      endSec: Long,
      stepSec: Long,
      lookbackSec: Long = 300L): Map[String, DataFrame] =
    evalCore(rulesText, metrics, stepSec,
      (expr, universe) => PromQlCompiler.compileRangeVector(
        expr, universe, startSec, endSec, stepSec, lookbackSec),
      checkTumblingRanges = false, clampEnd = Some(endSec))

  private def evalCore(
      rulesText: String,
      metrics: DataFrame,
      stepSec: Long,
      compileOne0: (String, DataFrame) => DataFrame,
      checkTumblingRanges: Boolean,
      clampEnd: Option[Long]): Map[String, DataFrame] = {
    import org.apache.spark.sql.expressions.Window
    val rules = parse(rulesText)
    var universe =
      (if (metrics.columns.contains("labels")) metrics else Firehose.tagFilter(metrics))
        .select(col("component"), col("name"), col("labels"),
          col("timestamp"), col("id"), col("value"))
    val out = Map.newBuilder[String, DataFrame]
    def compileOne(expr: String): DataFrame = compileOne0(expr, universe)
    rules.foreach {
      case Rule(name, expr, static) =>
        // the recorded series: rule name, window start as sample time;
        // static rule labels merge OVER the compiled labels (rule wins —
        // Prometheus's merge) and become part of the series identity
        val labelsCol =
          if (static.isEmpty) col("labels")
          else map_concat(Firehose.dropKeys(col("labels"), static.keys.toSet), typedLit(static))
        val recorded = compileOne(expr).select(
          col("component"), lit(name).as("name"), labelsCol.as("labels"),
          col("win_start").as("timestamp"), lit("").as("id"), col("value"))
        universe = universe.unionByName(recorded)
        out += name -> recorded.select(
          col("component"), col("name"), col("labels"),
          Firehose.seriesKey(col("labels")).as("series"),
          col("timestamp").as("win_start"), col("value"))
      case a: Alert =>
        val Alert(name, expr, forSec, keepSec, _, _) = a
        if (forSec % stepSec != 0)
          throw PromQlCompileException(
            s"alert '$name': for ${forSec}s must be a multiple of the ${stepSec}s step")
        if (keepSec % stepSec != 0)
          throw PromQlCompileException(s"alert '$name': keep_firing_for " +
            s"${keepSec}s must be a multiple of the ${stepSec}s step")
        // the streak filter below demands consecutive windows exactly
        // stepSec apart; in tumbling mode a range function lands on ITS
        // OWN grid, so a for-duration over e.g. increase(x[30m]) at a
        // 3600s step would silently never fire — enforce the documented
        // requirement loudly instead (sliding mode lands everything on
        // the step grid and needs no check)
        if (forSec > 0 && checkTumblingRanges) {
          def ranges(e: PromExpr): Seq[Long] = e match {
            case RangeSelector(_, r) => Seq(r)
            // the enclosing range function lands its output on the
            // SUBQUERY's range grid; the inner expression's grid is
            // consumed inside rangeSamples and never reaches the output
            case Subquery(_, r, _) => Seq(r)
            case Call(_, args) => args.flatMap(ranges)
            case Agg(_, inner, param, _) => ranges(inner) ++ param.toSeq.flatMap(ranges)
            case Neg(inner) => ranges(inner)
            case b: Binary => ranges(b.lhs) ++ ranges(b.rhs)
            case _ => Nil
          }
          val off = ranges(PromQlParser.parse(expr)).filter(_ != stepSec)
          if (off.nonEmpty)
            throw PromQlCompileException(
              s"alert '$name': `for` needs the expression on the ${stepSec}s " +
                s"step grid, but it uses range(s) ${off.mkString(", ")}s — " +
                "use sliding evaluation or match the range to the step")
        }
        val k = (forSec / stepSec).toInt + 1
        val vec = compileOne(expr)
          .withColumn("series", Firehose.seriesKey(col("labels")))
        val w = Window.partitionBy(col("component"), col("name"), col("series"))
          .orderBy(col("win_start"))
        val fired =
          if (keepSec == 0) {
            // the plain k-consecutive streak (the m22 shape)
            if (k == 1) vec
            else vec
              .withColumn("_back", lag(col("win_start"), k - 1).over(w))
              .filter(col("_back") === col("win_start") - lit((k - 1) * stepSec))
              .drop("_back")
          } else {
            // keep_firing_for: Prometheus's state machine on the step
            // grid — firing starts when the k-streak completes and DIES
            // at the first NON-breaching point more than keep past the
            // last breach (a breach reached while still firing re-arms
            // it without a fresh pending period). Encoded without a
            // driver loop: breaching points SESSIONIZE on
            // gap > keep + step — the death check runs only at FALSE
            // points, so two breaches keep + step apart are bridged by
            // false points all within keep of the earlier one (the
            // property fuzz caught the naive `gap > keep` cut firing
            // one step early); every intra-session false point sits
            // within keep of its preceding breach. A session fires from
            // its first completed streak onward, and the non-breaching
            // fired points (gaps between re-arming breaches plus the
            // tail past the last breach) materialize as generated grid
            // points carrying the PRECEDING breach's value (Prometheus
            // keeps the alert's last value while the expression returns
            // nothing), clamped to the evaluation end when the caller
            // has one.
            val keepN = lit(keepSec)
            val complete =
              if (k == 1) lit(true)
              else lag(col("win_start"), k - 1).over(w) ===
                col("win_start") - lit((k - 1) * stepSec)
            val sessed = vec
              .withColumn("_complete", complete)
              .withColumn("_prev", lag(col("win_start"), 1).over(w))
              .withColumn("_new",
                (col("_prev").isNull ||
                  col("win_start") - col("_prev") >
                    keepN + lit(stepSec)).cast("long"))
              .withColumn("_sess", sum(col("_new")).over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
            val sessAll = Window.partitionBy(
              col("component"), col("name"), col("series"), col("_sess"))
            val sessOrd = sessAll.orderBy(col("win_start"))
            val firing = sessed
              .withColumn("_firstC",
                min(when(col("_complete"), col("win_start"))).over(sessAll))
              .filter(col("_firstC").isNotNull &&
                col("win_start") >= col("_firstC"))
            val fires = firing.select(col("component"), col("name"),
              col("labels"), col("series"), col("win_start"), col("value"))
            // per firing breach: fill (breach, next breach) ∩ (breach,
            // breach + keep], i.e. the false points it keeps alight
            val gapHi0 = least(
              col("win_start") + keepN,
              coalesce(lead(col("win_start"), 1).over(sessOrd) - lit(stepSec),
                col("win_start") + keepN))
            val gapHi = clampEnd.fold(gapHi0)(e => least(gapHi0, lit(e)))
            val gaps = firing
              .withColumn("_hi", gapHi)
              .withColumn("_gw", explode(
                when(col("_hi") >= col("win_start") + lit(stepSec),
                  sequence(col("win_start") + lit(stepSec), col("_hi"),
                    lit(stepSec)))
                  .otherwise(array())))
              .select(col("component"), col("name"), col("labels"),
                col("series"), col("_gw").as("win_start"), col("value"))
            fires.unionByName(gaps)
          }
        out += name -> fired.select(
          col("component"), lit(name).as("name"), col("labels"),
          col("series"), col("win_start"), col("value"))
    }
    out.result()
  }

  /** All rule outputs as ONE landing-ready sample relation — what a
    * production loop appends to the recorded-series table each interval.
    */
  def samples(
      rulesText: String,
      metrics: DataFrame,
      stepSec: Long = 3600L,
      sliding: Boolean = false): DataFrame = {
    val outs = evaluate(rulesText, metrics, stepSec, sliding).values
    if (outs.isEmpty)
      throw PromQlCompileException(
        "rule text contains no rules (only comments/blank lines)")
    outs
      .map(_.select(col("component"), col("name"), col("series"),
        col("win_start"), col("value")))
      .reduce(_ unionByName _)
  }
}
