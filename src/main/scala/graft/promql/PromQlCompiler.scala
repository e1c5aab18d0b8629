package graft.promql

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions
import graft.functions.GraftFunctions.eval_time
import graft.operators.Firehose

/** Compile-time error: the expression parsed but the engine cannot (or
  * deliberately does not) evaluate it.
  */
final case class PromQlCompileException(msg: String) extends RuntimeException(msg)

/** PromQL → Spark plan compiler over the landed metric stream.
  *
  * The reference firehose is the ingest half of a Prometheus deployment
  * (AbstractPrometheusFirehose.java renders gauges for a Prometheus
  * server to scrape and query); this is the query half, engine-side: the
  * text a Prometheus user writes, compiled onto the SAME verified
  * machinery the hand-built operators use — [[Firehose.seriesKey]] for
  * series identity, [[Firehose.vectorMatchKey]] for `on()`/`ignoring()`
  * matching, [[Firehose.tagFilter]] for the label contract — so the
  * string front-end and the programmatic API cannot drift (spec-pinned
  * equalities against [[Firehose.counterIncrease]],
  * [[Firehose.overTimeAgg]], [[Firehose.quantileOverTime]],
  * [[Firehose.vectorMatch]] and [[Firehose.vectorSetOp]]).
  *
  * == Evaluation model ==
  *
  * A RANGE QUERY over the landed stream with tumbling evaluation: every
  * expression evaluates to an instant vector PER WINDOW — a relation
  * `(component, name, labels, win_start, value)`. Instant selectors take
  * the window's latest sample per series (the `last_over_time` lookback,
  * window-quantized); a range function `f(x[R])` evaluates on tumbling
  * windows of its own range `R`; a subquery `expr[R:s]` evaluates the
  * inner expression on its `s` grid and range-aggregates those samples
  * over `R` windows (`s` must tile `R` — the m30 tiling argument).
  * `stepSec` sets the instant-selector window and the default subquery
  * step.
  *
  * [[compileSliding]] is Prometheus's actual `R > step` evaluation
  * model: EVERY subexpression evaluates on the `stepSec` grid, and a
  * range function looks BACK its own range — window `w` aggregates
  * samples in `[w, w + R)`, the [[Firehose.slidingWindowAgg]]
  * convention, so `increase(x[1h])` at a 15m step yields four
  * overlapping readings of each delta. The tile-replication explode
  * (factor `R/step`, bounded and map-side) assigns each sample (each
  * DELTA for `rate`/`increase` — deltas are computed over the full
  * series order FIRST, then attributed to every window whose lookback
  * holds the later sample, the m30 tiling rule generalized) to its
  * `R/step` windows; everything downstream of window assignment is the
  * tumbling plan unchanged. The big compositional win: in sliding mode
  * `increase(x[2h]) / increase(y[1h])` JOINS — both sides land on the
  * one `stepSec` grid, where tumbling ranges of different widths
  * produce disjoint grids. `R` must be a multiple of `stepSec`.
  *
  * == Scale shape ==
  *
  * Every construct compiles to the same plan the hand-built operator
  * carries: selectors and `*_over_time` are ONE map-side-combinable
  * aggregation; `rate`/`increase` are one window-function shuffle by
  * series + one combinable aggregation; vector binary ops are one
  * equi-join on (component, window, match key) whose registry-sized side
  * broadcasts under AQE, with PromQL's many-to-many error enforced as a
  * codegen'd `raise_error` riding the join's own hash layout; `topk` is
  * a rank window over the already-aggregated (series × windows)-bounded
  * relation. Nothing collects to the driver.
  *
  * == Documented divergences from Prometheus ==
  *
  *  - Engine relations carry identity explicitly: value-transforming
  *    functions and vector-scalar arithmetic KEEP the metric name column
  *    (PromQL drops `__name__` — a UI signal, lossy here; same rationale
  *    as [[Firehose.vectorMatch]]'s kept left name). Aggregations and
  *    one-to-one vector arithmetic DO drop it (their identity is the
  *    grouped/matched label subset, per PromQL).
  *  - Sums quantize addends to exact decimals (6 dp; squares 12 dp)
  *    so aggregates are order-independent and engine-portable — the
  *    discipline every exact-sum operator in the library uses.
  *  - `/` by zero yields ±Inf/NaN explicitly (IEEE, like PromQL) rather
  *    than relying on engine-specific division semantics. Comparison
  *    operators are IEEE too ([[cmpPred]]): a NaN operand makes every
  *    comparison false except `!=` (true) — Spark's SQL ordering, which
  *    treats NaN == NaN as true and NaN as greatest, never leaks into
  *    a PromQL filter or bool result. (Not a divergence — listed here
  *    because it is explicitly spelled out rather than inherited.)
  *  - Exact quantiles ride the bounded per-group multiset and round to
  *    4 dp ([[Firehose.quantileOverTime]]'s portability contract).
  *    Out-of-range φ follows Prometheus (φ<0 → -Inf, φ>1 → +Inf, NaN →
  *    NaN per present group) instead of Spark's analysis-time refusal.
  *    One divergence stands: a window CONTAINING NaN samples sorts them
  *    greatest (Spark/JVM total order) where Go's sort puts NaN first,
  *    so quantiles of NaN-polluted windows can differ — reachable only
  *    through NaN arithmetic, never from parsed metric streams.
  *  - Non-finite vector values (the x/0 family) ride every aggregation
  *    lane: the exact-decimal sums sum the finite lane and reconstruct
  *    NaN/±Inf via max-flags exactly as an IEEE fold would (any NaN or
  *    both infinities → NaN, else the surviving infinity); stddev/
  *    stdvar/deriv/predict_linear over a non-finite window are NaN
  *    (Go's float64 sums land in the Inf−Inf fold); `max` skips NaN
  *    unless every sample is NaN (Go's fold), `min` already matched.
  *    One deliberate divergence: `increase`/`rate` are delta-sums
  *    here (the m14 tiling convention), so a NaN sample poisons both
  *    adjacent deltas and the window is NaN — Go's last−first spelling
  *    makes an INTERIOR NaN invisible when both endpoints are finite.
  *    Large FINITE values past the decimal lane's cap (|v| ≥ 9e11)
  *    flag their group onto a plain IEEE-double sidecar sum — the
  *    arithmetic Prometheus itself runs — instead of failing the ANSI
  *    decimal cast; only such groups give up summation-order
  *    independence;
  *    floor/ceil/round propagate NaN/±Inf (Spark's LongType floor
  *    would ANSI-fail on Inf); the calendar family maps non-finite and
  *    calendar-absurd (|v| ≥ 1e14 s) inputs to NaN, where Go's
  *    int64-of-Inf is platform-defined garbage.
  *  - The trigonometric family (round 11) rides `java.lang.Math`, the
  *    same fdlibm lineage Go's math package mirrors — domain edges are
  *    Go-exact (asin/acos outside [-1,1] are NaN never null; `atan2`
  *    distinguishes the sign of zero operands, which Spark's builtin
  *    normalizes away; `atanh(±1)` is ±Inf), the inverse hyperbolics
  *    are the FDLIBM range reductions themselves (log1p arms for small
  *    arguments, log(2x)/log+ln2 for large — Go-identical branch
  *    structure, so tiny arguments return themselves and huge ones
  *    never overflow x²), while VALUES may differ from Go in the last
  *    ulp (different libm builds; `deg`/`rad` additionally order the
  *    π-constant multiply the way `Math.toDegrees/toRadians` do, not
  *    the way Go's PromQL spells it). `round` uses the inverse-grid
  *    spelling `floor(v·(1/to) + 0.5) / (1/to)`, promql/functions.go's
  *    own formula.
  *  - `predict_linear` extrapolates from the window's NEWEST sample
  *    (the m16 convention); Prometheus extrapolates from the eval
  *    timestamp. `absent`/`absent_over_time` take their evaluation grid
  *    from the stream's own observed span (Prometheus takes it from the
  *    query's start/end parameters, which a relation-in/relation-out
  *    compile has no channel for).
  *  - `time()`/`scalar(v)` evaluate to PER-WINDOW scalars (one value per
  *    evaluation window, no identity) joined elementwise into vector
  *    arithmetic on `win_start`; `vector(s)` lifts one back onto the
  *    stream-span grid with the empty labelset. `scalar` of a
  *    several-element window is NaN, per PromQL.
  *  - `timestamp(sel)` returns the window's freshest raw-sample
  *    timestamp for a direct selector, the evaluation window start for
  *    any derived vector; the calendar family (`minute`..`year`) is
  *    timezone-independent modular/epoch-day arithmetic (the UTC
  *    calendar regardless of `spark.sql.session.timeZone`);
  *    `sort`/`sort_desc` order the OUTPUT relation (presentation
  *    ordering is all they mean in PromQL too).
  *  - The 3.x experimental family (round 11): `ts_of_max_over_time` /
  *    `ts_of_min_over_time` / `ts_of_last_over_time` return the
  *    extremum/freshest sample's epoch-second timestamp with
  *    Prometheus's exact update rule (ties take the LATEST occurrence,
  *    an all-NaN window its latest sample — the `>= || isNaN` loop);
  *    `sort_by_label`/`sort_by_label_desc` order the output by the
  *    given labels' values under a natural-sort key
  *    ([[naturalSortKey]]: digit runs compare as integers), full
  *    series key as tiebreak, `desc` reversing every key; digit runs
  *    rank numerically at any length (length-prefixed keys), with
  *    equal-value/different-leading-zero runs falling to the tiebreak.
  *    `info(v[, {sel}])` joins info-metric data labels on the
  *    hardcoded (instance, job) identifying pair (see [[infoVec]]);
  *    matching info series MERGE disjoint data labels, and a per-label
  *    value conflict raises only when a `v` sample consumes the group,
  *    matching Prometheus.
  *  - Native histograms (round 11): the `histogram_quantile(φ, m[1h])` /
  *    `histogram_count/sum/avg/stddev/stdvar(m[1h])` /
  *    `histogram_fraction(lo, hi, m[1h])` family compiles onto the m37
  *    [[graft.operators.NativeHist]] kernels — a RANGE argument selects
  *    the native path (the range's observations build the sparse
  *    exponential histogram per window, schema 0, the m37 derivation
  *    model), an instant-vector argument keeps the classic `le` path.
  *    Sliding evaluation (the step-grid tile assignment every range
  *    function uses) and `@` pins (histogram at the pinned window,
  *    spread across the grid) both work — the native-histogram surface
  *    is complete.
  */
object PromQlCompiler {

  /** FDLIBM range-reduction thresholds shared by the inverse
    * hyperbolics (Go math.Asinh/Acosh/Atanh): below 2⁻²⁸ the function
    * IS its argument to double precision; above 2²⁸ the x²±1 terms are
    * absorbed (or would overflow) and log(x)+ln2 is exact.
    */
  private object Asinh {
    val Tiny: Double = java.lang.Math.scalb(1.0, -28)
    val Huge: Double = java.lang.Math.scalb(1.0, 28)
    val Ln2: Double = 0.6931471805599453
  }

  private val comparisons = Set("==", "!=", "<", ">", "<=", ">=")
  private val setOps = Set("and", "or", "unless")

  private sealed trait Value
  private final case class Scal(v: Double) extends Value
  private final case class Vec(df: DataFrame) extends Value

  /** A PER-WINDOW scalar — what `time()` and `scalar(v)` evaluate to: one
    * value per evaluation window, joined elementwise into vector
    * arithmetic on `win_start` alone (no labels, no component — PromQL
    * scalars have no identity). `(_ws_win, _ws_val)` relation, grid- or
    * window-bounded.
    */
  private final case class WinScal(df: DataFrame) extends Value

  /** Compile to the rendered relation `(component, name, series,
    * win_start, value)` — series is the canonical
    * [[Firehose.seriesKey]] rendering of the result labels.
    */
  def compile(query: String, metrics: DataFrame, stepSec: Long = 3600L): DataFrame =
    compileVector(query, metrics, stepSec)
      .select(
        col("component"), col("name"),
        Firehose.seriesKey(col("labels")).as("series"),
        col("win_start"), col("value"))

  /** Compile to the labels-map relation `(component, name, labels,
    * win_start, value)`.
    */
  def compileVector(query: String, metrics: DataFrame, stepSec: Long = 3600L): DataFrame = {
    val labeled =
      if (metrics.columns.contains("labels")) metrics else Firehose.tagFilter(metrics)
    new Eval(labeled, stepSec).evalVec(PromQlParser.parse(query))
  }

  /** Sliding-evaluation compile (see the class doc's evaluation-model
    * section): every expression on the `stepSec` grid, range functions
    * looking back their own `R ≥ stepSec` over overlapping windows.
    */
  def compileSliding(query: String, metrics: DataFrame, stepSec: Long = 900L): DataFrame =
    compileSlidingVector(query, metrics, stepSec)
      .select(
        col("component"), col("name"),
        Firehose.seriesKey(col("labels")).as("series"),
        col("win_start"), col("value"))

  /** [[compileSliding]] to the labels-map relation. */
  def compileSlidingVector(query: String, metrics: DataFrame, stepSec: Long = 900L): DataFrame = {
    val labeled =
      if (metrics.columns.contains("labels")) metrics else Firehose.tagFilter(metrics)
    new Eval(labeled, stepSec, sliding = true).evalVec(PromQlParser.parse(query))
  }

  /** INSTANT-query evaluation — Prometheus `/api/v1/query` semantics:
    * the expression evaluates AT `tSec` (epoch seconds). Instant
    * selectors take each series' latest sample in `(t − lookback, t]`
    * (staleness-aware: a freshest-sample NaN marks the series stale and
    * absent); range functions evaluate over `(t − R, t]` (the 3.x
    * left-open range selector) on the window's INTERIOR samples;
    * `offset` and `@` become constant timestamp shifts (`start()` /
    * `end()` resolve to t). Result rows carry `win_start = t` — the
    * evaluation timestamp — in the standard vector shape, so instant
    * results union/join with grid results unchanged. `subqueryStepSec`
    * sets the default step of `expr[R:]` subqueries (their inner
    * expression evaluates on its tumbling step grid, whose points the
    * outer range then selects — the engine's documented subquery model).
    *
    * Remaining divergences from a Prometheus server, both engine-wide
    * and documented in the class doc: `rate`/`increase` are interior
    * delta-sums (no boundary extrapolation), and exact-decimal /
    * exact-quantile arithmetic replaces Go's float folds.
    */
  def compileInstant(
      query: String, metrics: DataFrame, tSec: Long,
      lookbackSec: Long = 300L, subqueryStepSec: Long = 3600L,
      extrapolate: Boolean = false): DataFrame =
    compileInstantVector(query, metrics, tSec, lookbackSec, subqueryStepSec,
      extrapolate)
      .select(
        col("component"), col("name"),
        Firehose.seriesKey(col("labels")).as("series"),
        col("win_start"), col("value"))

  /** [[compileInstant]] to the labels-map relation. */
  def compileInstantVector(
      query: String, metrics: DataFrame, tSec: Long,
      lookbackSec: Long = 300L, subqueryStepSec: Long = 3600L,
      extrapolate: Boolean = false): DataFrame = {
    require(lookbackSec > 0, s"lookback must be positive, got ${lookbackSec}s")
    val labeled =
      if (metrics.columns.contains("labels")) metrics else Firehose.tagFilter(metrics)
    new Eval(labeled, subqueryStepSec, instantAt = Some(tSec),
      lookbackSec = lookbackSec, extrapolate = extrapolate)
      .evalVec(PromQlParser.parse(query))
  }

  /** RANGE-query evaluation — Prometheus `/api/v1/query_range`
    * semantics, exactly: the expression evaluates independently at every
    * point `p = startSec + i·stepSec ≤ endSec`, each point under the
    * [[compileInstant]] rules (lookback-latest selectors with staleness
    * markers, left-open `(p − R, p]` range windows with interior deltas,
    * `start()`/`end()` = the range bounds, pins point-constant,
    * absolute-time-aligned subquery grids). One Spark plan evaluates all
    * points — each sample explodes to the ≤ ext/step + 1 points whose
    * window sees it, the sliding tile bound, and every aggregation is
    * already keyed per point. Result rows carry `win_start = p`.
    *
    * `compileRange(q, m, start, end, step)` filtered to one point ==
    * `compileInstant(q, m, p)` row-for-row — the equivalence the spec
    * and the range fuzz pin. The engine's own windowed models remain
    * [[compile]] (tumbling) and [[compileSliding]] (step grid).
    */
  def compileRange(
      query: String, metrics: DataFrame, startSec: Long, endSec: Long,
      stepSec: Long, lookbackSec: Long = 300L,
      subqueryStepSec: Long = 3600L, extrapolate: Boolean = false): DataFrame =
    compileRangeVector(query, metrics, startSec, endSec, stepSec,
      lookbackSec, subqueryStepSec, extrapolate)
      .select(
        col("component"), col("name"),
        Firehose.seriesKey(col("labels")).as("series"),
        col("win_start"), col("value"))

  /** [[compileRange]] to the labels-map relation. */
  def compileRangeVector(
      query: String, metrics: DataFrame, startSec: Long, endSec: Long,
      stepSec: Long, lookbackSec: Long = 300L,
      subqueryStepSec: Long = 3600L, extrapolate: Boolean = false): DataFrame = {
    require(stepSec > 0, s"step must be positive, got ${stepSec}s")
    require(endSec >= startSec, s"end ($endSec) is before start ($startSec)")
    require(lookbackSec > 0, s"lookback must be positive, got ${lookbackSec}s")
    val labeled =
      if (metrics.columns.contains("labels")) metrics else Firehose.tagFilter(metrics)
    new Eval(labeled, subqueryStepSec, lookbackSec = lookbackSec,
      pointGrid = Some((startSec, endSec, stepSec)), extrapolate = extrapolate)
      .evalVec(PromQlParser.parse(query))
  }

  /** A label matcher's filter predicate over the labeled metric shape —
    * `__name__` reads the name column, absent labels read as "", regexes
    * are PromQL-anchored. ONE spelling shared by the compiler's selector
    * filtering and the HTTP metadata endpoints' `match[]` handling.
    */
  private[promql] def matcherPred(m: LabelMatcher): Column = {
    val v =
      if (m.label == "__name__") col("name")
      else coalesce(try_element_at(col("labels"), lit(m.label)), lit(""))
    def anchored = "^(?:" + m.value + ")$"
    m.op match {
      case MatchOp.Eq => v === lit(m.value)
      case MatchOp.Neq => v =!= lit(m.value)
      case MatchOp.Re => v.rlike(anchored)
      case MatchOp.NotRe => !v.rlike(anchored)
    }
  }

  /** [[matcherPred]] as a DRIVER-side function over `(name, labels)` —
    * the registry's zero-job serving folds evaluate selectors on the
    * driver-held head map. Kept next to the Column spelling so the two
    * cannot drift: absent labels read as "", regexes PromQL-anchored and
    * matched with Java `find()` (what `rlike` compiles to).
    */
  private[promql] def matcherFn(
      m: LabelMatcher): (String, Map[String, String]) => Boolean = {
    lazy val re =
      java.util.regex.Pattern.compile("^(?:" + m.value + ")$")
    (name, labels) => {
      val v = if (m.label == "__name__") name else labels.getOrElse(m.label, "")
      m.op match {
        case MatchOp.Eq => v == m.value
        case MatchOp.Neq => v != m.value
        case MatchOp.Re => re.matcher(v).find()
        case MatchOp.NotRe => !re.matcher(v).find()
      }
    }
  }

  /** Natural-sort key: every digit run encoded LENGTH-PREFIXED —
    * leading zeros stripped, then an 8-digit width of the remaining run
    * length, then the digits — so byte-order comparison ranks runs
    * numerically at ANY length (`pod2` before `pod10`; a longer
    * stripped run has a greater prefix, equal lengths compare digit
    * bytes), the ordering `sort_by_label` uses (Prometheus sorts label
    * values naturally — digit chunks compare as integers). Runs beyond
    * 10^8 digits would truncate the prefix — past any real label value.
    * Numerically-equal runs with different leading-zero counts key
    * equal and fall to the series tiebreak. Pure codegen'd string
    * functions — no UDF.
    */
  def naturalSortKey(s: Column): Column =
    concat_ws(
      "",
      transform(
        split(s, "(?<=[0-9])(?=[^0-9])|(?<=[^0-9])(?=[0-9])"),
        t => when(t.rlike("^[0-9]+$"), {
          val stripped = regexp_replace(t, "^0+", "")
          concat(lpad(length(stripped).cast("string"), 8, "0"), stripped)
        }).otherwise(t)))

  /** The total ordering behind `sort_by_label` / `sort_by_label_desc`:
    * the requested labels' values under [[naturalSortKey]] (absent
    * labels order as empty strings, before every present value), then
    * the full canonical series key, name, component and window as the
    * deterministic tiebreak. `desc` reverses every key, tiebreak
    * included. Exposed so a caller materializing the ordering as a rank
    * column ranks by the operator's own keys.
    */
  def sortByLabelKeys(labels: Seq[String], desc: Boolean): Seq[Column] = {
    val keys = labels.map(l =>
      naturalSortKey(coalesce(try_element_at(col("labels"), lit(l)), lit("")))) ++
      Seq(Firehose.seriesKey(col("labels")), col("name"), col("component"),
        col("win_start"))
    if (desc) keys.map(_.desc_nulls_last) else keys.map(_.asc_nulls_last)
  }

  private def err(msg: String): Nothing = throw PromQlCompileException(msg)

  /** IEEE-explicit arithmetic: engines disagree on double division and
    * modulo by zero in SQL mode, so the special cases are spelled out.
    * Shared by the batch Eval and the [[PromRegistry]] fast path — the
    * two evaluators cannot drift on operator semantics.
    */
  private[promql] def arith(op: String, l: Column, r: Column): Column = op match {
    case "+" => l + r
    case "-" => l - r
    case "*" => l * r
    case "/" =>
      // the zero branch must respect the divisor's SIGN OF ZERO (IEEE:
      // x/+0 = +Inf, x/-0 = -Inf for x > 0) — Spark equates -0.0 and
      // 0.0 under ===, so the sign comes from the string rendering
      val negZero = r.cast("string").startsWith("-")
      when(r === 0.0,
        when(isnan(l) || l === 0.0, lit(Double.NaN))
          .otherwise(when((l > 0) === negZero, lit(Double.NegativeInfinity))
            .otherwise(lit(Double.PositiveInfinity))))
        .otherwise(l / r)
    case "%" => when(r === 0.0, lit(Double.NaN)).otherwise(l % r)
    case "^" => pow(l, r)
    case "atan2" =>
      // Go's math.Atan2 zero cases: atan2(±0, x<0 or -0) = ±π and
      // atan2(±0, x>0 or +0) = ±0, by the SIGN of each zero — Spark's
      // atan2 normalizes -0.0 operands to +0.0, so the zero-y cases are
      // spelled out (the sign of a zero read off the string rendering,
      // as in division above; a nonzero y is unaffected by either
      // operand's zero sign)
      def negZ(c: Column): Column = c === 0.0 && c.cast("string").startsWith("-")
      when(isnan(l) || isnan(r), lit(Double.NaN))
        .when(l === 0.0,
          when((r < 0.0) || negZ(r),
            when(negZ(l), lit(-math.Pi)).otherwise(lit(math.Pi)))
            .otherwise(when(negZ(l), lit(-0.0)).otherwise(lit(0.0))))
        .otherwise(atan2(l, r))
  }

  /** PromQL comparisons are Go float64 (IEEE 754) comparisons: when
    * either side is NaN, every operator yields false EXCEPT `!=`, which
    * yields true. Spark's SQL ordering diverges (NaN == NaN is true and
    * NaN sorts greatest), and NaN is reachable from [[arith]] itself
    * (0/0, x%0, `scalar()` of a multi-element vector) — so the IEEE
    * branch is spelled out rather than inherited.
    */
  private[promql] def cmpPred(op: String, l: Column, r: Column): Column = {
    val anyNan = isnan(l) || isnan(r)
    op match {
      case "==" => !anyNan && l === r
      case "!=" => anyNan || l =!= r
      case "<" => !anyNan && l < r
      case ">" => !anyNan && l > r
      case "<=" => !anyNan && l <= r
      case ">=" => !anyNan && l >= r
    }
  }

  /** One expression's evaluation in one mode.
    *
    * Evaluation-time constants ABOVE the scan go through `eval_time`
    * ([[org.apache.spark.sql.graft.EvalTime]]), so a new `time=` or
    * `start=` reuses the compiled classes: the instant `win_start = t`
    * (selector, range-function window, `timestamp()`, the component
    * grid) and the point grid's origin, last index and point sequence.
    * Scan bounds (the lookback and range-window filters,
    * [[pointSpanFilter]]) stay literals, because Parquet pushdown and the
    * landing's file pruning need them; so does [[assignWin]]'s instant
    * window filter, which the optimizer then drops as implied by the
    * scan's. The scan's filter stage is the one stage that still compiles
    * per time.
    *
    * @param instantAt INSTANT evaluation mode (Prometheus
    *                    `/api/v1/query`): the whole expression evaluates
    *                    AT one point in time t instead of on a window
    *                    grid. Instant selectors take each series' latest
    *                    sample in the lookback window `(t − lookback, t]`
    *                    (staleness-aware: a series whose freshest lookback
    *                    sample is NaN — the engine's staleness-marker
    *                    rendering, since parsed metric streams cannot
    *                    carry NaN values — is ABSENT, per Prometheus);
    *                    range functions evaluate over `(t − R, t]`
    *                    (Prometheus 3.x's left-open range selector), with
    *                    markers dropped from range vectors and the lag
    *                    family (`increase`/`rate`) computing deltas among
    *                    IN-WINDOW samples only — Prometheus's
    *                    window-interior model, minus its boundary
    *                    extrapolation (the engine-wide delta-sum
    *                    divergence, documented above). `@` pins and
    *                    `offset` become constant timestamp shifts
    *                    (`start()`/`end()` both resolve to t — an instant
    *                    query's range is the point itself); subqueries
    *                    evaluate their inner expression on its tumbling
    *                    step grid and range-select the grid points in
    *                    `(t − R, t]`. Every result row carries
    *                    `win_start = t` (the evaluation timestamp), so
    *                    downstream joins/unions with grid results keep
    *                    working. `stepSec` only sets the default subquery
    *                    step in this mode.
    * @param lookbackSec the instant-selector lookback delta (Prometheus's
    *                    `--query.lookback-delta`, default 5m).
    * @param pointGrid POINT-GRID evaluation — Prometheus
    *                    `/api/v1/query_range` semantics, exactly: the
    *                    expression evaluates INDEPENDENTLY at every point
    *                    `p = start + i·step ≤ end`, each point with the
    *                    instant rules (latest lookback sample per series,
    *                    staleness-aware; range functions over the
    *                    left-open `(p − R, p]` interior; `start()`/
    *                    `end()` resolve to the range bounds). ONE Spark
    *                    plan evaluates all points: each sample explodes
    *                    to the grid points whose window sees it (≤
    *                    ext/step + 1 copies — the sliding tile bound),
    *                    and every window-local operator is already keyed
    *                    by `win_start`, so per-point evaluation falls out
    *                    of the same aggregations. The lag family gets a
    *                    window-INTERIOR guard (a delta counts at p only
    *                    when both endpoints lie in `(p − R, p]` — the
    *                    instant model per point). `@`-pinned selectors
    *                    are CONSTANT across points: the pinned call
    *                    evaluates once in a nested instant Eval at the
    *                    pin and cross-spreads over the LITERAL point
    *                    sequence (never the observed stream span — no
    *                    universe dependence). Subqueries keep the
    *                    engine's inner tumbling-grid model (the instant
    *                    convention — point p selects the inner grid
    *                    points in `(p − R, p]`), with arbitrary R/step
    *                    combinations legal since the selection is an
    *                    explode, not a tiling. Mutually exclusive with
    *                    `instantAt`/`sliding`; `stepSec` only sets the
    *                    default subquery step. The one engine-wide
    *                    divergence remains rate/increase's missing
    *                    boundary extrapolation (interior delta sums) —
    *                    unless `extrapolate` turns it on.
    * @param extrapolate opt-in Prometheus BOUNDARY EXTRAPOLATION for
    *                    `rate`/`increase` under instant/point evaluation
    *                    (promql/functions.go `extrapolatedRate`,
    *                    transcribed branch-for-branch): the interior
    *                    delta sum extends toward the window bounds by
    *                    the average sample interval (half of it when a
    *                    boundary gap exceeds 1.1× the average), with the
    *                    counter zero-floor clamp applied BEFORE the
    *                    threshold check (Go's order), and windows below
    *                    two samples emit NOTHING (Prometheus's rule —
    *                    the default engine model emits 0 there). Default
    *                    OFF: the delta-sum model keeps the engine-wide
    *                    exact-decimal, oracle-portable discipline; this
    *                    flag buys server-exact values when a consumer
    *                    compares against a live Prometheus.
    */
  private final class Eval(
      metrics: DataFrame, stepSec: Long, sliding: Boolean = false,
      instantAt: Option[Long] = None, lookbackSec: Long = 300L,
      pointGrid: Option[(Long, Long, Long)] = None,
      extrapolate: Boolean = false) {

    require(!extrapolate || instantAt.isDefined || pointGrid.isDefined,
      "extrapolation is defined for instant/point evaluation only")

    private def winStart(ts: Column, w: Long): Column =
      (ts - pmod(ts, lit(w))).cast("long")

    /** Resolve an `@` pin under instant/point-grid evaluation: a literal
      * timestamp stands; `start()`/`end()` resolve to the evaluation
      * time under instant (an instant query's start and end ARE t) and
      * to the range bounds under a point grid — Prometheus's rule.
      */
    private def resolvePin(at: Long): Long = (instantAt, pointGrid) match {
      case (Some(t), _) =>
        if (at == PromQlAst.AtStart || at == PromQlAst.AtEnd) t else at
      case (_, Some((s, e, _))) =>
        if (at == PromQlAst.AtStart) s
        else if (at == PromQlAst.AtEnd) e
        else at
      case _ => at
    }

    /** Point-grid: the grid points whose left-open window `(p − ext, p]`
      * holds a sample at `ts` — `p ≥ ts` and `p < ts + ext`, clamped to
      * the grid. Each sample lands in at most `ext/step + 1` points (the
      * sliding tile bound); a sample outside every window explodes to
      * nothing. The index arithmetic runs in doubles — exact here, since
      * epochs and extents sit far below 2⁵².
      */
    private def coveringPoints(ts: Column, ext: Long): Column = {
      val (s, e, st) = pointGrid.get
      val origin = eval_time(s)
      val n = eval_time((e - s) / st) // last grid index
      val d = ts - origin
      val iLo = when(d <= 0, lit(0L))
        .otherwise(ceil(d.cast("double") / lit(st.toDouble)).cast("long"))
      val iHi = least(n,
        floor((d + lit(ext - 1)).cast("double") / lit(st.toDouble)).cast("long"))
      when(iLo <= iHi,
        sequence(origin + iLo * lit(st), origin + iHi * lit(st), lit(st)))
        .otherwise(array().cast("array<long>"))
    }

    /** The coarse sample-time bound outside which no grid point sees a
      * sample — pushed to the scan so a bounded range query over a long
      * stream reads its span, not the history.
      */
    private def pointSpanFilter(ext: Long): Column = {
      val (s, e, st) = pointGrid.get
      val last = s + ((e - s) / st) * st
      col("timestamp") > lit(s - ext) && col("timestamp") <= lit(last)
    }

    /** Cross-spread a nested instant evaluation (a pinned, point-constant
      * subexpression) over the LITERAL point sequence.
      */
    private def spreadPoints(df: DataFrame): DataFrame =
      df.drop("win_start").withColumn("win_start", explode(pointSequence))

    /** The grid's points `start, start + step, …, ≤ end` as one array. */
    private def pointSequence: Column = {
      val (s, e, st) = pointGrid.get
      sequence(eval_time(s), eval_time(s + ((e - s) / st) * st), lit(st))
    }

    /** The constant timestamp shift a selector's `@` pin induces under
      * instant evaluation: samples move forward by (t − pin) so the one
      * lookback/range window anchored at t selects exactly what a window
      * anchored at the pin would — the pin is CONSUMED here, [[pinMaybe]]
      * and the selector spread are identity in instant mode.
      */
    private def pinShift(sel: VectorSelector): Long =
      (instantAt, sel.atSec) match {
        case (Some(t), Some(a)) => t - resolvePin(a)
        case _ => 0L
      }

    /** PromQL regexes are fully anchored. */
    private def anchored(re: String): String = "^(?:" + re + ")$"

    private def matcherPred(m: LabelMatcher): Column =
      PromQlCompiler.matcherPred(m)

    /** Matcher-filtered raw samples of a selector, with `offset` applied
      * as a forward timestamp shift (a sample at t surfaces at evaluation
      * time t + offset — PromQL's look-back, window-quantized).
      */
    private def samples(sel: VectorSelector): DataFrame = {
      val named = sel.name match {
        case Some(n) => metrics.filter(col("name") === lit(n))
        case None =>
          if (sel.matchers.isEmpty) err("selector needs a name or at least one matcher")
          metrics
      }
      val filtered = sel.matchers.foldLeft(named)((df, m) => df.filter(matcherPred(m)))
      val shift = sel.offsetSec + pinShift(sel)
      if (shift == 0) filtered
      else filtered.withColumn("timestamp", col("timestamp") + lit(shift))
    }

    /** Instant selector: the window's latest sample per series — one
      * map-side-combinable `max_by` aggregation ([[Firehose.gaugeLatest]]
      * per window). Instant mode: ONE lookback window `(t − lookback, t]`
      * with the staleness rule (freshest sample NaN → series absent).
      */
    private def instant(sel: VectorSelector): DataFrame = instantAt match {
      case Some(t) =>
        samples(sel)
          .filter(col("timestamp") > lit(t - lookbackSec) &&
            col("timestamp") <= lit(t))
          .groupBy(
            col("component"), col("name"),
            Firehose.seriesKey(col("labels")).as("_sk"))
          .agg(
            any_value(col("labels")).as("labels"),
            GraftFunctions.max_by_ts_id(col("value"), col("timestamp"), col("id")).as("value"))
          .filter(!isnan(col("value")))
          .select(col("component"), col("name"), col("labels"),
            eval_time(t).as("win_start"), col("value"))
      case None if pointGrid.isDefined =>
        // per point p: the freshest sample in (p − lookback, p],
        // staleness-aware — one explode + one map-side-combinable max_by
        samples(sel)
          .filter(pointSpanFilter(lookbackSec))
          .withColumn("win_start",
            explode(coveringPoints(col("timestamp"), lookbackSec)))
          .groupBy(
            col("component"), col("name"),
            Firehose.seriesKey(col("labels")).as("_sk"), col("win_start"))
          .agg(
            any_value(col("labels")).as("labels"),
            GraftFunctions.max_by_ts_id(col("value"), col("timestamp"), col("id")).as("value"))
          .filter(!isnan(col("value")))
          .select("component", "name", "labels", "win_start", "value")
      case None =>
        samples(sel)
          .withColumn("win_start", winStart(col("timestamp"), stepSec))
          .groupBy(
            col("component"), col("name"),
            Firehose.seriesKey(col("labels")).as("_sk"), col("win_start"))
          .agg(
            any_value(col("labels")).as("labels"),
            GraftFunctions.max_by_ts_id(col("value"), col("timestamp"), col("id")).as("value"))
          .select("component", "name", "labels", "win_start", "value")
    }

    /** Range-vector argument of a range function: either a range selector
      * (raw samples, range R) or a subquery (the inner expression's
      * per-window samples re-fed as a series sampled on its step grid —
      * `rate(x[1h:5m])` is legal PromQL and works here for free).
      * Returns (samples-with-(timestamp,id), R, the selector's `@` pin).
      */
    private def rangeSamples(
        fnName: String, arg: PromExpr): (DataFrame, Long, Option[Long]) = arg match {
      case RangeSelector(sel, r) =>
        val raw = samples(sel).select(
          col("component"), col("name"), col("labels"),
          col("timestamp"), col("id"), col("value"))
        // instant mode: range vectors hold the window's interior only —
        // filtered to (t − R, t] BEFORE the lag family runs (so
        // increase's deltas are between in-window samples, Prometheus's
        // model), with staleness markers dropped (a raw-stream NaN can
        // only be an injected marker; derived subquery NaNs stay)
        val windowed =
          if (pointGrid.isDefined)
            // markers drop globally (only raw-stream NaNs can be
            // markers); per-point window filtering is assignWin's —
            // plus the pushable coarse span bound
            raw.filter(pointSpanFilter(r) && !isnan(col("value")))
          else instantAt.fold(raw)(t =>
            raw.filter(col("timestamp") > lit(t - r) &&
              col("timestamp") <= lit(t) && !isnan(col("value"))))
        (windowed, r, sel.atSec)
      case Subquery(inner, r, step) =>
        // the engine's subquery model in every mode: the inner
        // expression evaluates on its TUMBLING step grid, and the outer
        // range selects the grid points — per evaluation window when
        // tumbling/sliding (where the step must tile the range so points
        // assign whole), per left-open point window under instant/point
        // evaluation (a filter/explode — ANY range/step combination is
        // legal there, as in Prometheus)
        val s = step.getOrElse(stepSec)
        if (instantAt.isEmpty && pointGrid.isEmpty && r % s != 0)
          err(s"subquery step ${s}s must tile the range ${r}s")
        val inner0 = new Eval(metrics, s, sliding).evalVec(inner)
          .select(
            col("component"), col("name"), col("labels"),
            col("win_start").as("timestamp"), lit("").as("id"), col("value"))
        // instant mode: the subquery's range vector holds the window's
        // INTERIOR inner grid points only — filtered BEFORE the lag
        // family runs, exactly like the raw-selector branch, so
        // increase's deltas stay in-window (review catch: without this,
        // an instant increase over a subquery counted the crossing
        // delta from an out-of-window inner point, diverging from the
        // per-point compileRange and making the pruned read unsound).
        // Derived NaNs STAY (only raw-stream NaNs are markers). Point
        // grids need no pre-filter: assignWin windows per point and the
        // interior lag guard covers increase.
        val windowed = instantAt.fold(inner0)(t =>
          inner0.filter(col("timestamp") > lit(t - r) &&
            col("timestamp") <= lit(t)))
        (windowed, r, None)
      case _ => err(s"$fnName expects a range vector (x[5m] or a subquery)")
    }

    /** The (component, window) evaluation grid derived from the metric
      * stream's own observed span: two per-component aggregate scalars +
      * a bounded sequence explode (grid = components × span/gridStep).
      * Shared by `absent` (report windows with nothing present) and the
      * `@` modifier (spread a pinned value across evaluation windows).
      */
    private def streamGrid(gridStep: Long): DataFrame = instantAt match {
      case Some(t) =>
        // instant mode: the "grid" is the one evaluation point — each
        // observed component at win_start = t (absent still needs the
        // component universe; time()/vector() take the single cell)
        metrics.select(col("component")).distinct()
          .withColumn("win_start", eval_time(t))
      case None if pointGrid.isDefined =>
        // point grid: components × the LITERAL point sequence
        spreadPoints(metrics.select(col("component")).distinct())
      case None =>
        val winCol = winStart(col("timestamp"), gridStep)
        metrics
          .groupBy(col("component"))
          .agg(min(winCol).as("_w0"), max(winCol).as("_w1"))
          .select(col("component"),
            explode(sequence(col("_w0"), col("_w1"), lit(gridStep))).as("win_start"))
    }

    /** PromQL's `@` modifier: the relation pinned to the window holding
      * the fixed timestamp, replicated across the stream-span grid so it
      * joins per window against unpinned operands ("current vs the
      * baseline captured at t"). Window-quantized (the pin takes the
      * whole window containing t — the same lookback quantization every
      * selector here uses); a pin into an empty window yields an empty
      * relation, per PromQL. The pinned side is series-bounded and the
      * grid bounded, so the spread join is broadcast-sized.
      */
    private def pinSpread(df: DataFrame, at: Long, quantum: Long): DataFrame = {
      val pinned =
        if (at == PromQlAst.AtStart || at == PromQlAst.AtEnd) {
          // `@ start()` / `@ end()`: the span's bound window, resolved
          // LAZILY (two aggregate scalars over the stream, broadcast) —
          // compile stays action-free; the span derives from the stream
          // itself, the same convention absent's grid uses (Prometheus
          // resolves these from the query-range parameters, which a
          // relation-in/relation-out compile has no channel for)
          val winCol = winStart(col("timestamp"), quantum)
          val bound = metrics.agg(
            (if (at == PromQlAst.AtStart) min(winCol) else max(winCol))
              .as("_pin_win"))
          df.join(broadcast(bound), col("win_start") === col("_pin_win"))
            .drop("_pin_win", "win_start")
        } else {
          val pinWin = at - java.lang.Math.floorMod(at, quantum)
          df.filter(col("win_start") === lit(pinWin)).drop("win_start")
        }
      streamGrid(quantum)
        .join(pinned, Seq("component"))
        .select(col("component"), col("name"), col("labels"),
          col("win_start"), col("value"))
    }

    /** Apply a range selector's `@` pin to its evaluated relation: the
      * result lands on the same grid unpinned siblings use (the range's
      * own grid when tumbling, the step grid when sliding).
      */
    private def pinMaybe(df: DataFrame, at: Option[Long], r: Long): DataFrame =
      // instant mode consumed the pin as a timestamp shift in samples();
      // point-grid mode intercepted pinned calls in evalCall (nested
      // instant + literal spread) before any aggregation ran
      if (instantAt.isDefined) df
      else if (pointGrid.isDefined) {
        if (at.isDefined) err("unreachable: @ pin survived to pinMaybe under a point grid")
        df
      } else at.fold(df)(t => pinSpread(df, t, if (sliding) stepSec else r))

    private def addSeries(df: DataFrame): DataFrame =
      df.withColumn("series", Firehose.seriesKey(col("labels")))

    /** Window assignment of a range function's samples: tumbling on the
      * range's own grid, or (sliding mode) the tile-replication explode
      * onto every `stepSec`-grid window whose `[w, w + R)` lookback holds
      * the sample — exactly `R/stepSec` windows per row, bounded and
      * map-side ([[Firehose.slidingWindowAgg]]'s assignment rule).
      */
    private def assignWin(df: DataFrame, r: Long): DataFrame =
      if (instantAt.isDefined) {
        val t = instantAt.get
        // one window, anchored at the evaluation point (range-selector
        // paths arrive pre-filtered from rangeSamples; absent's presence
        // side and subquery grid points are filtered here)
        df.filter(col("timestamp") > lit(t - r) && col("timestamp") <= lit(t))
          .withColumn("win_start", eval_time(t))
      } else if (pointGrid.isDefined) {
        // one left-open window per grid point the sample can serve —
        // the instant window, vectorized across the grid
        df.withColumn("win_start", explode(coveringPoints(col("timestamp"), r)))
      } else if (!sliding || r == stepSec)
        df.withColumn("win_start", winStart(col("timestamp"), r))
      else {
        if (r % stepSec != 0)
          err(s"sliding evaluation: range ${r}s must be a multiple of the ${stepSec}s step")
        val ws = winStart(col("timestamp"), stepSec)
        df.withColumn(
          "win_start",
          explode(sequence(ws - lit(r - stepSec), ws, lit(stepSec))))
      }

    private def withSeriesWin(df: DataFrame, w: Long): DataFrame =
      assignWin(addSeries(df), w)

    private val rangeKeys =
      Seq(col("component"), col("name"), col("series"), col("win_start"))

    private def out(df: DataFrame, valueCol: Column): DataFrame =
      df.select(
        col("component"), col("name"), col("labels"), col("win_start"),
        valueCol.cast("double").as("value"))

    /** `increase`/`rate`: [[Firehose.counterIncrease]]'s exact shape —
      * reset-clamped deltas over the FULL series order (a delta is
      * attributed to the window of its later sample, the tiling property
      * m14/m30 build on), summed per window in exact decimals.
      */
    private def increase(ds: DataFrame, r: Long, asRate: Boolean): DataFrame = {
      val w = Window
        .partitionBy(col("component"), col("name"), col("series"))
        .orderBy(col("timestamp"), col("id"))
      // deltas over the FULL series order, computed BEFORE window
      // assignment (sliding replicates rows — lag must see each sample
      // once); tumbling results are unchanged, the lag partition never
      // included the window
      val withInc = addSeries(ds)
        .withColumn("delta", col("value") - lag(col("value"), 1).over(w))
        .withColumn("_prev_ts", lag(col("timestamp"), 1).over(w))
        .withColumn(
          "inc",
          when(col("delta").isNull, lit(0.0))
            .when(col("delta") < 0, col("value"))
            .otherwise(col("delta")))
      val assigned = assignWin(withInc, r)
      // point grid: a delta counts at point p only when BOTH endpoints
      // lie in (p − R, p] — the window-INTERIOR model each point's
      // instant evaluation uses (the full-order lag equals the in-window
      // lag exactly when the previous sample is in the window; a
      // window's first sample contributes 0, like instant mode's
      // post-filter lag). Tumbling/sliding keep the engine's
      // crossing-delta attribution unchanged.
      val interior =
        if (pointGrid.isEmpty) assigned
        else assigned.withColumn(
          "inc",
          when(col("_prev_ts").isNull ||
            col("_prev_ts") <= col("win_start") - lit(r), lit(0.0))
            .otherwise(col("inc")))
      // a subquery can feed non-finite inner values (x/0): the finite
      // lane + flag reconstruction keeps increase(+Inf-series) = +Inf
      // instead of failing the decimal cast
      val extraAggs =
        if (!extrapolate) Seq.empty[Column]
        else Seq(
          min(struct(col("timestamp"), col("id"), col("value"))).as("_fst"),
          max(col("timestamp")).as("_lst"),
          count(lit(1)).as("_n"))
      val agg = interior
        .groupBy(rangeKeys: _*)
        .agg(
          any_value(col("labels")).as("labels"),
          (sum(finiteOr0(col("inc")).cast("decimal(18,6)")).cast("double").as("_incf")
            +: (nfFlagAggs(col("inc"), "i") ++ extraAggs)): _*)
      val inc = nfApply(col("_incf"), "i")
      if (!extrapolate)
        out(agg, if (asRate) inc / lit(r.toDouble) else inc)
      else {
        // Go's extrapolatedRate (promql/functions.go), branch-for-branch.
        // rangeStart = win_start − R, rangeEnd = win_start (the left-open
        // instant window); the interior delta sum IS Go's resultFloat
        // (consecutive-pair deltas with the reset correction).
        val sampled = (col("_lst") - col("_fst.timestamp")).cast("double")
        val avgIv = sampled / (col("_n") - lit(1)).cast("double")
        val thresh = avgIv * lit(1.1)
        val d0Start = (col("_fst.timestamp") -
          (col("win_start") - lit(r))).cast("double")
        val firstVal = col("_fst.value")
        // counter zero-floor clamp BEFORE the threshold check — Go's
        // order (rate/increase are counters; NaN predicates are false,
        // so poisoned windows skip the clamp and propagate through)
        val dZero = sampled * (firstVal / inc)
        val dStartZ = when(inc > 0 && firstVal >= 0 && dZero < d0Start, dZero)
          .otherwise(d0Start)
        val dStart = when(dStartZ >= thresh, avgIv / 2).otherwise(dStartZ)
        val d0End = (col("win_start") - col("_lst")).cast("double")
        val dEnd = when(d0End >= thresh, avgIv / 2).otherwise(d0End)
        val factor = (sampled + dStart + dEnd) / sampled
        val v = inc * factor
        // Prometheus emits nothing below two samples
        out(agg.filter(col("_n") >= 2),
          if (asRate) v / lit(r.toDouble) else v)
      }
    }

    /** floor/ceil on DOUBLES that propagate NaN/±Inf like Go's
      * math.Floor/Ceil: Spark's floor()/ceil() land in LongType, so
      * +Inf ANSI-overflows the cast and NaN collapses to 0 — query
      * crashes or silent zeros where PromQL carries the value through
      * (round(x/0) must be +Inf, ceil(0/0) must be NaN). Above 2⁵²
      * every double is already integral, so the identity arm covers
      * huge finites and both non-finite edges at once; below it the
      * long round-trip is exact.
      */
    private def dfloor(x: Column): Column =
      when(isnan(x) || abs(x) >= lit(9.007199254740992e15), x)
        .otherwise(floor(x).cast("double"))
    private def dceil(x: Column): Column =
      when(isnan(x) || abs(x) >= lit(9.007199254740992e15), x)
        .otherwise(ceil(x).cast("double"))

    /** PromQL's IEEE non-finite algebra for the exact-decimal sum
      * lanes: Spark's decimal cast cannot carry NaN/±Inf (the ANSI
      * cast fails the whole query, the legacy cast nulls the value out
      * of the sum — both wrong), but `x / 0` makes them ordinary
      * vector values. The decimal lane therefore sums FINITE values
      * only (order-independent, exact) and three max-flags
      * reconstruct what an IEEE double sum would produce: any NaN →
      * NaN, both infinities present → NaN (the Inf − Inf fold), one
      * infinity → that infinity, else the exact finite sum.
      */
    private def isFiniteC(v: Column): Column =
      !(isnan(v) || abs(v) === lit(Double.PositiveInfinity))
    /** Large FINITE values are the decimal cast's other cliff:
      * decimal(18,6) cannot represent |v| ≳ 1e12 (and the squared lane
      * caps around the same point through its own headroom), so a
      * value just below the bound that the cast's half-up rounding
      * would push over must stay out of the decimal lane too — the cap
      * keeps a full digit of margin. A group holding any such value is
      * `big`-flagged and reads its sum from a plain IEEE-double
      * sidecar instead (the arithmetic Prometheus itself runs; order
      * dependence exists only for groups that already left the exact
      * regime).
      */
    private val DecCap = 9.0e11
    private def inDecLane(v: Column): Column =
      isFiniteC(v) && abs(v) < lit(DecCap)
    /** The decimal lane: finite, in-range values; everything else 0. */
    private def finiteOr0(v: Column): Column =
      when(inDecLane(v), v).otherwise(lit(0.0))
    /** The double sidecar lane: every finite value; non-finites 0. */
    private def maskFinite(v: Column): Column =
      when(isFiniteC(v), v).otherwise(lit(0.0))
    private def nfFlagAggs(v: Column, p: String): Seq[Column] = Seq(
      max(isnan(v).cast("int")).as(s"_${p}nan"),
      max((v === lit(Double.PositiveInfinity)).cast("int")).as(s"_${p}pi"),
      max((v === lit(Double.NegativeInfinity)).cast("int")).as(s"_${p}ni"),
      max((isFiniteC(v) && abs(v) >= lit(DecCap)).cast("int")).as(s"_${p}big"),
      sum(maskFinite(v)).as(s"_${p}dsum"))
    private def nfApply(fin: Column, p: String): Column =
      when(col(s"_${p}nan") === 1 ||
          (col(s"_${p}pi") === 1 && col(s"_${p}ni") === 1), lit(Double.NaN))
        .when(col(s"_${p}pi") === 1, lit(Double.PositiveInfinity))
        .when(col(s"_${p}ni") === 1, lit(Double.NegativeInfinity))
        .when(col(s"_${p}big") === 1, col(s"_${p}dsum"))
        .otherwise(fin)
    private def bigLane(p: String): Column = col(s"_${p}big") === 1
    private def nfAny(p: String): Column =
      col(s"_${p}nan") === 1 || col(s"_${p}pi") === 1 || col(s"_${p}ni") === 1
    /** Prometheus's max skips NaN unless every sample is NaN (Go's
      * `v > max || isNaN(max)` fold); Spark's max orders NaN greatest
      * and would return NaN whenever one sample is. (Spark's min
      * already matches: NaN-greatest ordering picks the finite
      * minimum, and an all-NaN group yields NaN either way.)
      */
    private def promMax(v: Column): Column =
      coalesce(max(when(isnan(v), lit(null)).otherwise(v)), max(v))

    /** Exact percentile under Prometheus's out-of-range-φ convention:
      * φ < 0 → -Inf, φ > 1 → +Inf, NaN → NaN per present group —
      * Spark's percentile() would refuse those φ at analysis time and
      * fail the whole query. φ is a plan-time scalar, so the constant
      * arm costs nothing; in-range φ keeps the engine's 4-dp quantile
      * portability round.
      */
    private def promPercentile(v: Column, q: Double): Column =
      if (q.isNaN) max(lit(Double.NaN))
      else if (q < 0) max(lit(Double.NegativeInfinity))
      else if (q > 1) max(lit(Double.PositiveInfinity))
      else round(percentile(v, lit(q)), 4)

    /** The one-aggregation `*_over_time` family
      * ([[Firehose.overTimeAgg]]'s numeric discipline: exact-decimal
      * sums, algebraic variance clamped at zero).
      */
    private def overTime(ds: DataFrame, r: Long, fn: String, q: Double): DataFrame = {
      val dv = finiteOr0(col("value")).cast("decimal(18,6)")
      val n = col("_n").cast("double")
      // the exact-percentile aggregate buffers the full per-group value
      // multiset — added ONLY when the quantile is actually asked for,
      // so sum/min/max/avg keep the map-side-combinable shape
      val baseAggs = Seq(
        count(lit(1)).as("_n"),
        min(col("value")).as("_min"),
        promMax(col("value")).as("_max"),
        sum(dv).cast("double").as("_sumf"),
        sum((dv * dv).cast("decimal(38,12)")).cast("double").as("_sumsq"),
        sum(maskFinite(col("value")) * maskFinite(col("value"))).as("_sdsq"),
        GraftFunctions.max_by_ts_id(col("value"), col("timestamp"), col("id")).as("_last")) ++
        nfFlagAggs(col("value"), "s")
      // ts_of_* (Prometheus 3.1 experimental family): the extremum
      // aggregates ride the same map-side-combinable aggregation. The
      // struct key mirrors Prometheus's `f.F >= maxVal || isNaN(maxVal)`
      // update loop exactly: any non-NaN sample beats every NaN one
      // (first field), ties on the extremum value resolve to the LATEST
      // timestamp (the >= makes the last occurrence win), and an
      // all-NaN window yields its latest timestamp (NaNs order as equal,
      // the timestamp field decides). `id` only breaks same-timestamp
      // ties, where the output timestamp is equal either way.
      val aggs = fn match {
        case "quantile_over_time" =>
          baseAggs :+ promPercentile(col("value"), q).as("_q")
        case "ts_of_max_over_time" =>
          baseAggs :+ max_by(col("timestamp"), struct(
            (!isnan(col("value"))).cast("int"), col("value"),
            col("timestamp"), col("id"))).as("_tso")
        case "ts_of_min_over_time" =>
          baseAggs :+ max_by(col("timestamp"), struct(
            (!isnan(col("value"))).cast("int"), -col("value"),
            col("timestamp"), col("id"))).as("_tso")
        case "ts_of_last_over_time" =>
          baseAggs :+ max(col("timestamp")).as("_tso")
        case _ => baseAggs
      }
      val agg = withSeriesWin(ds, r)
        .groupBy(rangeKeys: _*)
        .agg(any_value(col("labels")).as("labels"), aggs: _*)
      val sumV = nfApply(col("_sumf"), "s")
      // any non-finite sample makes the variance fold hit Inf − Inf →
      // NaN (Go's incremental mean/aux does the same); a big-finite
      // group reads the double sidecar algebra
      val stdvar = when(nfAny("s"), lit(Double.NaN))
        .when(bigLane("s"), greatest(
          (col("_sdsq") - col("_sdsum") * col("_sdsum") / n) / n, lit(0.0)))
        .otherwise(
          greatest((col("_sumsq") - col("_sumf") * col("_sumf") / n) / n, lit(0.0)))
      out(agg, fn match {
        case "sum_over_time" => sumV
        case "min_over_time" => col("_min")
        case "max_over_time" => col("_max")
        case "count_over_time" => n
        case "avg_over_time" => sumV / n
        case "last_over_time" => col("_last")
        case "stdvar_over_time" => stdvar
        case "stddev_over_time" => sqrt(stdvar)
        case "present_over_time" => lit(1.0)
        case "quantile_over_time" => col("_q")
        case "ts_of_max_over_time" | "ts_of_min_over_time" |
            "ts_of_last_over_time" => col("_tso")
      })
    }

    /** `mad_over_time`: the median absolute deviation around the
      * window's median — EXACT on the bounded per-(series, window)
      * multiset, like `quantile_over_time` (Prometheus computes the same
      * two nested medians over its in-memory window). The inner median
      * rides a whole-partition window aggregate on the SAME keys the
      * outer groupBy uses, so both evaluate inside one exchange; the
      * outer median rounds to 4 dp (the engine's quantile portability
      * contract).
      */
    private def madOverTime(ds: DataFrame, r: Long): DataFrame = {
      val w = Window.partitionBy(rangeKeys: _*)
      val agg = withSeriesWin(ds, r)
        .withColumn("_med", percentile(col("value"), lit(0.5)).over(w))
        .groupBy(rangeKeys: _*)
        .agg(
          any_value(col("labels")).as("labels"),
          round(percentile(abs(col("value") - col("_med")), lit(0.5)), 4).as("_mad"))
      out(agg, col("_mad"))
    }

    /** `delta`/`idelta`/`irate`: [[Firehose.irateDelta]]'s endpoint
      * family — first/last/second-to-last located by one row_number +
      * count sharing a single exchange; <2-sample windows emit nothing.
      */
    private def endpoints(ds: DataFrame, r: Long, fn: String): DataFrame = {
      val keys = rangeKeys
      val wAsc = Window.partitionBy(keys: _*).orderBy(col("timestamp"), col("id"))
      val wAll = Window.partitionBy(keys: _*)
      val agg = withSeriesWin(ds, r)
        .withColumn("rn", row_number().over(wAsc))
        .withColumn("cnt", count(lit(1)).over(wAll))
        .groupBy(keys: _*)
        .agg(
          any_value(col("labels")).as("labels"),
          count(lit(1)).as("_n"),
          min(when(col("rn") === 1, col("value"))).as("_first"),
          min(when(col("rn") === col("cnt"), col("value"))).as("_last"),
          min(when(col("rn") === col("cnt"), col("timestamp"))).as("_last_ts"),
          min(when(col("rn") === col("cnt") - 1, col("value"))).as("_prev"),
          min(when(col("rn") === col("cnt") - 1, col("timestamp"))).as("_prev_ts"))
      val v = fn match {
        case "delta" => when(col("_n") >= 2, col("_last") - col("_first"))
        case "idelta" => when(col("_n") >= 2, col("_last") - col("_prev"))
        case "irate" =>
          when(col("_n") >= 2 && col("_last_ts") =!= col("_prev_ts"),
            when(col("_last") < col("_prev"), col("_last"))
              .otherwise(col("_last") - col("_prev")) /
              (col("_last_ts") - col("_prev_ts")).cast("double"))
      }
      out(agg, v).filter(col("value").isNotNull)
    }

    /** `resets`/`changes`: transitions between consecutive samples WITHIN
      * the window (PromQL considers only the range's own samples).
      */
    private def transitions(ds: DataFrame, r: Long, fn: String): DataFrame = {
      val wsw = withSeriesWin(ds, r)
      val w = Window.partitionBy(rangeKeys: _*).orderBy(col("timestamp"), col("id"))
      // NaN-exact transition rules (Prometheus's own): a reset is the
      // IEEE `v < prev` — false whenever either side is NaN (Spark's raw
      // < treats NaN as greatest and would count a spurious reset after
      // a NaN sample); a change is the IEEE `v != prev` EXCEPT the
      // NaN -> NaN pair, which Prometheus exempts explicitly
      val pred = fn match {
        case "resets" => cmpPred("<", col("value"), col("_prev"))
        case "changes" =>
          cmpPred("!=", col("value"), col("_prev")) &&
            !(isnan(col("value")) && isnan(col("_prev")))
      }
      val agg = wsw
        .withColumn("_prev", lag(col("value"), 1).over(w))
        .groupBy(rangeKeys: _*)
        .agg(
          any_value(col("labels")).as("labels"),
          sum((col("_prev").isNotNull && pred).cast("long")).as("_c"))
      out(agg, col("_c"))
    }

    /** `deriv`/`predict_linear`: per-window ordinary-least-squares trend —
      * [[Firehose.predictLinear]]'s numeric discipline scoped to the range
      * window: x centered on the window's min timestamp (exact long
      * arithmetic — no epoch-magnitude cancellation), every sum an exact
      * decimal fold (order-independent, map-side combinable), the final
      * slope/intercept algebra in IEEE doubles on per-window scalars.
      * `predict_linear` extrapolates `horizon` past the window's NEWEST
      * sample (the m16 convention; Prometheus extrapolates from the eval
      * timestamp — documented divergence). <2-sample and zero-variance
      * windows emit nothing (no fit line exists).
      */
    private def trend(ds: DataFrame, r: Long, fn: String, horizon: Double): DataFrame = {
      val wAll = Window.partitionBy(rangeKeys: _*)
      val based = withSeriesWin(ds, r)
        .withColumn("_x", col("timestamp") - min(col("timestamp")).over(wAll))
        .withColumn("_y", col("value").cast("double"))
      val yFin = finiteOr0(col("_y"))
      val g = based
        .groupBy(rangeKeys: _*)
        .agg(
          any_value(col("labels")).as("labels"),
          Seq(
            count(lit(1)).as("_n"),
            sum(col("_x").cast("decimal(19,0)")).cast("double").as("_sx"),
            // x*x is exact in long (centered x ≤ the range in seconds); the
            // decimal cast only makes the SUM overflow-proof
            sum((col("_x") * col("_x")).cast("decimal(28,0)")).cast("double").as("_sxx"),
            sum(yFin.cast("decimal(18,6)")).cast("double").as("_syd"),
            sum(col("_x").cast("decimal(19,0)") * yFin.cast("decimal(18,6)"))
              .cast("double").as("_sxyd"),
            sum(col("_x").cast("double") * maskFinite(col("_y"))).as("_dsxy"),
            max(col("_x")).as("_mx")) ++ nfFlagAggs(col("_y"), "t"): _*)
      val nd = col("_n").cast("double")
      // a big-finite group reads the double sidecar sums (_tdsum, _dsxy)
      val sy = when(bigLane("t"), col("_tdsum")).otherwise(col("_syd"))
      val sxy = when(bigLane("t"), col("_dsxy")).otherwise(col("_sxyd"))
      val den = nd * col("_sxx") - col("_sx") * col("_sx")
      val slope = (nd * sxy - col("_sx") * sy) / den
      val intercept = (sy - slope * col("_sx")) / nd
      val v0 = fn match {
        case "deriv" => slope
        case "predict_linear" =>
          intercept + slope * (col("_mx").cast("double") + lit(horizon))
      }
      // a non-finite sample turns the regression sums into the
      // Inf − Inf fold → NaN (Go's float64 sums land there too)
      val v = when(nfAny("t"), lit(Double.NaN)).otherwise(v0)
      out(g.filter(col("_n") >= 2 && den =!= lit(0.0)), v)
    }

    private val overTimeFns = Set(
      "avg_over_time", "sum_over_time", "min_over_time", "max_over_time",
      "count_over_time", "last_over_time", "stddev_over_time",
      "stdvar_over_time", "present_over_time", "quantile_over_time",
      "ts_of_max_over_time", "ts_of_min_over_time", "ts_of_last_over_time")

    /** `holt_winters(x[R], sf, tf)`: double exponential smoothing per
      * range window — [[Firehose.holtWinters]]'s exact fold (s₀ = v₀,
      * b₀ = v₁−v₀, then the smoothing recursion), run as one `aggregate`
      * over the (ts, id)-sorted in-window sample list after a single
      * shuffle. The recursion is sequential only WITHIN a (series,
      * window) group whose sample count is scrape-rate-bounded — groups,
      * not samples, set the parallelism. <2-sample windows emit nothing
      * (no trend seed exists).
      */
    private def holtWintersVec(ds: DataFrame, r: Long, sf: Double, tf: Double): DataFrame = {
      val vs = transform(array_sort(col("_s")), s => s.getField("value"))
      def smooth(acc: Column, x: Column): Column = {
        val sNew = lit(sf) * x + lit(1 - sf) * (acc.getField("s") + acc.getField("b"))
        struct(
          sNew.as("s"),
          (lit(tf) * (sNew - acc.getField("s")) + lit(1 - tf) * acc.getField("b")).as("b"))
      }
      val agg = withSeriesWin(ds, r)
        .groupBy(rangeKeys: _*)
        .agg(
          any_value(col("labels")).as("labels"),
          collect_list(struct(col("timestamp").as("ts"), col("id"), col("value"))).as("_s"),
          count(lit(1)).as("_n"))
      out(agg,
        when(col("_n") >= 2,
          aggregate(
            slice(vs, lit(3), greatest(size(vs) - 2, lit(0))),
            struct(
              element_at(vs, 2).as("s"),
              (element_at(vs, 2) - element_at(vs, 1)).as("b")),
            smooth).getField("s")))
        .filter(col("value").isNotNull)
    }

    /** `absent(x)` / `absent_over_time(x[R])`: 1 at every grid window
      * where the selector's lookback holds no sample. Prometheus takes
      * the evaluation grid from the query's start/end; here it derives
      * from the metric STREAM itself — every (component, window) cell
      * between the stream's oldest and newest window, built from two
      * per-component aggregate scalars + a bounded sequence explode
      * (never a driver loop; grid size = components × span/step). Output
      * labels are the selector's equality matchers (PromQL's rule: the
      * labels the user asserted), name empty per PromQL. The presence
      * side is the same window assignment every range function uses, so
      * sliding mode slides the lookback for free.
      */
    private def absentVec(fnName: String, args: Seq[PromExpr]): Value = {
      require1(fnName, args)
      val (sel, r) = args.head match {
        case s: VectorSelector if fnName == "absent" => (s, stepSec)
        case RangeSelector(s, rr) if fnName == "absent_over_time" => (s, rr)
        case _ => err(s"$fnName expects a ${
          if (fnName == "absent") "vector selector" else "range selector"}")
      }
      if (sel.atSec.isDefined) err(s"@ is not meaningful under $fnName")
      // instant/point modes: `absent(x)` reports on the LOOKBACK window
      // (the selector's own visibility), staleness-aware through
      // instant(); `absent_over_time(x[R])` on the left-open range
      // window with markers dropped
      val pointish = instantAt.isDefined || pointGrid.isDefined
      val rEff = if (pointish && fnName == "absent") lookbackSec else r
      val gridStep = if (sliding) stepSec else rEff
      val grid = streamGrid(gridStep)
      val present =
        if (pointish && fnName == "absent")
          instant(sel).select(col("component"), col("win_start")).distinct()
        else assignWin(
          if (pointish) samples(sel).filter(!isnan(col("value")))
          else samples(sel), rEff)
          .select(col("component"), col("win_start")).distinct()
      val eqs = sel.matchers.filter(m => m.op == MatchOp.Eq && m.label != "__name__")
      val labelsCol =
        if (eqs.isEmpty) map_filter(map(lit(""), lit("")), (_, _) => lit(false))
        else map(eqs.flatMap(m => Seq(lit(m.label), lit(m.value))): _*)
      Vec(grid.join(present, Seq("component", "win_start"), "left_anti")
        .select(col("component"), lit("").as("name"), labelsCol.as("labels"),
          col("win_start"), lit(1.0).as("value")))
    }

    private def scalarArg(e: PromExpr, what: String): Double = eval(e) match {
      case Scal(v) => v
      case _ => err(s"$what must be a scalar")
    }

    private def emptyLabels: Column =
      map_filter(map(lit(""), lit("")), (_, _) => lit(false))

    /** `time()`: the evaluation window's start as a per-window scalar —
      * the grid derives from the stream span exactly like `absent`'s.
      */
    private def timeVal: Value =
      WinScal(streamGrid(stepSec)
        .select(col("win_start").as("_ws_win")).distinct()
        .withColumn("_ws_val", col("_ws_win").cast("double")))

    /** `scalar(v)`: the vector's single element per window, NaN when the
      * window holds zero or several elements (PromQL's rule). Identity is
      * dropped entirely — a scalar has none.
      */
    private def scalarOf(v: DataFrame): Value =
      WinScal(v.groupBy(col("win_start").as("_ws_win"))
        .agg(count(lit(1)).as("_n"), min(col("value")).as("_v"))
        .select(col("_ws_win"),
          when(col("_n") === 1, col("_v")).otherwise(lit(Double.NaN)).as("_ws_val")))

    /** `vector(s)`: a constant (or per-window scalar) as an instant vector
      * with the empty labelset, one element per grid window per component.
      */
    private def vectorOf(arg: Value): Value = arg match {
      case Scal(s) =>
        Vec(streamGrid(stepSec).select(
          col("component"), lit("").as("name"), emptyLabels.as("labels"),
          col("win_start"), lit(s).cast("double").as("value")))
      case WinScal(w) =>
        Vec(streamGrid(stepSec)
          .join(w, col("win_start") === col("_ws_win"))
          .select(col("component"), lit("").as("name"), emptyLabels.as("labels"),
            col("win_start"), col("_ws_val").cast("double").as("value")))
      case Vec(_) => err("vector() expects a scalar argument")
    }

    /** Point-grid `@`: a pinned subexpression is CONSTANT across the
      * evaluation points, so it evaluates ONCE — a nested instant Eval
      * at the resolved pin (the instant machinery already carries the
      * pin-as-shift semantics) — and cross-spreads over the literal
      * point sequence. Never consults the observed stream span, so the
      * spread is universe-free, unlike grid mode's pinSpread.
      */
    private def pointPinnedEval(e: PromExpr, atRaw: Long): Value = {
      val p = resolvePin(atRaw)
      val rewritten = rewritePins(e, p)
      new Eval(metrics, stepSec, sliding = false, instantAt = Some(p),
        lookbackSec = lookbackSec, extrapolate = extrapolate)
        .eval(rewritten) match {
        case Vec(df) => Vec(spreadPoints(df))
        case WinScal(df) =>
          // a per-window scalar (scalar(x @ p)) is point-constant too
          WinScal(df.drop("_ws_win").withColumn("_ws_win", explode(pointSequence)))
        case other => other // plain scalars are point-independent anyway
      }
    }

    private def rewritePins(e: PromExpr, p: Long): PromExpr = e match {
      case s: VectorSelector if s.atSec.isDefined => s.copy(atSec = Some(p))
      case RangeSelector(s, r) if s.atSec.isDefined =>
        RangeSelector(s.copy(atSec = Some(p)), r)
      case Call(fn, args) => Call(fn, args.map(rewritePins(_, p)))
      case other => other
    }

    /** Point-grid interception for calls whose DIRECT selector argument
      * is `@`-pinned: the whole call is point-constant — nested instant
      * at the pin, literal spread. A call mixing a pinned selector with
      * another per-point vector argument (info's data side) refuses
      * loudly rather than silently pinning both.
      */
    private def pointPinCall(fn: String, args: Seq[PromExpr]): Option[Value] = {
      val pins = args.flatMap {
        case RangeSelector(s, _) => s.atSec.toSeq
        case s: VectorSelector => s.atSec.toSeq
        case _ => Seq.empty
      }
      if (pointGrid.isEmpty || pins.isEmpty) None
      else {
        val resolved = pins.map(resolvePin).distinct
        if (resolved.length > 1)
          err(s"$fn: mixed @ pins in one call are not supported under range evaluation")
        val unpinnedVector = args.exists {
          case _: NumberLit | _: StringLit => false
          case RangeSelector(s, _) => s.atSec.isEmpty
          case s: VectorSelector => s.atSec.isEmpty
          case _ => true // a nested expression evaluates per point
        }
        if (unpinnedVector)
          err(s"$fn: @ on one argument beside a per-point vector argument " +
            "is not supported under range evaluation")
        Some(pointPinnedEval(Call(fn, args), resolved.head))
      }
    }

    private def evalCall(fn: String, args: Seq[PromExpr]): Value = {
      pointPinCall(fn, args) match {
        case Some(v) => return v
        case None =>
      }
      evalCall0(fn, args)
    }

    private def evalCall0(fn: String, args: Seq[PromExpr]): Value = fn match {
      case "rate" | "increase" =>
        require1(fn, args)
        val (ds, r, at) = rangeSamples(fn, args.head)
        Vec(pinMaybe(increase(ds, r, asRate = fn == "rate"), at, r))
      case "delta" | "idelta" | "irate" =>
        require1(fn, args)
        val (ds, r, at) = rangeSamples(fn, args.head)
        Vec(pinMaybe(endpoints(ds, r, fn), at, r))
      case "resets" | "changes" =>
        require1(fn, args)
        val (ds, r, at) = rangeSamples(fn, args.head)
        Vec(pinMaybe(transitions(ds, r, fn), at, r))
      case "deriv" =>
        require1(fn, args)
        val (ds, r, at) = rangeSamples(fn, args.head)
        Vec(pinMaybe(trend(ds, r, fn, 0.0), at, r))
      case "predict_linear" =>
        if (args.length != 2) err("predict_linear expects (range-vector, scalar)")
        val h = scalarArg(args(1), "predict_linear horizon")
        val (ds, r, at) = rangeSamples(fn, args.head)
        Vec(pinMaybe(trend(ds, r, fn, h), at, r))
      case "absent" | "absent_over_time" => absentVec(fn, args)
      case "holt_winters" | "double_exponential_smoothing" =>
        if (args.length != 3) err(s"$fn expects (range-vector, sf, tf)")
        val sf = scalarArg(args(1), s"$fn smoothing factor")
        val tf = scalarArg(args(2), s"$fn trend factor")
        if (sf <= 0 || sf >= 1) err(s"$fn smoothing factor must be in (0, 1)")
        if (tf <= 0 || tf > 1) err(s"$fn trend factor must be in (0, 1]")
        val (ds, r, at) = rangeSamples(fn, args.head)
        Vec(pinMaybe(holtWintersVec(ds, r, sf, tf), at, r))
      case "quantile_over_time" =>
        if (args.length != 2) err(s"$fn expects (scalar, range-vector)")
        val q = scalarArg(args(0), s"$fn quantile")
        val (ds, r, at) = rangeSamples(fn, args(1))
        Vec(pinMaybe(overTime(ds, r, fn, q), at, r))
      case "mad_over_time" =>
        require1(fn, args)
        val (ds, r, at) = rangeSamples(fn, args.head)
        Vec(pinMaybe(madOverTime(ds, r), at, r))
      case f if overTimeFns(f) =>
        require1(fn, args)
        val (ds, r, at) = rangeSamples(fn, args.head)
        Vec(pinMaybe(overTime(ds, r, f, 0.5), at, r))
      case "abs" => mapFn(fn, args)(abs)
      case "ceil" => mapFn(fn, args)(dceil)
      case "floor" => mapFn(fn, args)(dfloor)
      case "sqrt" => mapFn(fn, args)(sqrt)
      case "exp" => mapFn(fn, args)(exp)
      case "sin" | "cos" | "tan" | "asin" | "acos" | "atan" |
           "sinh" | "cosh" | "tanh" | "deg" | "rad" =>
        // the PromQL trigonometric family: Spark's builtins are the same
        // java.lang.Math calls Go's math package mirrors, with matching
        // domain edges (asin/acos outside [-1,1] are NaN, never null)
        val f: Column => Column = fn match {
          case "sin" => sin(_); case "cos" => cos(_); case "tan" => tan(_)
          case "asin" => asin(_); case "acos" => acos(_); case "atan" => atan(_)
          case "sinh" => sinh(_); case "cosh" => cosh(_); case "tanh" => tanh(_)
          case "deg" => degrees(_); case _ => radians(_)
        }
        mapFn(fn, args)(f)
      case "asinh" =>
        // Go's math.Asinh (FDLIBM s_asinh.c), not the naive
        // log(x + sqrt(x²+1)): that form cancels catastrophically for
        // negative x, returns 0 for |x| < ~1e-8, and overflows x² to
        // +Inf above ~1.3e154. The FDLIBM range reduction — x itself
        // below 2⁻²⁸, log1p forms through |x| ≤ 2, log(2x)+correction
        // to 2²⁸, log(x)+ln2 beyond — is stable everywhere, reflected
        // through the odd symmetry so only |x| is ever evaluated
        mapFn(fn, args) { v =>
          val a = abs(v)
          val mag = when(a < lit(Asinh.Tiny), a)
            .when(a > lit(Asinh.Huge), log(a) + lit(Asinh.Ln2))
            .when(a > 2.0,
              log(lit(2.0) * a + lit(1.0) / (a + sqrt(a * a + lit(1.0)))))
            .otherwise(
              log1p(a + a * a / (lit(1.0) + sqrt(lit(1.0) + a * a))))
          when(isnan(v), lit(Double.NaN))
            .when(v === 0.0, v) // asinh(±0) = ±0, sign preserved
            .when(v < 0, -mag)
            .otherwise(mag)
        }
      case "acosh" =>
        // Go's math.Acosh (FDLIBM e_acosh.c): NaN below the x >= 1
        // domain (Spark's log would yield null), log1p near 1 (the
        // naive x²-1 loses half the significant digits there),
        // log(x)+ln2 above 2²⁸ (the naive x² overflows to +Inf)
        mapFn(fn, args) { v =>
          val t = v - lit(1.0)
          when(isnan(v) || v < 1, lit(Double.NaN))
            .when(v >= lit(Asinh.Huge), log(v) + lit(Asinh.Ln2))
            .when(v > 2.0,
              log(lit(2.0) * v - lit(1.0) / (v + sqrt(v * v - lit(1.0)))))
            .otherwise(log1p(t + sqrt(lit(2.0) * t + t * t)))
        }
      case "atanh" =>
        // Go's math.Atanh (FDLIBM s_atanh.c): domain |x| <= 1 with ±1
        // mapping to ±Inf; x itself below 2⁻²⁸ and log1p forms above
        // (the naive 0.5·log((1+x)/(1-x)) rounds 1±x to 1.0 and
        // returns exactly 0 for tiny x)
        mapFn(fn, args) { v =>
          val a = abs(v)
          val mag = when(a < lit(Asinh.Tiny), a)
            .when(a > 0.5, lit(0.5) * log1p((a + a) / (lit(1.0) - a)))
            .otherwise(
              lit(0.5) * log1p((a + a) + (a + a) * a / (lit(1.0) - a)))
          when(isnan(v) || a > 1, lit(Double.NaN))
            .when(v === 1.0, lit(Double.PositiveInfinity))
            .when(v === -1.0, lit(Double.NegativeInfinity))
            .when(v === 0.0, v) // atanh(±0) = ±0, sign preserved
            .when(v < 0, -mag)
            .otherwise(mag)
        }
      case "pi" =>
        if (args.nonEmpty) err("pi() takes no arguments")
        Scal(math.Pi)
      case "ln" | "log2" | "log10" =>
        // Spark's log family returns NULL for inputs <= 0; PromQL (Go)
        // gives ln(0) = -Inf and ln(x<0) = NaN — spelled out so a zero
        // sample never becomes a silently-vanishing null row
        val f: Column => Column = fn match {
          case "ln" => log(_); case "log2" => log2(_); case _ => log10(_)
        }
        mapFn(fn, args)(v =>
          when(isnan(v), lit(Double.NaN))
            .when(v === 0.0, lit(Double.NegativeInfinity))
            .when(v < 0, lit(Double.NaN))
            .otherwise(f(v)))
      case "sgn" => mapFn(fn, args)(signum)
      case "round" =>
        val to = if (args.length == 2) scalarArg(args(1), "round to_nearest") else 1.0
        if (to <= 0) err("round to_nearest must be positive")
        // PromQL rounds ties toward +Inf via the INVERSE spelling —
        // floor(v·(1/to) + 0.5) / (1/to), promql/functions.go's
        // funcRound — which differs from floor(v/to + 0.5)·to by an
        // ulp near halfway points of non-dyadic to_nearest; Spark's
        // own round() is HALF_UP away from zero, off by one unit at
        // every negative midpoint
        val inv = 1.0 / to
        mapFn(fn, args.take(1))(v => dfloor(v * lit(inv) + lit(0.5)) / lit(inv))
      case "clamp" =>
        if (args.length != 3) err("clamp expects (vector, min, max)")
        val lo = scalarArg(args(1), "clamp min")
        val hi = scalarArg(args(2), "clamp max")
        // PromQL funcClamp (promql/functions.go): `max < min` yields the
        // EMPTY vector (Go `<`, so a NaN bound does NOT trigger it);
        // otherwise math.Max(min, math.Min(max, v)) — Go's Min/Max
        // PROPAGATE NaN from the value OR a bound, unlike Spark's
        // NaN-greatest `least`/`greatest` total order (r16 ADVICE)
        if (hi < lo) Vec(vecArg(args.head, fn).filter(lit(false)))
        else if (lo.isNaN || hi.isNaN)
          mapFn(fn, args.take(1))(_ => lit(Double.NaN))
        else
          mapFn(fn, args.take(1))(v =>
            when(isnan(v), v).otherwise(least(greatest(v, lit(lo)), lit(hi))))
      case "clamp_min" =>
        if (args.length != 2) err("clamp_min expects (vector, min)")
        val lo = scalarArg(args(1), "clamp_min min")
        if (lo.isNaN) mapFn(fn, args.take(1))(_ => lit(Double.NaN))
        else mapFn(fn, args.take(1))(v =>
          when(isnan(v), v).otherwise(greatest(v, lit(lo))))
      case "clamp_max" =>
        if (args.length != 2) err("clamp_max expects (vector, max)")
        val hi = scalarArg(args(1), "clamp_max max")
        if (hi.isNaN) mapFn(fn, args.take(1))(_ => lit(Double.NaN))
        else mapFn(fn, args.take(1))(v =>
          when(isnan(v), v).otherwise(least(v, lit(hi))))
      case "time" =>
        if (args.nonEmpty) err("time() takes no arguments")
        timeVal
      case "scalar" =>
        require1(fn, args)
        scalarOf(vecArg(args.head, fn))
      case "vector" =>
        require1(fn, args)
        vectorOf(eval(args.head))
      case "label_replace" => labelReplace(args)
      case "label_join" => labelJoin(args)
      case "histogram_quantile" =>
        if (args.length != 2) err("histogram_quantile expects (scalar, vector)")
        val q = scalarArg(args(0), "histogram_quantile quantile")
        args(1) match {
          // a RANGE argument selects the NATIVE-histogram path: the
          // range's observations build the sparse exponential histogram
          case r: RangeSelector =>
            Vec(nativeVecOf(r,
              graft.operators.NativeHist.quantile(nativeHistOf(fn, r), q),
              "q_value"))
          case other => Vec(histogramQuantile(q, vecArg(other, fn)))
        }
      case "histogram_count" | "histogram_sum" | "histogram_avg" =>
        require1(fn, args)
        val r = rangeArgOf(fn, args.head)
        val acc = graft.operators.NativeHist.accessors(nativeHistOf(fn, r))
        Vec(nativeVecOf(r, acc, "h_" + fn.stripPrefix("histogram_")))
      case "histogram_stddev" | "histogram_stdvar" =>
        require1(fn, args)
        val r = rangeArgOf(fn, args.head)
        val sp = graft.operators.NativeHist.spread(nativeHistOf(fn, r))
        Vec(nativeVecOf(r, sp, "h_" + fn.stripPrefix("histogram_")))
      case "histogram_fraction" =>
        if (args.length != 3) err("histogram_fraction expects (lower, upper, vector)")
        val lo = scalarArg(args(0), "histogram_fraction lower")
        val hi = scalarArg(args(1), "histogram_fraction upper")
        val r = rangeArgOf(fn, args(2))
        Vec(nativeVecOf(r,
          graft.operators.NativeHist.fraction(nativeHistOf(fn, r), lo, hi),
          "fraction"))
      case "timestamp" =>
        require1(fn, args)
        Vec(timestampVec(args.head))
      case f if timeComponentFns(f) =>
        if (args.length > 1) err(s"$f expects at most one argument")
        val base = if (args.isEmpty) vectorOf(timeVal) else eval(args.head)
        base match {
          case Vec(df) =>
            Vec(df.withColumn("value", timeComponent(f, col("value")).cast("double")))
          case _ => err(s"$f expects an instant vector argument")
        }
      case "sort" | "sort_desc" =>
        require1(fn, args)
        val v = vecArg(args.head, fn)
        val key =
          if (fn == "sort") col("value").asc_nulls_last else col("value").desc_nulls_last
        Vec(v.orderBy(
          key, col("component"), col("name"),
          Firehose.seriesKey(col("labels")), col("win_start")))
      case "sort_by_label" | "sort_by_label_desc" =>
        if (args.length < 2) err(s"$fn expects (vector, label, ...)")
        val lbls = stringArgs(args.drop(1), args.length - 1, fn)
        val v = vecArg(args.head, fn)
        Vec(v.orderBy(
          PromQlCompiler.sortByLabelKeys(lbls, desc = fn.endsWith("_desc")): _*))
      case "info" => infoVec(args)
      case other =>
        err(s"unsupported function '$other'")
    }

    /** Calendar-component functions over values interpreted as Unix
      * SECONDS, truncated toward zero (PromQL's int64 cast). All
      * timezone-INDEPENDENT on purpose: minute/hour are modular epoch
      * arithmetic, and the date parts go through the epoch-day offset
      * onto a `DateType` (whose calendar extraction ignores
      * `spark.sql.session.timeZone`) — the UTC calendar PromQL
      * specifies, whatever the session is configured to render in.
      */
    private val timeComponentFns = Set(
      "minute", "hour", "day_of_week", "day_of_month", "day_of_year",
      "days_in_month", "month", "year")

    private def timeComponent(f: String, v: Column): Column = {
      // a non-finite (or calendar-absurd) value names no calendar
      // point: NaN, never an ANSI cast failure mid-query (Go's
      // int64(±Inf/NaN) is platform-defined garbage — NaN is the only
      // defined answer). The bound keeps the epoch-day offset inside
      // DateType's int day count (±1e14 s ≈ year ±3.1M)
      val castable = isFiniteC(v) && abs(v) < lit(1.0e14)
      val secs = when(castable, v).otherwise(lit(0.0)).cast("long")
      lazy val day = date_add(
        to_date(lit("1970-01-01")),
        ((secs - pmod(secs, lit(86400L))) / lit(86400L)).cast("int"))
      val res = f match {
        case "minute" => floor(pmod(secs, lit(3600L)) / lit(60L))
        case "hour" => floor(pmod(secs, lit(86400L)) / lit(3600L))
        case "day_of_week" => dayofweek(day) - lit(1) // 0 = Sunday, per PromQL
        case "day_of_month" => dayofmonth(day)
        case "day_of_year" => dayofyear(day)
        case "days_in_month" => dayofmonth(last_day(day))
        case "month" => month(day)
        case "year" => year(day)
      }
      when(castable, res.cast("double")).otherwise(lit(Double.NaN))
    }

    /** `timestamp(v)`: each element's sample timestamp as its value, in
      * seconds. For a DIRECT selector that is the window's freshest
      * raw-sample timestamp — the very sample [[instant]]'s `max_by`
      * picks (post-`offset`, so the surfaced time; `@` pins spread
      * exactly like the selector itself would). Any derived vector's
      * samples are synthetic at evaluation time, so the value is the
      * evaluation window start (Prometheus's convention for
      * non-selector arguments).
      */
    private def timestampVec(arg: PromExpr): DataFrame = arg match {
      case sel: VectorSelector if instantAt.isDefined =>
        val t = instantAt.get
        // the lookback's freshest sample, staleness-aware; the value is
        // the sample's SURFACED time (post-offset, like the tumbling
        // path) with the pin's evaluation shift removed — a pin moves
        // where the selector evaluates, not when its sample happened
        samples(sel)
          .filter(col("timestamp") > lit(t - lookbackSec) &&
            col("timestamp") <= lit(t))
          .groupBy(
            col("component"), col("name"),
            Firehose.seriesKey(col("labels")).as("_sk"))
          .agg(
            any_value(col("labels")).as("labels"),
            GraftFunctions.max_by_ts_id(col("value"), col("timestamp"), col("id")).as("_v"),
            max(col("timestamp")).as("_ts"))
          .filter(!isnan(col("_v")))
          .select(col("component"), col("name"), col("labels"),
            eval_time(t).as("win_start"),
            (col("_ts") - lit(pinShift(sel))).cast("double").as("value"))
      case sel: VectorSelector if pointGrid.isDefined =>
        // per point: the lookback's freshest sample's surfaced time,
        // staleness-aware (pins never reach here — evalCall's nested
        // instant shortcut consumed them)
        samples(sel)
          .filter(pointSpanFilter(lookbackSec))
          .withColumn("win_start",
            explode(coveringPoints(col("timestamp"), lookbackSec)))
          .groupBy(
            col("component"), col("name"),
            Firehose.seriesKey(col("labels")).as("_sk"), col("win_start"))
          .agg(
            any_value(col("labels")).as("labels"),
            GraftFunctions.max_by_ts_id(col("value"), col("timestamp"), col("id")).as("_v"),
            max(col("timestamp")).as("_ts"))
          .filter(!isnan(col("_v")))
          .select(col("component"), col("name"), col("labels"),
            col("win_start"), col("_ts").cast("double").as("value"))
      case sel: VectorSelector =>
        val ts = samples(sel)
          .withColumn("win_start", winStart(col("timestamp"), stepSec))
          .groupBy(
            col("component"), col("name"),
            Firehose.seriesKey(col("labels")).as("_sk"), col("win_start"))
          .agg(
            any_value(col("labels")).as("labels"),
            max(col("timestamp")).as("_ts"))
          .select(col("component"), col("name"), col("labels"), col("win_start"),
            col("_ts").cast("double").as("value"))
        sel.atSec.fold(ts)(t => pinSpread(ts, t, stepSec))
      case other =>
        vecArg(other, "timestamp")
          .withColumn("value", col("win_start").cast("double"))
    }

    /** `info(v[, {data-label-selector}])` — the Prometheus 3.x
      * experimental info-metric label join: each sample of `v` gains the
      * DATA labels of the info series sharing its IDENTIFYING labels
      * (`instance`, `job` — the hardcoded pair the experimental
      * implementation uses pending metadata-driven identification) in
      * the same evaluation window.
      *
      *  - The optional second argument is a plain `{…}` selector:
      *    `__name__` matchers pick the info metrics (default
      *    `target_info`); any OTHER matcher both restricts the info
      *    series considered AND limits the copied labels to the
      *    matched label names (the documented selector behavior —
      *    `{k8s_cluster_name=~".+"}` copies only that label).
      *  - Samples with no matching info series pass through unchanged;
      *    `v`'s own labels always win over copied data labels.
      *  - Several matching info series MERGE their copied labels
      *    (disjoint data labels — the multi-exporter case — all copy);
      *    a label carrying two distinct values across the matching
      *    series raises (the PromQL error) — but only when a `v`
      *    sample actually CONSUMES the conflicted group (Prometheus's
      *    behavior): the codegen'd `raise_error` rides the probe side
      *    after the join, so an unconsumed info group may disagree with
      *    itself harmlessly; identical values deduplicate silently.
      *
      * Shape: the info side is registry-sized (one row per target per
      * window — the window-latest `instant` relation), so the equi-join
      * on (component, window, identifying key) broadcasts it under AQE,
      * the m29 vector-match shape.
      */
    private def infoVec(args: Seq[PromExpr]): Value = {
      if (args.isEmpty || args.length > 2)
        err("info expects (vector[, data-label-selector])")
      val v = vecArg(args.head, "info")
      val (nameMs, dataMs) = args.lift(1) match {
        case None =>
          (Seq(LabelMatcher("__name__", MatchOp.Eq, "target_info")), Nil)
        case Some(VectorSelector(None, ms, 0L, None)) =>
          val (n, d) = ms.partition(_.label == "__name__")
          (if (n.isEmpty) Seq(LabelMatcher("__name__", MatchOp.Eq, "target_info"))
           else n, d)
        case _ =>
          err("info: the second argument must be a plain {…} label selector " +
            "(no name, offset or @)")
      }
      val ident = Seq("instance", "job")
      val identArr = array(ident.map(lit): _*)
      def ikeyOf: Column = concat_ws("\u0001", ident.map(l =>
        coalesce(try_element_at(col("labels"), lit(l)), lit(""))): _*)
      // window-latest info samples satisfying every matcher
      val inf = instant(VectorSelector(None, nameMs ++ dataMs))
      val copied = {
        val base = map_filter(col("labels"), (k, _) => !array_contains(identArr, k))
        if (dataMs.isEmpty) base
        else {
          val keep = array(dataMs.map(_.label).distinct.map(lit): _*)
          map_filter(base, (k, _) => array_contains(keep, k))
        }
      }
      // conflict detection is PER LABEL, not per whole map: several info
      // series for one identity MERGE their disjoint data labels (the
      // normal multi-exporter case — {cluster=us} + {env=prod} copies
      // both), and only a label carrying two distinct values across the
      // matching series is a conflict. Groups whose copied maps are all
      // empty drop out of the explode and take the pass-through arm —
      // indistinguishable from joining an empty map.
      val infoKeyed = inf
        .withColumn("_ikey", ikeyOf)
        .select(col("component"), col("win_start"), col("_ikey"),
          explode(copied).as(Seq("_k", "_v")))
        .groupBy(col("component"), col("win_start"), col("_ikey"), col("_k"))
        .agg(countDistinct(col("_v")).as("_nv"), max(col("_v")).as("_vv"))
        .groupBy(col("component"), col("win_start"), col("_ikey"))
        .agg(
          max(col("_nv")).as("_ndk"),
          map_from_entries(
            array_sort(collect_list(struct(col("_k"), col("_vv")))))
            .as("_data"))
        .select(col("component"), col("win_start"), col("_ikey"),
          col("_ndk"), col("_data"))
      val joined = v
        .withColumn("_ikey", ikeyOf)
        .join(infoKeyed, Seq("component", "win_start", "_ikey"), "left")
      // the conflict check rides the PROBE side, after the join: only a
      // CONSUMED conflict raises (Prometheus's behavior — an info group
      // no `v` sample joins may disagree with itself harmlessly)
      Vec(joined
        .withColumn("_data",
          when(col("_ndk").isNull || col("_ndk") === 1, col("_data")).otherwise(
            raise_error(lit("info: matching info series carry conflicting " +
              "data labels")).cast("map<string,string>")))
        .withColumn("labels",
          when(col("_data").isNull, col("labels")).otherwise(
            map_concat(
              map_filter(col("_data"),
                (k, _) => !map_contains_key(col("labels"), k)),
              col("labels"))))
        .drop("_ikey", "_data", "_ndk"))
    }

    private def require1(fn: String, args: Seq[PromExpr]): Unit =
      if (args.length != 1) err(s"$fn expects exactly one argument")

    private def vecArg(e: PromExpr, fn: String): DataFrame = eval(e) match {
      case Vec(df) => df
      case _ => err(s"$fn expects an instant vector argument")
    }

    private def mapFn(fn: String, args: Seq[PromExpr])(f: Column => Column): Value = {
      require1(fn, args)
      val v = vecArg(args.head, fn)
      Vec(v.withColumn("value", f(col("value")).cast("double")))
    }

    /** `label_replace(v, dst, repl, src, regex)` — dst written only when
      * the anchored regex matches src's value; an empty replacement
      * result REMOVES dst (PromQL's label-deletion idiom).
      */
    private def labelReplace(args: Seq[PromExpr]): Value = {
      val Seq(dst, repl, src, re) = stringArgs(args.drop(1), 4, "label_replace")
      val v = vecArg(args.head, "label_replace")
      val srcVal = coalesce(try_element_at(col("labels"), lit(src)), lit(""))
      val matches = srcVal.rlike(anchored(re))
      val newVal = regexp_replace(srcVal, anchored(re), repl)
      val withDst = when(newVal === "",
        map_filter(col("labels"), (k, _) => k =!= lit(dst)))
        .otherwise(map_concat(
          map_filter(col("labels"), (k, _) => k =!= lit(dst)),
          map(lit(dst), newVal)))
      Vec(v.withColumn("labels", when(matches, withDst).otherwise(col("labels"))))
    }

    /** `label_join(v, dst, sep, src...)` — missing source labels join as
      * empty strings, per PromQL.
      */
    private def labelJoin(args: Seq[PromExpr]): Value = {
      if (args.length < 3) err("label_join expects (vector, dst, sep, src...)")
      val strs = stringArgs(args.drop(1), args.length - 1, "label_join")
      val dst = strs.head
      val sep = strs(1)
      val srcs = strs.drop(2)
      val v = vecArg(args.head, "label_join")
      val joined = concat_ws(
        sep,
        srcs.map(s => coalesce(try_element_at(col("labels"), lit(s)), lit(""))): _*)
      Vec(v.withColumn(
        "labels",
        when(joined === "", map_filter(col("labels"), (k, _) => k =!= lit(dst)))
          .otherwise(map_concat(
            map_filter(col("labels"), (k, _) => k =!= lit(dst)),
            map(lit(dst), joined)))))
    }

    private def stringArgs(args: Seq[PromExpr], n: Int, fn: String): Seq[String] = {
      if (args.length != n) err(s"$fn: expected $n string arguments")
      args.map {
        case StringLit(s) => s
        case _ => err(s"$fn: arguments after the vector must be string literals")
      }
    }

    /** NATIVE-histogram path shared by the `histogram_*` family: the
      * range selector's raw observations build per-(component, name,
      * window) sparse exponential histograms
      * ([[graft.operators.NativeHist.nativeHistogramKeyed]], schema 0 —
      * the IEEE-exponent bucketing, no runtime log) with window
      * assignment from the SAME [[assignWin]] seam every range function
      * uses — the range's own grid tumbling, the step-grid tile explode
      * sliding; `@` pins apply in [[nativeVecOf]]. This is the m37
      * derivation model: the engine's metric streams carry scalar
      * observations, so the native histogram is DERIVED per window
      * rather than ingested pre-bucketed (a pre-bucketed exposition
      * would land on the same relation); label-split histograms come
      * from label matchers on the selector.
      */
    private def nativeHistOf(fnName: String, rs: RangeSelector): DataFrame = {
      val raw = samples(rs.sel).select(
        col("component"), col("name"), col("timestamp"), col("value"))
      // instant/point modes: staleness markers drop from range vectors
      // (the same rule rangeSamples applies; window filtering is
      // assignWin's)
      val obs =
        if (instantAt.isDefined || pointGrid.isDefined)
          raw.filter(!isnan(col("value")))
        else raw
      graft.operators.NativeHist.nativeHistogramKeyed(
        assignWin(obs, rs.rangeSec), schema = 0)
    }

    private def rangeArgOf(fnName: String, arg: PromExpr): RangeSelector =
      arg match {
        case r: RangeSelector => r
        case _ => err(s"$fnName expects a range vector (m[1h]) — native " +
          "histograms derive from the range's observations")
      }

    /** Native-histogram results back onto the standard vector shape:
      * per-(component, name) identity, empty labels (the histogram
      * aggregates the metric's series — label splits come from selector
      * matchers), the chosen accessor as `value`, the selector's `@` pin
      * applied like any other range selector's (the histogram computed
      * at the pinned window, spread across the evaluation grid).
      */
    private def nativeVecOf(
        rs: RangeSelector, df: DataFrame, valueCol: String): DataFrame =
      pinMaybe(
        df.select(
          col("component"), col("name"),
          map_filter(map(lit(""), lit("")), (_, _) => lit(false)).as("labels"),
          col("win_start"), col(valueCol).cast("double").as("value")),
        rs.sel.atSec, rs.rangeSec)

    /** `histogram_quantile(q, v)` over a classic cumulative-`le`-bucket
      * vector: per (component, window, labels-minus-le) group, locate the
      * first bucket whose cumulative count reaches q·total and
      * interpolate linearly ([[Firehose.histogramQuantile]]'s math; +Inf
      * falls back to the highest finite boundary). One shuffle by group;
      * bucket counts per group are boundary-bounded.
      */
    private def histogramQuantile(q: Double, v: DataFrame): DataFrame = {
      val grpLabels = map_filter(col("labels"), (k, _) => k =!= lit("le"))
      val leStr = coalesce(try_element_at(col("labels"), lit("le")), lit(""))
      val leNum = when(leStr.isin("+Inf", "Inf", "inf"), lit(Double.PositiveInfinity))
        .otherwise(leStr.cast("double"))
      val base = v.select(
        col("component"), col("win_start"),
        grpLabels.as("labels"),
        Firehose.seriesKey(grpLabels).as("_gk"),
        leNum.as("_le"), col("value"))
        .filter(col("_le").isNotNull)
      val grp = Seq(col("component"), col("win_start"), col("_gk"))
      val byLe = Window.partitionBy(grp: _*).orderBy(col("_le"))
      val whole = Window.partitionBy(grp: _*)
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      base
        .withColumn("_prev_cum", coalesce(lag(col("value"), 1).over(byLe), lit(0.0)))
        .withColumn("_lo", coalesce(lag(col("_le"), 1).over(byLe), lit(0.0)))
        .withColumn("_total", max(col("value")).over(whole))
        .withColumn("_rank", lit(q) * col("_total"))
        .filter(col("value") >= col("_rank"))
        .withColumn("_rn", row_number().over(byLe))
        .filter(col("_rn") === 1)
        .select(
          col("component"), lit("").as("name"), col("labels"), col("win_start"),
          when(col("_le") === lit(Double.PositiveInfinity), col("_lo"))
            .otherwise(
              col("_lo") + (col("_le") - col("_lo")) *
                ((col("_rank") - col("_prev_cum")) /
                  (col("value") - col("_prev_cum"))))
            .as("value"))
    }

    // ---- aggregation operators ----

    private def groupLabels(g: AggGroup): Column = g match {
      case AggGroup.All => map_filter(map(lit(""), lit("")), (_, _) => lit(false))
      case AggGroup.By(ls) =>
        val keep = array(ls.map(lit): _*)
        map_filter(col("labels"), (k, _) => array_contains(keep, k))
      case AggGroup.Without(ls) =>
        val drop = array(ls.map(lit): _*)
        map_filter(col("labels"), (k, _) => !array_contains(drop, k))
    }

    private def evalAgg(a: Agg): Value = {
      val v = vecArg(a.expr, a.op)
      val gl = groupLabels(a.grouping)
      a.op match {
        case "topk" | "bottomk" =>
          val k = scalarArg(
            a.param.getOrElse(err(s"${a.op} requires a parameter")), s"${a.op} k").toInt
          if (k <= 0) err(s"${a.op} k must be positive")
          // rank over the aggregated (series × windows)-bounded relation;
          // ties break on (name, series) so results are deterministic
          val ord =
            if (a.op == "topk")
              Seq(col("value").desc, col("name").asc, col("_sk").asc)
            else Seq(col("value").asc, col("name").asc, col("_sk").asc)
          val w = Window
            .partitionBy(col("component"), col("win_start"), col("_gk"))
            .orderBy(ord: _*)
          Vec(v
            .withColumn("_gk", Firehose.seriesKey(gl))
            .withColumn("_sk", Firehose.seriesKey(col("labels")))
            .withColumn("_rn", row_number().over(w))
            .filter(col("_rn") <= k)
            .select("component", "name", "labels", "win_start", "value"))
        case "limitk" | "limit_ratio" =>
          // Prometheus's experimental sampling aggregators, made
          // DETERMINISTIC (documented deviation: Prometheus picks
          // "arbitrary" series for limitk and hashes labelsets for
          // limit_ratio; here selection ranks on the canonical series
          // key, so any engine — and the oracle — picks the same rows).
          // limit_ratio keeps the FIRST ceil(r·n) series of each group
          // for r ≥ 0 and the complement of ceil((1+r)·n) for r < 0, so
          // limit_ratio(r) ∪ limit_ratio(r − 1) is exactly the input.
          val w = Window
            .partitionBy(col("component"), col("win_start"), col("_gk"))
            .orderBy(col("name").asc, col("_sk").asc)
          val ranked = v
            .withColumn("_gk", Firehose.seriesKey(gl))
            .withColumn("_sk", Firehose.seriesKey(col("labels")))
            .withColumn("_rn", row_number().over(w))
          val kept =
            if (a.op == "limitk") {
              val k = scalarArg(
                a.param.getOrElse(err("limitk requires a parameter")), "limitk k").toInt
              if (k <= 0) err("limitk k must be positive")
              ranked.filter(col("_rn") <= k)
            } else {
              val r = scalarArg(
                a.param.getOrElse(err("limit_ratio requires a parameter")),
                "limit_ratio ratio")
              if (r < -1 || r > 1) err("limit_ratio ratio must be in [-1, 1]")
              val counted = ranked.withColumn("_n", count(lit(1)).over(
                Window.partitionBy(col("component"), col("win_start"), col("_gk"))))
              if (r >= 0) counted.filter(col("_rn") <= ceil(lit(r) * col("_n")))
              else counted.filter(col("_rn") > ceil(lit(1 + r) * col("_n")))
            }
          Vec(kept.select("component", "name", "labels", "win_start", "value"))
        case "count_values" =>
          val label = a.param match {
            case Some(StringLit(s)) => s
            case _ => err("count_values requires a string label parameter")
          }
          // canonical value rendering: integral doubles render without the
          // trailing '.0' (engine-portable; PromQL uses Go shortest-float)
          val vs = when(
            col("value") === col("value").cast("long").cast("double") &&
              abs(col("value")) < lit(1e15),
            col("value").cast("long").cast("string"))
            .otherwise(col("value").cast("string"))
          Vec(v
            .withColumn("_gl", map_concat(gl, map(lit(label), vs)))
            .groupBy(
              col("component"), col("win_start"),
              Firehose.seriesKey(col("_gl")).as("_gk"))
            .agg(any_value(col("_gl")).as("labels"), count(lit(1)).cast("double").as("value"))
            .select(col("component"), lit("").as("name"), col("labels"),
              col("win_start"), col("value")))
        case op =>
          val dv = finiteOr0(col("value")).cast("decimal(26,6)")
          val agg = v
            .withColumn("_gl", gl)
            .groupBy(
              col("component"), col("win_start"),
              Firehose.seriesKey(col("_gl")).as("_gk"))
            .agg(
              any_value(col("_gl")).as("labels"),
              Seq(
                count(lit(1)).as("_n"),
                min(col("value")).as("_min"),
                promMax(col("value")).as("_max"),
                sum(dv).cast("double").as("_sumf"),
                sum((dv * dv).cast("decimal(38,12)")).cast("double").as("_sumsq"),
                sum(maskFinite(col("value")) * maskFinite(col("value"))).as("_sdsq")) ++
                nfFlagAggs(col("value"), "s") ++
                // the value-buffering exact percentile only when asked
                (if (op == "quantile")
                  Seq(promPercentile(col("value"),
                    a.param.map(p => scalarArg(p, "quantile")).getOrElse(0.5))
                    .as("_q"))
                else Nil): _*)
          val n = col("_n").cast("double")
          val sumV = nfApply(col("_sumf"), "s")
          val stdvar = when(nfAny("s"), lit(Double.NaN))
            .when(bigLane("s"), greatest(
              (col("_sdsq") - col("_sdsum") * col("_sdsum") / n) / n, lit(0.0)))
            .otherwise(
              greatest((col("_sumsq") - col("_sumf") * col("_sumf") / n) / n, lit(0.0)))
          val value = op match {
            case "sum" => sumV
            case "min" => col("_min")
            case "max" => col("_max")
            case "count" => n
            case "avg" => sumV / n
            case "stdvar" => stdvar
            case "stddev" => sqrt(stdvar)
            case "group" => lit(1.0)
            case "quantile" =>
              if (a.param.isEmpty) err("quantile requires a parameter")
              col("_q")
            case other => err(s"unsupported aggregation '$other'")
          }
          Vec(agg.select(
            col("component"), lit("").as("name"), col("labels"),
            col("win_start"), value.cast("double").as("value")))
      }
    }

    // ---- binary operators (arith/cmpPred shared at the object level) ----

    private def arith(op: String, l: Column, r: Column): Column =
      PromQlCompiler.arith(op, l, r)

    private def cmpPred(op: String, l: Column, r: Column): Column =
      PromQlCompiler.cmpPred(op, l, r)

    private def foldScalar(op: String, a: Double, b: Double, boolMod: Boolean): Double =
      if (comparisons(op)) {
        if (!boolMod) err("scalar comparison requires the bool modifier")
        val p = op match {
          case "==" => a == b
          case "!=" => a != b
          case "<" => a < b
          case ">" => a > b
          case "<=" => a <= b
          case ">=" => a >= b
        }
        if (p) 1.0 else 0.0
      } else op match {
        case "+" => a + b
        case "-" => a - b
        case "*" => a * b
        case "/" => a / b
        case "%" => a % b
        case "^" => math.pow(a, b)
        case "atan2" => math.atan2(a, b)
      }

    private def vecScalar(
        v: DataFrame, s: Double, op: String,
        vecOnLeft: Boolean, boolMod: Boolean): DataFrame = {
      def ap(f: (Column, Column) => Column): Column =
        if (vecOnLeft) f(col("value"), lit(s)) else f(lit(s), col("value"))
      if (comparisons(op)) {
        if (boolMod)
          v.withColumn("value", ap(cmpPred(op, _, _)).cast("double"))
        else v.filter(ap(cmpPred(op, _, _)))
      } else v.withColumn("value", ap(arith(op, _, _)).cast("double"))
    }

    /** The match key of a binary op's operand row. `on()` with an EMPTY
      * label list is meaningful PromQL (everything matches one bucket) —
      * distinct from no modifier at all (full label set), which is why
      * this takes the Option-shaped [[VectorMatching]] rather than
      * [[Firehose.vectorMatchKey]]'s empty-means-absent lists.
      */
    private def matchKeyCol(vm: VectorMatching): Column = vm.on match {
      case Some(ls) =>
        if (ls.isEmpty) lit("") else Firehose.vectorMatchKey(col("labels"), ls, Nil)
      case None => vm.ignoring match {
        case Some(ls) if ls.nonEmpty => Firehose.vectorMatchKey(col("labels"), Nil, ls)
        case _ => Firehose.vectorMatchKey(col("labels"), Nil, Nil)
      }
    }

    /** The one-to-one result labelset: the `on` labels, or all labels
      * minus the `ignoring` ones (PromQL's output-labels rule).
      */
    private def matchLabelsCol(vm: VectorMatching): Column = vm.on match {
      case Some(ls) =>
        val keep = array(ls.map(lit): _*)
        map_filter(col("labels"), (k, _) => array_contains(keep, k))
      case None => vm.ignoring match {
        case Some(ls) if ls.nonEmpty =>
          val drop = array(ls.map(lit): _*)
          map_filter(col("labels"), (k, _) => !array_contains(drop, k))
        case _ => col("labels")
      }
    }

    /** Vector-vector arithmetic/comparison join — the per-window form of
      * [[Firehose.vectorMatch]]: one equi-join on (component, window,
      * match key), cardinality enforced by a codegen'd `raise_error`
      * riding the join's own hash layout, registry-sized side broadcast
      * under AQE. Result identity per PromQL: the match-label subset for
      * one-to-one (name dropped), the many side's full labels for
      * group_left/right; comparison filters preserve the left row intact.
      */
    private def vecBinary(
        op: String, l: DataFrame, r: DataFrame,
        vm: VectorMatching, boolMod: Boolean): DataFrame = {
      def uniq(side: DataFrame, vCol: String, which: String): DataFrame = {
        val w = Window.partitionBy(col("component"), col("win_start"), col("_vm_key"))
        side
          .withColumn("_vm_n", count(lit(1)).over(w))
          .withColumn(
            vCol,
            when(col("_vm_n") === 1, col(vCol)).otherwise(
              raise_error(lit(s"vector match: $which side has multiple series " +
                "per match key (PromQL many-to-many)")).cast("double")))
          .drop("_vm_n")
      }
      val l0 = l.select(
        col("component"), col("name"), col("labels"), col("win_start"),
        matchKeyCol(vm).as("_vm_key"), col("value").as("_l"))
      val r0 = r.select(
        col("component"), col("win_start"),
        matchKeyCol(vm).as("_vm_key"),
        col("name").as("_rname"), col("labels").as("_rlabels"),
        col("value").as("_r"))
      val lU = if (vm.groupLeft) l0 else uniq(l0, "_l", "left")
      val rU = if (vm.groupRight) r0 else uniq(r0, "_r", "right")
      val joined = lU.join(rU, Seq("component", "win_start", "_vm_key"))
      if (comparisons(op) && !boolMod) {
        joined
          .filter(cmpPred(op, col("_l"), col("_r")))
          .select(col("component"), col("name"), col("labels"), col("win_start"),
            col("_l").as("value"))
      } else {
        val value =
          if (comparisons(op)) cmpPred(op, col("_l"), col("_r")).cast("double")
          else arith(op, col("_l"), col("_r"))
        val (oName, oLabels) =
          if (vm.groupLeft) (col("name"), col("labels"))
          else if (vm.groupRight) (col("_rname"), col("_rlabels"))
          else (lit(""), matchLabelsCol(vm))
        joined
          .withColumn("value", value.cast("double"))
          .filter(col("value").isNotNull)
          .select(col("component"), oName.as("name"), oLabels.as("labels"),
            col("win_start"), col("value"))
      }
    }

    /** Per-window [[Firehose.vectorSetOp]]: semi/anti/left-priority-union
      * on (component, window, match key); right values never flow left,
      * no cardinality contract (many-to-many legal, per PromQL).
      */
    private def vecSet(op: String, l: DataFrame, r: DataFrame, vm: VectorMatching): DataFrame = {
      if (vm.groupLeft || vm.groupRight)
        err(s"no grouping allowed for '$op' (set operations) — " +
          "group_left/group_right apply to arithmetic/comparison matching")
      def keyed(df: DataFrame): DataFrame =
        df.withColumn("_vm_key", matchKeyCol(vm))
      val lk = keyed(l)
      val rk = keyed(r)
      val jk = Seq("component", "win_start", "_vm_key")
      val res = op match {
        case "and" => lk.join(rk, jk, "left_semi")
        case "unless" => lk.join(rk, jk, "left_anti")
        case "or" => lk.unionByName(rk.join(lk, jk, "left_anti"))
      }
      res.select("component", "name", "labels", "win_start", "value")
    }

    /** Vector ⊕ per-window scalar: join on `win_start` alone and apply
      * the op elementwise — PromQL's vector-scalar semantics with the
      * scalar varying by window (`scalar(...)`, `time()`). The vector
      * keeps its identity (name kept, like constant-scalar arithmetic);
      * comparisons filter (or 0/1 under `bool`). Windows absent from the
      * scalar side drop — per-window scalars live on the relation's own
      * grid, so aligned operands (same range/step) join completely.
      */
    private def vecWinScal(
        v: DataFrame, w: DataFrame, op: String,
        vecOnLeft: Boolean, boolMod: Boolean): DataFrame = {
      val joined = v.join(w, col("win_start") === col("_ws_win"))
      def ap(f: (Column, Column) => Column): Column =
        if (vecOnLeft) f(col("value"), col("_ws_val")) else f(col("_ws_val"), col("value"))
      val res =
        if (comparisons(op)) {
          if (boolMod) joined.withColumn("value", ap(cmpPred(op, _, _)).cast("double"))
          else joined.filter(ap(cmpPred(op, _, _)))
        } else joined.withColumn("value", ap(arith(op, _, _)).cast("double"))
      res.select(col("component"), col("name"), col("labels"),
        col("win_start"), col("value"))
    }

    private def winScalPair(a: DataFrame, c: DataFrame, op: String, boolMod: Boolean): DataFrame = {
      if (comparisons(op) && !boolMod) err("scalar comparison requires the bool modifier")
      val l = a.select(col("_ws_win"), col("_ws_val").as("_l"))
      val r = c.select(col("_ws_win").as("_rw"), col("_ws_val").as("_r"))
      l.join(r, col("_ws_win") === col("_rw"))
        .select(col("_ws_win"),
          (if (comparisons(op)) cmpPred(op, col("_l"), col("_r")).cast("double")
           else arith(op, col("_l"), col("_r"))).as("_ws_val"))
    }

    private def winScalConst(
        w: DataFrame, s: Double, op: String,
        constOnLeft: Boolean, boolMod: Boolean): DataFrame = {
      if (comparisons(op) && !boolMod) err("scalar comparison requires the bool modifier")
      def ap(f: (Column, Column) => Column): Column =
        if (constOnLeft) f(lit(s), col("_ws_val")) else f(col("_ws_val"), lit(s))
      w.select(col("_ws_win"),
        (if (comparisons(op)) ap(cmpPred(op, _, _)).cast("double")
         else ap(arith(op, _, _))).as("_ws_val"))
    }

    private def evalBinary(b: Binary): Value = {
      val vm = b.matching.getOrElse(VectorMatching())
      def noSet(): Unit =
        if (setOps(b.op)) err(s"set operator '${b.op}' requires vector operands")
      (eval(b.lhs), eval(b.rhs)) match {
        case (Scal(a), Scal(c)) =>
          noSet()
          Scal(foldScalar(b.op, a, c, b.boolMod))
        case (Vec(v), Scal(s)) =>
          noSet()
          Vec(vecScalar(v, s, b.op, vecOnLeft = true, b.boolMod))
        case (Scal(s), Vec(v)) =>
          noSet()
          Vec(vecScalar(v, s, b.op, vecOnLeft = false, b.boolMod))
        case (Vec(l), WinScal(w)) =>
          noSet()
          Vec(vecWinScal(l, w, b.op, vecOnLeft = true, b.boolMod))
        case (WinScal(w), Vec(r)) =>
          noSet()
          Vec(vecWinScal(r, w, b.op, vecOnLeft = false, b.boolMod))
        case (WinScal(a), WinScal(c)) =>
          noSet()
          WinScal(winScalPair(a, c, b.op, b.boolMod))
        case (WinScal(w), Scal(s)) =>
          noSet()
          WinScal(winScalConst(w, s, b.op, constOnLeft = false, b.boolMod))
        case (Scal(s), WinScal(w)) =>
          noSet()
          WinScal(winScalConst(w, s, b.op, constOnLeft = true, b.boolMod))
        case (Vec(l), Vec(r)) =>
          if (setOps(b.op)) Vec(vecSet(b.op, l, r, vm))
          else Vec(vecBinary(b.op, l, r, vm, b.boolMod))
      }
    }

    // ---- dispatcher ----

    private[promql] def eval(e: PromExpr): Value = e match {
      case NumberLit(v) => Scal(v)
      case StringLit(_) => err("string literal is not a valid expression")
      case s: VectorSelector =>
        // `x @ t`: the window-quantized gauge at t, spread across the
        // evaluation grid (offset, if any, applies first — samples shift,
        // then the pin selects the shifted window). Instant mode consumed
        // the pin as a timestamp shift inside samples(); a point grid
        // evaluates the pinned selector ONCE at the pin (nested instant)
        // and spreads it over the literal point sequence.
        if (instantAt.isDefined) Vec(instant(s))
        else if (pointGrid.isDefined)
          s.atSec.fold[Value](Vec(instant(s)))(a => pointPinnedEval(s, a))
        else Vec(s.atSec.fold(instant(s))(t => pinSpread(instant(s), t, stepSec)))
      case _: RangeSelector => err("range selector only valid as a range-function argument")
      case _: Subquery => err("subquery only valid as a range-function argument")
      case c: Call => evalCall(c.fn, c.args)
      case a: Agg => evalAgg(a)
      case Neg(inner) => eval(inner) match {
        case Scal(v) => Scal(-v)
        case Vec(df) => Vec(df.withColumn("value", -col("value")))
        case WinScal(df) => WinScal(df.withColumn("_ws_val", -col("_ws_val")))
      }
      case b: Binary => evalBinary(b)
    }

    def evalVec(e: PromExpr): DataFrame = eval(e) match {
      case Vec(df) => df
      case Scal(_) => err("expression evaluates to a scalar, not an instant vector")
      case WinScal(_) =>
        err("expression evaluates to a per-window scalar; wrap it in vector()")
    }
  }
}

/** Facade: `PromQl.compile("sum by (user) (increase(view_total[1h]))",
  * metrics)` — parse + compile in one call; [[parse]]/[[print]] expose
  * the AST round-trip.
  */
object PromQl {
  def parse(query: String): PromExpr = PromQlParser.parse(query)
  def print(expr: PromExpr): String = PromQlPrinter.print(expr)
  def compile(query: String, metrics: DataFrame, stepSec: Long = 3600L): DataFrame =
    PromQlCompiler.compile(query, metrics, stepSec)
  def compileVector(query: String, metrics: DataFrame, stepSec: Long = 3600L): DataFrame =
    PromQlCompiler.compileVector(query, metrics, stepSec)
  def compileSliding(query: String, metrics: DataFrame, stepSec: Long = 900L): DataFrame =
    PromQlCompiler.compileSliding(query, metrics, stepSec)
  def compileSlidingVector(query: String, metrics: DataFrame, stepSec: Long = 900L): DataFrame =
    PromQlCompiler.compileSlidingVector(query, metrics, stepSec)
  def compileInstant(
      query: String, metrics: DataFrame, tSec: Long,
      lookbackSec: Long = 300L, subqueryStepSec: Long = 3600L,
      extrapolate: Boolean = false): DataFrame =
    PromQlCompiler.compileInstant(
      query, metrics, tSec, lookbackSec, subqueryStepSec, extrapolate)
  def compileInstantVector(
      query: String, metrics: DataFrame, tSec: Long,
      lookbackSec: Long = 300L, subqueryStepSec: Long = 3600L,
      extrapolate: Boolean = false): DataFrame =
    PromQlCompiler.compileInstantVector(
      query, metrics, tSec, lookbackSec, subqueryStepSec, extrapolate)
  def compileRange(
      query: String, metrics: DataFrame, startSec: Long, endSec: Long,
      stepSec: Long, lookbackSec: Long = 300L,
      extrapolate: Boolean = false): DataFrame =
    PromQlCompiler.compileRange(
      query, metrics, startSec, endSec, stepSec, lookbackSec,
      extrapolate = extrapolate)
  def compileRangeVector(
      query: String, metrics: DataFrame, startSec: Long, endSec: Long,
      stepSec: Long, lookbackSec: Long = 300L,
      extrapolate: Boolean = false): DataFrame =
    PromQlCompiler.compileRangeVector(
      query, metrics, startSec, endSec, stepSec, lookbackSec,
      extrapolate = extrapolate)
}
