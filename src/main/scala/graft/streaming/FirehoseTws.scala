package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, ListState, MapState, OutputMode, StatefulProcessor, StatefulProcessorHandle, TTLConfig, TimeMode, TimerValues, ValueState}

/** The stateful operators that run on Spark 4's `transformWithState`
  * (TWS) API.
  *
  * Each stateful operator has one spelling. [[FirehoseStream]]'s
  * `flatMapGroupsWithState` runs every operator whose callers use Update
  * mode or do not chain: it needs no RocksDB provider, and `FirehoseApp`
  * runs it. TWS stays only where Spark requires it: a second stateful
  * operator may follow the first only on a declared event-time column
  * (the `eventTimeColumnName` overload), which `flatMapGroupsWithState`
  * lacks. So this object holds the `PromQlStream.compileAlert` chain —
  * [[counterIncreaseClosed]], [[subqueryOverTimeChained]],
  * [[forDurationAlert]] and the `forStreak*` streaks — plus [[gapFill]],
  * which has no other spelling. Every operator here requires the RocksDB
  * state store provider (an API constraint).
  *
  * The folds are the shared pure cores ([[IncreaseCore]],
  * [[SubqueryCore]], [[GapFillCore]], [[KeepStreakCore]]); state is
  * decomposed into typed handles (value/list/map per key) with explicit
  * event-time timers. Reference mapping: 10-min idle eviction =
  * AbstractPrometheusFirehose.java:19-29 (event-time timers here).
  */
object FirehoseTws {

  /** Series key: (component, name, series). */
  type SeriesKey = (String, String, String)

  /** A key's one event-time timer, tracked in a `ValueState` so a re-arm
    * replaces it: state carries at most one timer per key.
    */
  private[streaming] final class KeyTimer(handle: StatefulProcessorHandle) {
    private val at = handle.getValueState[Long]("timer", Encoders.scalaLong, TTLConfig.NONE)

    def arm(whenMs: Long): Unit = {
      if (at.exists()) handle.deleteTimer(at.get())
      handle.registerTimer(whenMs)
      at.update(whenMs)
    }

    /** The idle-eviction timer: `ttlMs` past the watermark, or past
      * `fallbackMs` before the first watermark exists.
      */
    def armIdle(timers: TimerValues, fallbackMs: Long, ttlMs: Long): Unit = {
      val wm = timers.getCurrentWatermarkInMs()
      arm((if (wm > 0) wm else fallbackMs) + ttlMs)
    }

    /** Forget the timer that just fired. */
    def fired(): Unit = at.clear()

    def cancel(): Unit = if (at.exists()) { handle.deleteTimer(at.get()); at.clear() }
  }

  private def mapOf(ms: MapState[Long, Double]): Map[Long, Double] =
    if (ms.exists()) ms.iterator().map(t => t._1 -> t._2).toMap else Map.empty

  /** Point updates: write only the changed entries, remove the dropped. */
  private def writeMap(
      ms: MapState[Long, Double], old: Map[Long, Double], next: Map[Long, Double]): Unit = {
    next.foreach { case (w, v) => if (!old.get(w).contains(v)) ms.updateValue(w, v) }
    old.keys.filterNot(next.contains).foreach(ms.removeKey)
  }

  /** The typed handles behind one series' [[IncreaseState]]: the anchor
    * (`ValueState`), the in-watermark sample buffer (`ListState`) and the
    * finalized per-window sums (`MapState`, point updates per window).
    */
  private[streaming] final class IncHandles(handle: StatefulProcessorHandle) {
    private val anchor = handle.getValueState[CounterSample](
      "anchor", Encoders.product[CounterSample], TTLConfig.NONE)
    private val buffer = handle.getListState[CounterSample](
      "buffer", Encoders.product[CounterSample], TTLConfig.NONE)
    private val finalized = handle.getMapState[Long, Double](
      "finalized", Encoders.scalaLong, Encoders.scalaDouble, TTLConfig.NONE)

    def assembled: IncreaseState = {
      val a = if (anchor.exists()) Some(anchor.get()) else None
      IncreaseState(
        hasAnchor = a.isDefined,
        anchorTs = a.map(_.ts).getOrElse(0L),
        anchorId = a.map(_.id).getOrElse(""),
        anchorValue = a.map(_.value).getOrElse(0.0),
        buffer = if (buffer.exists()) buffer.get().toSeq else Nil,
        finalized = mapOf(finalized))
    }

    /** Store `ns`; `old` is the state [[assembled]] returned this step. */
    def writeBack(old: IncreaseState, ns: IncreaseState): Unit = {
      writeMap(finalized, old.finalized, ns.finalized)
      if (ns.hasAnchor) anchor.update(CounterSample(ns.anchorTs, ns.anchorId, ns.anchorValue))
      buffer.clear()
      if (ns.buffer.nonEmpty) buffer.put(ns.buffer.toArray)
    }

    def clear(): Unit = { anchor.clear(); buffer.clear(); finalized.clear() }
  }

  private def samples(points: Seq[GaugePoint]): Seq[CounterSample] =
    points.map(p => CounterSample(p.timestamp, p.id, p.value))

  /** The declared event-time tag of a row for a window ending at `endSec`.
    * It must not lag the CURRENT watermark (Spark's chaining contract,
    * EMITTING_ROWS_OLDER_THAN_WATERMARK_NOT_ALLOWED), yet a window closes
    * exactly BECAUSE the watermark passed its end. So the tag is
    * max(window end, watermark + 1 ms): plumbing for the downstream
    * operator's late-row bound, while the real window rides the plain
    * `win_start` column the streak folds on.
    */
  private def eventTag(endSec: Long, timers: TimerValues): Timestamp =
    new Timestamp(math.max(endSec * 1000L, math.max(timers.getCurrentWatermarkInMs() + 1L, 1L)))

  /** One step of the for-duration streak: the count of consecutive
    * breaching windows once `win` breaches, given the previous breaching
    * window and its count. A gap in the `stepSec` grid — a window with no
    * row, or one that did not breach — restarts the count at 1: the batch
    * rule evaluator's `lag(k-1)` presence rule.
    */
  private def streakAfter(lastWin: Long, streak: Int, win: Long, stepSec: Long): Int =
    if (lastWin == win - stepSec && streak > 0) streak + 1 else 1

  /** Before a series' first breach. */
  private val NoStreak: (Long, Int) = (Long.MinValue, 0)

  /** Fold breaching windows through [[streakAfter]] in ascending order;
    * fires every window whose count reaches `k`. Returns the new
    * `(lastWin, streak)` pair and the fired `(window, value)` rows.
    */
  private def foldStreak(
      st: (Long, Int), breaches: Seq[(Long, Double)], stepSec: Long,
      k: Int): ((Long, Int), Seq[(Long, Double)]) = {
    var (lastWin, s) = st
    val fires = breaches.sortBy(_._1).flatMap { case (win, v) =>
      s = streakAfter(lastWin, s, win, stepSec)
      lastWin = win
      if (s >= k) Some((win, v)) else None
    }
    ((lastWin, s), fires)
  }

  private def streakState(handle: StatefulProcessorHandle): ValueState[(Long, Int)] =
    handle.getValueState[(Long, Int)](
      "streak", Encoders.tuple(Encoders.scalaLong, Encoders.scalaInt), TTLConfig.NONE)

  /** The closed-window counter increase on typed state ([[IncHandles]]):
    * the same [[IncreaseCore]] step as every counter operator, of which
    * only each window's FINAL total (`closed`, exactly once, ascending)
    * leaves the processor. The timer re-arms to the earliest open
    * window's end, so a quiet series still closes its windows while other
    * series advance the watermark; a series with nothing open evicts after
    * `ttlMs` (registry semantics: a series that resumes after eviction
    * restarts its delta chain). Subclasses turn closed windows into rows.
    */
  abstract class ClosedIncreaseProcessor[O](widthSec: Long, ttlMs: Long)
      extends StatefulProcessor[SeriesKey, GaugePoint, O] {
    @transient private var inc: IncHandles = _
    @transient private var timer: KeyTimer = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      inc = new IncHandles(getHandle)
      initExtra()
      timer = new KeyTimer(getHandle)
    }

    /** Register a subclass's own state (before the timer, the order its
      * checkpoints were written in).
      */
    protected def initExtra(): Unit = ()

    /** Drop a subclass's own state when the series is evicted. */
    protected def clearExtra(): Unit = ()

    protected def emit(key: SeriesKey, closed: Seq[(Long, Double)], timers: TimerValues): Seq[O]

    private def stepAndEmit(
        key: SeriesKey, incoming: Seq[GaugePoint], timers: TimerValues,
        evictWhenIdle: Boolean): Iterator[O] = {
      val st = inc.assembled
      val r = IncreaseCore.step(
        st, samples(incoming), timers.getCurrentWatermarkInMs() / 1000L, widthSec)
      val ns = r.state
      val out = emit(key, r.closed, timers)
      if (evictWhenIdle && ns.buffer.isEmpty && ns.finalized.isEmpty) {
        inc.clear(); clearExtra()
      } else {
        inc.writeBack(st, ns)
        // open windows: finalized keys await closure, and buffered
        // samples imply their windows too
        val openEnds =
          (ns.finalized.keys ++ ns.buffer.map(c => c.ts - math.floorMod(c.ts, widthSec)))
            .map(win => (win + widthSec) * 1000L)
        if (openEnds.nonEmpty) timer.arm(openEnds.min)
        else timer.armIdle(timers, math.max(ns.anchorTs, 1L) * 1000L, ttlMs)
      }
      out.iterator
    }

    override def handleInputRows(
        key: SeriesKey,
        rows: Iterator[GaugePoint],
        timers: TimerValues): Iterator[O] =
      stepAndEmit(key, rows.toSeq, timers, evictWhenIdle = false)

    override def handleExpiredTimer(
        key: SeriesKey,
        timers: TimerValues,
        expired: ExpiredTimerInfo): Iterator[O] = {
      timer.fired()
      stepAndEmit(key, Nil, timers, evictWhenIdle = true)
    }
  }

  /** CLOSED-window counter increase with the output's `event_time`
    * declared as its EVENT-TIME column: each (series, window) total emits
    * exactly once when the watermark proves it final, which is what lets
    * a DOWNSTREAM stateful operator (the general for-duration streak)
    * legally consume rate/increase under arbitrary scalar wrappers.
    */
  class IncreaseClosedProcessor(widthSec: Long, ttlMs: Long)
      extends ClosedIncreaseProcessor[ClosedIncrease](widthSec, ttlMs) {
    override protected def emit(
        key: SeriesKey, closed: Seq[(Long, Double)],
        timers: TimerValues): Seq[ClosedIncrease] =
      closed.map { case (win, inc) =>
        ClosedIncrease(key._1, key._2, key._3, win, inc, eventTag(win + widthSec, timers))
      }
  }

  /** Closed-window counter increase: per-(series, window) FINAL increases
    * in append mode, `event_time` declared as the event-time column so
    * downstream stateful operators (the for-duration streak) can chain.
    * When an idle series' TTL fires, still-open windows stay in state
    * until the watermark passes their end (the series may resume INSIDE
    * an open window, and a force-close would emit that window twice).
    */
  def counterIncreaseClosed(
      metrics: DataFrame,
      widthSec: Long = 3600,
      watermarkDelay: String = "10 minutes",
      ttlMs: Long = 10 * 60 * 1000L): Dataset[ClosedIncrease] = {
    val spark = metrics.sparkSession
    import spark.implicits._
    FirehoseStream.bySeries(metrics, watermarkDelay)
      .transformWithState(
        new IncreaseClosedProcessor(widthSec, ttlMs), "event_time", OutputMode.Append())
  }

  /** For-duration alert processor — the streaming sibling of
    * [[graft.operators.Firehose.forDurationAlert]] (Prometheus `for:`
    * quantized to windows): the windowed increase must breach
    * `minIncrease` in `k` CONSECUTIVE windows before the alert fires.
    * The streak is decided ONLY on CLOSED windows, in ascending order (a
    * running window's total can still grow — firing on it could
    * fire-then-retract, which an alert must never do), and closed windows
    * each fire at most once. Consecutiveness state is one
    * `(lastWin, streak)` ValueState ([[streakAfter]]): a non-breaching
    * window, or a wholly-absent one (never closed because it had no
    * samples), breaks the streak — the exact semantics of the batch
    * operator's `lag(k-1)` formulation. After `ttlMs` of emptiness the
    * series is evicted and its streak restarts.
    */
  class ForDurationProcessor(
      widthSec: Long, minIncrease: Double, k: Int, ttlMs: Long)
      extends ClosedIncreaseProcessor[ForDurationOut](widthSec, ttlMs) {
    @transient private var streak: ValueState[(Long, Int)] = _

    override protected def initExtra(): Unit = streak = streakState(getHandle)

    override protected def clearExtra(): Unit = streak.clear()

    override protected def emit(
        key: SeriesKey, closed: Seq[(Long, Double)],
        timers: TimerValues): Seq[ForDurationOut] = {
      val st = if (streak.exists()) streak.get() else NoStreak
      val (next, fires) = foldStreak(st, closed.filter(_._2 > minIncrease), widthSec, k)
      streak.update(next)
      fires.map { case (win, inc) => ForDurationOut(key._1, key._2, key._3, win, inc) }
    }
  }

  /** [[graft.operators.Firehose.forDurationAlert]] on the
    * `transformWithState` API.
    */
  def forDurationAlert(
      metrics: DataFrame,
      widthSec: Long = 3600,
      minIncrease: Double = 50.0,
      k: Int = 3,
      watermarkDelay: String = "10 minutes",
      ttlMs: Long = 10 * 60 * 1000L): Dataset[ForDurationOut] = {
    require(k >= 2, "for-duration needs at least 2 consecutive windows")
    val spark = metrics.sparkSession
    import spark.implicits._
    FirehoseStream.bySeries(metrics, watermarkDelay)
      .transformWithState(
        new ForDurationProcessor(widthSec, minIncrease, k, ttlMs),
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** The streaming rate subquery in its CHAINABLE closed shape:
    * `agg_over_time(rate(x[inner])[outer:inner])` as one selected
    * aggregate (`min_rate`/`max_rate`/`avg_rate`) per closed (series,
    * outer window), a [[ClosedIncrease]] row with the `event_time` tag, so
    * the for-duration streak — a second `transformWithState` — can
    * legally follow. The inner increase fold's state lives in
    * [[IncHandles]], the closed inner-window totals park in one more
    * `MapState` until their outer window closes, and emit/prune is the
    * shared [[SubqueryCore]] (the same fold as
    * [[FirehoseStream.subqueryOverTimeClosed]]). Rows are exactly-once by
    * construction, so Append mode is sound; the timer re-arms at the
    * earliest open outer window's end so quiet series still emit.
    */
  class SubqueryClosedChainedProcessor(
      innerSec: Long, outerSec: Long, ttlMs: Long, field: String)
      extends StatefulProcessor[SeriesKey, GaugePoint, ClosedIncrease] {
    private val sel: SubqueryOut => Double = field match {
      case "min_rate" => _.min_rate
      case "max_rate" => _.max_rate
      case "avg_rate" => _.avg_rate
      case other => throw new IllegalArgumentException(
        s"unknown subquery aggregate '$other'")
    }
    @transient private var inc: IncHandles = _
    @transient private var parked: MapState[Long, Double] = _
    @transient private var timer: KeyTimer = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      inc = new IncHandles(getHandle)
      parked = getHandle.getMapState[Long, Double](
        "parked", Encoders.scalaLong, Encoders.scalaDouble, TTLConfig.NONE)
      timer = new KeyTimer(getHandle)
    }

    private def stepAndEmit(
        key: SeriesKey, incoming: Seq[GaugePoint], timers: TimerValues,
        evictWhenIdle: Boolean): Iterator[ClosedIncrease] = {
      val (component, name, series) = key
      val wmSec = timers.getCurrentWatermarkInMs() / 1000L
      val st = inc.assembled
      val r = IncreaseCore.step(st, samples(incoming), wmSec, innerSec)
      val oldParked = mapOf(parked)
      val (rows, keep) = SubqueryCore.emitAndPrune(
        component, name, series, oldParked ++ r.closed, wmSec, innerSec, outerSec)
      val idle = r.state.buffer.isEmpty && r.state.finalized.isEmpty && keep.isEmpty
      if (evictWhenIdle && idle) {
        inc.clear(); parked.clear()
      } else {
        inc.writeBack(st, r.state)
        writeMap(parked, oldParked, keep)
        val pendingEnds = (keep.keys ++ r.state.finalized.keys)
          .map(sw => (RatioCore.longWinOf(sw, outerSec) + outerSec) * 1000L)
        if (pendingEnds.nonEmpty) timer.arm(pendingEnds.min)
        else {
          val lastTs = (r.state.buffer.map(_.ts) :+ 0L).max
          timer.armIdle(timers, math.max(lastTs * 1000L, 1L), ttlMs)
        }
      }
      rows.iterator.map { o =>
        ClosedIncrease(component, name, series, o.outer_win, sel(o),
          eventTag(o.outer_win + outerSec, timers))
      }
    }

    override def handleInputRows(
        key: SeriesKey,
        rows: Iterator[GaugePoint],
        timers: TimerValues): Iterator[ClosedIncrease] =
      stepAndEmit(key, rows.toSeq, timers, evictWhenIdle = false)

    override def handleExpiredTimer(
        key: SeriesKey,
        timers: TimerValues,
        expired: ExpiredTimerInfo): Iterator[ClosedIncrease] = {
      timer.fired()
      stepAndEmit(key, Nil, timers, evictWhenIdle = true)
    }
  }

  /** The closed rate subquery with the output's window tagged as its
    * event-time column — the chainable form the general for-duration
    * streak consumes (`agg_over_time(rate(x[inner])[outer:inner]) … for
    * d` streams by chaining [[forStreakChained]]/[[forStreakKeep]] after
    * this relation, exactly like the rate/increase wrappers chain after
    * [[counterIncreaseClosed]]).
    */
  def subqueryOverTimeChained(
      metrics: DataFrame,
      innerSec: Long,
      outerSec: Long,
      field: String,
      watermarkDelay: String = "10 minutes",
      ttlMs: Long = 10 * 60 * 1000L): Dataset[ClosedIncrease] = {
    require(outerSec % innerSec == 0, "inner step must tile the outer range")
    val spark = metrics.sparkSession
    import spark.implicits._
    FirehoseStream.bySeries(metrics, watermarkDelay)
      .transformWithState(
        new SubqueryClosedChainedProcessor(innerSec, outerSec, ttlMs, field),
        "event_time", OutputMode.Append())
  }

  /** Gap-fill processor — the streaming sibling of
    * [[graft.operators.Firehose.gapFill]]: emit each series' dense
    * `stepSec` grid incrementally as the watermark closes slots, samples
    * winning their slot by (ts, id) and empty slots carrying the last
    * value forward ([[GapFillCore]], property-tested against the batch
    * grid). The grid never outruns the last real sample (batch parity);
    * the timer re-arms to the next unemitted slot's end so fill rows for
    * a quiet series keep flowing while OTHER series advance the watermark,
    * and a series with nothing left to emit evicts after `ttlMs`.
    */
  class GapFillProcessor(stepSec: Long, ttlMs: Long)
      extends StatefulProcessor[SeriesKey, GaugePoint, GapFillOut] {
    @transient private var frontier: ValueState[(Boolean, Long, Double, Long)] = _
    @transient private var buffer: ListState[CounterSample] = _
    @transient private var timer: KeyTimer = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      frontier = getHandle.getValueState[(Boolean, Long, Double, Long)](
        "frontier",
        Encoders.tuple(Encoders.scalaBoolean, Encoders.scalaLong,
          Encoders.scalaDouble, Encoders.scalaLong),
        TTLConfig.NONE)
      buffer = getHandle.getListState[CounterSample](
        "buffer", Encoders.product[CounterSample], TTLConfig.NONE)
      timer = new KeyTimer(getHandle)
    }

    private def stepAndEmit(
        key: SeriesKey, incoming: Seq[GaugePoint], timers: TimerValues,
        evictWhenIdle: Boolean): Iterator[GapFillOut] = {
      val (hasLast, lastSlot, lastValue, maxSeen) =
        if (frontier.exists()) frontier.get()
        else (false, 0L, 0.0, Long.MinValue)
      val st = GapFillState(hasLast, lastSlot, lastValue, maxSeen,
        if (buffer.exists()) buffer.get().toSeq else Nil)
      val wmSec = timers.getCurrentWatermarkInMs() / 1000L
      val r = GapFillCore.step(st, samples(incoming), wmSec, stepSec)
      val ns = r.state
      val idle = ns.buffer.isEmpty &&
        (ns.maxSeen == Long.MinValue || (ns.hasLast && ns.lastSlot >= ns.maxSeen))
      if (evictWhenIdle && idle) {
        frontier.clear(); buffer.clear()
      } else {
        frontier.update((ns.hasLast, ns.lastSlot, ns.lastValue, ns.maxSeen))
        buffer.clear()
        if (ns.buffer.nonEmpty) buffer.put(ns.buffer.toArray)
        val nextSlot =
          if (ns.hasLast && ns.lastSlot < ns.maxSeen) Some(ns.lastSlot + stepSec)
          else if (!ns.hasLast && ns.buffer.nonEmpty)
            Some(ns.buffer.map(s => GapFillCore.slotOf(s.ts, stepSec)).min)
          else None
        nextSlot match {
          case Some(s) => timer.arm((s + stepSec) * 1000L)
          case None => timer.armIdle(timers, math.max(ns.lastSlot, 1L) * 1000L, ttlMs)
        }
      }
      r.emitted.iterator.map { case (slot, value, filled) =>
        GapFillOut(key._1, key._2, key._3, slot, value, filled)
      }
    }

    override def handleInputRows(
        key: SeriesKey,
        rows: Iterator[GaugePoint],
        timers: TimerValues): Iterator[GapFillOut] =
      stepAndEmit(key, rows.toSeq, timers, evictWhenIdle = false)

    override def handleExpiredTimer(
        key: SeriesKey,
        timers: TimerValues,
        expired: ExpiredTimerInfo): Iterator[GapFillOut] = {
      timer.fired()
      stepAndEmit(key, Nil, timers, evictWhenIdle = true)
    }
  }

  /** [[graft.operators.Firehose.gapFill]] on the `transformWithState` API. */
  def gapFill(
      metrics: DataFrame,
      stepSec: Long = 60,
      watermarkDelay: String = "10 minutes",
      ttlMs: Long = 10 * 60 * 1000L): Dataset[GapFillOut] = {
    val spark = metrics.sparkSession
    import spark.implicits._
    FirehoseStream.bySeries(metrics, watermarkDelay)
      .transformWithState(
        new GapFillProcessor(stepSec, ttlMs),
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** The GENERAL for-duration streak — [[ForDurationProcessor]]'s
    * `(lastWin, streak)` consecutiveness fold lifted off the raw-sample
    * increase fold and onto ALREADY-CLOSED breach windows: the input is
    * any single-valued windowed relation in APPEND mode (a window row
    * arrives exactly once, when the watermark closes it), so the
    * processor needs no sample buffer, no finalized map, and no timers —
    * state is one (lastWin, streak) pair per series. This is what lets
    * an arbitrary windowed expression (the PromQL text compiler's
    * `avg_over_time(x[1h]) > 5`-shaped alerts) take a `for:` duration
    * streaming: the expression's own aggregation closes windows, the
    * streak chains AFTER it as a second stateful operator (Spark's
    * multi-stateful append-mode support; the window-native relations
    * keep `window.start` as their event-time column, so no watermark is
    * re-declared — the re-declared-watermark stall stays avoided).
    *
    * `window` reads a row's (epoch-second window, value): [[WinRow]]s
    * carry a timestamp `win_start`, [[ClosedIncrease]] rows an
    * epoch-second one. In-batch rows sort ascending per key (several
    * windows of one series can close in one micro-batch); across batches
    * the watermark is monotone, so closed windows arrive in order. A
    * non-breaching window produces NO row upstream (the threshold filter
    * dropped it), so streaks break via the lastWin SPACING check —
    * exactly the batch rule evaluator's `lag(k-1)` presence formulation,
    * spec-pinned against it.
    */
  class ForStreakProcessor[I](stepSec: Long, k: Int, window: I => (Long, Double))
      extends StatefulProcessor[SeriesKey, I, ForDurationOut] {
    @transient private var streak: ValueState[(Long, Int)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      streak = streakState(getHandle)

    override def handleInputRows(
        key: SeriesKey,
        rows: Iterator[I],
        timers: TimerValues): Iterator[ForDurationOut] = {
      val st = if (streak.exists()) streak.get() else NoStreak
      val (next, fires) = foldStreak(st, rows.map(window).toSeq, stepSec, k)
      streak.update(next)
      fires.iterator.map { case (win, v) => ForDurationOut(key._1, key._2, key._3, win, v) }
    }
  }

  /** Per-series keep_firing_for streak state: the breach-consecutiveness
    * pair, plus — while firing — the last breach (window, value) and the
    * highest window emitted (breach or keep-tail), the exactly-once
    * guard.
    */
  final case class KeepStreakState(
      lastWin: Long, streak: Int,
      firing: Boolean, lastBreach: Long, lastVal: Double, emitted: Long)

  /** The PURE keep_firing_for fold over CLOSED breach windows — the
    * streaming sibling of the batch evaluator's sessionized encoding
    * (both pinned against the same sequential reference machine):
    * firing starts at the k-streak's completion and DIES at the first
    * NON-breaching decided point more than keep past the last breach; a
    * breach reached while still firing re-arms without a fresh pending
    * period; non-breaching fired points carry the PRECEDING breach's
    * value. A point q is DECIDED false once something later proves it
    * (a later breach window arriving, or the watermark passing q's own
    * closure deadline q + step — the upstream aggregation would have
    * emitted q's breach by then). Emissions are exactly-once via the
    * `emitted` frontier and never retract.
    */
  object KeepStreakCore {

    val empty: KeepStreakState =
      KeepStreakState(Long.MinValue, 0, firing = false, 0L, 0.0, 0L)

    final case class Step(state: KeepStreakState, emits: Seq[(Long, Double)])

    def step(
        st0: KeepStreakState,
        breaches: Seq[(Long, Double)],
        wmSec: Long, stepSec: Long, k: Int, keepSec: Long): Step = {
      var st = st0
      val out = Seq.newBuilder[(Long, Double)]
      // emit keep-tails for decided false points up to `upTo`; firing
      // dies only when a point PAST the keep horizon is decided false
      // (a breach exactly keep + step after the last one must still
      // re-arm — the same boundary the batch property fuzz pinned)
      def tails(upTo: Long): Unit =
        if (st.firing) {
          val cap = st.lastBreach + keepSec
          var q = st.emitted + stepSec
          while (q <= math.min(upTo, cap)) {
            out += ((q, st.lastVal))
            st = st.copy(emitted = q)
            q += stepSec
          }
          if (upTo > cap) st = st.copy(firing = false)
        }
      breaches.sortBy(_._1).foreach { case (w, v) =>
        tails(w - stepSec) // everything before an arrived window is decided
        val s2 = streakAfter(st.lastWin, st.streak, w, stepSec)
        st = st.copy(lastWin = w, streak = s2)
        if (st.firing || s2 >= k) {
          out += ((w, v))
          st = st.copy(firing = true, lastBreach = w, lastVal = v, emitted = w)
        }
      }
      tails(wmSec - stepSec) // q is decided once wm ≥ q + step
      Step(st, out.result())
    }
  }

  /** [[ForStreakProcessor]] with `keep_firing_for`: the [[KeepStreakCore]]
    * fold wrapped in state + an event-time timer — keep-TAIL rows (fired
    * points with no breach of their own) emit as the watermark decides
    * them, re-armed at the next tail's decision time so a quiet series
    * keeps its tail flowing while OTHER series advance the watermark.
    */
  class ForStreakKeepProcessor[I](
      stepSec: Long, k: Int, keepSec: Long, window: I => (Long, Double))
      extends StatefulProcessor[SeriesKey, I, ForDurationOut] {
    @transient private var state: ValueState[KeepStreakState] = _
    @transient private var timer: KeyTimer = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      state = getHandle.getValueState[KeepStreakState](
        "keepstreak", Encoders.product[KeepStreakState], TTLConfig.NONE)
      timer = new KeyTimer(getHandle)
    }

    private def stepAndEmit(
        key: SeriesKey, wins: Seq[(Long, Double)],
        timers: TimerValues): Iterator[ForDurationOut] = {
      val st0 = if (state.exists()) state.get() else KeepStreakCore.empty
      val wmSec = timers.getCurrentWatermarkInMs() / 1000L
      val r = KeepStreakCore.step(st0, wins, wmSec, stepSec, k, keepSec)
      state.update(r.state)
      if (r.state.firing) timer.arm((r.state.emitted + 2 * stepSec) * 1000L)
      else timer.cancel()
      r.emits.iterator.map { case (w, v) =>
        ForDurationOut(key._1, key._2, key._3, w, v)
      }
    }

    override def handleInputRows(
        key: SeriesKey,
        rows: Iterator[I],
        timers: TimerValues): Iterator[ForDurationOut] =
      stepAndEmit(key, rows.map(window).toSeq, timers)

    override def handleExpiredTimer(
        key: SeriesKey,
        timers: TimerValues,
        expired: ExpiredTimerInfo): Iterator[ForDurationOut] = {
      timer.fired()
      stepAndEmit(key, Nil, timers)
    }
  }

  private val winRowWindow: WinRow => (Long, Double) =
    r => (r.win_start.getTime / 1000L, r.value)
  private val closedWindow: ClosedIncrease => (Long, Double) = r => (r.win_start, r.value)

  /** A breach relation's streak columns; `tagged` keeps the chained
    * shape's `event_time` tag.
    */
  private def breachColumns(breaches: DataFrame, tagged: Boolean): DataFrame =
    breaches.select(Seq(col("component"), col("name"), col("series"), col("win_start"),
      col("value").cast("double").as("value")) ++
      (if (tagged) Seq(col("event_time")) else Nil): _*)

  /** Chain the general streak after a closed-window breach relation
    * `(component, name, series, win_start: timestamp, value)` — fires
    * (as [[ForDurationOut]], epoch-second `fire_win`) from the k-th
    * consecutive breaching window on.
    */
  def forStreak(breaches: DataFrame, stepSec: Long, k: Int): Dataset[ForDurationOut] = {
    require(k >= 1, "for-duration streak needs k >= 1")
    val spark = breaches.sparkSession
    import spark.implicits._
    breachColumns(breaches, tagged = false).as[WinRow]
      .groupByKey(r => (r.component, r.name, r.series))
      .transformWithState(
        new ForStreakProcessor[WinRow](stepSec, k, winRowWindow),
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** [[forStreak]] for the CLOSED-increase chain: same fold, but the
    * window identity is the plain epoch-second `win_start` and the
    * declared `event_time` tag rides through to satisfy the downstream
    * operator's event-time plumbing.
    */
  def forStreakChained(
      breaches: DataFrame, stepSec: Long, k: Int): Dataset[ForDurationOut] = {
    require(k >= 1, "for-duration streak needs k >= 1")
    val spark = breaches.sparkSession
    import spark.implicits._
    breachColumns(breaches, tagged = true).as[ClosedIncrease]
      .groupByKey(r => (r.component, r.name, r.series))
      .transformWithState(
        new ForStreakProcessor[ClosedIncrease](stepSec, k, closedWindow),
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** Chain the keep_firing_for streak after a closed-window breach
    * relation — [[forStreak]]'s keep-capable sibling, accepting both the
    * window-native shape (timestamp `win_start`) and the chained-closed
    * shape (epoch `win_start` + `event_time` tag).
    */
  def forStreakKeep(
      breaches: DataFrame, stepSec: Long, k: Int,
      keepSec: Long): Dataset[ForDurationOut] = {
    require(k >= 1, "for-duration streak needs k >= 1")
    val spark = breaches.sparkSession
    import spark.implicits._
    if (breaches.columns.contains("event_time"))
      breachColumns(breaches, tagged = true).as[ClosedIncrease]
        .groupByKey(r => (r.component, r.name, r.series))
        .transformWithState(
          new ForStreakKeepProcessor[ClosedIncrease](stepSec, k, keepSec, closedWindow),
          TimeMode.EventTime(), OutputMode.Append())
    else
      breachColumns(breaches, tagged = false).as[WinRow]
        .groupByKey(r => (r.component, r.name, r.series))
        .transformWithState(
          new ForStreakKeepProcessor[WinRow](stepSec, k, keepSec, winRowWindow),
          TimeMode.EventTime(), OutputMode.Append())
  }
}

/** One closed single-valued window row entering the general for-duration
  * streak (the shape every window-native streaming lowering emits).
  */
case class WinRow(
    component: String, name: String, series: String,
    win_start: java.sql.Timestamp, value: Double)

/** One FINAL per-(series, window) counter increase, emitted exactly once
  * at watermark closure. `win_start` is the real window (epoch seconds);
  * `event_time` is the declared event-time column — max(window end,
  * watermark + 1 ms), the chaining contract's demand that emitted rows
  * never lag the current watermark.
  */
case class ClosedIncrease(
    component: String, name: String, series: String,
    win_start: Long, value: Double, event_time: java.sql.Timestamp)
