package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame, Dataset, KeyValueGroupedDataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode, StreamingQuery}

import graft.functions.IeeeLanes
import graft.operators.Firehose
import graft.sources.MetricJson

/** One metric sample keyed for gauge-state tracking. */
case class GaugePoint(
    component: String, name: String, series: String,
    timestamp: Long, id: String, value: Double, eventTime: Timestamp)

/** Per-series gauge state (the reference's per-child `Gauge` value). */
case class GaugeState(lastTs: Long, lastId: String, lastValue: Double)

/** Emitted gauge update. */
case class GaugeOut(
    component: String, name: String, series: String,
    last_value: Double, last_ts: Long)

/** One buffered counter sample (still above the watermark, so a later
  * micro-batch may insert an earlier-timestamped sample before it).
  */
case class CounterSample(ts: Long, id: String, value: Double)

/** Per-series counter-increase state.
  *
  * The watermark splits each series' timeline: samples with
  * `ts < watermark` can never be preceded by new arrivals (late rows beyond
  * the watermark are dropped before the operator), so deltas whose later
  * endpoint is below the watermark are final and fold into `finalized`
  * per-window sums; everything at-or-above the watermark stays in `buffer`
  * and is re-folded each batch, letting a late-but-in-watermark sample land
  * in its true position instead of being diffed against a later sample.
  * `anchor*` is the newest finalized sample — the delta base for the first
  * buffered sample.
  */
case class IncreaseState(
    hasAnchor: Boolean, anchorTs: Long, anchorId: String, anchorValue: Double,
    buffer: Seq[CounterSample], finalized: Map[Long, Double])

/** Emitted windowed increase (running value for the open window). */
case class IncreaseOut(
    component: String, name: String, series: String,
    win_start: Long, increase: Double)

/** Per-series resets/changes state: the same watermark split as
  * [[IncreaseState]] — `frozen*` are the counts over the immutable prefix,
  * `buffer` holds the in-watermark samples re-folded each batch so a
  * late-but-in-watermark sample lands in its true position (its arrival can
  * flip BOTH its own flags and its successor's).
  */
case class ResetsState(
    hasAnchor: Boolean, anchorTs: Long, anchorId: String, anchorValue: Double,
    buffer: Seq[CounterSample],
    frozenResets: Long, frozenChanges: Long, frozenN: Long)

/** Emitted running per-series resets/changes totals (Update mode). */
case class ResetsOut(
    component: String, name: String, series: String,
    resets: Long, changes: Long, n_samples: Long)

/** Per-series absent-alert state: `anchor` = newest window whose presence
  * is DECIDED (watermark passed its successor's end... strictly: the
  * newest present window at or below the decision horizon), `gapEmitted` =
  * whether the absent window right after the anchor has already been
  * emitted (a timer may decide it before any new traffic arrives), `live` =
  * present windows still above the horizon (a late-but-in-watermark sample
  * may still land in them).
  */
case class AbsentState(anchor: Long, gapEmitted: Boolean, live: Seq[Long])

/** Emitted staleness alert: the first missing window of a gap. */
case class AbsentOut(component: String, name: String, series: String, absent_win: Long)

/** The pure per-series absent-alert fold — the streaming decision rule for
  * [[graft.operators.Firehose.absentAlert]]'s semantics, property-tested
  * directly (random window sets, random batch splits, random in-watermark
  * lateness). A window w's presence is final once `w + width <= wm` (the
  * watermark admits no more samples for it); a gap between consecutive
  * FINAL present windows emits its first missing window exactly once, and
  * a series that goes silent emits `anchor + width` once the watermark
  * passes that window's end (`anchor + 2·width <= wm`).
  */
object AbsentCore {

  val empty: AbsentState = AbsentState(-1L, gapEmitted = false, Nil)

  final case class Step(state: AbsentState, emitted: Seq[Long])

  def step(st: AbsentState, incomingWins: Seq[Long], wmSec: Long, width: Long): Step = {
    val present = (st.live ++ incomingWins).distinct.sorted
    val (fin, live) = present.partition(_ + width <= wmSec)
    var emitted = List.empty[Long]
    var a = st.anchor
    fin.foreach { w =>
      if (a >= 0 && w > a + width) {
        // gap between two decided present windows; the one directly after
        // the stored anchor may have been emitted by the silence timer
        val alreadyEmitted = a == st.anchor && st.gapEmitted
        if (!alreadyEmitted) emitted ::= a + width
      }
      a = w
    }
    // trailing silence: the window after the last decided present window is
    // itself decided absent (nothing present can appear at a+width anymore —
    // it would have been in `fin`)
    val trailingDecided = a >= 0 && a + 2 * width <= wmSec
    val trailingAlready = a == st.anchor && st.gapEmitted
    if (trailingDecided && !trailingAlready) emitted ::= a + width
    val newFlag = (trailingDecided && !trailingAlready) || (a == st.anchor && st.gapEmitted)
    Step(AbsentState(a, newFlag, live), emitted.reverse)
  }
}

/** Per-series gap-fill state: the carry-forward frontier (last emitted slot
  * and its forward-fill value), the highest slot ever seen (the grid never
  * extends past the last real sample — batch parity), and the in-watermark
  * sample buffer.
  */
case class GapFillState(
    hasLast: Boolean, lastSlot: Long, lastValue: Double,
    maxSeen: Long, buffer: Seq[CounterSample])

/** Emitted dense-grid row — one per slot in [first sample's slot, last
  * sample's slot], exactly once, once the watermark closes the slot.
  */
case class GapFillOut(
    component: String, name: String, series: String,
    slot: Long, value: Double, filled: Boolean)

/** The pure per-series gap-fill fold (the streaming sibling of the batch
  * [[graft.operators.Firehose.gapFill]] grid): slots emit in ascending
  * order once the watermark passes their end AND a sample at or beyond
  * them exists (forward fill needs a value below, and the grid must not
  * outrun the last real sample); a slot with samples takes its
  * max-by-(ts, id) value (`filled=false`), an empty slot carries the last
  * value forward (`filled=true`). Property-tested directly against the
  * batch operator over random streams, splits, and in-watermark lateness.
  */
object GapFillCore {

  val empty: GapFillState = GapFillState(hasLast = false, 0L, 0.0, Long.MinValue, Nil)

  final case class Step(state: GapFillState, emitted: Seq[(Long, Double, Boolean)])

  def slotOf(ts: Long, stepSec: Long): Long = ts - math.floorMod(ts, stepSec)

  def step(
      st: GapFillState, incoming: Seq[CounterSample],
      wmSec: Long, stepSec: Long): Step = {
    // anything at or below the emitted frontier arrived beyond the
    // watermark contract: skip-and-continue, the grid row is already out
    val fresh = incoming.filter(s => !st.hasLast || slotOf(s.ts, stepSec) > st.lastSlot)
    val buf = st.buffer ++ fresh
    val slots = buf.map(s => slotOf(s.ts, stepSec))
    val maxSeen = (st.maxSeen +: slots).max
    val startSlot =
      if (st.hasLast) st.lastSlot + stepSec
      else if (slots.nonEmpty) slots.min
      else return Step(st.copy(maxSeen = maxSeen), Nil)
    val bySlot = buf.groupBy(s => slotOf(s.ts, stepSec))
    var slot = startSlot
    var lastValue = st.lastValue
    var hasLast = st.hasLast
    val out = Seq.newBuilder[(Long, Double, Boolean)]
    while (slot + stepSec <= wmSec && slot <= maxSeen) {
      bySlot.get(slot) match {
        case Some(here) =>
          lastValue = here.maxBy(s => (s.ts, s.id)).value
          hasLast = true
          out += ((slot, lastValue, false))
        case None =>
          // the first emitted slot always holds a sample (startSlot is a
          // sample's slot when the series is fresh), so the carry exists
          out += ((slot, lastValue, true))
      }
      slot += stepSec
    }
    val emitted = out.result()
    val lastSlot = if (emitted.nonEmpty) emitted.last._1 else st.lastSlot
    val keep = buf.filter(s => !hasLast || slotOf(s.ts, stepSec) > lastSlot)
    Step(GapFillState(hasLast, lastSlot, lastValue, maxSeen, keep), emitted)
  }

  /** End-of-stream flush: every remaining slot up to the last sample
    * becomes emittable (no more data can arrive for this series).
    */
  def flush(st: GapFillState, stepSec: Long): Seq[(Long, Double, Boolean)] =
    if (st.maxSeen == Long.MinValue) Nil
    else step(st, Nil, st.maxSeen + stepSec, stepSec).emitted
}

/** Per-(component, series) ratio-alert state: one [[IncreaseState]] fold per
  * counter name plus the CLOSED short-window totals parked until their
  * enclosing long window closes (shortWin → total).
  */
case class RatioState(
    num: IncreaseState, den: IncreaseState,
    pendingNum: Map[Long, Double], pendingDen: Map[Long, Double])

/** Emitted ratio-alert row — one per short window, exactly once, when its
  * enclosing long window closes.
  */
case class RatioOut(
    component: String, series: String, win_start: Long,
    short_ratio: Double, long_ratio: Double, alert: Int)

/** Emitted for-duration fire — one per closed window that is the k-th (or
  * later) consecutive breaching window of its series, exactly once.
  */
case class ForDurationOut(
    component: String, name: String, series: String,
    fire_win: Long, increase: Double)

/** Per-series subquery state: the inner increase fold + closed inner-window
  * totals parked until their enclosing outer window closes. */
case class SubqueryState(inner: IncreaseState, parked: Map[Long, Double])

/** Emitted subquery row — one per (series, outer window), exactly once,
  * when the watermark closes the outer window. */
case class SubqueryOut(
    component: String, name: String, series: String, outer_win: Long,
    n_points: Long, min_rate: Double, max_rate: Double, avg_rate: Double)

/** The pure per-series counter-increase fold, shared by the
  * `flatMapGroupsWithState` operators here and the closed-window
  * `transformWithState` operators of [[FirehoseTws]], and property-tested
  * directly (random sample streams, random batch splits, random
  * in-watermark lateness — no streaming query needed).
  */
object IncreaseCore {

  val empty: IncreaseState =
    IncreaseState(hasAnchor = false, 0L, "", 0.0, Nil, Map.empty)

  /** One step's outputs: `running` = every window this batch touched with
    * its current total (Update-mode emission); `closed` = windows that can
    * no longer change (entirely below the watermark, just pruned from
    * state) with their FINAL totals — each window appears in `closed`
    * exactly once over a stream's lifetime (Append-mode emission).
    */
  final case class StepResult(
      state: IncreaseState,
      running: Seq[(Long, Double)],
      closed: Seq[(Long, Double)])

  /** One micro-batch step: merge `incoming` into the in-watermark buffer,
    * re-fold it from the anchor (deltas in (ts, id) order, resets clamped
    * to the post-reset value), freeze the prefix below `wmSec` into the
    * finalized per-window sums, prune windows that can no longer change.
    */
  def step(
      st: IncreaseState,
      incoming: Seq[CounterSample],
      wmSec: Long,
      widthSec: Long): StepResult = {
    val buf = (st.buffer ++ incoming).sortBy(s => (s.ts, s.id))
    if (buf.isEmpty) {
      // no new data, but the advancing watermark may still close windows
      val (closed, kept) = st.finalized.partition { case (win, _) => win + widthSec <= wmSec }
      return StepResult(st.copy(finalized = kept), Nil, closed.toSeq.sortBy(_._1))
    }
    // one fold over the mutable region, starting from the anchor
    var prevValue = st.anchorValue
    var hasPrev = st.hasAnchor
    val incs = buf.map { s =>
      val inc = if (!hasPrev) 0.0 else {
        val delta = s.value - prevValue
        if (delta < 0) s.value else delta
      }
      prevValue = s.value
      hasPrev = true
      (s, inc)
    }
    // samples below the watermark can never be re-ordered: freeze their
    // deltas into the finalized per-window sums (buf is sorted, so the
    // frozen samples are a prefix and the fold stays valid)
    val (frozen, live) = incs.partition(_._1.ts < wmSec)
    var finalized = st.finalized
    frozen.foreach { case (s, inc) =>
      val win = s.ts - math.floorMod(s.ts, widthSec)
      finalized = finalized.updated(win, finalized.getOrElse(win, 0.0) + inc)
    }
    // running totals for every window the batch touched (finalized base +
    // live re-fold)
    val liveContrib = scala.collection.mutable.LinkedHashMap.empty[Long, Double]
    live.foreach { case (s, inc) =>
      val win = s.ts - math.floorMod(s.ts, widthSec)
      liveContrib.put(win, liveContrib.getOrElse(win, 0.0) + inc)
    }
    val touched: Seq[Long] =
      (frozen.map { case (s, _) => s.ts - math.floorMod(s.ts, widthSec) } ++
        liveContrib.keys).distinct
    val out = touched.sorted.map { win =>
      win -> (finalized.getOrElse(win, 0.0) + liveContrib.getOrElse(win, 0.0))
    }
    // windows entirely below the watermark can't change anymore — their
    // totals are FINAL: surface them as closed and drop them from state
    // (live windows all satisfy win + widthSec > wmSec since their samples
    // have ts >= wmSec)
    val (closed, kept) = finalized.partition { case (win, _) => win + widthSec <= wmSec }
    val anchor = frozen.lastOption.map(_._1)
    val newState = IncreaseState(
      hasAnchor = st.hasAnchor || anchor.isDefined,
      anchorTs = anchor.map(_.ts).getOrElse(st.anchorTs),
      anchorId = anchor.map(_.id).getOrElse(st.anchorId),
      anchorValue = anchor.map(_.value).getOrElse(st.anchorValue),
      buffer = live.map(_._1),
      finalized = kept)
    StepResult(newState, out, closed.toSeq.sortBy(_._1))
  }

  /** Flush at true stream end: everything still buffered or finalized
    * becomes closed output (no more data can arrive for this series). NOT
    * safe mid-stream — a series that resumes after a force-close would
    * re-emit the same window; [[FirehoseTws.counterIncreaseClosed]]
    * instead keeps open windows in state until the watermark closes them.
    */
  def flush(st: IncreaseState, widthSec: Long): Seq[(Long, Double)] =
    // a MaxValue watermark freezes the whole buffer and closes every
    // window, so the step's kept-finalized map is empty and `closed`
    // (already win-sorted) is the complete remainder
    step(st, Nil, Long.MaxValue, widthSec).closed

  /** Reference semantics — what the batch operator computes: per-window
    * sum of positive deltas over the (ts, id)-sorted samples, resets
    * clamped. Used as the property-test oracle.
    */
  def batchReference(samples: Seq[CounterSample], widthSec: Long): Map[Long, Double] = {
    val sorted = samples.sortBy(s => (s.ts, s.id))
    var prev: Option[CounterSample] = None
    val acc = scala.collection.mutable.Map.empty[Long, Double]
    sorted.foreach { s =>
      val inc = prev match {
        case None => 0.0
        case Some(p) =>
          val d = s.value - p.value
          if (d < 0) s.value else d
      }
      val win = s.ts - math.floorMod(s.ts, widthSec)
      acc(win) = acc.getOrElse(win, 0.0) + inc
      prev = Some(s)
    }
    acc.toMap
  }
}

/** Pure per-series fold for streaming Prometheus `resets()`/`changes()` —
  * the incremental sibling of [[graft.operators.Firehose.resetsChanges]].
  * Same buffering discipline as [[IncreaseCore]]: in-watermark samples are
  * re-folded from the anchor each step, the below-watermark prefix freezes
  * into cumulative counts. Kept Spark-free so it property-tests under
  * random batching/lateness against the batch reference.
  */
object ResetsCore {

  val empty: ResetsState = ResetsState(hasAnchor = false, 0L, "", 0.0, Nil, 0L, 0L, 0L)

  final case class StepResult(state: ResetsState, out: ResetsTotals)
  final case class ResetsTotals(resets: Long, changes: Long, n: Long)

  /** One micro-batch step: merge, re-fold from the anchor, freeze the
    * below-watermark prefix, return the RUNNING totals (frozen + live).
    */
  def step(st: ResetsState, incoming: Seq[CounterSample], wmSec: Long): StepResult = {
    val buf = (st.buffer ++ incoming).sortBy(s => (s.ts, s.id))
    var prevValue = st.anchorValue
    var hasPrev = st.hasAnchor
    val flags = buf.map { s =>
      val reset = hasPrev && s.value < prevValue
      val change = hasPrev && s.value != prevValue
      prevValue = s.value
      hasPrev = true
      (s, reset, change)
    }
    val (frozen, live) = flags.partition(_._1.ts < wmSec)
    val fr = st.frozenResets + frozen.count(_._2)
    val fc = st.frozenChanges + frozen.count(_._3)
    val fn = st.frozenN + frozen.size
    val anchor = frozen.lastOption.map(_._1)
    val newState = ResetsState(
      hasAnchor = st.hasAnchor || anchor.isDefined,
      anchorTs = anchor.map(_.ts).getOrElse(st.anchorTs),
      anchorId = anchor.map(_.id).getOrElse(st.anchorId),
      anchorValue = anchor.map(_.value).getOrElse(st.anchorValue),
      buffer = live.map(_._1),
      frozenResets = fr, frozenChanges = fc, frozenN = fn)
    StepResult(
      newState,
      ResetsTotals(
        fr + live.count(_._2),
        fc + live.count(_._3),
        fn + live.size))
  }

  /** Reference semantics — what the batch operator counts over the full
    * (ts, id)-sorted series. Property-test oracle.
    */
  def batchReference(samples: Seq[CounterSample]): ResetsTotals = {
    val sorted = samples.sortBy(s => (s.ts, s.id))
    var prev: Option[Double] = None
    var r = 0L; var c = 0L
    sorted.foreach { s =>
      prev.foreach { p =>
        if (s.value < p) r += 1
        if (s.value != p) c += 1
      }
      prev = Some(s.value)
    }
    ResetsTotals(r, c, sorted.size)
  }
}

/** Pure emit/prune step for the multiwindow ratio alert
  * ([[FirehoseStream.ratioAlertClosed]]): given the parked
  * closed-short-window totals per counter and the watermark, emit every
  * ratio row of long windows the watermark has closed and keep the rest
  * parked.
  */
object RatioCore {
  def longWinOf(shortWin: Long, longSec: Long): Long =
    shortWin - math.floorMod(shortWin, longSec)

  def emitAndPrune(
      component: String, series: String,
      pendingNum: Map[Long, Double], pendingDen: Map[Long, Double],
      wmSec: Long, shortSec: Long, longSec: Long, threshold: Double)
      : (Seq[RatioOut], Map[Long, Double], Map[Long, Double]) = {
    val closedLongs = (pendingNum.keys ++ pendingDen.keys)
      .map(longWinOf(_, longSec)).filter(_ + longSec <= wmSec).toSeq.distinct.sorted
    val rows = closedLongs.flatMap { lw =>
      val shorts = (pendingNum.keys ++ pendingDen.keys)
        .filter(longWinOf(_, longSec) == lw).toSeq.distinct.sorted
      val lNum = shorts.flatMap(pendingNum.get)
      val lDen = shorts.flatMap(pendingDen.get)
      if (lNum.isEmpty || lDen.isEmpty || lDen.sum <= 0) Nil
      else {
        val longRatio = lNum.sum / lDen.sum
        shorts.flatMap { sw =>
          for {
            n <- pendingNum.get(sw)
            d <- pendingDen.get(sw) if d > 0
          } yield RatioOut(component, series, sw,
            n / d, longRatio,
            if (n / d > threshold && longRatio > threshold) 1 else 0)
        }
      }
    }
    val keepN = pendingNum.filter { case (sw, _) => longWinOf(sw, longSec) + longSec > wmSec }
    val keepD = pendingDen.filter { case (sw, _) => longWinOf(sw, longSec) + longSec > wmSec }
    (rows, keepN, keepD)
  }
}

/** Pure emit/prune step for the streaming subquery, shared by the
  * Update-mode [[FirehoseStream.subqueryOverTimeClosed]] and the chainable
  * [[FirehoseTws.subqueryOverTimeChained]] so the two cannot diverge: emit
  * the aggregate of every outer window the watermark has closed (batch
  * arithmetic: quantized-decimal numerator in window order, one divide),
  * keep the rest parked.
  */
object SubqueryCore {
  def emitAndPrune(
      component: String, name: String, series: String,
      parked: Map[Long, Double], wmSec: Long, innerSec: Long, outerSec: Long)
      : (Seq[SubqueryOut], Map[Long, Double]) = {
    val (emit, keep) = parked.partition { case (sw, _) =>
      RatioCore.longWinOf(sw, outerSec) + outerSec <= wmSec
    }
    val rows = emit.groupBy { case (sw, _) => RatioCore.longWinOf(sw, outerSec) }
      .toSeq.sortBy(_._1)
      .map { case (ow, m) =>
        val incs = m.toSeq.sortBy(_._1).map(_._2)
        val n = incs.size.toLong
        // the IeeeLanes algebra in miniature: BigDecimal cannot carry
        // NaN/±Inf (and caps on big finites), so classify first and use
        // the exact decimal fold only inside the finite regime
        val pi = incs.contains(Double.PositiveInfinity)
        val ni = incs.contains(Double.NegativeInfinity)
        val sum =
          if (incs.exists(_.isNaN) || (pi && ni)) Double.NaN
          else if (pi) Double.PositiveInfinity
          else if (ni) Double.NegativeInfinity
          else if (incs.exists(v => math.abs(v) >= IeeeLanes.Cap6dp)) incs.sum
          else incs
            .map(v => BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP))
            .sum.toDouble
        SubqueryOut(component, name, series, ow, n,
          incs.min / innerSec.toDouble,
          incs.max / innerSec.toDouble,
          sum / (n.toDouble * innerSec.toDouble))
      }
    (rows, keep)
  }
}

/** Structured-Streaming form of the firehose: the reference's
  * consume→parse→handle→endOfSet loop (AbstractFirehose.java:113-145)
  * re-expressed as an incremental query.
  *
  *  - Kafka poll loop → `readStream` (Kafka or file/memory source)
  *  - per-record Jackson parse → the same `MetricJson.parse` expression the
  *    batch path uses
  *  - `Gauge.set` per series → `flatMapGroupsWithState` latest-value state
  *  - Guava cache 10-min idle eviction (AbstractPrometheusFirehose.java:19-29)
  *    → `EventTimeTimeout` on the group state. The gauge query runs one
  *    micro-batch per input ([[startGaugeQuery]]), so an idle series is
  *    evicted at the next data batch, lazily, as the Guava cache evicts
  *    on its next access
  *  - per-poll `endOfSet()` push (PrometheusPusher.java:63-70) → `foreachBatch`
  *    sink rendering/pushing the exposition text
  *
  * Each stateful operator has one spelling. The per-series operators here
  * use `flatMapGroupsWithState`, which needs no RocksDB provider; only the
  * operators that a second stateful operator chains after live on
  * `transformWithState`, in [[FirehoseTws]].
  */
object FirehoseStream {

  /** Translate the reference's `consumer.*` config subset (Configs.java,
    * AbstractFirehose.java:63-75 consumer construction) into Spark Kafka
    * source options: `topic` → `subscribe`, `auto.offset.reset` →
    * `startingOffsets` (Spark rejects it as a passthrough consumer
    * property), everything else passed through under the `kafka.` prefix.
    * A pure function so the wiring is contract-testable without a broker.
    */
  def kafkaSourceOptions(config: graft.config.GraftConfig): Map[String, String] = {
    val consumer = config.subset("consumer")
    // translated to Spark source options rather than passed through
    val translated = Seq("topic", "auto.offset.reset")
    // properties Spark's Kafka source MANAGES ITSELF and rejects as kafka.*
    // passthroughs — a reference config file legitimately contains these
    // (the Java consumer requires deserializers), so they must be dropped,
    // not forwarded, or the stream fails at start
    val sparkManaged = Seq(
      "key.deserializer", "value.deserializer", "enable.auto.commit",
      "interceptor.classes")
    Map(
      "subscribe" -> consumer.getOrElse("topic", "metrics.v1"),
      "startingOffsets" ->
        (if (consumer.get("auto.offset.reset").contains("earliest")) "earliest"
         else "latest")) ++
      (consumer -- translated -- sparkManaged).map { case (k, v) => s"kafka.$k" -> v }
  }

  /** Kafka source wiring (code-only in this container: no broker jar).
    * Identical transform chain to the file path — only the source line
    * differs.
    */
  def fromKafka(spark: SparkSession, bootstrapServers: String, topic: String): DataFrame =
    fromKafka(spark, graft.config.GraftConfig(Map(
      "consumer.bootstrap.servers" -> bootstrapServers,
      "consumer.topic" -> topic)))

  /** Config-driven Kafka source — the reference's construction path
    * (consumer built from the layered config's `consumer.` subset).
    */
  def fromKafka(spark: SparkSession, config: graft.config.GraftConfig): DataFrame =
    MetricJson.parse(
      spark.readStream
        .format("kafka")
        .options(kafkaSourceOptions(config))
        .load()
        .select(col("value").cast("string").as("value")),
      "value")

  /** File-landing source: a directory of metric JSON lines. */
  def fromJsonFiles(spark: SparkSession, path: String): DataFrame =
    MetricJson.parse(spark.readStream.text(path), "value")

  /** Shared parse→label→key→watermark prep for the stateful operators. */
  private[streaming] def keyedPoints(
      metrics: DataFrame, watermarkDelay: String): Dataset[GaugePoint] = {
    val spark = metrics.sparkSession
    import spark.implicits._
    Firehose.tagFilter(metrics)
      .withColumn("series", Firehose.seriesKey(col("labels")))
      .withColumn("eventTime", timestamp_seconds(col("timestamp")))
      .select("component", "name", "series", "timestamp", "id", "value", "eventTime")
      .as[GaugePoint]
      .withWatermark("eventTime", watermarkDelay)
  }

  /** [[keyedPoints]] grouped per series: the input of every per-series
    * stateful operator.
    */
  private[streaming] def bySeries(metrics: DataFrame, watermarkDelay: String)
      : KeyValueGroupedDataset[(String, String, String), GaugePoint] = {
    val spark = metrics.sparkSession
    import spark.implicits._
    keyedPoints(metrics, watermarkDelay).groupByKey(p => (p.component, p.name, p.series))
  }

  /** The idle-eviction timeout: `ttlMs` past the watermark, or past the
    * series' last sample (`lastTs`, seconds) before the first watermark.
    */
  private def armTimeout(state: GroupState[_], lastTs: Long, ttlMs: Long): Unit =
    if (state.getCurrentWatermarkMs() > 0)
      state.setTimeoutTimestamp(state.getCurrentWatermarkMs() + ttlMs)
    else state.setTimeoutTimestamp(lastTs * 1000L + ttlMs)

  /** The per-series fold of [[gaugeLatest]] and [[gaugeLatestBootstrapped]]:
    * the latest sample by (timestamp, id) wins, and the series is dropped
    * silently on timeout (registry eviction parity).
    */
  private def gaugeStep(ttlMs: Long)(
      key: (String, String, String), points: Iterator[GaugePoint],
      state: GroupState[GaugeState]): Iterator[GaugeOut] = {
    val (component, name, series) = key
    if (state.hasTimedOut) {
      state.remove()
      Iterator.empty
    } else if (!points.hasNext) {
      // a series only in the bootstrap snapshot, on the first batch:
      // nothing new to publish, only its eviction to arm
      state.getOption.foreach(s => armTimeout(state, s.lastTs, ttlMs))
      Iterator.empty
    } else {
      val candidates = points.map(p => GaugeState(p.timestamp, p.id, p.value)) ++ state.getOption
      val best = candidates.maxBy(s => (s.lastTs, s.lastId))
      state.update(best)
      armTimeout(state, best.lastTs, ttlMs)
      Iterator.single(GaugeOut(component, name, series, best.lastValue, best.lastTs))
    }
  }

  /** Streaming latest-gauge state with TTL expiry.
    *
    * State per series is one `GaugeState` — bounded by live series
    * cardinality exactly like the reference's gauge registry, and expired by
    * event-time timeout exactly like its 10-minute idle eviction. Started
    * through [[startGaugeQuery]], the query runs one micro-batch per input:
    * a timed-out series is removed at the next data batch, not in an extra
    * watermark-only batch. Eviction emits no rows, so the output is the same
    * either way.
    */
  def gaugeLatest(
      metrics: DataFrame,
      watermarkDelay: String = "10 minutes",
      ttlMs: Long = 10 * 60 * 1000L): Dataset[GaugeOut] = {
    val spark = metrics.sparkSession
    import spark.implicits._
    bySeries(metrics, watermarkDelay)
      .flatMapGroupsWithState[GaugeState, GaugeOut](
        OutputMode.Update, GroupStateTimeout.EventTimeTimeout)(gaugeStep(ttlMs))
  }

  /** [[gaugeLatest]] warm-started from a landed batch gauge snapshot
    * (e.g. `Firehose.gaugeLatest` over the landing table, or the PromQL
    * registry's heads) — the bootstrap path a fresh deployment takes so the
    * registry does not start empty and a stale first sample cannot regress
    * below the landed state. Snapshot columns: (component, name, series,
    * last_value, last_ts), one row per series.
    *
    * The snapshot seeds `GaugeState(last_ts, "", last_value)`: it carries
    * no sample id, so a live sample with the same timestamp outranks it —
    * bootstrap never beats real data it ties with. Spark applies the
    * snapshot on the query's first batch only (a restart resumes from the
    * checkpoint); a series only in the snapshot emits nothing and is
    * evicted once the watermark passes `last_ts + ttl`.
    */
  def gaugeLatestBootstrapped(
      metrics: DataFrame,
      snapshot: DataFrame,
      watermarkDelay: String = "10 minutes",
      ttlMs: Long = 10 * 60 * 1000L): Dataset[GaugeOut] = {
    val spark = metrics.sparkSession
    import spark.implicits._
    val init = snapshot
      .select("component", "name", "series", "last_value", "last_ts")
      .as[GaugeOut]
      .groupByKey(g => (g.component, g.name, g.series))
      .mapValues(g => GaugeState(g.last_ts, "", g.last_value))
    bySeries(metrics, watermarkDelay)
      .flatMapGroupsWithState[GaugeState, GaugeOut](
        OutputMode.Update, GroupStateTimeout.EventTimeTimeout, init)(gaugeStep(ttlMs))
  }

  private val NoDataBatchesKey = "spark.sql.streaming.noDataMicroBatches.enabled"
  private val noDataBatchesLock = new Object

  /** Start a [[gaugeLatest]] sink with Spark's no-data micro-batches off
    * for this query only. A no-data batch runs only because the watermark
    * moved; in the gauge it can only evict idle series and emits nothing,
    * yet it pays a whole epoch (offset log, state-store commits, commit
    * log, an empty sink call). Without it each input costs one batch.
    *
    * `start()` clones the session's SQL conf, so the setting is scoped to
    * that one call: the caller's value (or its absence) is restored after
    * `start()`, also when it throws. The lock serialises the
    * set–start–restore window, so concurrent gauge starts never see or
    * restore each other's value; a stream started elsewhere on the same
    * session during that window (one `start()` long) would read it too.
    * Every other streaming query keeps its no-data batches: the
    * closed-window operators emit on a watermark advance without new
    * traffic.
    */
  def startGaugeQuery(
      spark: SparkSession, writer: DataStreamWriter[GaugeOut]): StreamingQuery =
    noDataBatchesLock.synchronized {
      val conf = spark.conf
      val old = conf.getAll.get(NoDataBatchesKey)
      conf.set(NoDataBatchesKey, "false")
      try writer.start()
      finally old match {
        case Some(v) => conf.set(NoDataBatchesKey, v)
        case None => conf.unset(NoDataBatchesKey)
      }
    }

  /** Streaming counter increase — the incremental sibling of the batch
    * [[graft.operators.Firehose.counterIncrease]] (Prometheus `increase()`).
    *
    * Late-but-in-watermark correctness: a sample arriving in a later
    * micro-batch with a timestamp *between* two already-seen samples must be
    * diffed against its true predecessor, not the newest sample — otherwise
    * a positive counter read is misclassified as a reset and the window
    * total regresses. So state buffers the samples still above the
    * watermark and re-folds them (in (timestamp, id) order, resets clamped
    * to the post-reset value) every batch; samples that sink below the
    * watermark can never gain a new predecessor, so their deltas are folded
    * once into per-window finalized sums and the samples dropped. Emits the
    * running increase for every window the mutable region touches (Update
    * mode). State per series = finalized window sums (pruned once the
    * window can no longer change) + the in-watermark sample buffer, expired
    * by event-time timeout like the gauge registry.
    */
  def counterIncrease(
      metrics: DataFrame,
      widthSec: Long = 3600,
      watermarkDelay: String = "10 minutes",
      ttlMs: Long = 10 * 60 * 1000L): Dataset[IncreaseOut] = {
    val spark = metrics.sparkSession
    import spark.implicits._
    bySeries(metrics, watermarkDelay)
      .flatMapGroupsWithState[IncreaseState, IncreaseOut](
        OutputMode.Update, GroupStateTimeout.EventTimeTimeout) {
        case ((component, name, series), points, state: GroupState[IncreaseState]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val st = state.getOption.getOrElse(IncreaseCore.empty)
            val incoming = points.map(p => CounterSample(p.timestamp, p.id, p.value)).toSeq
            val r = IncreaseCore.step(
              st, incoming, state.getCurrentWatermarkMs() / 1000L, widthSec)
            state.update(r.state)
            armTimeout(state, (r.state.buffer.map(_.ts) :+ r.state.anchorTs).max, ttlMs)
            r.running.iterator.map { case (win, acc) =>
              IncreaseOut(component, name, series, win, acc)
            }
          }
      }
  }

  /** Streaming per-series `resets()`/`changes()` — m17's incremental
    * sibling: running totals re-emitted per batch (Update mode), with the
    * same in-watermark buffering as [[counterIncrease]] so a
    * late-but-in-watermark sample lands in its true fold position (its
    * arrival can flip both its own flags and its successor's — last-seen
    * state alone would miscount exactly like the pre-fix increase). Idle
    * series evict on TTL; resumed series restart their chain.
    */
  def resetsChanges(
      metrics: DataFrame,
      watermarkDelay: String = "10 minutes",
      ttlMs: Long = 10 * 60 * 1000L): Dataset[ResetsOut] = {
    val spark = metrics.sparkSession
    import spark.implicits._
    bySeries(metrics, watermarkDelay)
      .flatMapGroupsWithState[ResetsState, ResetsOut](
        OutputMode.Update, GroupStateTimeout.EventTimeTimeout) {
        case ((component, name, series), points, state: GroupState[ResetsState]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val st = state.getOption.getOrElse(ResetsCore.empty)
            val incoming = points.map(p => CounterSample(p.timestamp, p.id, p.value)).toSeq
            val r = ResetsCore.step(st, incoming, state.getCurrentWatermarkMs() / 1000L)
            state.update(r.state)
            armTimeout(state, (r.state.buffer.map(_.ts) :+ r.state.anchorTs).max, ttlMs)
            Iterator.single(
              ResetsOut(component, name, series, r.out.resets, r.out.changes, r.out.n))
          }
      }
  }

  /** Streaming absent-series staleness alert — the incremental sibling of
    * the batch [[graft.operators.Firehose.absentAlert]] (Prometheus
    * `absent()` shape), built on the pure [[AbsentCore]] fold. A window's
    * presence is decided only once the watermark passes its end, so a
    * late-but-in-watermark sample can cancel a would-be gap; gaps between
    * decided present windows emit their first missing window exactly once,
    * and a series that goes silent emits via its event-time timer armed at
    * the decision point (anchor + 2·width) — no traffic on the series
    * itself is needed. An evicted idle series that later resumes starts a
    * fresh presence chain (the gap across the eviction is not flagged),
    * mirroring the registry-eviction semantics of the other stateful
    * operators.
    */
  def absentAlert(
      metrics: DataFrame,
      widthSec: Long = 60,
      watermarkDelay: String = "10 minutes",
      ttlMs: Long = 10 * 60 * 1000L): Dataset[AbsentOut] = {
    val spark = metrics.sparkSession
    import spark.implicits._
    bySeries(metrics, watermarkDelay)
      .flatMapGroupsWithState[AbsentState, AbsentOut](
        OutputMode.Update, GroupStateTimeout.EventTimeTimeout) {
        case ((component, name, series), points, state: GroupState[AbsentState]) =>
          val wmSec = state.getCurrentWatermarkMs() / 1000L
          val st = state.getOption.getOrElse(AbsentCore.empty)
          val wins =
            if (state.hasTimedOut) Nil
            else points.map(p => p.timestamp - math.floorMod(p.timestamp, widthSec)).toSeq
          val r = AbsentCore.step(st, wins, wmSec, widthSec)
          val idle = r.state.live.isEmpty && (r.state.gapEmitted || r.state.anchor < 0)
          if (state.hasTimedOut && idle) state.remove()
          else {
            state.update(r.state)
            // the next decision point: the silence window after the anchor
            // (if still undecided), else the first live window's horizon;
            // a fully-decided idle series just waits for TTL GC. All
            // candidates are strictly above the watermark by construction.
            val decisionPoint =
              if (r.state.anchor >= 0 && !r.state.gapEmitted)
                Some((r.state.anchor + 2 * widthSec) * 1000L)
              else r.state.live.minOption.map(w => (w + 2 * widthSec) * 1000L)
            decisionPoint match {
              case Some(t) => state.setTimeoutTimestamp(t)
              case None =>
                if (state.getCurrentWatermarkMs() > 0)
                  state.setTimeoutTimestamp(state.getCurrentWatermarkMs() + ttlMs)
                else state.setTimeoutTimestamp(ttlMs)
            }
          }
          r.emitted.iterator.map(w => AbsentOut(component, name, series, w))
      }
  }

  /** Streaming multiwindow ratio alert — the exactly-once incremental
    * sibling of the batch [[graft.operators.Firehose.ratioAlert]] (the SLO
    * burn-rate shape): per series, the ratio of two counters' increases at
    * a short window and at the enclosing long window, alert = both over
    * threshold.
    *
    * One stateful operator keyed by (component, series): each counter name
    * runs its own [[IncreaseCore]] fold (the same late-data-correct shared
    * fold as [[FirehoseTws.counterIncreaseClosed]], so closure is
    * watermark-synchronous across the two names), and the closed short-window totals are parked
    * until the watermark passes the END of their enclosing long window — at
    * which point every short ratio AND the long ratio are final, and the
    * long window's rows emit exactly once. Mirrors the batch semantics
    * precisely: a short window emits only if the numerator is present and
    * the denominator positive, and only inside long windows whose own
    * numerator is present and denominator positive.
    *
    * State per series is bounded: two anchors, the in-watermark sample
    * buffers, and at most longSec/shortSec pending totals per open long
    * window; idle series re-arm their timer to the earliest pending long
    * window's end (so parked windows still emit without new traffic) and
    * are removed once nothing is pending.
    */
  def ratioAlertClosed(
      metrics: DataFrame,
      numName: String = "error_total",
      denName: String = "view_total",
      shortSec: Long = 3600,
      longSec: Long = 21600,
      threshold: Double = 1.0,
      watermarkDelay: String = "10 minutes",
      ttlMs: Long = 10 * 60 * 1000L): Dataset[RatioOut] = {
    require(longSec % shortSec == 0, "short windows must tile the long window")
    val spark = metrics.sparkSession
    import spark.implicits._
    def longWinOf(shortWin: Long): Long = RatioCore.longWinOf(shortWin, longSec)
    def emitAndPrune(
        component: String, series: String,
        pendingNum: Map[Long, Double], pendingDen: Map[Long, Double],
        wmSec: Long): (Seq[RatioOut], Map[Long, Double], Map[Long, Double]) =
      RatioCore.emitAndPrune(component, series, pendingNum, pendingDen,
        wmSec, shortSec, longSec, threshold)

    keyedPoints(metrics.filter(col("name").isin(numName, denName)), watermarkDelay)
      .groupByKey(p => (p.component, p.series))
      .flatMapGroupsWithState[RatioState, RatioOut](
        OutputMode.Update, GroupStateTimeout.EventTimeTimeout) {
        case ((component, series), points, state: GroupState[RatioState]) =>
          val wmSec = state.getCurrentWatermarkMs() / 1000L
          val st = state.getOption.getOrElse(
            RatioState(IncreaseCore.empty, IncreaseCore.empty, Map.empty, Map.empty))
          val incoming = if (state.hasTimedOut) Nil else points.toSeq
          val (numIn, denIn) = incoming.partition(_.name == numName)
          def samples(ps: Seq[GaugePoint]) =
            ps.map(p => CounterSample(p.timestamp, p.id, p.value))
          val rn = IncreaseCore.step(st.num, samples(numIn), wmSec, shortSec)
          val rd = IncreaseCore.step(st.den, samples(denIn), wmSec, shortSec)
          // closed short windows emit exactly once from the fold → plain ++
          val (rows, keepN, keepD) = emitAndPrune(
            component, series,
            st.pendingNum ++ rn.closed, st.pendingDen ++ rd.closed, wmSec)
          val next = RatioState(rn.state, rd.state, keepN, keepD)
          val idle = next.num.buffer.isEmpty && next.den.buffer.isEmpty &&
            next.num.finalized.isEmpty && next.den.finalized.isEmpty &&
            keepN.isEmpty && keepD.isEmpty
          if (state.hasTimedOut && idle) state.remove()
          else {
            state.update(next)
            val pendingEnds =
              (keepN.keys ++ keepD.keys ++
                next.num.finalized.keys ++ next.den.finalized.keys)
                .map(sw => (longWinOf(sw) + longSec) * 1000L)
            if (pendingEnds.nonEmpty)
              // wake when the earliest open long window can emit (all
              // candidates are > wm·1000 by construction)
              state.setTimeoutTimestamp(pendingEnds.min)
            else if (state.getCurrentWatermarkMs() > 0)
              state.setTimeoutTimestamp(state.getCurrentWatermarkMs() + ttlMs)
            else {
              val lastTs = (next.num.buffer.map(_.ts) ++ next.den.buffer.map(_.ts) :+ 0L).max
              state.setTimeoutTimestamp(math.max(lastTs * 1000L, 1L) + ttlMs)
            }
          }
          rows.iterator
      }
  }

  /** Streaming PromQL subquery — m30's exactly-once sibling:
    * `agg_over_time(rate(x[inner])[outer:inner])` with each (series,
    * outer window) row emitted ONCE when the watermark closes the outer
    * window. Same machinery as [[ratioAlertClosed]]: the shared
    * [[IncreaseCore]] fold closes inner windows exactly once
    * (late-but-in-watermark correct), their totals park until the
    * enclosing outer window's end passes the watermark, and the emitted
    * aggregates use the batch operator's exact arithmetic — quantized
    * decimal numerator summed in window order, one divide at the end —
    * so closed rows are batch-identical (spec-pinned). State per series:
    * the in-watermark sample buffer + one total per parked inner window,
    * TTL-expired like the gauge registry; an event-time timer re-arms at
    * the earliest open outer window's end so quiet series still emit.
    */
  def subqueryOverTimeClosed(
      metrics: DataFrame,
      innerSec: Long = 3600,
      outerSec: Long = 21600,
      watermarkDelay: String = "10 minutes",
      ttlMs: Long = 10 * 60 * 1000L): Dataset[SubqueryOut] = {
    require(outerSec % innerSec == 0, "inner step must tile the outer range")
    val spark = metrics.sparkSession
    import spark.implicits._
    bySeries(metrics, watermarkDelay)
      .flatMapGroupsWithState[SubqueryState, SubqueryOut](
        OutputMode.Update, GroupStateTimeout.EventTimeTimeout) {
        case ((component, name, series), points, state: GroupState[SubqueryState]) =>
          val wmSec = state.getCurrentWatermarkMs() / 1000L
          val st = state.getOption.getOrElse(SubqueryState(IncreaseCore.empty, Map.empty))
          val incoming =
            if (state.hasTimedOut) Nil
            else points.toSeq.map(p => CounterSample(p.timestamp, p.id, p.value))
          val r = IncreaseCore.step(st.inner, incoming, wmSec, innerSec)
          // closed inner windows arrive exactly once from the fold → plain ++
          val (rows, keep) = SubqueryCore.emitAndPrune(
            component, name, series, st.parked ++ r.closed, wmSec, innerSec, outerSec)
          val next = SubqueryState(r.state, keep)
          val idle = next.inner.buffer.isEmpty && next.inner.finalized.isEmpty &&
            keep.isEmpty
          if (state.hasTimedOut && idle) state.remove()
          else {
            state.update(next)
            val pendingEnds = (keep.keys ++ next.inner.finalized.keys)
              .map(sw => (RatioCore.longWinOf(sw, outerSec) + outerSec) * 1000L)
            if (pendingEnds.nonEmpty)
              // wake when the earliest open outer window can emit (all
              // candidates are > wm·1000 by construction)
              state.setTimeoutTimestamp(pendingEnds.min)
            else if (state.getCurrentWatermarkMs() > 0)
              state.setTimeoutTimestamp(state.getCurrentWatermarkMs() + ttlMs)
            else {
              val lastTs = (next.inner.buffer.map(_.ts) :+ 0L).max
              state.setTimeoutTimestamp(math.max(lastTs * 1000L, 1L) + ttlMs)
            }
          }
          rows.iterator
      }
  }

  /** Streaming tumbling-window aggregation with watermark. */
  def windowAgg(metrics: DataFrame, width: String = "1 minute",
      watermarkDelay: String = "10 minutes"): DataFrame =
    metrics
      .withColumn("eventTime", timestamp_seconds(col("timestamp")))
      .withWatermark("eventTime", watermarkDelay)
      .groupBy(window(col("eventTime"), width), col("component"), col("name"))
      .agg(
        count(lit(1)).as("n"),
        Seq(
          min(col("value")).as("min_value"),
          max(col("value")).as("max_value"),
          sum(IeeeLanes.decLane(col("value"), IeeeLanes.Cap2dp)
            .cast("decimal(18,2)")).cast("double").as("_sum_dec")) ++
          IeeeLanes.flagAggs(col("value"), "v", IeeeLanes.Cap2dp): _*)
      .select(
        col("window.start").as("win_start"), col("component"), col("name"),
        col("n"), col("min_value"), col("max_value"),
        IeeeLanes.reconstruct(col("_sum_dec"), "v").as("sum_value"))

  /** Streaming hopping windows — the incremental sibling of the batch
    * [[graft.operators.Firehose.slidingWindowAgg]], via Spark's native
    * `window(col, width, slide)` (state = width/slide open windows per
    * series name, watermark-pruned). Update mode re-emits running
    * aggregates as windows fill.
    */
  def slidingWindowAgg(metrics: DataFrame, width: String = "1 hour",
      slide: String = "15 minutes",
      watermarkDelay: String = "10 minutes"): DataFrame =
    metrics
      .withColumn("eventTime", timestamp_seconds(col("timestamp")))
      .withWatermark("eventTime", watermarkDelay)
      .groupBy(window(col("eventTime"), width, slide), col("component"), col("name"))
      .agg(
        count(lit(1)).as("n"),
        Seq(
          min(col("value")).as("min_value"),
          max(col("value")).as("max_value"),
          sum(IeeeLanes.decLane(col("value"), IeeeLanes.Cap2dp)
            .cast("decimal(18,2)")).cast("double").as("_sum_dec")) ++
          IeeeLanes.flagAggs(col("value"), "v", IeeeLanes.Cap2dp): _*)
      .select(
        col("window.start").as("win_start"), col("component"), col("name"),
        col("n"), col("min_value"), col("max_value"),
        IeeeLanes.reconstruct(col("_sum_dec"), "v").as("sum_value"))

  /** Streaming per-series linear trend + extrapolation — the incremental
    * sibling of the batch [[graft.operators.Firehose.predictLinear]]
    * (Prometheus `predict_linear()`). OLS is ALGEBRAIC in five sums
    * (n, Σx, Σx², Σy, Σxy — all streaming-legal aggregates), so the whole
    * operator is one native streaming aggregation in Update mode: no
    * arbitrary state, no timers, state = one row of sums per series. The
    * shared [[graft.operators.Firehose.olsTrend]] finish keeps the trend
    * arithmetic identical to the batch operator.
    *
    * `baseEpochSec` centers x: the batch operator centers on each series'
    * running MIN timestamp, which a streaming aggregate cannot see without
    * retraction; a fixed deploy-time base near the stream's start keeps x
    * small (slope is shift-invariant and the prediction point `max x +
    * horizon` shifts back out, so results match batch to FP round-off —
    * spec-asserted). Uncentered epoch seconds would cancel
    * catastrophically in n·Σx² − (Σx)².
    */
  def predictLinear(
      metrics: DataFrame,
      seriesCols: Seq[String],
      baseEpochSec: Long,
      horizonSec: Long = 3600,
      watermarkDelay: String = "10 minutes"): DataFrame = {
    val based = metrics
      .withColumn("eventTime", timestamp_seconds(col("timestamp")))
      .withWatermark("eventTime", watermarkDelay)
      .withColumn("_x", col("timestamp").cast("long") - lit(baseEpochSec))
      .withColumn("_y", col("value").cast("double"))
    Firehose.olsTrend(based, seriesCols, horizonSec)
  }

  /** Streaming `quantile_over_time` — the incremental sibling of the batch
    * [[graft.operators.Firehose.quantileOverTime]] (m18): per-series
    * tumbling-window quantiles via `percentile_approx` (a mergeable
    * one-pass sketch, streaming-legal where the exact sort-based
    * `percentile` is not; sketch accuracy spec-bounded against the batch
    * exact value). State = one sketch per open (series, window),
    * watermark-pruned.
    */
  def quantileOverTime(
      metrics: DataFrame,
      q: Double = 0.9,
      width: String = "1 hour",
      accuracy: Int = 10000,
      watermarkDelay: String = "10 minutes"): DataFrame =
    keyedPoints(metrics, watermarkDelay)
      .groupBy(window(col("eventTime"), width), col("component"), col("name"), col("series"))
      .agg(
        percentile_approx(col("value"), lit(q), lit(accuracy)).as("q_value"),
        count(lit(1)).as("n_samples"))
      .select(
        col("window.start").as("win_start"), col("component"), col("name"),
        col("series"), col("q_value"), col("n_samples"))

  /** Streaming `delta`/`idelta`/`irate` — the incremental sibling of the
    * batch [[graft.operators.Firehose.irateDelta]] (m23): the three
    * endpoint functions need the window's first, last and second-to-last
    * samples, so state per open (series, window) is the in-window sample
    * list (`collect_list` is streaming-mergeable; bounded by scrape rate ×
    * window span exactly like the batch exact-quantile argument, and
    * watermark-pruned). The finish sorts that bounded list by (ts, id) —
    * the batch operator's exact ordering — and applies the SAME endpoint
    * arithmetic: reset-clamped last-pair rate, null below two samples,
    * null on equal-timestamp endpoints. ANSI-safe `get` keeps
    * out-of-bounds endpoint probes null instead of throwing.
    */
  def irateDelta(
      metrics: DataFrame,
      width: String = "1 hour",
      watermarkDelay: String = "10 minutes"): DataFrame = {
    val sorted = array_sort(col("_s"))
    val n = size(col("_s"))
    val firstS = get(sorted, lit(0))
    val lastS = get(sorted, n - 1)
    val prevS = get(sorted, n - 2)
    def v(s: Column) = s.getField("value")
    def ts(s: Column) = s.getField("ts")
    keyedPoints(metrics, watermarkDelay)
      .groupBy(window(col("eventTime"), width), col("component"), col("name"), col("series"))
      .agg(
        collect_list(struct(
          col("timestamp").cast("long").as("ts"), col("id"), col("value"))).as("_s"),
        count(lit(1)).as("n_samples"))
      .select(
        col("window.start").as("win_start"), col("component"), col("name"),
        col("series"),
        when(col("n_samples") >= 2, v(lastS) - v(firstS)).as("delta"),
        when(col("n_samples") >= 2, v(lastS) - v(prevS)).as("idelta"),
        when(col("n_samples") >= 2 && ts(lastS) =!= ts(prevS),
          when(v(lastS) < v(prevS), v(lastS)).otherwise(v(lastS) - v(prevS)) /
            (ts(lastS) - ts(prevS)).cast("double")).as("irate"),
        col("n_samples"))
  }

  /** Streaming windowed TOP-K series — m10's streaming sibling, windowed
    * per the streaming convention: per (window, metric), the k series
    * with the highest window gauge, ties broken on series ascending (the
    * batch operator's order). TWO chained streaming aggregations: the
    * windowed per-series gauge feeds a per-metric collect of the
    * registry-bounded series set, and the rank is an array sort + slice
    * in the finish — legal because the per-(window, metric) list is
    * series-cardinality-bounded, the same argument as the exact
    * quantile. Emits on window close (Append mode); on a closed window
    * the result is batch-identical to ranking the window's gauges.
    */
  def topkSeriesClosed(
      metrics: DataFrame,
      k: Int = 3,
      width: String = "1 hour",
      watermarkDelay: String = "10 minutes"): DataFrame = {
    val latest = keyedPoints(metrics, watermarkDelay)
      .groupBy(window(col("eventTime"), width), col("component"), col("name"),
        col("series"))
      .agg(max_by(col("value"),
        struct(col("timestamp").cast("long").as("ts"), col("id"))).as("last_value"))
    latest
      .groupBy(window(col("window"), width), col("component"), col("name"))
      .agg(collect_list(struct(
        // negated value first: ascending struct sort = value desc, series asc
        (-col("last_value")).as("_nv"), col("series"), col("last_value"))).as("_s"))
      .select(col("window.start").as("win_start"), col("component"), col("name"),
        posexplode(slice(sort_array(col("_s")), 1, k)))
      .select(col("win_start"), col("component"), col("name"),
        col("col.series").as("series"), col("col.last_value").as("last_value"),
        (col("pos") + 1).cast("long").as("rnk"))
  }

  /** Streaming `count_values` — the incremental sibling of the batch
    * [[graft.operators.Firehose.countValues]] (m27), windowed per the
    * streaming convention: sample count per distinct value per metric per
    * tumbling window. ONE plain streaming aggregation whose state is one
    * count per open (metric, value, window) — bounded by value cardinality
    * like the batch shuffle, watermark-pruned.
    */
  def countValues(
      metrics: DataFrame,
      width: String = "1 hour",
      watermarkDelay: String = "10 minutes"): DataFrame =
    keyedPoints(metrics, watermarkDelay)
      .groupBy(window(col("eventTime"), width), col("component"), col("name"),
        col("value"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("win_start"), col("component"),
        col("name"), col("value"), col("n"))

  /** Streaming instant-vector aggregation — the incremental sibling of the
    * batch [[graft.operators.Firehose.instantAgg]] (m28): collapse SERIES
    * per metric over each window's latest-per-series values. TWO chained
    * stateful operators (Spark's multi-stateful-operator support): a
    * windowed `max_by` picks each series' last sample exactly like the
    * batch registry, then a second windowed aggregation over the CLOSED
    * per-series rows computes the series-collapsing stats. Append mode is
    * required for the chain, so results emit when the watermark closes the
    * window — and because the second aggregation only ever sees final
    * per-series values, its output is batch-identical on the closed window
    * (spec-pinned), decimal sums and exact quantile included. State:
    * one row per open (series, window) + one partial per open (metric,
    * window) — registry-sized, watermark-pruned.
    */
  def instantAgg(
      metrics: DataFrame,
      q: Double = 0.5,
      width: String = "1 hour",
      watermarkDelay: String = "10 minutes"): DataFrame = {
    val latest = keyedPoints(metrics, watermarkDelay)
      .groupBy(window(col("eventTime"), width), col("component"), col("name"),
        col("series"))
      .agg(max_by(col("value"),
        struct(col("timestamp").cast("long").as("ts"), col("id"))).as("last_value"))
    val lv = col("last_value")
    val dv = IeeeLanes.decLane(lv, IeeeLanes.Cap2dp).cast("decimal(18,2)")
    val sumV = IeeeLanes.reconstruct(col("_sum_dec"), "v")
    latest
      .groupBy(window(col("window"), width), col("component"), col("name"))
      .agg(
        count(lit(1)).as("n_series"),
        Seq(
          min(lv).as("min_value"),
          max(lv).as("max_value"),
          sum(dv).cast("double").as("_sum_dec"),
          round(percentile(lv, lit(q)), 4).as("q_value")) ++
          IeeeLanes.flagAggs(lv, "v", IeeeLanes.Cap2dp): _*)
      .select(col("window.start").as("win_start"), col("component"),
        col("name"), col("n_series"), col("min_value"), col("max_value"),
        sumV.as("sum_value"), col("q_value"),
        (sumV / col("n_series").cast("double")).as("avg_value"))
  }

  /** Streaming `*_over_time` family — the incremental sibling of the batch
    * [[graft.operators.Firehose.overTimeAgg]] (m24). Every member is
    * algebraic (decimal sums, extremes, `max_by` for last), so this is ONE
    * plain streaming aggregation — no arbitrary state, no timers, state =
    * one partial row per open (series, window), watermark-pruned. The
    * finish derives avg/stdvar/stddev from the exact decimal sums exactly
    * like batch, so results are batch-identical (spec-pinned), not
    * approximate.
    */
  def overTimeAgg(
      metrics: DataFrame,
      width: String = "1 hour",
      watermarkDelay: String = "10 minutes"): DataFrame = {
    val dv = IeeeLanes.decLane(col("value"), IeeeLanes.Cap2dp).cast("decimal(18,2)")
    val fv = IeeeLanes.finLane(col("value"))
    val n = col("n_samples").cast("double")
    // the same lane reconstruction as batch overTimeAgg — the parity
    // pin holds on poisoned and byte-counter streams too
    val sumV = IeeeLanes.reconstruct(col("_sum_dec"), "v")
    val sumsqV = when(IeeeLanes.anyNonFinite("v"), lit(Double.NaN))
      .when(IeeeLanes.isBig("v"), col("_dsq"))
      .otherwise(col("_sumsq_dec"))
    val stdvarV = when(IeeeLanes.anyNonFinite("v"), lit(Double.NaN))
      .when(IeeeLanes.isBig("v"), greatest(
        (col("_dsq") - col("_vdsum") * col("_vdsum") / n) / n, lit(0.0)))
      .otherwise(greatest(
        (col("_sumsq_dec") - col("_sum_dec") * col("_sum_dec") / n) / n,
        lit(0.0)))
    keyedPoints(metrics, watermarkDelay)
      .groupBy(window(col("eventTime"), width), col("component"), col("name"), col("series"))
      .agg(
        count(lit(1)).as("n_samples"),
        Seq(
          min(col("value")).as("min_value"),
          max(col("value")).as("max_value"),
          sum(dv).cast("double").as("_sum_dec"),
          sum((dv * dv).cast("decimal(38,4)")).cast("double").as("_sumsq_dec"),
          sum(fv * fv).as("_dsq"),
          max_by(col("value"),
            struct(col("timestamp").cast("long").as("ts"), col("id"))).as("last_value")) ++
          IeeeLanes.flagAggs(col("value"), "v", IeeeLanes.Cap2dp): _*)
      .select(
        col("window.start").as("win_start"), col("component"), col("name"),
        col("series"), col("n_samples"), col("min_value"), col("max_value"),
        sumV.as("sum_value"), sumsqV.as("sumsq_value"), col("last_value"),
        (sumV / n).as("avg_value"),
        stdvarV.as("stdvar_value"),
        sqrt(stdvarV).as("stddev_value"))
  }

  /** Streaming `holt_winters` — the incremental sibling of the batch
    * [[graft.operators.Firehose.holtWinters]] (m25): the smoothing
    * recursion needs every in-window sample in (ts, id) order, so state
    * per open (series, window) is the bounded sample list (the same
    * `collect_list` argument as [[irateDelta]], watermark-pruned) and the
    * fold runs in the finish over the sorted list — the batch operator's
    * exact arithmetic sequence, so results are batch-identical
    * (spec-pinned across micro-batch splits).
    */
  def holtWinters(
      metrics: DataFrame,
      sf: Double = 0.5,
      tf: Double = 0.25,
      width: String = "1 hour",
      watermarkDelay: String = "10 minutes"): DataFrame = {
    val vs = transform(array_sort(col("_s")), s => s.getField("value"))
    def smooth(acc: Column, x: Column): Column = {
      val sNew = lit(sf) * x + lit(1 - sf) * (acc.getField("s") + acc.getField("b"))
      struct(
        sNew.as("s"),
        (lit(tf) * (sNew - acc.getField("s")) + lit(1 - tf) * acc.getField("b")).as("b"))
    }
    keyedPoints(metrics, watermarkDelay)
      .groupBy(window(col("eventTime"), width), col("component"), col("name"), col("series"))
      .agg(
        collect_list(struct(
          col("timestamp").cast("long").as("ts"), col("id"), col("value"))).as("_s"),
        count(lit(1)).as("n_samples"))
      .select(
        col("window.start").as("win_start"), col("component"), col("name"),
        col("series"),
        when(col("n_samples") >= 2,
          aggregate(
            slice(vs, lit(3), greatest(size(vs) - 2, lit(0))),
            struct(
              element_at(vs, 2).as("s"),
              (element_at(vs, 2) - element_at(vs, 1)).as("b")),
            smooth).getField("s")).as("smoothed"),
        col("n_samples"))
  }

  /** Streaming classic-histogram bucket counts — the incremental sibling of
    * the batch [[graft.operators.Firehose.histogramQuantile]]: per tumbling
    * window and metric name, the count of samples falling in each `le`
    * bucket (same O(1) row-local bucket classification, shared expression).
    * Emits per-bucket counts in Update mode; the cumulative `le` sums and
    * quantile interpolation Prometheus renders are a map over the tiny
    * (name, le) snapshot at exposition time, exactly like the batch
    * operator's second phase. State is bounded by names × buckets × open
    * windows, pruned by the watermark.
    */
  def histogramBuckets(
      metrics: DataFrame,
      les: Seq[Double] = Firehose.DefaultLes,
      width: String = "1 minute",
      watermarkDelay: String = "10 minutes"): DataFrame =
    metrics
      .withColumn("eventTime", timestamp_seconds(col("timestamp")))
      .withWatermark("eventTime", watermarkDelay)
      .withColumn("le", Firehose.bucketLe(col("value"), les))
      .groupBy(window(col("eventTime"), width), col("name"), col("le"))
      .agg(count(lit(1)).as("n"))
      .select(
        col("window.start").as("win_start"), col("name"), col("le"), col("n"))

  /** Streaming NATIVE histograms — [[graft.operators.NativeHist]]'s
    * incremental sibling: per (window, component, metric), the sparse exponential
    * bucket array built by TWO chained streaming aggregations (the
    * (window, metric, bucket) counts feed the per-metric pack, whose
    * collect is occupied-bucket-bounded — the instantAgg chaining
    * argument). The bucket index is the same exact IEEE-exponent
    * expression as batch, so closed windows are batch-identical
    * (spec-pinned). Emits on window close (Append mode).
    */
  def nativeHistogramClosed(
      metrics: DataFrame,
      schema: Int = 0,
      width: String = "1 hour",
      watermarkDelay: String = "10 minutes"): DataFrame = {
    val keyed = metrics
      .withColumn("eventTime", timestamp_seconds(col("timestamp")))
      .withWatermark("eventTime", watermarkDelay)
      .withColumn("_idx",
        when(col("value") > 0,
          graft.functions.GraftFunctions.exp2_bucket(col("value"), schema)))
    keyed
      .groupBy(window(col("eventTime"), width),
        col("component"), col("name"), col("_idx"))
      .agg(
        count(lit(1)).as("_c"),
        sum(col("value").cast("decimal(18,2)")).as("_s"))
      .groupBy(window(col("window"), width), col("component"), col("name"))
      .agg(
        coalesce(sum(when(col("_idx").isNull, col("_c"))), lit(0L)).as("zero_count"),
        sum(col("_c")).as("n_samples"),
        sum(col("_s")).cast("decimal(28,2)").as("sum"),
        sort_array(collect_list(when(col("_idx").isNotNull,
          struct(col("_idx").as("idx"), col("_c").as("cnt"))))).as("buckets"))
      .select(col("window.start").as("win_start"), col("component"), col("name"),
        col("zero_count"), col("n_samples"), col("sum"), col("buckets"),
        lit(schema).as("schema"))
  }

  /** Streaming gap-based session windows per series (the built-in
    * `session_window` — dynamic-gap sessionization with watermark-bounded
    * state; the streaming sibling of the batch `Relational.qSessionize`).
    */
  def sessionAgg(
      metrics: DataFrame,
      gap: String = "30 minutes",
      watermarkDelay: String = "10 minutes"): DataFrame =
    metrics
      .withColumn("eventTime", timestamp_seconds(col("timestamp")))
      .withWatermark("eventTime", watermarkDelay)
      .groupBy(session_window(col("eventTime"), gap), col("component"), col("name"))
      .agg(
        count(lit(1)).as("n_events"),
        (sum(IeeeLanes.decLane(col("value"), IeeeLanes.Cap2dp)
          .cast("decimal(18,2)")).cast("double").as("_sum_dec") +:
          IeeeLanes.flagAggs(col("value"), "v", IeeeLanes.Cap2dp)): _*)
      .select(
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("component"), col("name"), col("n_events"),
        IeeeLanes.reconstruct(col("_sum_dec"), "v").as("sum_value"))

  /** Partitioned parquet landing of the parsed firehose — the write side of
    * the 100 TB story: payload lands columnar, partitioned by component and
    * event date so downstream queries prune both. `trigger` left to the
    * caller; checkpointed exactly-once file sink.
    */
  def landingSink(metrics: DataFrame, path: String): DataStreamWriter[org.apache.spark.sql.Row] =
    metrics
      .withColumn("event_date", to_date(timestamp_seconds(col("timestamp"))))
      .writeStream
      .format("parquet")
      .option("path", path)
      .partitionBy("component", "event_date")
      .outputMode("append")

  /** Streaming exact dedup: first occurrence per key wins, late duplicates
    * beyond the watermark are dropped with bounded state
    * (`dropDuplicatesWithinWatermark`) — the streaming form of the batch
    * `Dedup.exact` operator for continuously-landing training data.
    */
  def streamingDedup(
      metrics: DataFrame,
      keyCols: Seq[String],
      watermarkDelay: String = "10 minutes"): DataFrame =
    metrics
      .withColumn("eventTime", timestamp_seconds(col("timestamp")))
      .withWatermark("eventTime", watermarkDelay)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Streaming PromQL label manipulation — the m26 sibling. `label_replace`
    * + `label_join` are pure row-local map rewrites (zero state, zero
    * shuffles), so the streaming form IS the batch operator applied to the
    * unbounded relation — Structured Streaming's contract for stateless
    * projections. Exposed here so the streaming API surface is complete;
    * spec pins row-for-row batch parity through a real stream run.
    */
  def labelOps(metrics: DataFrame): DataFrame = Firehose.labelOps(metrics)

  /** Streaming vector-matching binary op — the m29 sibling: per tumbling
    * window, each side's latest-per-series value (the windowed gauge),
    * joined stream-stream on (component, match key, window). Same
    * co-partitioned equi-join shape as the batch
    * [[graft.operators.Firehose.vectorMatch]], with both sides' state
    * watermark-pruned: two windowed `max_by` aggregations in Append mode
    * feeding the binary join (Spark's chained-stateful-operator support;
    * the join carries the window equality, so state on both sides closes
    * with the watermark). Results emit when the watermark closes the
    * window, and on a closed window they are batch-identical to
    * [[graft.operators.Firehose.vectorMatch]] over that window's rows
    * (spec-pinned). `group_left` falls out of the join cardinality exactly
    * like batch: the left side keys on its FULL series, the right on the
    * match key alone.
    *
    * Cardinality contract, relaxed for the unbounded setting: the batch
    * form RAISES when the right side has several series per match key;
    * the streaming form aggregates the right side BY match key, so a
    * violating stream degrades to latest-sample-wins instead of erroring
    * (a count-and-raise would need a third stateful operator per batch).
    * Compliant inputs — the only ones the batch form accepts — produce
    * identical results. The degradation is OBSERVABLE, not silent: the
    * right aggregation counts the distinct series it collapsed per match
    * key, and a `Dataset.observe` on the joined result reports
    * `degraded_match_keys` (match keys where >1 right series collapsed)
    * and `matched_rows` in every micro-batch's
    * `StreamingQueryProgress.observedMetrics` under `observeName` — the
    * operational signal that batch and stream semantics have diverged on
    * this input.
    */
  def vectorMatch(
      left: DataFrame,
      right: DataFrame,
      op: (Column, Column) => Column,
      on: Seq[String] = Nil,
      ignoring: Seq[String] = Nil,
      width: String = "1 hour",
      watermarkDelay: String = "10 minutes",
      out: String = "value",
      observeName: String = "graft_vector_match"): DataFrame = {
    def gauged(df: DataFrame): DataFrame =
      Firehose.tagFilter(df)
        .withColumn("series", Firehose.seriesKey(col("labels")))
        .withColumn("_vm_key", Firehose.vectorMatchKey(col("labels"), on, ignoring))
        .withColumn("eventTime", timestamp_seconds(col("timestamp")))
        .withWatermark("eventTime", watermarkDelay)
    val l = gauged(left)
      .groupBy(window(col("eventTime"), width).as("_lw"), col("component"),
        col("name"), col("series"), col("_vm_key"))
      .agg(max_by(col("value"),
        struct(col("timestamp").cast("long").as("ts"), col("id"))).as("_vm_l"))
    val r = gauged(right)
      .groupBy(window(col("eventTime"), width).as("_rw"),
        col("component").as("_r_component"), col("_vm_key").as("_r_key"))
      .agg(
        max_by(col("value"),
          struct(col("timestamp").cast("long").as("ts"), col("id"))).as("_vm_r"),
        // right side is registry-bounded, so the per-key series set is too
        size(collect_set(col("series"))).as("_r_n"))
    l.join(
        r,
        col("component") === col("_r_component") &&
          col("_vm_key") === col("_r_key") && col("_lw") === col("_rw"))
      .withColumn(out, op(col("_vm_l"), col("_vm_r")))
      .filter(col(out).isNotNull)
      .observe(
        observeName,
        sum(when(col("_r_n") > 1, lit(1L)).otherwise(lit(0L))).as("degraded_match_keys"),
        count(lit(1)).as("matched_rows"))
      .select(col("_lw.start").as("win_start"), col("component"), col("name"),
        col("series"), col(out))
  }

  /** Streaming PromQL set/logical binary ops — the m31 sibling: per
    * tumbling window, the left side's windowed gauges filtered (`and` /
    * `unless`) or completed (`or`) by the RIGHT side's match-key set.
    * Same chained-stateful shape as [[vectorMatch]]: windowed
    * aggregations in Append mode feeding a stream-stream join carrying
    * the window equality, so state on both sides closes with the
    * watermark.
    *
    * Join forms per op — stream-stream left ANTI joins are unsupported,
    * so the anti shapes ride a left OUTER join + null filter over the
    * right's key-set aggregation (one row per (window, component, key),
    * so the outer join cannot fan out and the null marker is exact):
    * `and` = left semi; `unless` = left outer + keep-unmatched; `or` =
    * left ∪ (right latest outer-against the LEFT's key set, keep
    * unmatched). On a closed window results are batch-identical to
    * [[graft.operators.Firehose.vectorSetOp]] over that window's rows
    * (spec-pinned). Set ops are many-to-many legal, so unlike
    * [[vectorMatch]] the key-set collapse loses nothing.
    */
  def vectorSetOp(
      left: DataFrame,
      right: DataFrame,
      setOp: String,
      on: Seq[String] = Nil,
      ignoring: Seq[String] = Nil,
      width: String = "1 hour",
      watermarkDelay: String = "10 minutes"): DataFrame = {
    def gauged(df: DataFrame): DataFrame =
      Firehose.tagFilter(df)
        .withColumn("series", Firehose.seriesKey(col("labels")))
        .withColumn("_vm_key", Firehose.vectorMatchKey(col("labels"), on, ignoring))
        .withColumn("eventTime", timestamp_seconds(col("timestamp")))
        .withWatermark("eventTime", watermarkDelay)
    // one row per (window, component, name, series): the windowed gauge
    def latest(df: DataFrame): DataFrame = df
      .groupBy(window(col("eventTime"), width).as("_lw"), col("component"),
        col("name"), col("series"), col("_vm_key"))
      .agg(max_by(col("value"),
        struct(col("timestamp").cast("long").as("ts"), col("id"))).as("value"))
    // one row per (window, component, match key): the filter side
    def keySet(df: DataFrame): DataFrame = df
      .groupBy(window(col("eventTime"), width).as("_rw"),
        col("component").as("_r_component"), col("_vm_key").as("_r_key"))
      .agg(count(lit(1)).as("_r_n"))
    def cond = col("component") === col("_r_component") &&
      col("_vm_key") === col("_r_key") && col("_lw") === col("_rw")
    val out = setOp match {
      case "and" =>
        latest(gauged(left)).join(keySet(gauged(right)), cond, "left_semi")
      case "unless" =>
        latest(gauged(left)).join(keySet(gauged(right)), cond, "left_outer")
          .filter(col("_r_n").isNull)
      case "or" =>
        val l = latest(gauged(left))
        val survivors = latest(gauged(right))
          .join(keySet(gauged(left)), cond, "left_outer")
          .filter(col("_r_n").isNull)
        l.select(col("_lw"), col("component"), col("name"), col("series"), col("value"))
          .unionByName(survivors.select(
            col("_lw"), col("component"), col("name"), col("series"), col("value")))
      case other => throw new IllegalArgumentException(
        s"vector set op must be and/or/unless, got '$other'")
    }
    out.select(col("_lw.start").as("win_start"), col("component"), col("name"),
      col("series"), col("value"))
  }

  /** Stream-stream interval join: each left event matched to right events of
    * the same key within `[left.ts - window, left.ts]` — the streaming
    * sibling of the batch as-of join (both sides' state pruned by
    * watermark).
    */
  def intervalJoin(
      left: DataFrame,
      right: DataFrame,
      key: String,
      window: String = "10 minutes",
      watermarkDelay: String = "10 minutes"): DataFrame = {
    val l = left
      .withColumn("l_time", timestamp_seconds(col("timestamp")))
      .withWatermark("l_time", watermarkDelay)
      .select(col(key).as("l_key"), col("l_time"), col("id").as("l_id"), col("value").as("l_value"))
    val r = right
      .withColumn("r_time", timestamp_seconds(col("timestamp")))
      .withWatermark("r_time", watermarkDelay)
      .select(col(key).as("r_key"), col("r_time"), col("id").as("r_id"), col("value").as("r_value"))
    l.join(
      r,
      expr(s"l_key = r_key AND r_time BETWEEN l_time - interval $window AND l_time"))
  }

  /** `endOfSet()` parity: per micro-batch, render the current gauge updates
    * to Prometheus exposition text and hand them to `push` (a PushGateway
    * client in production; a collector in tests).
    */
  def expositionSink(
      gauges: Dataset[GaugeOut],
      push: Array[String] => Unit): DataStreamWriter[GaugeOut] =
    gauges.writeStream
      .outputMode("update")
      .foreachBatch { (batch: Dataset[GaugeOut], _: Long) =>
        // the state output carries the rendered series KEY, not the
        // label map — recover the pairs (the key preserves their sorted
        // order and is injective since the r16 escape) and render each
        // line with promRender's driver twin; the collect is the
        // already-registry-sized batch of changed series
        val lines = batch.collect().map { g =>
          Firehose.renderLineStr(
            g.component, g.name, Firehose.parseSeriesKey(g.series),
            g.last_value, g.last_ts)
        }
        push(lines)
      }

  /** Marker file stamping the series-key FORMAT into a Structured
    * Streaming checkpoint directory.
    */
  private val KeyFormatMarker = "_graft_key_format"

  /** Refuse a streaming checkpoint whose state was keyed under another
    * series-key format — the streaming twin of the registry
    * checkpoint's `ckpt.keyFormat` refusal (r16 ADVICE). The stateful
    * operators here key their state by the RENDERED series string
    * ([[gaugeLatest]]'s `groupByKey` et al.), so a checkpoint written
    * before the r16 escaped identity ("esc1"), restored under it,
    * silently SPLITS any series whose labels contain `\` `=` `,` — the
    * old-key state entry is orphaned until timeout and counter/increase
    * folds restart from zero — and [[Firehose.parseSeriesKey]]
    * mis-splits the old unescaped keys in the exposition sink.
    *
    * Call before `.start()` with the query's checkpoint location:
    *  - fresh directory → stamps `_graft_key_format` with
    *    [[Firehose.SeriesKeyFormat]] and proceeds;
    *  - marker present and equal → proceeds (normal restart);
    *  - marker present and DIFFERENT, or state present with NO marker
    *    (a pre-stamp checkpoint — necessarily pre-esc1) → refuses
    *    loudly. Streaming state is an opaque RocksDB/HDFS snapshot, so
    *    unlike the registry there is no recompute path: the operator
    *    must discard the checkpoint (re-ingest rebuilds state) or keep
    *    running the old binary.
    */
  def ensureCheckpointKeyFormat(
      spark: SparkSession, checkpointDir: String): Unit = {
    val dir = new org.apache.hadoop.fs.Path(checkpointDir)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val marker = new org.apache.hadoop.fs.Path(dir, KeyFormatMarker)
    if (fs.exists(marker)) {
      val in = fs.open(marker)
      val got =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
        finally in.close()
      if (got != Firehose.SeriesKeyFormat)
        throw new IllegalStateException(
          s"streaming checkpoint $checkpointDir was written under series-" +
            s"key format '$got' but this engine writes " +
            s"'${Firehose.SeriesKeyFormat}': state keyed by the old " +
            "rendering cannot be restored (series would split). Discard " +
            "the checkpoint directory and re-ingest, or run the old build.")
    } else if (fs.exists(new org.apache.hadoop.fs.Path(dir, "offsets"))) {
      // a populated checkpoint with no stamp predates the marker —
      // and therefore predates the esc1 key format
      throw new IllegalStateException(
        s"streaming checkpoint $checkpointDir has state but no " +
          s"$KeyFormatMarker stamp: it predates series-key format " +
          s"'${Firehose.SeriesKeyFormat}' and cannot be restored " +
          "(series keyed under the old rendering would split). Discard " +
          "the checkpoint directory and re-ingest.")
    } else {
      fs.mkdirs(dir)
      val out = fs.create(marker, false)
      try out.write(
        (Firehose.SeriesKeyFormat + "\n").getBytes("UTF-8"))
      finally out.close()
    }
  }
}
