package graft.streaming

/** The pure per-series folds: the incremental decision rules for
  * counter increase, resets/changes, absent, gap fill and keep_firing_for
  * under micro-batches and a watermark. Each is Spark-free and
  * property-tested against its batch reference (random sample streams,
  * random batch splits, random in-watermark lateness). No streaming
  * operator calls them: the firehose deployment runs only the gauge
  * pipeline in [[FirehoseStream]].
  */

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

/** Per-series absent-alert state: `anchor` = newest window whose presence
  * is DECIDED (watermark passed its successor's end... strictly: the
  * newest present window at or below the decision horizon), `gapEmitted` =
  * whether the absent window right after the anchor has already been
  * emitted (a timer may decide it before any new traffic arrives), `live` =
  * present windows still above the horizon (a late-but-in-watermark sample
  * may still land in them).
  */
case class AbsentState(anchor: Long, gapEmitted: Boolean, live: Seq[Long])

/** The pure per-series absent-alert fold — the streaming decision rule for
  * [[graft.operators.Firehose.absentAlert]]'s semantics. A window w's
  * presence is final once `w + width <= wm` (the watermark admits no more
  * samples for it); a gap between consecutive FINAL present windows emits
  * its first missing window exactly once, and a series that goes silent
  * emits `anchor + width` once the watermark passes that window's end
  * (`anchor + 2·width <= wm`).
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

/** The pure per-series gap-fill fold (the incremental form of the batch
  * [[graft.operators.Firehose.gapFill]] grid): slots emit in ascending
  * order once the watermark passes their end AND a sample at or beyond
  * them exists (forward fill needs a value below, and the grid must not
  * outrun the last real sample); a slot with samples takes its
  * max-by-(ts, id) value (`filled=false`), an empty slot carries the last
  * value forward (`filled=true`).
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

/** The pure per-series counter-increase fold (the incremental form of the
  * batch [[graft.operators.Firehose.counterIncrease]]).
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
    * re-emit the same window; mid-stream, open windows stay in state until
    * the watermark closes them.
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

/** Pure per-series fold for Prometheus `resets()`/`changes()` — the
  * incremental form of [[graft.operators.Firehose.resetsChanges]].
  * Same buffering discipline as [[IncreaseCore]]: in-watermark samples are
  * re-folded from the anchor each step, the below-watermark prefix freezes
  * into cumulative counts.
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

/** Per-series keep_firing_for streak state: the breach-consecutiveness
  * pair, plus — while firing — the last breach (window, value) and the
  * highest window emitted (breach or keep-tail), the exactly-once
  * guard.
  */
final case class KeepStreakState(
    lastWin: Long, streak: Int,
    firing: Boolean, lastBreach: Long, lastVal: Double, emitted: Long)

/** The PURE keep_firing_for fold over CLOSED breach windows — the
  * incremental form of the batch evaluator's sessionized encoding
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

  /** The count of consecutive breaching windows once `win` breaches. A gap
    * in the `stepSec` grid — a window with no row, or one that did not
    * breach — restarts the count at 1: the batch rule evaluator's
    * `lag(k-1)` presence rule.
    */
  private def streakAfter(lastWin: Long, streak: Int, win: Long, stepSec: Long): Int =
    if (lastWin == win - stepSec && streak > 0) streak + 1 else 1

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
