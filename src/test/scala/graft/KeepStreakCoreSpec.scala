package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.KeepStreakCore

/** The pure keep_firing_for fold, property-tested against a SEQUENTIAL
  * reference state machine (the same one that pins the batch
  * evaluator's sessionized plan): for random breach patterns, random
  * batch splits, and random watermark advances, the core's cumulative
  * emissions must equal the machine's fires over the DECIDED prefix —
  * exactly once, never retracted, regardless of how the stream was
  * chopped into micro-batches.
  */
class KeepStreakCoreSpec extends AnyFunSuite {

  private val step = 60L

  /** The reference: Prometheus's machine over a dense grid. `pattern(p)`
    * is Some(value) at breach points. Returns fires (win → value).
    */
  private def machine(
      pattern: Seq[Option[Double]], k: Int, keepSec: Long): Map[Long, Double] = {
    var s = 0
    var firing = false
    var lastTrue = -1
    var lastVal = 0.0
    val want = Map.newBuilder[Long, Double]
    for (p <- pattern.indices) {
      val cond = pattern(p).nonEmpty
      if (cond) {
        s += 1
        if (firing || s >= k) {
          firing = true; lastTrue = p; lastVal = pattern(p).get
        }
      } else {
        s = 0
        if (firing && (p - lastTrue) * step > keepSec) firing = false
      }
      if (firing) want += (p * step) -> (if (cond) pattern(p).get else lastVal)
    }
    want.result()
  }

  test("random patterns × batchings × watermark advances match the " +
      "reference machine on the decided prefix, exactly once") {
    val seeds = sys.env.get("GRAFT_FUZZ_SEED")
      .map(s => Seq(s.toLong)).getOrElse(Seq(3L, 47L))
    for (seed <- seeds) {
      val rnd = new scala.util.Random(seed)
      for (iter <- 0 until 200) {
        val n = 8 + rnd.nextInt(20)
        val k = 1 + rnd.nextInt(3)
        val keepSec = rnd.nextInt(4) * step
        val pattern: Seq[Option[Double]] =
          (0 until n).map(p =>
            if (rnd.nextBoolean()) Some(10.0 + p) else None)
        val breaches = pattern.zipWithIndex.collect {
          case (Some(v), p) => (p * step, v)
        }
        // a stream has no "end of pattern": the keep tail extends past
        // the last breach, so the reference grid must too (pad with
        // absent points until any firing must have died)
        val want = machine(
          pattern ++ Seq.fill((keepSec / step).toInt + 1)(None), k, keepSec)
        // the upstream contract: window w's row arrives exactly in the
        // batch where the watermark first reaches w + step (append-mode
        // closure) — batching randomness comes from the wm's step sizes
        var st = KeepStreakCore.empty
        val got = scala.collection.mutable.Map.empty[Long, Double]
        var idx = 0
        var wm = 0L
        while (wm < (n + 4) * step) {
          wm += step * (1 + rnd.nextInt(3))
          val due = breaches.drop(idx).takeWhile(_._1 + step <= wm)
          idx += due.length
          val r = KeepStreakCore.step(st, due, wm, step, k, keepSec)
          st = r.state
          r.emits.foreach { case (w, v) =>
            assert(!got.contains(w),
              s"seed $seed iter $iter: window $w emitted twice")
            assert(want.get(w).contains(v),
              s"seed $seed iter $iter k=$k keep=$keepSec pattern=" +
                pattern.map(_.fold("·")(_ => "T")).mkString +
                s": bad emit ($w, $v); want ${want.get(w)}")
            got(w) = v
          }
        }
        // the stream drained with wm past everything: the emitted set is
        // exactly the machine's fires
        assert(got.keySet === want.keySet,
          s"seed $seed iter $iter k=$k keep=$keepSec pattern=" +
            pattern.map(_.fold("·")(_ => "T")).mkString +
            s" missing=${(want.keySet -- got.keySet).toSeq.sorted}" +
            s" extra=${(got.keySet -- want.keySet).toSeq.sorted}")
      }
    }
  }

  test("a breach exactly keep + step after the last one re-arms firing " +
      "(the boundary the batch fuzz pinned)") {
    // breaches at 0, 60, then 240 with keep = 120: false points 120
    // (d=60 ≤ keep) and 180 (d=120 ≤ keep) keep it alight, so 240
    // re-arms WITHOUT completing a fresh streak (k = 2)
    val r = KeepStreakCore.step(KeepStreakCore.empty,
      Seq((0L, 1.0), (60L, 2.0), (240L, 3.0)), 600L, 60L, 2, 120L)
    assert(r.emits === Seq(
      (60L, 2.0), (120L, 2.0), (180L, 2.0), (240L, 3.0),
      (300L, 3.0), (360L, 3.0)))
    assert(!r.state.firing) // 420 decided false, > keep past 240
    // one step further apart and the chain breaks: 300 is > keep past
    // 60, so firing dies and the lone breach at 300 only re-pends
    val r2 = KeepStreakCore.step(KeepStreakCore.empty,
      Seq((0L, 1.0), (60L, 2.0), (300L, 3.0)), 600L, 60L, 2, 120L)
    assert(r2.emits === Seq((60L, 2.0), (120L, 2.0), (180L, 2.0)))
  }
}
