package graftbench

/** Checks of the benchmark itself, without Spark: generator determinism per
  * seed and the reference models on inputs small enough to work by hand.
  * Prints one line per check; returns 0 when all pass.
  */
object SelfTest {

  private var failures = 0
  private def check(name: String)(ok: => Boolean): Unit = {
    val r = try ok catch { case e: Exception => println(s"  ($e)"); false }
    println(s"${if (r) "ok  " else "FAIL"} $name")
    if (!r) failures += 1
  }

  def run(): Int = {
    val spec = Main.FirehoseSpec.copy(series = 50, eventsPerFile = 200, malformedPerFile = 4)

    check("firehose files are a function of the seed") {
      Gen.firehoseFile(7, spec, 3) == Gen.firehoseFile(7, spec, 3) &&
        Gen.firehoseFile(7, spec, 3).lines != Gen.firehoseFile(8, spec, 3).lines
    }
    check("firehose files carry the declared malformed lines and late samples") {
      val f = Gen.firehoseFile(7, spec.copy(latePermille = 200), 2)
      val base = spec.t0 + 2 * spec.spanSec
      f.lines.size == 204 && f.malformed == 4 && f.lines.count(_.contains("\"unit\":\"bytes\"")) >= 200 &&
        f.events.exists(_.ts < base) && f.events.forall(e => e.ts >= base - 120 && e.ts < base + spec.spanSec)
    }
    check("prometheus history is a function of the seed") {
      val a = new Gen.PromData(5, Main.PromSpec, 10)
      val b = new Gen.PromData(5, Main.PromSpec, 10)
      val c = new Gen.PromData(6, Main.PromSpec, 10)
      a.body(0, 10) == b.body(0, 10) && a.body(0, 10) != c.body(0, 10)
    }

    check("gauge model keeps the latest sample by (ts, id), late samples included") {
      val m = new Gen.GaugeModel
      def e(id: String, ts: Long, v: Double) = Gen.Event(id, "broker", "lag", ts, "h0", "1", v)
      m.add(Seq(e("a", 100, 1.0), e("b", 90, 2.0)))  // b is late: loses
      m.add(Seq(e("c", 100, 3.0)))                    // same ts, larger id: wins
      m.add(Seq(e("a2", 99, 4.0)))                    // late: loses
      m.expected == Map("""broker_lag{host="h0",part="1"}""" -> ((3.0, 100000L)))
    }
    check("exposition parser splits on the last two spaces") {
      Gen.parseExposition("# HELP x\na{k=\"v w\"} 1.5 1000\nb 2.0 2000\n") ==
        Map("a{k=\"v w\"}" -> ((1.5, 1000L)), "b" -> ((2.0, 2000L)))
    }

    // two series of one job, four ticks 15 s apart; the counter resets at tick 3
    val tiny = new Gen.PromData(1, Gen.PromSpec(jobs = 1, instances = 2, stepSec = 15, t0 = 1000L), 4) {
      override val counter: Array[Array[Double]] = Array(Array(10.0, 15.0, 25.0, 4.0), Array(0.0, 1.0, 2.0, 3.0))
    }
    check("rate model: interior deltas, reset reads as the new value, divided by the range") {
      // window (1045 - 30, 1045] holds ticks 2 and 3 only: series 0 → 4 (reset), series 1 → 1
      val r = tiny.rateByJob(1045L, 30L, 4)
      Gen.close(r("j0"), (4.0 + 1.0) / 30.0)
    }
    check("rate model: the window's first sample contributes nothing") {
      // window (1015 - 300, 1015] holds ticks 0 and 1: series 0 → 5, series 1 → 1
      Gen.close(tiny.rateByJob(1015L, 300L, 4)("j0"), 6.0 / 300.0)
    }
    check("counter view: tumbling windows, first-ever sample contributes 0") {
      // windows of 30 s: [990,1020) holds ticks 0,1 (t=1000,1015); [1020,1050) ticks 2,3
      val v = tiny.counterRateView(30L, 4)
      Gen.close(v(("instance=i0,job=j0", 990L)), 5.0 / 30) && Gen.close(v(("instance=i0,job=j0", 1020L)), 14.0 / 30) &&
        Gen.close(v(("instance=i1,job=j0", 990L)), 1.0 / 30) && Gen.close(v(("instance=i1,job=j0", 1020L)), 2.0 / 30)
    }
    check("cpu view sums every sample of the job per tumbling window") {
      val v = tiny.cpuSumView(30L, 4)
      Gen.close(v(("j0", 990L)), (0 to 1).map(k => tiny.cpu(0)(k) + tiny.cpu(1)(k)).sum) && v.size == 2
    }
    check("quantile interpolates like numpy") {
      Stats.quantile(Seq(1.0, 2.0, 3.0, 4.0), 0.5) == 2.5 && Stats.quantile(Seq(1.0, 2.0, 3.0, 4.0, 5.0), 0.9) == 4.6
    }
    check("stolen share is steal over steal plus busy ticks; an empty interval reads 0") {
      Proc.stolenShare(Proc.Ticks(100, 10), Proc.Ticks(400, 110)) == 0.25 &&
        Proc.stolenShare(Proc.Ticks(5, 5), Proc.Ticks(5, 5)) == 0.0
    }
    if (failures == 0) 0 else 1
  }
}
