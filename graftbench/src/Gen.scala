package graftbench

/** Seeded input generators and the reference models the benchmark checks
  * graft's answers against. Pure Scala: no Spark, no graft classes, so the
  * models are independent of the code under test.
  */
object Gen {

  /** splitmix64: small, fast, and identical on every JVM. */
  final class Rng(seed: Long) {
    private var s = seed
    def nextLong(): Long = {
      s += 0x9E3779B97F4A7C15L
      var z = s
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    def nextInt(n: Int): Int = java.lang.Long.remainderUnsigned(nextLong(), n.toLong).toInt
    def nextDouble(): Double = (nextLong() >>> 11).toDouble / (1L << 53).toDouble
  }

  /** A stable sub-seed for one part of a run's inputs. */
  def mix(seed: Long, parts: Long*): Long =
    parts.foldLeft(seed * 0x2545F4914F6CDD1DL + 0x632BE59BD9B4E019L) { (a, p) =>
      new Rng(a ^ (p * 0x9E3779B97F4A7C15L)).nextLong()
    }

  // ───────────────────────── firehose JSON lines ─────────────────────────

  final case class FirehoseSpec(
      series: Int, eventsPerFile: Int, malformedPerFile: Int,
      latePermille: Int, spanSec: Int, zipfS: Double, t0: Long)

  final case class Event(
      id: String, component: String, name: String, ts: Long,
      host: String, part: String, value: Double) {
    /** The exposition series the gauge registry keys this event under. */
    def seriesLine: String =
      s"""${component}_$name{host="$host",part="$part"}"""
  }

  final case class FirehoseFile(index: Int, lines: Vector[String], events: Vector[Event], malformed: Int)

  private val Components = Vector("broker", "connect", "ksql")
  private val Names = Vector("bytes_in", "bytes_out", "lag", "requests", "errors")

  /** Series `s` → its fixed identity; injective through (host, part). */
  private def seriesOf(s: Int): (String, String, String, String) =
    (Components(s % Components.size), Names(s % Names.size), "h" + (s / 8), (s % 8).toString)

  private def zipfCdf(n: Int, s: Double): Array[Double] = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x; acc / total }
  }

  private def pick(cdf: Array[Double], u: Double): Int = {
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(if (i >= 0) i else -i - 1, cdf.length - 1)
  }

  def eventJson(e: Event): String =
    s"""{"id":"${e.id}","name":"${e.name}","timestamp":${e.ts},"component":"${e.component}",""" +
      s""""tags":{"host":"${e.host}","part":"${e.part}","unit":"bytes"},"value":${e.value},""" +
      """"window":{"from":0,"to":0,"interval":60}}"""

  /** File `index` of the seeded firehose: Zipf-skewed series, a share of
    * samples late by up to two minutes (well inside the ten-minute
    * watermark), the filtered `unit` tag on every event, and a few lines
    * the parser must drop.
    */
  def firehoseFile(seed: Long, spec: FirehoseSpec, index: Int): FirehoseFile = {
    val rng = new Rng(mix(seed, 1, index))
    val cdf = zipfCdf(spec.series, spec.zipfS)
    // a seeded permutation, so the hot series differ between seeds
    val perm = {
      val p = Array.tabulate(spec.series)(identity)
      val r = new Rng(mix(seed, 2))
      for (i <- p.indices.reverse) {
        val j = r.nextInt(i + 1); val t = p(i); p(i) = p(j); p(j) = t
      }
      p
    }
    val base = spec.t0 + index.toLong * spec.spanSec
    val events = Vector.tabulate(spec.eventsPerFile) { i =>
      val s = perm(pick(cdf, rng.nextDouble()))
      val (c, n, h, p) = seriesOf(s)
      val late = rng.nextInt(1000) < spec.latePermille
      val ts = if (late) base - 1 - rng.nextInt(120) else base + rng.nextInt(spec.spanSec)
      Event(f"e$index%05d-$i%06d", c, n, ts, h, p, rng.nextInt(400000) / 4.0)
    }
    val bad = Vector(
      """{"id":"broken","name":"bytes_in","timestamp":""",
      "this is not json",
      """{"name":"bytes_in","timestamp":1,"component":"broker","tags":{},"value":1.0}""",
      """{"id":"noname","timestamp":1,"component":"broker","value":2.0}""")
    val malformed = Vector.tabulate(spec.malformedPerFile)(i => bad(i % bad.size))
    // malformed lines land at seeded positions among the good ones
    val lines = (events.map(eventJson) ++ malformed)
      .map(l => (rng.nextLong(), l)).sortBy(_._1).map(_._2)
    FirehoseFile(index, lines, events, malformed.size)
  }

  /** Reference gauge registry: the latest sample of every series by
    * (timestamp, id), as `seriesLine → (value, ts millis)`.
    */
  final class GaugeModel {
    private val best = scala.collection.mutable.HashMap.empty[String, Event]
    def add(events: Iterable[Event]): Unit = events.foreach { e =>
      best.get(e.seriesLine) match {
        case Some(b) if b.ts > e.ts || (b.ts == e.ts && b.id >= e.id) => ()
        case _ => best(e.seriesLine) = e
      }
    }
    def expected: Map[String, (Double, Long)] =
      best.iterator.map { case (k, e) => k -> ((e.value, e.ts * 1000L)) }.toMap
  }

  /** Parse a text exposition body into `series → (value, ts millis)`. */
  def parseExposition(body: String): Map[String, (Double, Long)] =
    body.split('\n').iterator.filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
      val tsSep = l.lastIndexOf(' ')
      val vSep = l.lastIndexOf(' ', tsSep - 1)
      l.substring(0, vSep) -> ((l.substring(vSep + 1, tsSep).toDouble, l.substring(tsSep + 1).toLong))
    }.toMap

  /** Differences between a scraped registry and the model (empty = equal). */
  def diffGauges(got: Map[String, (Double, Long)], want: Map[String, (Double, Long)]): Seq[String] = {
    val missing = want.keySet -- got.keySet
    val extra = got.keySet -- want.keySet
    val wrong = want.collect { case (k, v) if got.get(k).exists(_ != v) => s"$k: got ${got(k)} want $v" }
    missing.toSeq.sorted.take(3).map("missing " + _) ++
      extra.toSeq.sorted.take(3).map("unexpected " + _) ++ wrong.toSeq.sorted.take(3)
  }

  // ──────────────────────── Prometheus scrape history ────────────────────────

  final case class PromSpec(jobs: Int, instances: Int, stepSec: Int, t0: Long) {
    def series: Int = jobs * instances
  }

  /** Two metrics per (job, instance): the gauge `cpu_usage` (multiples of
    * 0.25, so sums are exact) and the counter `http_requests_total`, which
    * resets now and then.
    */
  class PromData(seed: Long, val spec: PromSpec, ticks: Int) {
    def tickTs(k: Int): Long = spec.t0 + k.toLong * spec.stepSec
    def job(s: Int): String = "j" + (s / spec.instances)
    def instance(s: Int): String = "i" + (s % spec.instances)
    val cpu: Array[Array[Double]] = Array.tabulate(spec.series) { s =>
      val r = new Rng(mix(seed, 10, s))
      Array.fill(ticks)(r.nextInt(4000) / 4.0)
    }
    val counter: Array[Array[Double]] = Array.tabulate(spec.series) { s =>
      val r = new Rng(mix(seed, 11, s))
      var v = r.nextInt(1000).toDouble
      Array.fill(ticks) {
        v = if (r.nextInt(200) == 0) r.nextInt(20).toDouble else v + r.nextInt(50)
        v
      }
    }
    private def labels(s: Int) = s"""{instance="${instance(s)}",job="${job(s)}"}"""
    /** Text exposition of ticks [from, until), one line per sample. */
    def body(from: Int, until: Int): String = {
      val sb = new StringBuilder
      for (k <- from until until; s <- 0 until spec.series) {
        val ms = tickTs(k) * 1000L
        sb.append("cpu_usage").append(labels(s)).append(' ').append(cpu(s)(k)).append(' ').append(ms).append('\n')
        sb.append("http_requests_total").append(labels(s)).append(' ').append(counter(s)(k)).append(' ').append(ms).append('\n')
      }
      sb.toString
    }
    def samples(from: Int, until: Int): Int = 2 * spec.series * (until - from)

    /** `sum by (job) (cpu_usage)` at tick `k` (every series is sampled at
      * every tick, so the lookback always lands on tick k itself).
      */
    def cpuSumByJob(k: Int): Map[String, Double] =
      (0 until spec.series).groupBy(job).map { case (j, ss) => j -> ss.map(cpu(_)(k)).sum }

    /** `sum by (job) (rate(http_requests_total[rangeSec]))` at `t`, over
      * ticks [0, known): graft's non-extrapolated rate — the summed
      * reset-corrected deltas between consecutive samples that both lie in
      * (t − range, t], divided by the range.
      */
    def rateByJob(t: Long, rangeSec: Long, known: Int): Map[String, Double] = {
      val inWin = (0 until known).filter(k => tickTs(k) > t - rangeSec && tickTs(k) <= t)
      if (inWin.isEmpty) return Map.empty
      (0 until spec.series).groupBy(job).map { case (j, ss) =>
        j -> ss.map { s =>
          inWin.sliding(2).collect { case Seq(a, b) =>
            val d = counter(s)(b) - counter(s)(a)
            if (d < 0) counter(s)(b) else d
          }.sum
        }.sum / rangeSec
      }
    }

    /** The recorded view of `sum by (job) (sum_over_time(cpu_usage[R]))`
      * over ticks [0, known): tumbling windows `ts - ts % R`.
      */
    def cpuSumView(rangeSec: Long, known: Int): Map[(String, Long), Double] =
      (for (k <- 0 until known; s <- 0 until spec.series)
        yield ((job(s), tickTs(k) - tickTs(k) % rangeSec), cpu(s)(k)))
        .groupMapReduce(_._1)(_._2)(_ + _)

    /** The recorded view of `rate(http_requests_total[R])` over ticks
      * [0, known): per series and tumbling window, the summed
      * reset-corrected increase (a series' first sample contributes 0)
      * divided by R. Keys are (graft series key, window start).
      */
    def counterRateView(rangeSec: Long, known: Int): Map[(String, Long), Double] =
      (for (s <- 0 until spec.series; k <- 0 until known) yield {
        val inc =
          if (k == 0) 0.0
          else {
            val d = counter(s)(k) - counter(s)(k - 1)
            if (d < 0) counter(s)(k) else d
          }
        ((s"instance=${instance(s)},job=${job(s)}", tickTs(k) - tickTs(k) % rangeSec), inc)
      }).groupMapReduce(_._1)(_._2)(_ + _).map { case (k, v) => k -> v / rangeSec }
  }

  /** Closeness for rate figures: graft rounds each series' rate to six
    * decimals (decimal(18,6)) before summing a job's series, the model
    * sums exact doubles, so a job sum may differ by series × 5e-7.
    */
  def close(a: Double, b: Double): Boolean =
    math.abs(a - b) <= 1e-4 + 1e-9 * math.max(math.abs(a), math.abs(b))

  def diffValues[K](got: Map[K, Double], want: Map[K, Double]): Seq[String] = {
    val missing = want.keySet -- got.keySet
    val extra = got.keySet -- want.keySet
    val wrong = want.collect { case (k, v) if got.get(k).exists(g => !close(g, v)) => s"$k: got ${got(k)} want $v" }
    missing.toSeq.map(_.toString).sorted.take(3).map("missing " + _) ++
      extra.toSeq.map(_.toString).sorted.take(3).map("unexpected " + _) ++
      wrong.toSeq.sorted.take(3)
  }
}
