package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.Sessions

/** The benchmark's JVM: hosts graft, drives one workload closed-loop, checks
  * every answer, and prints one `GRAFTBENCH_RESULT {json}` line.
  *
  * {{{
  * graftbench.Main run --workload firehose|query|ingest --seed N --seconds S
  *                     --trace 0|1 --work DIR
  * graftbench.Main smoke --seed N --work DIR
  * graftbench.Main selftest
  * }}}
  */
object Main {

  val Workloads: Seq[String] = Seq("firehose", "query", "ingest")

  /** The workload whose ops a per-layer metric is read from. Metrics of no
    * single workload (Spark, HTTP totals, JVM) come from the run's own.
    */
  def owner(metric: String): Option[String] = metric match {
    case m if Seq("stream.", "state.", "registry.update", "registry.render", "sink.", "scrape.", "parse.")
        .exists(m.startsWith) => Some("firehose")
    case m if Seq("promql.", "query.", "catalyst.", "storage.files_", "storage.prune", "storage.rows_",
        "http.overhead_", "http.response_", "registry.fastpath").exists(m.startsWith)
        && m != "http.overhead_ms" && m != "http.response_kb" => Some("query")
    case m if Seq("ingest.", "ivm.", "storage.", "registry.refresh").exists(m.startsWith) => Some("ingest")
    case _ => None
  }

  /** Ops per workload in a traced run's tour of the other workloads. */
  val TourOps = 3

  /** Setups per untraced run; setup_s is their median. */
  val SetupReps = 3

  final case class Sizing(ops: Int, warm: Int)

  /** Ops per run: a fixed rate times the measuring seconds, so two builds
    * given the same --seconds do exactly the same work.
    */
  def sizing(workload: String, seconds: Int): Sizing = workload match {
    case "firehose" => Sizing(math.max(4, seconds * 6 / 5), 10)
    case "query" => Sizing(math.max(3, seconds * 11 / 20), 8)
    case "ingest" => Sizing(math.max(4, seconds), 10)
  }

  val FirehoseSpec = Gen.FirehoseSpec(series = 2000, eventsPerFile = 20000, malformedPerFile = 4,
    latePermille = 50, spanSec = 60, zipfS = 1.1, t0 = 1700000000L)
  val PromSpec = Gen.PromSpec(jobs = 4, instances = 25, stepSec = 15, t0 = 1700000000L)
  val QueryHistory = (160, 2)  // forty minutes of 15 s ticks in two bulk commits
  val IngestHistory = (80, 2)
  val MaintEvery = 8

  def load(workload: String, spark: SparkSession, work: Path, seed: Long, traced: Boolean,
      totalOps: Int, maintEvery: Int = MaintEvery): Load = workload match {
    case "firehose" => new FirehoseLoad(spark, work, seed, traced, FirehoseSpec)
    case "query" => new QueryLoad(spark, work, seed, PromSpec, QueryHistory._1, QueryHistory._2)
    case "ingest" => new IngestLoad(spark, work, seed, PromSpec, IngestHistory._1, IngestHistory._2,
      totalOps, maintEvery, traced)
  }

  private def arg(args: Array[String], name: String, default: String): String = {
    val i = args.indexOf(name)
    if (i >= 0 && i + 1 < args.length) args(i + 1) else default
  }

  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("")
    val code =
      try mode match {
        case "run" => run(args)
        case "smoke" => smoke(args)
        case "selftest" => SelfTest.run()
        case _ =>
          System.err.println("usage: graftbench.Main run|smoke|selftest [options]"); 2
      } catch {
        case e: Throwable => e.printStackTrace(); 1
      }
    System.out.flush()
    // Spark's non-daemon threads must not keep the JVM alive
    Runtime.getRuntime.halt(code)
  }

  private def cores: Int = Runtime.getRuntime.availableProcessors()

  private def session(): SparkSession = {
    val spark = Sessions.local(cores, "graftbench")
    Trace.install(spark)
    spark
  }

  /** A few ops of every workload, traced, each answer checked. */
  def smoke(args: Array[String]): Int = {
    val seed = arg(args, "--seed", "1").toLong
    val work = Paths.get(arg(args, "--work", "graftbench-work"))
    val spark = session()
    Trace.enabled = true
    var failed = 0
    for (w <- Workloads) {
      val l = load(w, spark, work.resolve(s"smoke-$w"), seed, traced = true, totalOps = 4, maintEvery = 2)
      l.setup(0).foreach { e => failed += 1; System.err.println(s"[smoke] $w setup FAILED: $e") }
      for (i <- 0 until 4) {
        Trace.beginOp(i)
        val op = l.op(i)
        Trace.endOp(spark)
        op.error.foreach { e => failed += 1; System.err.println(s"[smoke] $w op $i FAILED: $e") }
        println(f"[smoke] $w op $i ${op.ms}%.1f ms ${if (op.error.isEmpty) "ok" else "FAILED"}")
      }
      l.teardown()
    }
    spark.stop()
    if (failed == 0) 0 else 1
  }

  def run(args: Array[String]): Int = {
    val workload = arg(args, "--workload", "")
    require(Workloads.contains(workload), s"unknown workload '$workload' (${Workloads.mkString("|")})")
    val seed = arg(args, "--seed", "1").toLong
    val seconds = arg(args, "--seconds", "10").toInt
    val traced = arg(args, "--trace", "0") == "1"
    val work = Paths.get(arg(args, "--work", "graftbench-work"))
    val commit = arg(args, "--commit", "unknown")
    val startMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val sz = sizing(workload, seconds)
    val spark = session()
    val errors = mutable.ArrayBuffer.empty[String]
    var attempted = 0
    def record(op: Op): Op = {
      attempted += 1
      op.error.foreach(errors += _)
      op
    }

    // Set up several times; the last setup serves the warm-up ops and then
    // the measured ops. A traced run reports no setup time and sets up once.
    val l = load(workload, spark, work.resolve(workload), seed, traced, sz.warm + sz.ops)
    // setup and warm-up answers are checked too; a wrong one is a failed op
    def recordError(e: Option[String]): Unit = { attempted += 1; e.foreach(errors += _) }
    // Every wall time is reported with the share of CPU time the hypervisor
    // stole over it taken out (Proc.stolenShare): steal on a shared host
    // comes and goes over minutes and moves wall times by up to 2x.
    val setups = (0 until (if (traced) 1 else SetupReps)).map { r =>
      if (r > 0) l.teardown()
      val (e, s, share) = Proc.measure(l.setup(r))
      recordError(e)
      (s, share)
    }
    val setupS = setups.map { case (s, share) => s * (1 - share) }
    // warm-up ops carry negative indices: no tracing, no maintenance
    val warmMs = (0 until sz.warm).map(i => record(l.op(-2 - i)).ms)
    recordError(l.warmed())
    val firstOpS = (System.currentTimeMillis() - startMs) / 1000.0

    // the measured window; a traced run traces every other op, so the
    // untraced ones give the tracing overhead
    val cpu0 = Proc.cpuNs; val gc0 = Proc.gcMs; val steal0 = Proc.stealS; val psi0 = Proc.cpuPressureS
    val gen0 = l.genMs
    val wall0 = System.nanoTime()
    val ticks0 = Proc.ticks
    val ops = (0 until sz.ops).map { i =>
      val on = traced && i % 2 == 0
      Trace.enabled = on
      Trace.beginOp(i)
      val (op, _, share) = Proc.measure(record(l.op(i)))
      Trace.endOp(spark)
      Trace.enabled = false
      (op, on, share)
    }
    val wallS = (System.nanoTime() - wall0) / 1e9
    val wallShare = Proc.stolenShare(ticks0, Proc.ticks)
    def unstolen(op: Op, share: Double) =
      op.copy(ms = op.ms * (1 - share), classes = op.classes.map { case (c, ms) => c -> ms * (1 - share) })
    val cpuMs = (Proc.cpuNs - cpu0) / 1e6
    val gcMs = (Proc.gcMs - gc0).toDouble
    val genMs = l.genMs - gen0
    val stealS = Proc.stealS - steal0
    val psiS = Proc.cpuPressureS - psi0
    val base = ops.filterNot(_._2).map { case (op, _, share) => unstolen(op, share) }
    val lat = base.map(_.ms)
    def q(xs: Seq[Double], p: Double) = if (xs.isEmpty) Double.NaN else Stats.quantile(xs, p)

    // the RSS peak follows G1's timing-driven heap growth more than graft
    // (see README), so the gated memory figure is the live heap after a
    // full GC; the peak is reported beside it
    val rssPeakMb = Proc.rssPeakMb
    val e2e = Map(
      "setup_s" -> Stats.median(setupS),
      "heap_live_mb" -> Proc.heapLiveMb,
      "cpu_ms_per_op" -> cpuMs / sz.ops,
      "op_p50_ms" -> q(lat, 0.5),
      "samples_per_s" -> ops.map(_._1.samples).sum / (wallS * (1 - wallShare)))

    // per-class and per-workload names of the same figures, and the wall
    // figures as measured, for the human report
    val detail = mutable.LinkedHashMap[String, Double]("rss_peak_mb" -> rssPeakMb,
      "stolen_share" -> wallShare,
      "wall_op_p50_ms" -> q(ops.filterNot(_._2).map(_._1.ms), 0.5),
      "wall_samples_per_s" -> ops.map(_._1.samples).sum / wallS)
    workload match {
      case "query" =>
        for (c <- Seq("selector", "instant", "range"); (p, n) <- Seq(0.5 -> "p50", 0.9 -> "p90"))
          detail(s"${c}_${n}_ms") = q(base.map(_.classes(c)), p)
      case _ =>
        detail("fresh_p50_ms") = e2e("op_p50_ms")
        detail("fresh_p90_ms") = q(lat, 0.9)
        detail("input_per_s") = e2e("samples_per_s")
    }
    l match {
      case g: IngestLoad => detail("maint_p50_ms") = q(g.maintMs.toSeq, 0.5)
      case _ =>
    }

    // traced run: the other workloads' layers come from a short traced tour
    val layers: Map[String, Double] =
      if (!traced) Map.empty
      else {
        val tracedLat = ops.filter(_._2).map { case (op, _, share) => unstolen(op, share).ms }
        Trace.enabled = true
        val tour = Workloads.filterNot(_ == workload).map { w =>
          val tl = load(w, spark, work.resolve(s"tour-$w"), seed, traced = true, totalOps = TourOps, maintEvery = 3)
          recordError(tl.setup(0))
          for (i <- 0 until TourOps) {
            Trace.beginOp(i)
            record(tl.op(i))
            Trace.endOp(spark)
          }
          tl.teardown()
          w -> (aggregate(tl) ++ tl.finish())
        }.toMap
        Trace.enabled = false
        val byWorkload = tour + (workload -> (aggregate(l) ++ l.finish()))
        val merged = mutable.Map[String, Double]()
        for ((w, figures) <- byWorkload; (name, v) <- figures if owner(name).getOrElse(workload) == w)
          merged(name) = v
        merged("jvm.gc_ms_per_op") = gcMs / sz.ops
        merged("client.gen_ms_per_op") = genMs / sz.ops
        merged("jvm.rss_peak_mb") = rssPeakMb
        merged("trace.overhead_pct") = (q(tracedLat, 0.5) / q(lat, 0.5) - 1.0) * 100.0
        merged.toMap
      }
    val failed = errors.size
    val spansFile = Paths.get(arg(args, "--results", work.toString)).resolve(s"spans-$workload-seed$seed.jsonl")
    if (traced) writeSpans(spansFile)
    val result = Map(
      "workload" -> workload, "seed" -> seed, "trace" -> traced,
      "attempted" -> attempted, "failed" -> failed, "errors" -> errors.take(5).toSeq,
      "end_to_end" -> e2e, "detail" -> detail, "per_layer" -> layers,
      "self_ms" -> (if (traced) Trace.selfMs else Map.empty[String, Double]),
      "meta" -> Map(
        "seed" -> seed, "commit" -> commit, "nproc" -> cores, "spark_cores" -> cores,
        "spark_master" -> spark.sparkContext.master,
        "jvm_flags" -> jvmFlags, "steal_s" -> stealS, "cpu_pressure_s" -> psiS,
        "measured_s" -> wallS, "ops" -> sz.ops, "warmup_ops" -> sz.warm, "setup_reps" -> SetupReps,
        "setup_s_each" -> setups.map(_._1), "setup_stolen_share" -> setups.map(_._2),
        "process_to_first_op_s" -> firstOpS,
        "op_ms" -> ops.map(_._1.ms), "op_stolen_share" -> ops.map(_._3),
        "warmup_op_ms" -> warmMs, "gen_ms" -> genMs,
        "spans_file" -> (if (traced) spansFile.toString else "")))
    println("GRAFTBENCH_RESULT " + Json.write(result))
    l.teardown()
    spark.stop()
    0
  }

  /** Mean per metric of one workload's per-op observations (many sources
    * tick in whole milliseconds, so means resolve what medians cannot);
    * the dropped-line count is a total.
    */
  private def aggregate(l: Load): Map[String, Double] = l.layer.synchronized {
    l.layer.map { case (k, xs) =>
      k -> (if (k == "parse.malformed_dropped") xs.sum else Stats.mean(xs.toSeq))
    }.toMap
  }

  private def jvmFlags: Seq[String] = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq
      .filter(a => a.startsWith("-X") || a.startsWith("-XX"))
  }

  private def writeSpans(path: Path): Unit = {
    val sb = new StringBuilder
    Trace.spans.synchronized {
      Trace.spans.foreach { s =>
        sb.append(Json.write(Map("op" -> s.op, "name" -> s.name, "start_ns" -> s.startNs,
          "end_ns" -> s.endNs, "parent" -> s.parent))).append('\n')
      }
    }
    Files.createDirectories(path.getParent)
    Files.write(path, sb.toString.getBytes("UTF-8"))
  }
}
