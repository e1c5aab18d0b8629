package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

object Bench {

  /** Per-query timings: `pass1` (the cold pass, a diagnostic) and
    * `results` (the minimum of three passes) hold only queries whose every
    * pass succeeded; a query that threw in any pass is listed in `failed`,
    * since its time-to-exception is not a measurement.
    */
  final case class Measured(
      pass1: Seq[(String, Double)], results: Seq[(String, Double)], failed: Seq[String])

  /** Three full interleaved passes, min per query: the box shows ±3x
    * noisy-neighbor variance, so back-to-back repeats of one query can both
    * land in the same noise window — separating the passes means a window
    * must span the whole bench to poison a query's minimum (two passes
    * still left the round-to-round ±5 s drift dominating attribution;
    * round 6's q21 "+45%" was pure noise). A failure is reported on
    * stderr and the query is not run again.
    */
  def measure(
      spark: SparkSession, sfDir: String,
      ordered: Seq[(String, (SparkSession, String) => DataFrame)]): Measured = {
    def timeOnce(name: String, fn: (SparkSession, String) => DataFrame): Option[Double] = {
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).count()
        Some((System.nanoTime() - t0) / 1e9)
      } catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: $e")
        None
      }
    }
    def pass(prev: Map[String, Option[Double]]): Map[String, Option[Double]] =
      ordered.map { case (name, fn) =>
        name -> (if (prev.get(name).exists(_.isEmpty)) None else timeOnce(name, fn))
      }.toMap
    val pass1 = pass(Map.empty)
    val pass2 = pass(pass1)
    val pass3 = pass(pass2)
    val names = ordered.map(_._1)
    val (ok, failed) = names.partition(n => pass3(n).isDefined)
    Measured(
      pass1 = ok.map(n => n -> pass1(n).get),
      results = ok.map(n => n -> Seq(pass1(n), pass2(n), pass3(n)).flatten.min),
      failed = failed)
  }

  def jsonMap(m: Seq[(String, Double)]): String =
    m.map { case (k, v) => s"\"" + k + "\":" + v }.mkString("{", ",", "}")

  def jsonList(xs: Seq[String]): String = xs.map(x => s"\"$x\"").mkString("[", ",", "]")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse(
      "SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // absorb one-time session/codegen/scan warm-up so per-query numbers
    // measure the queries, not JVM initialization
    Tables(spark, sfDir, "lineitem").count()
    operators.Firehose.metricsFromEvents(spark, sfDir).count()
    // optional arg: comma-separated query names to bench (default: all)
    val only = args.headOption.map(_.split(",").toSet)
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    val m = measure(spark, sfDir, ordered)
    val results = m.results
    val total = results.map(_._2).sum
    // pass1 (cold codegen/JIT/page-cache) kept as a diagnostic: when the min
    // diverges wildly from past rounds, pass1-vs-min shows whether warm-up or
    // sustained contention is to blame. The reported `queries` dict goes
    // LAST so a consumer that truncates the line's head still sees the
    // numbers that matter; the full line is also written to
    // target/bench.json for untruncated reads.
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","sf":"$sfDir","failed":${jsonList(m.failed)},"pass1":${jsonMap(m.pass1)},"queries":${jsonMap(results)}}"""
    println(line)
    // the headline LAST as its own short line: the driver's record keeps a
    // bounded TAIL of stdout, which truncates the (multi-KB, 140-query)
    // detail line from the FRONT — so total + count + the slowest queries
    // must come after it to survive. Distinct metric name + kind
    // discriminator so a line-by-line scanner for "metric":"total" can
    // never read the headline as the detail line or double-count the suite.
    val slowest = results.sortBy(-_._2).take(5)
    println(
      s"""{"metric":"total_headline","kind":"summary","value":$total,"unit":"sec","sf":"$sfDir","n":${results.size},"failed":${jsonList(m.failed)},"slowest":${jsonMap(slowest)},"detail":"target/bench.json"}""")
    try {
      val out = java.nio.file.Paths.get("target", "bench.json")
      java.nio.file.Files.createDirectories(out.getParent)
      java.nio.file.Files.writeString(out, line + "\n")
    } catch { case _: Throwable => () } // stdout remains the contract
    spark.stop()
  }
}
