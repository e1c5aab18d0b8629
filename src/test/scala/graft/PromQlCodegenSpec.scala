package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.debug.codegenStringSeq
import org.apache.spark.sql.functions.col

import graft.functions.GraftFunctions
import graft.promql.PromQlVersioned

/** Evaluation times reach the generated code by reference (`EvalTime`),
  * not as literals: the same query at a new evaluation time must compile
  * to the same Java in every whole-stage-codegen subtree except the
  * scan's filter stage, whose literal bounds feed Parquet pushdown and
  * file pruning. A dashboard refresh at a new time then reuses the
  * compiled classes instead of running Janino again.
  */
class PromQlCodegenSpec extends SparkSuite {

  private val q = "sum by (job) (rate(http_requests_total[5m]))"
  private val t0 = 1700000100L // first sample
  private val t1 = t0 + 600
  private val t2 = t1 + 15

  /** Four counters, two per job, sampled every 15 s for 15 minutes;
    * counter k rises by k + 1 per sample.
    */
  private lazy val root: String = {
    import spark.implicits._
    val r = Files.createTempDirectory("pqlcodegen").toFile.getAbsolutePath
    PromQlVersioned.land((for (k <- 0 until 4; i <- 0 to 60) yield
      ("app", "http_requests_total", Map("job" -> s"j${k % 2}", "instance" -> s"i$k"),
        t0 + 15L * i, s"s$k-$i", (k + 1.0) * i))
      .toDF("component", "name", "labels", "timestamp", "id", "value"), r)
    r
  }

  private def instant(t: Long): DataFrame =
    PromQlVersioned.compileInstantVector(spark, root, q, t)

  private def range(t: Long): DataFrame =
    PromQlVersioned.compileRangeVector(spark, root, q, t - 240, t, 60)

  /** Each whole-stage-codegen subtree of the executed (final adaptive)
    * plan: whether it reads the scan, and its Java with `#id`s normalised.
    * A subtree above a shuffle prints the stage it reads, scan included,
    * below a query-stage line; only the tree above that line is its own.
    */
  private def stages(df: DataFrame): Seq[(Boolean, String)] = {
    df.collect()
    codegenStringSeq(df.queryExecution.executedPlan).map { case (tree, code, _) =>
      (tree.split("QueryStage", 2).head.contains("FileScan"), code.replaceAll("#\\d+", "#"))
    }
  }

  private def answers(df: DataFrame): Map[(Map[String, String], Long), Double] =
    df.select("labels", "win_start", "value").collect()
      .map(r => (r.getMap[String, String](0).toMap, r.getLong(1)) -> r.getDouble(2))
      .toMap

  test("a rate query compiles to the same code at two evaluation times, " +
      "except the scan's filter stage") {
    for ((what, plan) <- Seq[(String, Long => DataFrame)](
        "instant" -> instant, "range" -> range)) {
      val (a, b) = (stages(plan(t1)), stages(plan(t2)))
      assert(a.map(_._1) === b.map(_._1), what)
      assert(a.exists(_._1), s"$what: no scan stage")
      val above = a.zip(b).filterNot(_._1._1)
      assert(above.nonEmpty, s"$what: no stage above the scan")
      val differing = above.count { case ((_, ca), (_, cb)) => ca != cb }
      assert(differing === 0, s"$what: $differing of ${above.size} stages above the scan " +
        "generate different code at the two times")
    }
  }

  test("a rate query answers as the literal-bound plans did") {
    // every 5m window holds 20 samples, so 19 deltas of k + 1 each:
    // rate = 19 (k + 1) / 300, summed over the job's two counters as
    // decimal(18,6): 0.063333 + 0.190000 and 0.126667 + 0.253333
    val rate = Map("j0" -> 0.253333, "j1" -> 0.38)
    def at(ps: Seq[Long]) =
      (for (p <- ps; (j, v) <- rate) yield (Map("job" -> j), p) -> v).toMap
    for (t <- Seq(t1, t2)) {
      assert(answers(instant(t)) === at(Seq(t)))
      assert(answers(range(t)) === at(t - 240 to t by 60))
    }
  }

  test("EvalTime gives the same value interpreted and code-generated") {
    def run(): Seq[(Long, Long)] = spark.range(3)
      .select(GraftFunctions.eval_time(t1), col("id") + GraftFunctions.eval_time(t2))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val interpreted = withConf("spark.sql.codegen.wholeStage", "false")(
      withConf("spark.sql.codegen.factoryMode", "NO_CODEGEN")(run()))
    assert(interpreted === Seq((t1, t2), (t1, t2 + 1), (t1, t2 + 2)))
    assert(run() === interpreted)
  }
}
