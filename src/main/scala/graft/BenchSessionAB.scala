package graft

import org.apache.spark.sql.SparkSession

/** Measurement-only twin of [[Bench]] answering the r17 deferred question
  * "would the bench numbers change under [[Sessions.local]]'s tuned
  * session (GraftExtensions, 64 MB broadcast threshold, ObjectHashAgg
  * fallback) instead of Bench's bare one?" — WITHOUT touching the driver
  * contract surface's session (this main is additive and never run by
  * the driver). Same data dir/core env vars, and the same
  * three-pass min timing ([[Bench.measure]]).
  */
object BenchSessionAB {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse(
      "SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors.toString).toInt
    val spark: SparkSession = Sessions.local(cpus, appName = "graft-bench-ab")
    Tables(spark, sfDir, "lineitem").count()
    operators.Firehose.metricsFromEvents(spark, sfDir).count()
    val only = args.headOption.map(_.split(",").toSet)
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    val m = Bench.measure(spark, sfDir, ordered)
    import Bench.{jsonList, jsonMap}
    val total = m.results.map(_._2).sum
    val slowest = m.results.sortBy(-_._2).take(5)
    println(
      s"""{"metric":"total_session_ab","kind":"summary","value":$total,"unit":"sec","sf":"$sfDir","n":${m.results.size},"failed":${jsonList(m.failed)},"slowest":${jsonMap(slowest)},"queries":${jsonMap(m.results)}}""")
    spark.stop()
  }
}
