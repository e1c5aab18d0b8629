package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Firehose

/** One poison record must not kill a 100 TB job: JSON ingest parses
  * `NaN`/`Infinity` tokens (Spark's allowNonNumericNumbers default) and
  * byte counters walk past decimal(18,2)'s representable range — both
  * previously failed the whole query on Spark 4's ANSI decimal cast.
  * These specs drive the [[graft.functions.IeeeLanes]] reconstruction
  * through every guarded batch operator, fed from a poisoned JSON file.
  */
class IeeeLanesSpec extends SparkSuite {

  private def beq(a: Double, b: Double): Boolean =
    (a.isNaN && b.isNaN) || a == b

  private def metrics(rows: Seq[(String, Long, String, Double)]): DataFrame = {
    import spark.implicits._
    rows.zipWithIndex.map { case ((name, ts, user, v), i) =>
      ("app", name, Map("user" -> user), ts, f"id$i%03d", v)
    }.toDF("component", "name", "tags", "timestamp", "id", "value")
  }

  private val Big = 1.0e16

  // one metric name per case so every (component, name, window) group
  // isolates one regime
  private val planted = metrics(Seq(
    ("g_norm", 100L, "u1", 1.5), ("g_norm", 200L, "u1", 2.5),
    ("g_nan", 100L, "u1", 1.0), ("g_nan", 200L, "u1", Double.NaN),
    ("g_inf", 100L, "u1", 1.0), ("g_inf", 200L, "u1", Double.PositiveInfinity),
    ("g_pni", 100L, "u1", Double.PositiveInfinity),
    ("g_pni", 200L, "u1", Double.NegativeInfinity),
    ("g_big", 100L, "u1", Big), ("g_big", 200L, "u1", 2.0)))

  test("windowAgg carries NaN/Inf/big groups as IEEE would, exact elsewhere") {
    val got = Firehose.windowAgg(planted, widthSec = 3600)
      .collect().map(r => r.getAs[String]("name") ->
        ((r.getAs[Double]("sum_value"), r.getAs[Double]("min_value"),
          r.getAs[Double]("max_value")))).toMap
    assert(beq(got("g_norm")._1, 4.0))
    assert(beq(got("g_nan")._1, Double.NaN))
    // Spark's min/max order NaN greatest (DuckDB-consistent): min stays
    // finite, max reports the NaN
    assert(got("g_nan")._2 === 1.0 && got("g_nan")._3.isNaN)
    assert(beq(got("g_inf")._1, Double.PositiveInfinity))
    assert(beq(got("g_pni")._1, Double.NaN)) // Inf − Inf
    // the big group reads the IEEE sidecar: 1e16 + 2 is exact in double
    assert(beq(got("g_big")._1, Big + 2.0))
  }

  test("rollupMerge == recompute on poisoned halves, NaN/Inf/big included") {
    val half1 = metrics(Seq(
      ("g_nan", 100L, "u1", 1.0), ("g_inf", 100L, "u1", 1.0),
      ("g_big", 100L, "u1", Big), ("g_norm", 100L, "u1", 1.5)))
    val half2 = metrics(Seq(
      ("g_nan", 200L, "u1", Double.NaN),
      ("g_inf", 200L, "u1", Double.PositiveInfinity),
      ("g_big", 200L, "u1", 2.0), ("g_norm", 200L, "u1", 2.5)))
    val merged = Firehose.rollupMerge(
        Firehose.windowAgg(half1, 3600), Firehose.windowAgg(half2, 3600))
      .collect().map(r => r.getAs[String]("name") -> r.getAs[Double]("sum_value"))
      .toMap
    val oneShot = Firehose.windowAgg(half1.unionByName(half2), 3600)
      .collect().map(r => r.getAs[String]("name") -> r.getAs[Double]("sum_value"))
      .toMap
    assert(merged.keySet === oneShot.keySet)
    merged.foreach { case (k, v) => assert(beq(v, oneShot(k)), k) }
    assert(beq(merged("g_nan"), Double.NaN))
    assert(beq(merged("g_inf"), Double.PositiveInfinity))
    assert(beq(merged("g_big"), Big + 2.0))
  }

  test("instantAgg and overTimeAgg survive poisoned and big gauges") {
    val ia = Firehose.instantAgg(planted)
      .collect().map(r => r.getAs[String]("name") -> r.getAs[Double]("sum_value"))
      .toMap
    // the instant sum is over each series' LATEST sample
    assert(beq(ia("g_nan"), Double.NaN))
    assert(beq(ia("g_inf"), Double.PositiveInfinity))
    assert(beq(ia("g_big"), 2.0)) // latest sample is the small one
    val ot = Firehose.overTimeAgg(planted, widthSec = 3600)
      .collect().map(r => r.getAs[String]("name") ->
        ((r.getAs[Double]("sum_value"), r.getAs[Double]("stddev_value")))).toMap
    assert(beq(ot("g_norm")._1, 4.0) && !ot("g_norm")._2.isNaN)
    assert(beq(ot("g_nan")._1, Double.NaN) && ot("g_nan")._2.isNaN)
    assert(beq(ot("g_inf")._1, Double.PositiveInfinity) && ot("g_inf")._2.isNaN)
    assert(beq(ot("g_pni")._1, Double.NaN))
    // big group: exact IEEE sum, variance from the double sidecar —
    // finite and huge, not a crash and not NaN
    assert(beq(ot("g_big")._1, Big + 2.0))
    assert(!ot("g_big")._2.isNaN && !ot("g_big")._2.isInfinite && ot("g_big")._2 > 0)
  }

  test("counterIncrease and subqueryOverTime carry poisoned deltas") {
    val counters = metrics(Seq(
      ("c_norm", 100L, "u1", 10.0), ("c_norm", 200L, "u1", 35.0),
      ("c_nan", 100L, "u1", 5.0), ("c_nan", 200L, "u1", Double.NaN),
      ("c_inf", 100L, "u1", 5.0), ("c_inf", 200L, "u1", Double.PositiveInfinity),
      ("c_big", 100L, "u1", Big), ("c_big", 200L, "u1", 3.0 * Big)))
    val inc = Firehose.counterIncrease(counters, widthSec = 3600)
      .collect().map(r => r.getAs[String]("name") -> r.getAs[Double]("increase"))
      .toMap
    assert(beq(inc("c_norm"), 25.0))
    assert(beq(inc("c_nan"), Double.NaN)) // NaN delta poisons the window
    assert(beq(inc("c_inf"), Double.PositiveInfinity))
    assert(beq(inc("c_big"), 2.0 * Big)) // exact power-of-two-scaled delta
    val sub = Firehose.subqueryOverTime(counters, innerSec = 3600, outerSec = 7200)
      .collect().map(r => r.getAs[String]("name") -> r.getAs[Double]("avg_rate"))
      .toMap
    assert(beq(sub("c_nan"), Double.NaN))
    assert(beq(sub("c_inf"), Double.PositiveInfinity))
    assert(!sub("c_big").isNaN && !sub("c_big").isInfinite && sub("c_big") > 0)
  }

  test("vectorMatch ratio and predictLinear survive non-finite inputs") {
    val vm = Firehose.vectorMatchSameSource(
        metrics(Seq(
          ("err_total", 100L, "u1", Double.PositiveInfinity),
          ("view_total", 100L, "u1", 4.0),
          ("err_total", 100L, "u2", 1.0),
          ("view_total", 100L, "u2", Double.NaN)))
          .withColumn("labels", col("tags")),
        matchCols = Seq("component", "labels"),
        leftName = "err_total", rightName = "view_total",
        op = (l, r) => l / r, out = "ratio")
      .collect().map(r => r.getAs[Map[String, String]]("labels")("user") ->
        r.getAs[Double]("ratio")).toMap
    assert(beq(vm("u1"), Double.PositiveInfinity))
    assert(beq(vm("u2"), Double.NaN))
    val trend = Firehose.predictLinear(
        metrics(Seq(
          ("t_nan", 0L, "u1", 1.0), ("t_nan", 600L, "u1", Double.NaN),
          ("t_nan", 1200L, "u1", 3.0),
          ("t_big", 0L, "u1", Big), ("t_big", 600L, "u1", 2.0 * Big),
          ("t_big", 1200L, "u1", 3.0 * Big))),
        seriesCols = Seq("name"),
        tsSec = col("timestamp"),
        value = col("value"),
        horizonSec = 3600)
      .collect().map(r => r.getAs[String]("name") -> r.getAs[Double]("slope"))
      .toMap
    assert(beq(trend("t_nan"), Double.NaN))
    // big y: slope from the double sidecar — 1e16 per 600 s, exact
    assert(beq(trend("t_big"), Big / 600.0))
  }

  test("windowAgg and overTimeAgg carry a poisoned JSON file from ingest") {
    val dir = Files.createTempDirectory("graft-ieee").toFile
    def line(id: String, name: String, ts: Long, v: String): String =
      s"""{"id":"$id","name":"$name","timestamp":$ts,"component":"app",""" +
        s""""tags":{"user":"u1","unit":"bytes"},"value":$v,""" +
        s""""window":{"from":${ts - 60},"to":$ts,"interval":60}}"""
    // the raw JSON carries the non-numeric tokens — this ALSO proves the
    // ingest path accepts them (allowNonNumericNumbers)
    Files.write(dir.toPath.resolve("b1.json"),
      Seq(
        line("1", "g_norm", 100, "1.5"), line("2", "g_norm", 200, "2.5"),
        line("3", "g_nan", 100, "1.0"), line("4", "g_nan", 200, "NaN"),
        line("5", "g_inf", 100, "1.0"), line("6", "g_inf", 200, "Infinity"),
        line("7", "g_big", 100, "1.0E16"), line("8", "g_big", 200, "2.0"))
        .mkString("\n").getBytes)
    val batchIn = graft.sources.MetricJson.readJsonLines(spark, dir.getAbsolutePath)
    // ingest really parsed the poison tokens
    assert(batchIn.filter(isnan(col("value"))).count() === 1L)
    assert(batchIn.filter(col("value") === Double.PositiveInfinity).count() === 1L)
    val wa = Firehose.windowAgg(batchIn, 3600)
      .collect().map(r => r.getAs[String]("name") -> r.getAs[Double]("sum_value"))
      .toMap
    assert(wa.keySet === Set("g_norm", "g_nan", "g_inf", "g_big"))
    assert(beq(wa("g_norm"), 4.0))
    assert(beq(wa("g_nan"), Double.NaN))
    assert(beq(wa("g_inf"), Double.PositiveInfinity))
    assert(beq(wa("g_big"), 1.0e16 + 2.0))
    val ot = Firehose.overTimeAgg(batchIn, 3600)
      .collect().map(r => r.getAs[String]("name") ->
        ((r.getAs[Double]("sum_value"), r.getAs[Double]("stdvar_value")))).toMap
    assert(ot.keySet === wa.keySet)
    ot.foreach { case (k, (sum, _)) => assert(beq(sum, wa(k)), s"overTimeAgg $k") }
    assert(beq(ot("g_norm")._2, 0.25))
    assert(beq(ot("g_nan")._2, Double.NaN))
  }
}
