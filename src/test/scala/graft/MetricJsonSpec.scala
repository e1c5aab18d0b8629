package graft

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper

import graft.sources.MetricJson
import graft.streaming.FirehoseStream

class MetricJsonSpec extends SparkSuite {

  /** Lines a firehose can carry that the parser must drop or decode
    * partially: empty, `null`, arrays, truncated, not JSON, null or missing
    * `id`/`name`, a type mismatch in every field, duplicate keys, trailing
    * garbage, NaN, overflow, surrounding whitespace.
    */
  private val adversarial = Seq(
    "",
    "null",
    "[]",
    """[{"id":"a","name":"n"}]""",
    """{"id":"t1","name":"n","timestamp":""",
    "this is not json",
    """{"id":null,"name":"n","timestamp":1}""",
    """{"id":"x","name":null,"timestamp":1}""",
    """{"name":"n","timestamp":1,"value":1.0}""",
    """{"id":"x","timestamp":1,"value":2.0}""",
    """{"id":"a","name":"n","timestamp":"nope","component":"c","value":1.0}""",
    """{"id":"a","name":"n","timestamp":1,"component":"c","value":"nope"}""",
    """{"id":"a","name":"n","timestamp":1,"component":"c","tags":"nope","value":1.0}""",
    """{"id":"a","name":"n","timestamp":1,"component":"c","tags":{"k":1},"value":1.0}""",
    """{"id":"a","name":"n","timestamp":1,"component":"c","value":1.0,"window":"nope"}""",
    """{"id":"a","name":"n","timestamp":1,"component":"c","value":1.0,"window":{"from":"x","to":2,"interval":60}}""",
    """{"id":1,"name":2,"timestamp":1,"component":3,"value":1}""",
    """{"id":{"x":1},"name":"n","timestamp":1}""",
    """{"id":"a","name":"n","timestamp":1,"id":"b","value":1.0}""",
    """{"id":"a","name":"n","timestamp":1,"value":1.0} trailing""",
    """{"id":"a","name":"n","timestamp":1,"value":NaN}""",
    """{"id":"a","name":"n","timestamp":99999999999999999999,"value":1.0}""",
    """{"id":"a","name":"n","timestamp":1,"value":1e999}""",
    """{"id":"ok","name":"n","timestamp":7,"component":"c","tags":{"user":"u","unit":"bytes"},""" +
      """"value":2.5,"window":{"from":1,"to":7,"interval":60}}""",
    """   {"id":"ws","name":"n","timestamp":8}   """)

  private def fromJsonCalls(plan: String): Int = "from_json\\(".r.findAllMatchIn(plan).size

  private def jsonFile(lines: Seq[String]): String = {
    val f = Files.createTempFile("graft-metricjson", ".json")
    Files.write(f, lines.mkString("\n").getBytes)
    f.toString
  }

  test("strict parse drops the adversarial lines and decodes the rest as before") {
    import spark.implicits._
    // the rows of the earlier filter-based spelling, under Spark 4's
    // partial results: a field that does not fit its type reads null
    assert(MetricJson.parse(adversarial.toDF("value")).collect().toSeq === Seq(
      Row("a", "n", null, "c", null, 1.0, null),
      Row("a", "n", 1L, "c", null, null, null),
      Row("a", "n", 1L, "c", null, 1.0, null),
      Row("a", "n", 1L, "c", Map("k" -> "1"), 1.0, null),
      Row("a", "n", 1L, "c", null, 1.0, null),
      Row("a", "n", 1L, "c", null, 1.0, Row(null, 2L, 60)),
      Row("1", "2", 1L, "3", null, 1.0, null),
      Row("""{"x":1}""", "n", 1L, null, null, null, null),
      Row("b", "n", 1L, null, null, 1.0, null),
      Row("a", "n", 1L, null, null, 1.0, null),
      Row("a", "n", 1L, null, null, Double.NaN, null),
      Row("a", "n", null, null, null, 1.0, null),
      Row("a", "n", 1L, null, null, Double.PositiveInfinity, null),
      Row("ok", "n", 7L, "c", Map("user" -> "u", "unit" -> "bytes"), 2.5, Row(1L, 7L, 60)),
      Row("ws", "n", 8L, null, null, null, null)))
  }

  /** Well-formed lines in the benchmark generator's shape, and the four
    * malformed shapes it mixes in.
    */
  private val good = (1 to 6).map(i =>
    s"""{"id":"e$i","name":"bytes_in","timestamp":$i,"component":"broker",""" +
      s""""tags":{"host":"h0","part":"0","unit":"bytes"},"value":$i.0,""" +
      """"window":{"from":0,"to":0,"interval":60}}""")
  private val bad = Seq(
    """{"id":"broken","name":"bytes_in","timestamp":""",
    "this is not json",
    """{"name":"bytes_in","timestamp":1,"component":"broker","tags":{},"value":1.0}""",
    """{"id":"noname","timestamp":1,"component":"broker","value":2.0}""")
  private val mixed = good.take(3) ++ bad ++ good.drop(3)

  test("strict parse drops exactly the benchmark generator's four malformed shapes") {
    assert(MetricJson.readJsonLines(spark, jsonFile(mixed)).count() === good.size)
  }

  test("the adversarial corpus does not stop the gauge query") {
    val dir = Files.createTempDirectory("graft-metricjson-bad")
    Files.write(dir.resolve("f0.json"), (adversarial :+
      """{"id":"v1","name":"valid_g","timestamp":9,"component":"c","tags":{"host":"h"},"value":4.0}""")
      .mkString("\n").getBytes)
    val q = FirehoseStream.startGaugeQuery(spark,
      FirehoseStream.gaugeLatest(FirehoseStream.fromJsonFiles(spark, dir.toString))
        .writeStream.format("memory").queryName("gauge_bad_t").outputMode("update"),
      Files.createTempDirectory("graft-metricjson-badchk").toString)
    try {
      q.processAllAvailable()
      assert(q.isActive && q.exception.isEmpty, q.exception)
      val valid = spark.table("gauge_bad_t").filter("name = 'valid_g'").collect()
      assert(valid.map(r => (r.getAs[String]("series"), r.getAs[Double]("last_value"),
        r.getAs[Long]("last_ts"))).toSeq === Seq(("host=h", 4.0, 9L)))
    } finally q.stop()
  }

  test("each line is decoded once: one from_json in the executed plan") {
    val batch = MetricJson.readJsonLines(spark, jsonFile(adversarial))
    batch.collect()
    val plan = batch.queryExecution.executedPlan.toString
    assert(fromJsonCalls(plan) === 1, plan)
    assert(!plan.contains("uuid("), plan)

    val dir = Files.createTempDirectory("graft-metricjson-in")
    Files.write(dir.resolve("f0.json"), mixed.mkString("\n").getBytes)
    val q = FirehoseStream.startGaugeQuery(spark,
      FirehoseStream.gaugeLatest(FirehoseStream.fromJsonFiles(spark, dir.toString))
        .writeStream.format("memory").queryName("gauge_plan_t").outputMode("update"),
      Files.createTempDirectory("graft-metricjson-chk").toString)
    try {
      q.processAllAvailable()
      val gauge = q.asInstanceOf[StreamingQueryWrapper].streamingQuery
        .lastExecution.executedPlan.toString
      assert(fromJsonCalls(gauge) === 1, gauge)
      assert(!gauge.contains("uuid("), gauge)
    } finally q.stop()
  }
}
