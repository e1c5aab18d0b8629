package graft

import java.nio.file.Files

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{GraftBridge, MetricJsonDecode}
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper

import graft.model.FirehoseMetric
import graft.sources.MetricJson
import graft.streaming.FirehoseStream

class MetricJsonSpec extends SparkSuite {

  import MetricJsonSpec._

  private def decodeCalls(plan: String): Int = "decode_metric_json\\(".r.findAllMatchIn(plan).size

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

  // "one from_json" names the per-line JSON decode, which is now the
  // `decode_metric_json` kernel; `from_json` itself must not appear.
  test("each line is decoded once: one from_json in the executed plan") {
    val batch = MetricJson.readJsonLines(spark, jsonFile(adversarial))
    batch.collect()
    val plan = batch.queryExecution.executedPlan.toString
    assert(decodeCalls(plan) === 1, plan)
    assert(!plan.contains("from_json"), plan)
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
      assert(decodeCalls(gauge) === 1, gauge)
      assert(!gauge.contains("from_json"), gauge)
      assert(!gauge.contains("lambdafunction"), gauge)
      assert(!gauge.contains("uuid("), gauge)
    } finally q.stop()
  }

  /** The kernel's struct and `from_json`'s, line by line, as rows and as
    * JSON text (which also pins the order of the `tags` entries).
    */
  private def assertDecodesLikeFromJson(lines: DataFrame): Unit = {
    val both = lines.select(col("i"),
      GraftBridge.column(MetricJsonDecode(GraftBridge.expression(col("value")))).as("k"),
      fromJson(col("value")).as("o"))
    val rows = both.select(col("i"), col("k"), col("o"),
      to_json(col("k")).as("kj"), to_json(col("o")).as("oj")).orderBy("i").collect()
    assert(rows.length === lines.count())
    val diff = rows.filter(r => r.get(1) != r.get(2) || r.get(3) != r.get(4))
    assert(diff.isEmpty, diff.take(5).map(r => s"line ${r.get(0)}: kernel ${r.get(1)} vs from_json ${r.get(2)}")
      .mkString("\n"))
  }

  test("the decode kernel writes from_json's struct on the adversarial corpus") {
    import spark.implicits._
    assertDecodesLikeFromJson(adversarial.zipWithIndex.toDF("value", "i"))
  }

  test("the decode kernel writes from_json's struct on 12k generated lines") {
    import spark.implicits._
    val lines = generatedLines(new scala.util.Random(20261020L), 12000)
    val df = lines.zipWithIndex.toDF("bytes", "i").select(col("bytes").cast("string").as("value"), col("i"))
    // the generator reaches both decode paths and every outcome
    val outcome = df.select(fromJson(col("value")).as("o")).select(
      count(when(col("o").isNull, 1)), count(when(col("o.id").isNotNull && col("o.value").isNotNull, 1)))
      .head()
    assert(outcome.getLong(0) > 100 && outcome.getLong(1) > 3000, outcome)
    assertDecodesLikeFromJson(df)
  }
}

object MetricJsonSpec {

  /** `from_json` with the metric schema: the decode kernel's oracle. */
  def fromJson(line: Column): Column = from_json(line, FirehoseMetric.schema)

  /** Lines a firehose can carry that the parser must drop or decode
    * partially: empty, `null`, arrays, truncated, not JSON, null or missing
    * `id`/`name`, a type mismatch in every field, duplicate keys, trailing
    * garbage, NaN, overflow, surrounding whitespace.
    */
  val adversarial = Seq(
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

  /** Firehose-shaped JSON lines as UTF-8 bytes, most of them odd: fields
    * of the wrong type or null, string-typed numbers, nested objects in
    * string fields, duplicate keys, `\\u` escapes, non-ASCII text, NUL
    * and byte-order-mark prefixes, single quotes, trailing garbage,
    * truncation, invalid UTF-8, blank lines, top-level arrays and scalars.
    */
  def generatedLines(rnd: scala.util.Random, n: Int): Seq[Array[Byte]] = {
    def pick[T](xs: T*): T = xs(rnd.nextInt(xs.length))
    def str(): String = pick(
      "\"a\"", "\"broker\"", "\"\"", "\"h\\u00e9\"", "\"\\ud83d\\ude00\"", "\"\\ud83d\"",
      "\"q\\\"\\\\n\"", "\"é Ａ 😀\"", "\"a=b,c\\\\\"", "\"tab\\tnl\\n\"", "\"\\u0000\"",
      "\"12\"", "\"NaN\"", "\"Infinity\"")
    def long(): String = pick("0", "-7", "1700000000", "9223372036854775807", "-9223372036854775808",
      "9223372036854775808", "99999999999999999999", "2147483648", "-2147483649", "60", "-0")
    def dbl(): String = pick("1.5", "-0.0", "1e999", "-1e999", "NaN", "-Infinity", "Infinity", "+1",
      "4.9e-324", "1E2", "0.1", "123456789012345678901234567890", "01", "1.")
    def any(depth: Int): String = rnd.nextInt(if (depth > 2) 5 else 9) match {
      case 0 => str()
      case 1 => long()
      case 2 => dbl()
      case 3 => pick("null", "true", "false")
      case 4 => pick("'single'", "nul", "{", "]")
      case 5 => "{" + (0 until rnd.nextInt(3)).map(i => s"${pick("\"x\"", "\"k\"", "\"from\"")}:${any(depth + 1)}").mkString(",") + "}"
      case 6 => "[" + (0 until rnd.nextInt(3)).map(_ => any(depth + 1)).mkString(",") + "]"
      case _ => str()
    }
    def tags(): String = "{" + (0 until rnd.nextInt(5)).map { _ =>
      val k = pick("\"host\"", "\"unit\"", "\"part\"", "\"a=b\"", "\"Ａ\"", "\"😀\"", "\"\"")
      val v = if (rnd.nextInt(6) == 0) any(1) else if (rnd.nextInt(8) == 0) "null" else str()
      s"$k:$v"
    }.mkString(",") + "}"
    def window(): String = "{" + rnd.shuffle(Seq("from", "to", "interval", "extra", "from")).take(1 + rnd.nextInt(4))
      .map(f => s"\"$f\":${if (rnd.nextInt(5) == 0) any(1) else pick(long(), "60", "null")}").mkString(",") + "}"
    def field(f: String, typed: Boolean): String = {
      val v = if (!typed) any(0) else f match {
        case "id" | "name" | "component" => str()
        case "timestamp" => long()
        case "value" => pick(dbl(), long())
        case "tags" => tags()
        case "window" => window()
        case _ => any(0)
      }
      s"\"$f\":$v"
    }
    def metric(): String = {
      val typed = rnd.nextInt(3) > 0
      val names = rnd.shuffle(Seq("id", "name", "timestamp", "component", "tags", "value", "window"))
        .filter(_ => rnd.nextInt(10) > 0) ++
        (if (rnd.nextInt(8) == 0) Seq(pick("id", "value", "tags", "extra", "ID")) else Nil)
      "{" + names.map(f => field(f, typed || rnd.nextBoolean())).mkString(",") + "}"
    }
    (0 until n).map { _ =>
      val line = rnd.nextInt(40) match {
        case 0 => ""
        case 1 => pick("null", "[]", "1", "\"s\"", "true", "[" + metric() + "]", "   ")
        case 2 => "\u0000" + metric()
        case 3 => "\uFEFF" + metric()
        case 4 => metric().replace('"', '\'')
        case 5 => metric() + pick(" trailing", "}", ",{}", " {\"id\":\"z\"}")
        case 6 => val m = metric(); m.take(rnd.nextInt(m.length + 1))
        case 7 => "{\u0000\"\u0000i\u0000d\u0000\"\u0000:\u0000" + str() + "}"
        case _ => metric()
      }
      val bytes = line.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      if (rnd.nextInt(40) != 0 || bytes.isEmpty) bytes
      else {
        // invalid UTF-8 in place of one byte: a lone continuation byte, a
        // lead byte before an ASCII byte, or a byte UTF-8 never uses
        val at = rnd.nextInt(bytes.length)
        bytes.updated(at, pick(0x80, 0xC3, 0xFF, 0xFE).toByte)
      }
    }
  }
}
