package graft.sources

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{GraftBridge, MetricJsonDecode}

import graft.model.FirehoseMetric

/** JSON-line decoding of the metrics firehose.
  *
  * Reference parity: AbstractFirehose.java:100-107 parses each Kafka record
  * with Jackson and silently skips malformed records
  * (AbstractFirehose.java:118-126 catches and logs). Here each line is
  * decoded once by a codegen'd kernel
  * ([[org.apache.spark.sql.graft.MetricJsonDecode]], one pass of Jackson's
  * byte parser) that writes the struct `from_json(line,
  * FirehoseMetric.schema)` would write; malformed rows null-out and are
  * dropped, giving the same skip semantics without a per-record
  * interpreter loop.
  */
object MetricJson {

  /** Parse a column of metric JSON lines into flattened metric columns.
    * Works identically on batch and streaming DataFrames.
    *
    * `strict = true` (default for external input) drops malformed rows:
    * lines that do not parse, or parse without an `id` or a `name`. Each
    * line is decoded once. The decoded struct leaves through a generator,
    * `inline` of a one-element array for a well-formed row and of null
    * (no row) otherwise: the optimizer pushes no filter below a generator,
    * so the check reads the one decoded struct. A plain `filter` on the
    * parsed columns is pushed below the decode with the decode inlined
    * into it, decoding every line again for each field it reads; on Spark
    * 4.1 a nondeterministic disjunct such as `uuid() = ''` does not hold
    * it above. Set `strict = false` for trusted in-engine input where
    * malformed rows are impossible.
    */
  def parse(lines: DataFrame, jsonCol: String = "value", strict: Boolean = true): DataFrame = {
    val decoded = lines.select(
      GraftBridge.column(MetricJsonDecode(GraftBridge.expression(col(jsonCol)))).as("_metric"))
    val m = col("_metric")
    if (strict)
      decoded.select(inline(when(m("id").isNotNull && m("name").isNotNull, array(m))))
    else decoded.select(col("_metric.*"))
  }

  /** Typed variant. */
  def parseTyped(lines: DataFrame, jsonCol: String = "value"): Dataset[FirehoseMetric] = {
    val spark = lines.sparkSession
    import spark.implicits._
    parse(lines, jsonCol).as[FirehoseMetric]
  }

  /** Read a directory/file of metric JSON lines (the batch "landed firehose"
    * path; same parser the streaming source uses).
    */
  def readJsonLines(spark: SparkSession, path: String): DataFrame =
    parse(spark.read.text(path), "value")
}
