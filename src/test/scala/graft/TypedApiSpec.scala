package graft

import graft.model.{FirehoseMetric, MetricWindow}
import graft.operators.Firehose
import graft.sources.MetricJson

/** The typed `Dataset[FirehoseMetric]` surface: case-class encoders over the
  * same plans the untyped operators build.
  */
class TypedApiSpec extends SparkSuite {

  test("parseTyped yields a Dataset[FirehoseMetric] with working model methods") {
    import spark.implicits._
    val json =
      """{"id":"2e2a44dc","name":"request_bytes_total","timestamp":1572402480,""" +
        """"component":"kafka","tags":{"request_type":"ApiVersions","source":"kafka-3",""" +
        """"unit":"bytes"},"value":47,"window":{"from":1572402420,"interval":60,"to":1572402480}}"""
    val ds = MetricJson.parseTyped(Seq(json).toDF("value"))
    val m = ds.collect()(0)
    assert(m === FirehoseMetric(
      "2e2a44dc", "request_bytes_total", 1572402480L, "kafka",
      Map("request_type" -> "ApiVersions", "source" -> "kafka-3", "unit" -> "bytes"),
      47.0, MetricWindow(1572402420L, 1572402480L, 60)))
    // FirehoseMetric.java:66-75 labels(): filtered, sorted, no "unit"
    assert(m.labels() === Seq("request_type" -> "ApiVersions", "source" -> "kafka-3"))
  }

  test("typed filters and maps compose with the untyped operator chain") {
    import spark.implicits._
    val ds = MetricJson.parseTyped(
      Firehose.eventsAsMetricJson(Firehose.eventsRaw(spark, sfDir)))
    val big = ds.filter(_.value > 100.0)
    assert(big.count() > 0)
    assert(big.map(_.component).distinct().collect().toSeq === Seq("app"))
    // typed → untyped roundtrip into the gauge operator
    val gauges = Firehose.gaugeLatest(Firehose.tagFilter(big.toDF()))
    assert(gauges.count() > 0)
  }
}
