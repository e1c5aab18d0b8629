package graft.model

import org.apache.spark.sql.Encoders
import org.apache.spark.sql.types.StructType

/** Aggregation window attached to a firehose metric.
  *
  * Mirrors the reference data model (FirehoseMetric.java:26-44 — nested
  * `Window {from, to, interval}`).
  */
case class MetricWindow(from: Long, to: Long, interval: Int)

/** A single Confluent-metrics-firehose sample.
  *
  * Field-for-field the reference's data model (FirehoseMetric.java:19-25):
  * `{id, name, timestamp, component, tags: map<string,string>, value,
  * window}`. In graft this is the typed row of the metric stream: a
  * `Dataset[FirehoseMetric]` (or an untyped DataFrame with [[FirehoseMetric.schema]])
  * instead of a per-record Java object — parsing, filtering and aggregation
  * all happen as Catalyst column expressions, not per-row code.
  */
case class FirehoseMetric(
    id: String,
    name: String,
    timestamp: Long,
    component: String,
    tags: Map[String, String],
    value: Double,
    window: MetricWindow) {

  /** Label keys after tag filtering, sorted for a canonical series identity
    * (reference: FirehoseMetric.java:66-75 `labels()`).
    */
  def labels(filtered: Set[String] = FirehoseMetric.filteredTags): Seq[(String, String)] =
    tags.toSeq.filterNot { case (k, _) => filtered(k) }.sortBy(_._1)
}

object FirehoseMetric {
  /** Tag keys excluded from Prometheus labels (FirehoseMetric.java:14-18). */
  val filteredTags: Set[String] = Set("unit")

  /** Catalyst schema of the metric JSON. Its all-nullable form is the
    * struct the decode kernel
    * ([[org.apache.spark.sql.graft.MetricJsonDecode]]) writes per line, as
    * `from_json` with this schema would (reference:
    * AbstractFirehose.java:100-107).
    */
  val schema: StructType = Encoders.product[FirehoseMetric].schema
}
