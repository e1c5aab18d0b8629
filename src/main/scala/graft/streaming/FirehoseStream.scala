package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupStateTimeout, OutputMode, StreamingQuery}

import graft.operators.Firehose
import graft.sources.MetricJson

/** One metric sample keyed for gauge-state tracking. */
case class GaugePoint(
    component: String, name: String, series: String,
    timestamp: Long, id: String, value: Double, eventTime: Timestamp)

/** Per-series gauge state (the reference's per-child `Gauge` value). */
case class GaugeState(lastTs: Long, lastId: String, lastValue: Double)

/** Emitted gauge update. */
case class GaugeOut(
    component: String, name: String, series: String,
    last_value: Double, last_ts: Long)

/** Structured-Streaming form of the firehose: the reference's
  * consume→parse→handle→endOfSet loop (AbstractFirehose.java:113-145)
  * re-expressed as an incremental query.
  *
  *  - Kafka poll loop → `readStream` (Kafka or file/memory source)
  *  - per-record Jackson parse → the same `MetricJson.parse` expression the
  *    batch path uses
  *  - `Gauge.set` per series → `flatMapGroupsWithState` latest-value state
  *  - Guava cache 10-min idle eviction (AbstractPrometheusFirehose.java:19-29)
  *    → `EventTimeTimeout` on the group state. The gauge query runs one
  *    micro-batch per input ([[startGaugeQuery]]), so an idle series is
  *    evicted at the next data batch, lazily, as the Guava cache evicts
  *    on its next access
  *  - per-poll `endOfSet()` push (PrometheusPusher.java:63-70) → `foreachBatch`
  *    sink rendering/pushing the exposition text
  *
  * That one pipeline is the whole streaming surface: `FirehoseApp` wires
  * it for both sink modes, and windowed, alerting and PromQL reads run as
  * batch over the landing (`--serve`, `--serve-rules`).
  */
object FirehoseStream {

  /** Translate the reference's `consumer.*` config subset (Configs.java,
    * AbstractFirehose.java:63-75 consumer construction) into Spark Kafka
    * source options: `topic` → `subscribe`, `auto.offset.reset` →
    * `startingOffsets` (Spark rejects it as a passthrough consumer
    * property), everything else passed through under the `kafka.` prefix.
    * A pure function so the wiring is contract-testable without a broker.
    */
  def kafkaSourceOptions(config: graft.config.GraftConfig): Map[String, String] = {
    val consumer = config.subset("consumer")
    // translated to Spark source options rather than passed through
    val translated = Seq("topic", "auto.offset.reset")
    // properties Spark's Kafka source MANAGES ITSELF and rejects as kafka.*
    // passthroughs — a reference config file legitimately contains these
    // (the Java consumer requires deserializers), so they must be dropped,
    // not forwarded, or the stream fails at start
    val sparkManaged = Seq(
      "key.deserializer", "value.deserializer", "enable.auto.commit",
      "interceptor.classes")
    Map(
      "subscribe" -> consumer.getOrElse("topic", "metrics.v1"),
      "startingOffsets" ->
        (if (consumer.get("auto.offset.reset").contains("earliest")) "earliest"
         else "latest")) ++
      (consumer -- translated -- sparkManaged).map { case (k, v) => s"kafka.$k" -> v }
  }

  /** Kafka source wiring (code-only in this container: no broker jar).
    * Identical transform chain to the file path — only the source line
    * differs.
    */
  def fromKafka(spark: SparkSession, bootstrapServers: String, topic: String): DataFrame =
    fromKafka(spark, graft.config.GraftConfig(Map(
      "consumer.bootstrap.servers" -> bootstrapServers,
      "consumer.topic" -> topic)))

  /** Config-driven Kafka source — the reference's construction path
    * (consumer built from the layered config's `consumer.` subset).
    */
  def fromKafka(spark: SparkSession, config: graft.config.GraftConfig): DataFrame =
    MetricJson.parse(
      spark.readStream
        .format("kafka")
        .options(kafkaSourceOptions(config))
        .load()
        .select(col("value").cast("string").as("value")),
      "value")

  /** File-landing source: a directory of metric JSON lines. */
  def fromJsonFiles(spark: SparkSession, path: String): DataFrame =
    MetricJson.parse(spark.readStream.text(path), "value")

  /** Streaming latest-gauge state with TTL expiry.
    *
    * State per series is one `GaugeState` — bounded by live series
    * cardinality exactly like the reference's gauge registry, and expired by
    * event-time timeout exactly like its 10-minute idle eviction. Started
    * through [[startGaugeQuery]], the query runs one micro-batch per input:
    * a timed-out series is removed at the next data batch, not in an extra
    * watermark-only batch. Eviction emits no rows, so the output is the same
    * either way.
    */
  def gaugeLatest(
      metrics: DataFrame,
      watermarkDelay: String = "10 minutes",
      ttlMs: Long = 10 * 60 * 1000L): Dataset[GaugeOut] = {
    val spark = metrics.sparkSession
    import spark.implicits._
    Firehose.tagFilter(metrics)
      .withColumn("series", Firehose.seriesKey(col("labels")))
      .withColumn("eventTime", timestamp_seconds(col("timestamp")))
      .select("component", "name", "series", "timestamp", "id", "value", "eventTime")
      .as[GaugePoint]
      .withWatermark("eventTime", watermarkDelay)
      .groupByKey(p => (p.component, p.name, p.series))
      .flatMapGroupsWithState[GaugeState, GaugeOut](
          OutputMode.Update, GroupStateTimeout.EventTimeTimeout) { (key, points, state) =>
        if (state.hasTimedOut) {
          // idle past the TTL: dropped silently (registry eviction parity)
          state.remove()
          Iterator.empty
        } else {
          // the latest sample by (timestamp, id) wins
          val (component, name, series) = key
          val candidates = points.map(p => GaugeState(p.timestamp, p.id, p.value)) ++ state.getOption
          val best = candidates.maxBy(s => (s.lastTs, s.lastId))
          state.update(best)
          // evict `ttlMs` past the watermark, or past the series' last
          // sample before the first watermark
          val wm = state.getCurrentWatermarkMs()
          state.setTimeoutTimestamp(if (wm > 0) wm + ttlMs else best.lastTs * 1000L + ttlMs)
          Iterator.single(GaugeOut(component, name, series, best.lastValue, best.lastTs))
        }
      }
  }

  private val NoDataBatchesKey = "spark.sql.streaming.noDataMicroBatches.enabled"
  private val noDataBatchesLock = new Object

  /** Start a [[gaugeLatest]] sink with Spark's no-data micro-batches off
    * for this query only. A no-data batch runs only because the watermark
    * moved; in the gauge it can only evict idle series and emits nothing,
    * yet it pays a whole epoch (offset log, state-store commits, commit
    * log, an empty sink call). Without it each input costs one batch.
    *
    * `start()` clones the session's SQL conf, so the setting is scoped to
    * that one call: the caller's value (or its absence) is restored after
    * `start()`, also when it throws. The lock serialises the
    * set–start–restore window, so concurrent gauge starts never see or
    * restore each other's value; a stream started elsewhere on the same
    * session during that window (one `start()` long) would read it too.
    * Every other query a caller starts on the same session keeps its
    * no-data batches: a stateful query of the caller's own may need a
    * watermark-only batch to close a window or fire a timeout without new
    * traffic.
    */
  def startGaugeQuery(
      spark: SparkSession, writer: DataStreamWriter[GaugeOut]): StreamingQuery =
    noDataBatchesLock.synchronized {
      val conf = spark.conf
      val old = conf.getAll.get(NoDataBatchesKey)
      conf.set(NoDataBatchesKey, "false")
      try writer.start()
      finally old match {
        case Some(v) => conf.set(NoDataBatchesKey, v)
        case None => conf.unset(NoDataBatchesKey)
      }
    }

  /** `endOfSet()` parity: per micro-batch, render the current gauge updates
    * to Prometheus exposition text and hand them to `push` (a PushGateway
    * client in production; a collector in tests).
    */
  def expositionSink(
      gauges: Dataset[GaugeOut],
      push: Array[String] => Unit): DataStreamWriter[GaugeOut] =
    gauges.writeStream
      .outputMode("update")
      .foreachBatch { (batch: Dataset[GaugeOut], _: Long) =>
        // the state output carries the rendered series KEY, not the
        // label map — recover the pairs (the key preserves their sorted
        // order and is injective since the r16 escape) and render each
        // line with promRender's driver twin; the collect is the
        // already-registry-sized batch of changed series
        val lines = batch.collect().map { g =>
          Firehose.renderLineStr(
            g.component, g.name, Firehose.parseSeriesKey(g.series),
            g.last_value, g.last_ts)
        }
        push(lines)
      }

  /** Marker file stamping the series-key FORMAT into a Structured
    * Streaming checkpoint directory.
    */
  private val KeyFormatMarker = "_graft_key_format"

  /** Refuse a streaming checkpoint whose state was keyed under another
    * series-key format — the streaming twin of the registry
    * checkpoint's `ckpt.keyFormat` refusal (r16 ADVICE).
    * [[gaugeLatest]] keys its state by the RENDERED series string, so a
    * checkpoint written before the r16 escaped identity ("esc1"),
    * restored under it, silently SPLITS any series whose labels contain
    * `\` `=` `,` — the old-key state entry is orphaned until timeout —
    * and [[Firehose.parseSeriesKey]]
    * mis-splits the old unescaped keys in the exposition sink.
    *
    * Call before `.start()` with the query's checkpoint location:
    *  - fresh directory → stamps `_graft_key_format` with
    *    [[Firehose.SeriesKeyFormat]] and proceeds;
    *  - marker present and equal → proceeds (normal restart);
    *  - marker present and DIFFERENT, or state present with NO marker
    *    (a pre-stamp checkpoint — necessarily pre-esc1) → refuses
    *    loudly. Streaming state is an opaque RocksDB/HDFS snapshot, so
    *    unlike the registry there is no recompute path: the operator
    *    must discard the checkpoint (re-ingest rebuilds state) or keep
    *    running the old binary.
    */
  def ensureCheckpointKeyFormat(
      spark: SparkSession, checkpointDir: String): Unit = {
    val dir = new org.apache.hadoop.fs.Path(checkpointDir)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val marker = new org.apache.hadoop.fs.Path(dir, KeyFormatMarker)
    if (fs.exists(marker)) {
      val in = fs.open(marker)
      val got =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
        finally in.close()
      if (got != Firehose.SeriesKeyFormat)
        throw new IllegalStateException(
          s"streaming checkpoint $checkpointDir was written under series-" +
            s"key format '$got' but this engine writes " +
            s"'${Firehose.SeriesKeyFormat}': state keyed by the old " +
            "rendering cannot be restored (series would split). Discard " +
            "the checkpoint directory and re-ingest, or run the old build.")
    } else if (fs.exists(new org.apache.hadoop.fs.Path(dir, "offsets"))) {
      // a populated checkpoint with no stamp predates the marker —
      // and therefore predates the esc1 key format
      throw new IllegalStateException(
        s"streaming checkpoint $checkpointDir has state but no " +
          s"$KeyFormatMarker stamp: it predates series-key format " +
          s"'${Firehose.SeriesKeyFormat}' and cannot be restored " +
          "(series keyed under the old rendering would split). Discard " +
          "the checkpoint directory and re-ingest.")
    } else {
      fs.mkdirs(dir)
      val out = fs.create(marker, false)
      try out.write(
        (Firehose.SeriesKeyFormat + "\n").getBytes("UTF-8"))
      finally out.close()
    }
  }
}
