package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupStateTimeout, OutputMode, StreamingQuery, StreamingQueryException}

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
  *  - per-record Jackson parse → the same `MetricJson.parse` decode kernel
  *    the batch path uses (one Jackson pass per line, codegen'd), then the
  *    codegen'd tag-filter and series-key kernels
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
    *
    * A row whose `timestamp` or `value` is null (a line with a good `id` and
    * `name` whose other fields do not fit their types) is dropped here: the
    * typed step below would otherwise fail the query on it.
    */
  def gaugeLatest(
      metrics: DataFrame,
      watermarkDelay: String = "10 minutes",
      ttlMs: Long = 10 * 60 * 1000L): Dataset[GaugeOut] = {
    val spark = metrics.sparkSession
    import spark.implicits._
    Firehose.tagFilter(metrics.filter(col("timestamp").isNotNull && col("value").isNotNull))
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
          // the latest sample by (timestamp, id) wins, ids ordered by their
          // UTF-8 bytes as the batch `max_by_ts_id` orders them
          val (component, name, series) = key
          val candidates = points.map(p => GaugeState(p.timestamp, p.id, p.value)) ++ state.getOption
          val best = candidates.reduce { (a, b) =>
            if (b.lastTs > a.lastTs ||
                (b.lastTs == a.lastTs && graft.promql.PromRegistry.utf8Gt(b.lastId, a.lastId))) b
            else a
          }
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
  private val CheckpointManagerKey = "spark.sql.streaming.checkpointFileManagerClass"
  private val LocalCheckpointManager = classOf[LocalCheckpointFileManager].getName
  private val gaugeStartLock = new Object
  private val InitWaitMs = 60000L

  /** Start a [[gaugeLatest]] sink checkpointed at `checkpointDir`, with two
    * Spark settings scoped to this query:
    *
    *  - No-data micro-batches off. A no-data batch runs only because the
    *    watermark moved; in the gauge it can only evict idle series and
    *    emits nothing, yet it pays a whole epoch (offset log, state-store
    *    commits, commit log, an empty sink call). Without it each input
    *    costs one batch.
    *  - On a local (`file:`) checkpoint, [[LocalCheckpointFileManager]]
    *    (Spark's `FileSystemBasedCheckpointFileManager` with files and
    *    directories created without a `chmod` fork) for the offset and
    *    commit logs, the file source's log and the state store. Spark ships
    *    no native Hadoop library, so its default `FileContext` manager
    *    shells out on the local filesystem: every `rename` forks `readlink`
    *    for the file and again for its `.crc`, about 90 forks per input and
    *    most of the state commit. The `FileSystem` manager renames with the same one
    *    `rename(2)` and keeps both checksum layers (Spark's `N.delta.crc`,
    *    Hadoop's `.N.delta.crc`), so a checkpoint written under either
    *    manager restarts under the other. A checkpoint on any other
    *    filesystem keeps Spark's default manager.
    *
    * `start()` clones the session's SQL conf, so the settings reach this
    * query only: the caller's values (or their absence) are restored once
    * the query has created its source, also when `start()` throws. The
    * lock serialises the set–start–restore window, so concurrent gauge
    * starts never see or restore each other's values; a stream started
    * elsewhere on the same session during that window (a `start()` and
    * the source's creation long) would read them too.
    * Every other query a caller starts on the same session keeps its
    * no-data batches: a stateful query of the caller's own may need a
    * watermark-only batch to close a window or fire a timeout without new
    * traffic.
    */
  def startGaugeQuery(
      spark: SparkSession, writer: DataStreamWriter[GaugeOut],
      checkpointDir: String): StreamingQuery = {
    val fs = new org.apache.hadoop.fs.Path(checkpointDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val scoped = Map(NoDataBatchesKey -> "false") ++
      (if (fs.getUri.getScheme == "file") Map(CheckpointManagerKey -> LocalCheckpointManager)
       else Map.empty)
    gaugeStartLock.synchronized {
      val conf = spark.conf
      val old = scoped.keys.map(k => k -> conf.getAll.get(k))
      scoped.foreach { case (k, v) => conf.set(k, v) }
      try {
        val q = writer.option("checkpointLocation", checkpointDir).start()
        // the stream thread creates the source (and the file source's own
        // log) from this session after `start()` returns; hold the
        // settings until it has (past the wait, only that log falls back
        // to Spark's default manager). A query that dies here reports it
        // through `exception`/`awaitTermination`, as one that dies later
        try q.asInstanceOf[StreamingQueryWrapper].streamingQuery.awaitInitialization(InitWaitMs)
        catch { case _: StreamingQueryException => () }
        q
      } finally old.foreach {
        case (k, Some(v)) => conf.set(k, v)
        case (k, None) => conf.unset(k)
      }
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
