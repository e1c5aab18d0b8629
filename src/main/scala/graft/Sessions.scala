package graft

import org.apache.spark.sql.SparkSession

import graft.functions.GraftFunctions

/** Tuned local SparkSession builder for tests and standalone runs.
  *
  * The settings mirror what a 1000-executor deployment would set cluster-wide:
  * AQE on (runtime shuffle-partition coalescing + skew-join splitting),
  * modest broadcast threshold, shuffle partitions sized to the parallelism.
  */
object Sessions {

  def local(cpus: Int = 32, appName: String = "graft"): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64 * 1024 * 1024).toString)
      // ObjectHashAggregate (the max_by_ts_id route — see
      // org.apache.spark.sql.graft.MaxByTsId) falls back to sort-based
      // aggregation past this many distinct groups per task; the 128
      // default is sized for space-heavy collect_list buffers. graft's
      // typed buffers are ~100-byte fixed (ts, id, one value), so 64k
      // groups is ~10 MB/task — keeps the latest-per-series aggregations
      // hash-shaped at real per-task series cardinalities. The threshold
      // is session-wide: it also governs map and array buffers
      // (`any_value(labels)`, `collect_list`), whose size grows with the
      // label set or the list, so a task with many such groups holds up to
      // 64k of them in memory before it falls back to sorting
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        (64 * 1024).toString)
      .config("spark.sql.session.timeZone", "UTC")
      // reliable checkpoints written by Tables.materializeSmall must be
      // deleted when their RDD is GC'd — the default (false) leaks the
      // checkpoint dir forever on long-lived sessions. ContextCleaner reads
      // this once at context construction, so it has to be set here, not by
      // the operator.
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", "/tmp/graft-warehouse")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftFunctions.register(spark)
    spark
  }
}
