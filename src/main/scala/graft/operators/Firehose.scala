package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{DropMapKeys, GraftBridge, SeriesKey}

import graft.Tables
import graft.functions.IeeeLanes
import graft.model.FirehoseMetric
import graft.sources.MetricJson

/** Batch/streaming-shared firehose operators: the reference's entire
  * processing surface re-expressed as declarative DataFrame transforms.
  *
  * Reference mapping:
  *  - per-record `handle(metric)` loop (AbstractFirehose.java:113-131) →
  *    `groupBy(series).agg(max_by(...))` — Catalyst plans a partial (map-side)
  *    aggregate, so the shuffle carries at most one row per series per input
  *    partition; state is bounded by series cardinality, not row count.
  *  - Guava gauge cache + TTL eviction (AbstractPrometheusFirehose.java:19-29)
  *    → event-time TTL filter (batch) / state timeout (streaming).
  *  - `LookupMapper` label remap (LookupMapper.java:20-30) → broadcast hash
  *    join with identity fallback.
  */
object Firehose {

  /** Read the `events` table with `ts` normalized to nanos-since-epoch
    * int64 — the engine's internal timestamp contract (exact ordering, no
    * sub-unit truncation surprises downstream). Handles both encodings the
    * driver has shipped: TIMESTAMP(NANOS) parquet (read as long via the
    * legacy conf — Spark's µs TimestampType cannot hold it) and
    * TIMESTAMP(MICROS) without timezone (read as TIMESTAMP_NTZ, converted
    * under the session's UTC zone to match the oracle's naive `epoch_ns`).
    */
  def eventsRaw(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val e = Tables(spark, dir, "events")
    e.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => e
      case _ =>
        // the NTZ→LTZ cast below interprets naive wall time through the
        // SESSION zone; the engine's timestamp contract (and the oracle's
        // naive epoch_ns) require that zone to be UTC. Every entry point
        // (Sessions, Verify, Bench) pins it — fail loudly here instead of
        // silently shifting every event timestamp under a stray session.
        val tz = spark.conf.get("spark.sql.session.timeZone")
        require(
          java.time.ZoneId.of(tz).getRules == java.time.ZoneOffset.UTC.getRules,
          s"eventsRaw needs spark.sql.session.timeZone=UTC (got $tz): " +
            "the events table's naive timestamps are UTC wall time")
        e.withColumn("ts", unix_micros(col("ts").cast("timestamp_ltz")) * 1000L)
    }
  }

  private val NanosPerSec = 1000000000L

  /** The synthetic `events` table re-shaped as a metric-JSON firehose: each
    * event rendered as one metric JSON line exactly shaped like the
    * reference's payload (FirehoseMetricTest.java:17). This is the engine's
    * parse-path input generator for batch verification.
    */
  def eventsAsMetricJson(events: DataFrame): DataFrame = {
    events.select(
      to_json(
        struct(
          col("event_id").cast("string").as("id"),
          concat(col("event_type"), lit("_total")).as("name"),
          expr("ts div 1000000000").as("timestamp"),
          lit("app").as("component"),
          map(
            lit("user"), col("user_id").cast("string"),
            lit("unit"), lit("bytes")).as("tags"),
          col("value").as("value"),
          struct(
            (expr("ts div 1000000000") - 60).as("from"),
            expr("ts div 1000000000").as("to"),
            lit(60).as("interval")).as("window"))).as("value"))
  }

  /** events → parsed metric DataFrame (JSON round-trip through the real
    * parser — the reference's Kafka-bytes→Jackson path, distributed).
    */
  def metricsFromEvents(spark: SparkSession, dir: String): DataFrame =
    MetricJson.parse(
      eventsAsMetricJson(Tables.widen(eventsRaw(spark, dir))),
      strict = false) // self-generated JSON cannot be malformed

  /** Reference FirehoseMetric.java:66-75: drop filtered tag keys ("unit")
    * from the label map, the other entries in their order. One codegen'd
    * kernel call per row ([[org.apache.spark.sql.graft.DropMapKeys]]), the
    * output of `map_filter(tags, (k, _) -> k NOT IN filtered)` without its
    * interpreted lambda.
    */
  def tagFilter(metrics: DataFrame, filtered: Set[String] = FirehoseMetric.filteredTags): DataFrame =
    metrics.withColumn("labels", dropKeys(col("tags"), filtered))

  /** The label map without the entries whose key is in `keys`, the rest in
    * their order ([[org.apache.spark.sql.graft.DropMapKeys]]).
    */
  def dropKeys(labels: Column, keys: Set[String]): Column =
    GraftBridge.column(DropMapKeys(GraftBridge.expression(labels), keys.toSeq.sorted))

  /** The series-key FORMAT generation this engine writes and reads —
    * bumped whenever the canonical series identity changes spelling
    * ("esc1" = the r16 escaped render). ONE constant for every durable
    * key-bearing artifact: the registry checkpoint stamps it into its
    * commit props and refuses a foreign stamp, and the streaming
    * checkpoint guard ([[graft.streaming.FirehoseStream
    * .ensureCheckpointKeyFormat]]) stamps it as a marker file and
    * refuses a checkpoint whose state was keyed under another format —
    * a pre-esc1 streaming checkpoint restored under the escaped keys
    * would silently SPLIT any series whose labels contain `\` `=` `,`
    * (old-key state orphaned until timeout) and mis-split old keys in
    * [[parseSeriesKey]].
    */
  val SeriesKeyFormat = "esc1"

  /** Series-key escaping of one key or value: `\` → `\\`, `=` → `\=`,
    * `,` → `\,` — so two DISTINCT label maps can never render to one
    * series key (`{k:"a", b:"c"}` vs `{k:"a,b=c"}` collided under the
    * unescaped render — r15 verdict finding #1). A no-op on label text
    * free of the three metacharacters, so the classic corpus's keys are
    * unchanged. [[seriesKey]]'s kernel applies the same escape to bytes.
    */
  def escapeSeriesPartStr(s: String): String =
    s.replace("\\", "\\\\").replace("=", "\\=").replace(",", "\\,")

  /** Canonical series identity: the label map's entries sorted by (key,
    * value) in UTF-8 byte order, rendered `k=v` with keys and values
    * [[escapeSeriesPartStr]]-escaped so the rendering is injective over
    * label maps, joined by `,`; a null-valued entry is left out. Spark
    * cannot group by MapType; this is the Prometheus label-tuple identity
    * as an orderable string. One codegen'd kernel call per row
    * ([[org.apache.spark.sql.graft.SeriesKey]]).
    */
  def seriesKey(labels: Column): Column =
    GraftBridge.column(SeriesKey(GraftBridge.expression(labels)))

  /** A series key back to its label PAIRS (in key order — the order
    * [[seriesKey]] rendered them): split on unescaped `,` / `=`, undo
    * [[escapeSeriesPartStr]]. Driver/executor-side Scala (a linear scan —
    * a regex cannot split on "comma after an even backslash run" with
    * unbounded lookbehind); used by sinks that carry only the key
    * (e.g. the streaming exposition sink's state output).
    */
  def parseSeriesKey(series: String): Seq[(String, String)] = {
    if (series.isEmpty) return Nil
    val out = Seq.newBuilder[(String, String)]
    val cur = new StringBuilder
    var key: String = null
    var i = 0
    while (i < series.length) {
      series.charAt(i) match {
        case '\\' if i + 1 < series.length =>
          cur.append(series.charAt(i + 1)); i += 2
        case '=' if key == null =>
          key = cur.toString; cur.clear(); i += 1
        case ',' =>
          out += ((if (key == null) "" else key) -> cur.toString)
          key = null; cur.clear(); i += 1
        case c =>
          cur.append(c); i += 1
      }
    }
    out += ((if (key == null) "" else key) -> cur.toString)
    out.result()
  }

  /** Latest-value-per-series gauge semantics
    * (AbstractPrometheusFirehose.java:40-51: `Gauge.set(value)` keeps the
    * last written sample per (name, labels) child).
    *
    * `max_by(value, (timestamp, id))` is a map-side-combinable aggregate:
    * at 100 TB the shuffle carries one candidate row per series per input
    * partition — state scales with series cardinality only.
    */
  def gaugeLatest(metrics: DataFrame): DataFrame = {
    val labeled =
      if (metrics.columns.contains("labels")) metrics else tagFilter(metrics)
    labeled
      .withColumn("series", seriesKey(col("labels")))
      .groupBy(col("component"), col("name"), col("series"))
      .agg(
        graft.functions.GraftFunctions.max_by_ts_id(col("value"), col("timestamp"), col("id")).as("last_value"),
        max(col("timestamp")).as("last_ts"))
  }

  /** PromQL instant-vector aggregation — `sum`/`avg`/`min`/`max`/`count`/
    * `quantile` `without(<labels>)` over the latest-gauge registry: the
    * aggregation operators that collapse SERIES (the dual of the
    * `*_over_time` family, which collapses time). Rides [[gaugeLatest]]'s
    * map-side-combinable shuffle, then a second aggregation whose input is
    * already series-cardinality-bounded (registry-sized, not corpus-
    * sized), grouped by the kept (component, name) identity. Decimal sums
    * keep avg order-independent; the quantile is exact (the per-group
    * multiset is series-bounded) and rounded like the windowed quantile so
    * interpolation stays engine-portable.
    */
  def instantAgg(metrics: DataFrame, q: Double = 0.5): DataFrame = {
    val lv = col("last_value")
    val dv = IeeeLanes.decLane(lv, IeeeLanes.Cap2dp).cast("decimal(18,2)")
    IeeeLanes.dropFlags(
      gaugeLatest(metrics)
        .groupBy(col("component"), col("name"))
        .agg(
          count(lit(1)).as("n_series"),
          Seq(
            min(lv).as("min_value"),
            max(lv).as("max_value"),
            sum(dv).cast("double").as("_sum_dec"),
            round(percentile(lv, lit(q)), 4).as("q_value")) ++
            IeeeLanes.flagAggs(lv, "v", IeeeLanes.Cap2dp): _*)
        .withColumn("sum_value", IeeeLanes.reconstruct(col("_sum_dec"), "v"))
        .withColumn("avg_value", col("sum_value") / col("n_series").cast("double"))
        .drop("_sum_dec"),
      "v")
  }

  /** Prometheus `absent()`-style scrape-staleness alert: a series that
    * reported in window w but not in w+width went stale at w+width — the
    * "target stopped scraping" signal next to the value-based alerts
    * (m14). Emits the FIRST missing window of each gap; windows at the
    * stream's trailing edge (beyond the newest observed window anywhere)
    * are not flagged — the stream just hasn't caught up yet.
    *
    * Shape at 100 TB: the distinct (series, window) presence relation is a
    * map-side-combinable aggregation of the raw stream; the gap test is a
    * self left-anti join on the SAME key layout (one shuffle, both sides
    * co-partitioned) plus one broadcast scalar for the high-water mark.
    * The presence relation is consumed three times (both anti-join sides +
    * the high-water aggregate), so it's materialized once
    * ([[graft.Tables.materializeSmall]] — it's windows×series-sized, the
    * same bounded class as a rollup summary): the corpus-scale parse runs
    * once, not three times.
    */
  def absentAlert(metrics: DataFrame, widthSec: Long = 60): DataFrame = {
    val labeled =
      if (metrics.columns.contains("labels")) metrics else tagFilter(metrics)
    val present = graft.Tables.materializeSmall(labeled
      .withColumn("series", seriesKey(col("labels")))
      .select(
        col("component"), col("name"), col("series"),
        (col("timestamp") - pmod(col("timestamp"), lit(widthSec))).as("win"))
      .distinct())
    val hi = present.agg(max(col("win")).as("_max_win"))
    present
      .withColumn("absent_win", col("win") + widthSec)
      .join(
        present.select(
          col("component"), col("name"), col("series"), col("win").as("absent_win")),
        Seq("component", "name", "series", "absent_win"),
        "left_anti")
      .join(broadcast(hi))
      .filter(col("absent_win") <= col("_max_win"))
      .select(col("component"), col("name"), col("series"), col("absent_win"))
  }

  /** LookupMapper.java:20-30 parity: remap one label's values through a
    * lookup dictionary, keeping the original value when no mapping exists
    * (identity fallback). The dictionary is a DataFrame joined with
    * `broadcast()` — at cluster scale this is a map-side hash join, no
    * shuffle of the metric stream.
    */
  def lookupRemap(metrics: DataFrame, label: String, lookup: DataFrame): DataFrame = {
    // lookup: (from: string, to: string)
    val lk = broadcast(lookup.select(col("from").as("_lk_from"), col("to").as("_lk_to")))
    metrics
      .withColumn("_lbl", col("labels").getItem(label))
      .join(lk, col("_lbl") === col("_lk_from"), "left")
      .withColumn(
        "labels",
        map_concat(
          map_filter(col("labels"), (k, _) => k =!= lit(label)),
          map(lit(label), coalesce(col("_lk_to"), col("_lbl")))))
      .drop("_lbl", "_lk_from", "_lk_to")
  }

  /** Tumbling-window aggregation per series — the engine-side version of the
    * firehose's own `window{from,to,interval}` semantics. Emits exact
    * (decimal-summed) aggregates so results are order-independent.
    */
  def windowAgg(metrics: DataFrame, widthSec: Int = 60): DataFrame =
    IeeeLanes.dropFlags(
      metrics
        .withColumn("win_start", (col("timestamp") - pmod(col("timestamp"), lit(widthSec.toLong))).cast("long"))
        .groupBy(col("component"), col("name"), col("win_start"))
        .agg(
          count(lit(1)).as("n"),
          Seq(
            min(col("value")).as("min_value"),
            max(col("value")).as("max_value"),
            sum(IeeeLanes.decLane(col("value"), IeeeLanes.Cap2dp)
              .cast("decimal(18,2)")).as("_sum_dec")) ++
            IeeeLanes.flagAggs(col("value"), "v", IeeeLanes.Cap2dp): _*)
        .withColumn("sum_value",
          IeeeLanes.reconstruct(col("_sum_dec").cast("double"), "v"))
        .withColumn("avg_value", col("sum_value") / col("n"))
        .drop("_sum_dec"),
      "v")

  /** Prometheus text-exposition PARSING — the inverse of [[promRender]] and
    * the ingest half of a scrape/federation path: `name{k="v",...} value
    * [ts_millis]` lines back to typed columns. Labels stay in their
    * canonical `k=v,...` series-key rendering (the same identity
    * [[seriesKey]] produces); quoted label values may contain spaces,
    * commas and `}` and use the exposition escapes `\"` / `\\` (any
    * backslash-escape is unescaped to its raw character). The timestamp is
    * optional per the format. Comment/blank/unparseable lines are dropped,
    * mirroring a scraper's skip-and-continue discipline. Pure codegen'd
    * regex expressions; grammar kept token-for-token identical to the DSv2
    * [[graft.sources.PromSource.parseLine]] scanner (spec-asserted) —
    * registered as a round trip over the renderer, so the green oracle row
    * proves parse(render(x)) preserves every series.
    */
  def promParse(lines: DataFrame): DataFrame = {
    // ONE codegen kernel call per line (see Kernels.promLine): the regexp-
    // expression spelling it replaced (kept in the test tree as
    // PromFuzzSpec's differential regex leg) ran the compiled LineRe family
    // once per extracted group — ~10 regex executions per line; the kernel
    // runs each shared compiled pattern once, A/B-measured ~5x faster on
    // the m21 round trip at sf0.1 (1.89 → 0.4 s noop). Same grammar
    // objects, same try_cast semantics (space-trim, UTF8String.toLong,
    // parseDoubleToken) — byte-faithful by construction and pinned
    // three ways by PromFuzzSpec (kernel == regex leg == scanner).
    import org.apache.spark.sql.graft.{GraftBridge, PromLineParse}
    val p = GraftBridge.column(
      PromLineParse(GraftBridge.expression(col("line"))))
    lines
      .select(p.as("_p"))
      .filter(col("_p").isNotNull)
      .select(
        col("_p.metric").as("metric"), col("_p.series").as("series"),
        col("_p.value").as("value"), col("_p.ts_ms").as("ts_ms"))
  }

  /** The exposition-line grammar shared verbatim by the expression parser
    * ([[promParse]]) and the DSv2 scanner ([[graft.sources.PromSource]]).
    */
  object PromGrammar {
    /** groups: 1=metric (ABSENT for the Prometheus 3.x quoted-name form
      * `{"my.metric",k="v"} 5` — the name then comes from the block's
      * first entry, [[BlockMetricRe]]), 3=label block, 4=value token,
      * 6=ts token.
      */
    val LineRe = "^([^{\\s]+)?(\\{(.*)\\})?\\s+(\\S+)(\\s+(\\S+))?\\s*$"
    /** One label pair — classic key OR Prometheus 3.x quoted UTF-8 key
      * (same escapes as values; non-empty). groups: 1=classic key,
      * 2=raw (still-escaped) quoted key, 3=raw (still-escaped) value.
      */
    val PairRe =
      "(?:([a-zA-Z_][a-zA-Z0-9_:]*)|\"((?:[^\"\\\\]|\\\\.)+)\")" +
        "\\s*=\\s*\"((?:[^\"\\\\]|\\\\.)*)\""
    /** The whole label block must be a comma-separated tiling of [[PairRe]]
      * matches (trailing comma allowed, as Prometheus accepts). Without this
      * check a garbage block like `m{oops} 1 2` would pass [[LineRe]] and be
      * KEPT with whatever pairs happened to match (series "") — residue
      * anywhere in the block makes the line malformed, i.e. dropped.
      */
    val BlockRe = s"^\\s*(?:$PairRe\\s*,\\s*)*(?:$PairRe)?\\s*$$"
    /** The quoted-name form's label block: the metric name as a bare
      * quoted string FIRST (Prometheus 3.x requires first position),
      * then ordinary pairs. groups: 1=raw (still-escaped) metric name,
      * 2=the remaining pairs text (must tile [[BlockRe]]; may be empty).
      * Only consulted when [[LineRe]]'s metric group is absent — a line
      * with BOTH a bare name and a quoted first entry is malformed.
      */
    val BlockMetricRe =
      "^\\s*\"((?:[^\"\\\\]|\\\\.)+)\"\\s*(?:,(.*))?$"
    /** A `\n` preceded by an EVEN run of backslashes is a real newline
      * escape (an odd run means escaped-backslash + literal 'n'); applied
      * before the generic `\x` → x pass so exposition label values
      * round-trip per spec (`\\`, `\"`, `\n`).
      */
    val NewlineEscRe = "(?<!\\\\)((?:\\\\\\\\)*)\\\\n"
    val AnyEscRe = "\\\\(.)"
    /** An OpenMetrics EXEMPLAR tail — ` # {labelset} value [ts]` after the
      * sample — tolerated-and-dropped by every reader: a modern endpoint
      * that negotiates OpenMetrics must not break the scraper (nor refuse
      * a whole ingest batch) just because a counter carries trace
      * exemplars. Stripping happens ONLY when the line does not already
      * parse under the plain grammar, so no previously-valid line (e.g. a
      * quoted label value that happens to contain ` # {`) changes meaning.
      * Exemplar labelsets with braces inside quoted values stay
      * unparseable (no real trace-id exemplar carries them).
      */
    val ExemplarTailRe = "\\s+#\\s+\\{[^{}]*\\}\\s+\\S+(\\s+\\S+)?\\s*$"

    /** Scanner-side unescape: the same two regex passes, in the same order,
      * on the same engine as the expression parser's `regexp_replace` chain
      * — the paths cannot drift.
      */
    def unescapeLabelValue(raw: String): String =
      raw.replaceAll(NewlineEscRe, "$1\n").replaceAll(AnyEscRe, "$1")

    // compiled once per JVM from the same grammar strings — the
    // pairs-keeping scanner below AND the codegen parse kernel
    // ([[graft.functions.Kernels.promLine]]) share them with every other
    // reader
    private[graft] lazy val LinePattern = java.util.regex.Pattern.compile(LineRe)
    private[graft] lazy val PairPattern = java.util.regex.Pattern.compile(PairRe)
    private lazy val BlockPattern = java.util.regex.Pattern.compile(BlockRe)
    private lazy val BlockMetricPattern =
      java.util.regex.Pattern.compile(BlockMetricRe)

    /** One [[PairRe]] match's (key, value) — classic key verbatim,
      * quoted key unescaped like a value. Shared by every scanner.
      */
    private[graft] def pairOf(
        pm: java.util.regex.Matcher): (String, String) = {
      val key =
        if (pm.group(1) != null) pm.group(1)
        else unescapeLabelValue(pm.group(2))
      key -> unescapeLabelValue(pm.group(3))
    }

    /** Resolve a matched [[LineRe]] line's metric name and pairs text:
      * classic form keeps the bare token and tiles the whole block;
      * the quoted-name form (absent token) takes the block's first
      * entry as the (unescaped) name and tiles the rest. None =
      * malformed block → the LINE is malformed.
      */
    private[graft] def metricAndPairs(
        metricTok: String, block: String): Option[(String, String)] =
      if (metricTok != null && metricTok.nonEmpty) {
        if (BlockPattern.matcher(block).matches()) Some((metricTok, block))
        else None
      } else {
        val bm = BlockMetricPattern.matcher(block)
        if (!bm.matches()) return None
        val rest = Option(bm.group(2)).getOrElse("")
        if (!BlockPattern.matcher(rest).matches()) None
        else Some((unescapeLabelValue(bm.group(1)), rest))
      }

    /** One exposition line → (metric, label PAIRS, value, ts_ms) —
      * [[graft.sources.PromSource.parseLine]]'s semantics keeping the
      * pairs as a map (the landing's `labels` column) instead of the
      * rendered series key. Shared by the HTTP ingest endpoint and the
      * scrape client, so every reader of the format runs one grammar.
      */
    def parseLineLabels(
        line: String,
        omTimestamps: Boolean = false)
        : Option[(String, Map[String, String], Double, Option[Long])] =
      parseLineLabelsPlain(line, omTimestamps).orElse {
        // OpenMetrics tolerance: retry once with the exemplar tail
        // stripped — a no-op (same None) for lines without one
        val stripped = stripExemplarTail(line)
        if (stripped == line) None
        else parseLineLabelsPlain(stripped, omTimestamps)
      }

    /** [[parseLineLabels]] minus the exemplar retry. `omTimestamps`
      * selects the OpenMetrics timestamp unit — SECONDS, fractional
      * allowed (the Prometheus text format's are integer MILLIS; the
      * same line is valid in both, so the unit must come from the
      * negotiated content type, never a guess). Returned as millis
      * either way.
      */
    private def parseLineLabelsPlain(
        line: String,
        omTimestamps: Boolean)
        : Option[(String, Map[String, String], Double, Option[Long])] = {
      val m = LinePattern.matcher(line)
      if (!m.matches()) return None
      val block = Option(m.group(3)).getOrElse("")
      metricAndPairs(m.group(1), block).flatMap { case (metric, pairsTxt) =>
        val labels = Map.newBuilder[String, String]
        val pm = PairPattern.matcher(pairsTxt)
        while (pm.find()) labels += pairOf(pm)
        parseDoubleToken(m.group(4)).flatMap { value =>
          try {
            val ts = Option(m.group(6)).map { tok =>
              if (omTimestamps) {
                val sec = java.lang.Double.parseDouble(tok)
                if (sec.isNaN || sec.isInfinite)
                  throw new NumberFormatException(tok)
                Math.floor(sec * 1000.0).toLong
              } else java.lang.Long.parseLong(tok)
            }
            Some((metric, labels.result(), value, ts))
          } catch { case _: NumberFormatException => None }
        }
      }
    }

    private lazy val ExemplarTailPattern =
      java.util.regex.Pattern.compile(ExemplarTailRe)

    /** The line with its OpenMetrics exemplar tail removed (unchanged
      * when there is none) — shared by every scanner's retry path.
      */
    def stripExemplarTail(line: String): String =
      ExemplarTailPattern.matcher(line).replaceFirst("")

    /** Scanner-side value-token parse mirroring Spark's
      * `try_cast(tok AS double)` exactly: Java `parseDouble` PLUS Spark's
      * case-insensitive special floating-point literals. Prometheus's
      * canonical `+Inf`/`-Inf` (histogram `le` bounds) and `NaN` therefore
      * parse on BOTH paths — plain `parseDouble` alone would silently drop
      * every `+Inf` bucket sample a real scrape file contains.
      */
    def parseDoubleToken(t: String): Option[Double] =
      t.toLowerCase(java.util.Locale.ROOT) match {
        case "inf" | "+inf" | "infinity" | "+infinity" => Some(Double.PositiveInfinity)
        case "-inf" | "-infinity" => Some(Double.NegativeInfinity)
        case "nan" => Some(Double.NaN)
        case _ =>
          try Some(java.lang.Double.parseDouble(t))
          catch { case _: NumberFormatException => None }
      }
  }

  /** Hopping (sliding) window aggregation — the PromQL range-query shape:
    * every `slideSec` a window covering the trailing `widthSec` closes, so
    * each sample lands in `width/slide` overlapping windows. The fan-out
    * is that fixed ratio (a plan constant, NOT data-dependent) via one
    * codegen'd `sequence` explode — then it's the same map-side-combinable
    * grouped aggregate as the tumbling [[windowAgg]]. Exact integer FLOOR
    * division via pmod (SQL `div` truncates toward zero, which would drop
    * the earliest overlapping window whenever the shifted timestamp goes
    * negative — e.g. any sample inside the first `widthSec` of the epoch),
    * decimal sums for order-independence.
    */
  def slidingWindowAgg(metrics: DataFrame, widthSec: Long = 3600,
      slideSec: Long = 900): DataFrame = {
    require(widthSec % slideSec == 0, "slide must tile the window width")
    // floor(x / d) for any sign of x: subtract the (always non-negative)
    // pmod first so the `div` truncation never rounds toward zero
    def floorDiv(x: String, d: Long): Column =
      expr(s"(($x) - pmod($x, ${d}L)) div ${d}L")
    val kmax = floorDiv("timestamp", slideSec)
    val kmin = floorDiv(s"timestamp - ${widthSec}L", slideSec) + 1
    metrics
      .select(col("component"), col("name"), col("value"),
        explode(sequence(kmin, kmax)).as("k"))
      .withColumn("win_start", col("k") * slideSec)
      .groupBy(col("component"), col("name"), col("win_start"))
      .agg(
        count(lit(1)).as("n"),
        Seq(
          min(col("value")).as("min_value"),
          max(col("value")).as("max_value"),
          sum(IeeeLanes.decLane(col("value"), IeeeLanes.Cap2dp)
            .cast("decimal(18,2)")).as("_sum_dec")) ++
          IeeeLanes.flagAggs(col("value"), "v", IeeeLanes.Cap2dp): _*)
      .withColumn("sum_value",
        IeeeLanes.reconstruct(col("_sum_dec").cast("double"), "v"))
      .withColumn("avg_value", col("sum_value") / col("n"))
      .drop(IeeeLanes.flagCols("v") :+ "_sum_dec" :+ "k": _*)
  }

  /** Incremental rollup maintenance — merge a new batch's windowed partial
    * aggregates into an already-landed summary ([[windowAgg]] outputs on
    * both sides) WITHOUT touching raw history: count/min/max/sum are
    * mergeable, the average is re-derived from the merged sum and count
    * (never averaged averages). The double→decimal(18,2) re-cast on the
    * landed sum is an exact round trip (the sum was a 2-dp decimal before
    * landing), so merge == recompute bit-for-bit — which is exactly what
    * the oracle asserts: the registered query merges two half-corpus
    * rollups against the one-pass oracle over ALL rows. This is the
    * nightly-compaction shape: at 100 TB the summary table is
    * windows×series-sized and the raw scan happens once per delta, never
    * again.
    */
  def rollupMerge(summary: DataFrame, delta: DataFrame): DataFrame =
    IeeeLanes.dropFlags(
      summary.unionByName(delta)
        .groupBy(col("component"), col("name"), col("win_start"))
        .agg(
          sum(col("n")).as("n"),
          Seq(
            min(col("min_value")).as("min_value"),
            max(col("max_value")).as("max_value"),
            sum(IeeeLanes.decLane(col("sum_value"), IeeeLanes.Cap2dp)
              .cast("decimal(18,2)")).as("_sum_dec")) ++
            IeeeLanes.flagAggs(col("sum_value"), "v", IeeeLanes.Cap2dp): _*)
        .withColumn("sum_value",
          IeeeLanes.reconstruct(col("_sum_dec").cast("double"), "v"))
        .withColumn("avg_value", col("sum_value") / col("n"))
        .drop("_sum_dec"),
      "v")

  /** Exposition label-value escaping per the Prometheus text format:
    * `\` → `\\`, `"` → `\"`, newline → `\n` — so any label text renders
    * to a single parseable line (the pre-r16 render quoted RAW values:
    * a value carrying `"`, `,` or a newline rendered unparseably).
    */
  def escapeExpoValue(c: Column): Column =
    replace(
      replace(
        replace(c, lit("\\"), lit("\\\\")),
        lit("\""), lit("\\\"")),
      lit("\n"), lit("\\n"))

  /** [[escapeExpoValue]]'s driver-side twin (literal replacement). */
  def escapeExpoValueStr(s: String): String =
    s.replace("\\", "\\\\").replace("\"", "\\\"").replace("\n", "\\n")

  /** Classic (unquotable) name character classes of the Prometheus text
    * format. A metric or label name OUTSIDE its class renders QUOTED per
    * the Prometheus 3.x UTF-8 exposition form (`escaping=allow-utf-8`):
    * `{"my.metric",code="200",...}` / `name{"label.with.dots"="v"}`.
    */
  // \A/\z anchors, not ^/$: Java `$` also matches BEFORE a trailing
  // newline under find() (Spark's rlike), which would let a name ending
  // in '\n' pass as classic on the codegen path while the driver twin's
  // full-match refuses it — \z anchors both engines to the true end
  val ClassicLabelNameRe = "\\A[a-zA-Z_][a-zA-Z0-9_]*\\z"
  val ClassicMetricNameRe = "\\A[a-zA-Z_:][a-zA-Z0-9_:]*\\z"

  /** [[underscoreMetricName]] as a codegen expression. Granularity note:
    * a Java regex char class consumes one CODE POINT per match, and the
    * driver twin iterates code points, so a surrogate-pair (astral)
    * character mangles to ONE underscore on BOTH paths.
    */
  def underscoreMetricCol(c: Column): Column = {
    val repl = regexp_replace(c, "[^a-zA-Z0-9_:]", "_")
    when(repl.rlike("\\A[0-9]"),
      concat(lit("_"), substring(repl, 2, Int.MaxValue))).otherwise(repl)
  }

  /** [[underscoreLabelName]] as a codegen expression (no `:`). */
  def underscoreLabelCol(c: Column): Column = {
    val repl = regexp_replace(c, "[^a-zA-Z0-9_]", "_")
    when(repl.rlike("\\A[0-9]"),
      concat(lit("_"), substring(repl, 2, Int.MaxValue))).otherwise(repl)
  }

  /** Prometheus text-exposition rendering (what PrometheusPusher/Puller emit
    * via the client lib): `component_name{labels} value ts_millis`, one line
    * per live series, as a pure column expression usable by any sink.
    * Renders from the label MAP (sorted by key — the same UTF8-binary
    * order as [[seriesKey]]), with values [[escapeExpoValue]]-escaped and
    * non-classic metric/label names quoted in the Prometheus 3.x UTF-8
    * form — so every line round-trips through [[promParse]] for ANY
    * label/name text (spec- and oracle-pinned). With `utf8 = false`
    * (a consumer that did not negotiate `escaping=allow-utf-8`)
    * non-classic names are underscore-mangled instead — the classic
    * downgrade, [[renderLineStr]]'s codegen twin on both legs. Input
    * needs (component, name, labels, last_value, last_ts) —
    * [[gaugeLatestLabeled]]'s shape.
    */
  def promRender(gauges: DataFrame): DataFrame =
    promRender(gauges, utf8 = true)

  def promRender(gauges: DataFrame, utf8: Boolean): DataFrame = {
    val metric = concat(col("component"), lit("_"), col("name"))
    val pairs = transform(
      array_sort(map_entries(col("labels"))),
      e => concat(
        when(e.getField("key").rlike(ClassicLabelNameRe), e.getField("key"))
          .otherwise(
            if (utf8)
              concat(lit("\""), escapeExpoValue(e.getField("key")), lit("\""))
            else underscoreLabelCol(e.getField("key"))),
        lit("=\""), escapeExpoValue(e.getField("value")), lit("\"")))
    val inner = array_join(pairs, ",")
    val noLabels = size(map_entries(col("labels"))) === 0
    val braced =
      when(noLabels, lit("")).otherwise(concat(lit("{"), inner, lit("}")))
    val body = when(
      metric.rlike(ClassicMetricNameRe),
      concat(metric, braced))
      .otherwise(
        if (utf8)
          concat(
            lit("{\""), escapeExpoValue(metric), lit("\""),
            when(noLabels, lit("")).otherwise(concat(lit(","), inner)),
            lit("}"))
        else concat(underscoreMetricCol(metric), braced))
    gauges.select(
      concat(
        body,
        lit(" "),
        expoValueCol(col("last_value")),
        lit(" "),
        (col("last_ts") * 1000).cast("string")).as("line"))
  }

  /** Full-precision exposition VALUE rendering as a codegen expression:
    * `+Inf` / `-Inf` / `NaN` specials (the Prometheus wire spellings —
    * client_java's `Collector.doubleToGoString`), otherwise Spark's
    * double→string cast, which is byte-for-byte `java.lang.Double
    * .toString` — the shortest decimal that round-trips, exactly what
    * the reference's client_java emits. Replaces the historical `%.6f`
    * convention, which silently rounded any value with more than six
    * decimals (a gauge at 3e-7 federated as `0.000000`); with this
    * rendering `parse(render(v))` recovers every finite double BIT-FOR-
    * BIT (oracle- and fuzz-pinned).
    */
  def expoValueCol(c: Column): Column =
    when(isnan(c), lit("NaN"))
      .when(c === lit(Double.PositiveInfinity), lit("+Inf"))
      .when(c === lit(Double.NegativeInfinity), lit("-Inf"))
      .otherwise(c.cast("string"))

  /** [[expoValueCol]]'s driver-side twin (byte parity fuzz-pinned:
    * Spark's double→string cast is `Double.toString`).
    */
  def expoValueStr(v: Double): String =
    if (v.isNaN) "NaN"
    else if (v == Double.PositiveInfinity) "+Inf"
    else if (v == Double.NegativeInfinity) "-Inf"
    else java.lang.Double.toString(v)

  /** Prometheus's `escaping=underscores` name mangling — what a 3.x
    * server serves to a NON-negotiating classic client: every character
    * outside the classic class becomes `_` (lossy by design; distinct
    * UTF-8 names may collide, exactly as in Prometheus itself).
    */
  // CODE-POINT iteration, not UTF-16 units: the codegen twin is a Java
  // regex char class, which consumes one code point per match — an
  // astral character must mangle to ONE underscore on both paths
  private def underscoreName(s: String, allowColon: Boolean): String = {
    if (s.isEmpty) return s
    val b = new StringBuilder(s.length)
    var i = 0
    var first = true
    while (i < s.length) {
      val cp = s.codePointAt(i)
      val classic =
        (cp >= 'a' && cp <= 'z') || (cp >= 'A' && cp <= 'Z') || cp == '_' ||
          (allowColon && cp == ':') || (!first && cp >= '0' && cp <= '9')
      b.append(if (classic) cp.toChar else '_')
      i += Character.charCount(cp)
      first = false
    }
    b.toString
  }

  def underscoreMetricName(s: String): String =
    underscoreName(s, allowColon = true)

  /** [[underscoreMetricName]] for label names (no `:` in the class). */
  def underscoreLabelName(s: String): String =
    underscoreName(s, allowColon = false)

  /** One exposition line rendered DRIVER-side — with `utf8 = true` the
    * byte-identical twin of [[promRender]]'s codegen render (same
    * escape chain, same classic-name classes, same full-precision
    * [[expoValueStr]] value spelling),
    * over label pairs ALREADY in [[seriesKey]]'s order (UTF-8-byte key
    * order — callers sort with [[graft.promql.PromRegistry.utf8Gt]] or
    * pass [[parseSeriesKey]] output, which preserves the key's order).
    * Parity is spec-pinned across adversarial label text. With
    * `utf8 = false` (a client that did NOT negotiate
    * `escaping=allow-utf-8`) non-classic names are underscore-mangled
    * instead of quoted — Prometheus 3.x's own downgrade for classic
    * scrapers, so a 2.x federation consumer never sees a quoted line.
    */
  def renderLineStr(
      component: String, name: String, labels: Seq[(String, String)],
      value: Double, tsSec: Long, utf8: Boolean = true): String = {
    val metric = component + "_" + name
    val inner = labels.iterator.map { case (k, v) =>
      (if (k.matches(ClassicLabelNameRe)) k
       else if (utf8) "\"" + escapeExpoValueStr(k) + "\""
       else underscoreLabelName(k)) +
        "=\"" + escapeExpoValueStr(v) + "\""
    }.mkString(",")
    val body =
      if (metric.matches(ClassicMetricNameRe))
        metric + (if (labels.isEmpty) "" else "{" + inner + "}")
      else if (utf8)
        "{\"" + escapeExpoValueStr(metric) + "\"" +
          (if (labels.isEmpty) "" else "," + inner) + "}"
      else
        underscoreMetricName(metric) +
          (if (labels.isEmpty) "" else "{" + inner + "}")
    body + " " + expoValueStr(value) + " " + (tsSec * 1000L).toString
  }

  /** Per-series counter rate (value delta / time delta) — the downstream
    * computation Prometheus performs on scraped gauges; here an engine
    * operator via `lag` window functions.
    */
  def seriesRate(metrics: DataFrame): DataFrame = {
    val labeled =
      if (metrics.columns.contains("labels")) metrics else tagFilter(metrics)
    val w = Window
      .partitionBy(col("component"), col("name"), col("series"))
      .orderBy(col("timestamp"), col("id"))
    labeled
      .withColumn("series", seriesKey(col("labels")))
      .withColumn("prev_value", lag(col("value"), 1).over(w))
      .withColumn("prev_ts", lag(col("timestamp"), 1).over(w))
      .withColumn(
        "rate",
        (col("value") - col("prev_value")) /
          (col("timestamp") - col("prev_ts")).cast("double"))
      .select("component", "name", "series", "id", "timestamp", "value", "rate")
  }

  /** Per-series Prometheus `resets()` + `changes()` — counts of counter
    * resets (a sample strictly below its predecessor) and of value changes
    * between consecutive samples over the landed range. Same one
    * window-shuffle by series as [[seriesRate]], then a
    * map-side-combinable count aggregate; integer outputs, no float
    * accumulation to keep portable.
    */
  def resetsChanges(metrics: DataFrame): DataFrame = {
    val labeled =
      if (metrics.columns.contains("labels")) metrics else tagFilter(metrics)
    val w = Window
      .partitionBy(col("component"), col("name"), col("series"))
      .orderBy(col("timestamp"), col("id"))
    labeled
      .withColumn("series", seriesKey(col("labels")))
      .withColumn("prev", lag(col("value"), 1).over(w))
      .groupBy(col("component"), col("name"), col("series"))
      .agg(
        sum((col("prev").isNotNull && col("value") < col("prev")).cast("long")).as("resets"),
        sum((col("prev").isNotNull && col("value") =!= col("prev")).cast("long")).as("changes"),
        count(lit(1)).as("n_samples"))
  }

  /** Per-series windowed exact quantile — PromQL `quantile_over_time`
    * over the landed stream: linear-interpolated percentile of the raw
    * samples per series per tumbling window. Exact-percentile state is
    * the per-group value multiset, which is bounded here by scrape rate ×
    * window span (NOT corpus size) — the safe regime for the exact form;
    * for very long windows swap `approx_percentile` (mergeable GK sketch,
    * the same swap [[graft.operators.Relational.qPercentilesApprox]]
    * demonstrates). Rounded to 4 dp like the batch percentile query so
    * the interpolation is engine-portable.
    */
  def quantileOverTime(metrics: DataFrame, q: Double = 0.9,
      widthSec: Long = 3600): DataFrame = {
    val labeled =
      if (metrics.columns.contains("labels")) metrics else tagFilter(metrics)
    labeled
      .withColumn("series", seriesKey(col("labels")))
      .withColumn(
        "win_start",
        (col("timestamp") - pmod(col("timestamp"), lit(widthSec))).cast("long"))
      .groupBy(col("component"), col("name"), col("series"), col("win_start"))
      .agg(
        round(percentile(col("value"), lit(q)), 4).as("q_value"),
        count(lit(1)).as("n_samples"))
  }

  /** Per-series windowed counter increase — Prometheus `increase()`
    * semantics over the landed stream: sum of positive value deltas per
    * series per tumbling window (counter resets, i.e. negative deltas,
    * contribute the post-reset value per the Prometheus convention of
    * treating a reset as a restart from zero — here clamped to the new
    * value). One window-function shuffle by series, then a
    * map-side-combinable window aggregation.
    */
  def counterIncrease(metrics: DataFrame, widthSec: Long = 3600): DataFrame = {
    val labeled =
      if (metrics.columns.contains("labels")) metrics else tagFilter(metrics)
    val w = Window
      .partitionBy(col("component"), col("name"), col("series"))
      .orderBy(col("timestamp"), col("id"))
    labeled
      .withColumn("series", seriesKey(col("labels")))
      .withColumn("delta", col("value") - lag(col("value"), 1).over(w))
      .withColumn(
        "inc",
        when(col("delta").isNull, lit(0.0))
          .when(col("delta") < 0, col("value"))
          .otherwise(col("delta")))
      .withColumn(
        "win_start",
        (col("timestamp") - pmod(col("timestamp"), lit(widthSec))).cast("long"))
      .groupBy(col("component"), col("name"), col("series"), col("win_start"))
      .agg(
        // (18,6): deltas of 2-dp inputs quantize unambiguously well inside
        // 6 dp, and the oracle uses the same precision; the lanes carry
        // non-finite and beyond-cap deltas a poisoned or byte-counter
        // stream produces
        sum(IeeeLanes.decLane(col("inc"), IeeeLanes.Cap6dp)
          .cast("decimal(18,6)")).cast("double").as("_inc_dec"),
        (count(lit(1)).as("n_samples") +:
          IeeeLanes.flagAggs(col("inc"), "i", IeeeLanes.Cap6dp)): _*)
      .withColumn("increase", IeeeLanes.reconstruct(col("_inc_dec"), "i"))
      .drop(IeeeLanes.flagCols("i") :+ "_inc_dec": _*)
  }

  /** PromQL's instant-window family — `delta` / `idelta` / `irate` per
    * series per tumbling window: delta = last − first sample, idelta =
    * last − previous sample, irate = the instantaneous rate from the last
    * two samples (counter-reset clamped to the post-reset value, the same
    * convention as [[counterIncrease]]). All three need only the window's
    * FIRST, LAST and SECOND-TO-LAST samples, located by one row_number +
    * one partition count sharing a single exchange-and-sort by
    * (series, window); the groupBy that collapses them reuses that same
    * hash distribution, so the whole operator is ONE shuffle. Windows with
    * a single sample emit nulls (PromQL returns nothing below two
    * samples); equal-timestamp last pairs null the rate rather than
    * dividing by zero. Outputs are plain IEEE subtract/divide over landed
    * doubles — engine-portable with no decimal detour.
    */
  def irateDelta(metrics: DataFrame, widthSec: Long = 3600): DataFrame = {
    val labeled =
      if (metrics.columns.contains("labels")) metrics else tagFilter(metrics)
    val keys = Seq(col("component"), col("name"), col("series"), col("win_start"))
    val wAsc = Window.partitionBy(keys: _*).orderBy(col("timestamp"), col("id"))
    val wAll = Window.partitionBy(keys: _*)
    labeled
      .withColumn("series", seriesKey(col("labels")))
      .withColumn(
        "win_start",
        (col("timestamp") - pmod(col("timestamp"), lit(widthSec))).cast("long"))
      .withColumn("rn", row_number().over(wAsc))
      .withColumn("cnt", count(lit(1)).over(wAll))
      .groupBy(keys: _*)
      .agg(
        min(when(col("rn") === 1, col("value"))).as("first_v"),
        min(when(col("rn") === col("cnt"), col("value"))).as("last_v"),
        min(when(col("rn") === col("cnt"), col("timestamp"))).as("last_ts"),
        min(when(col("rn") === col("cnt") - 1, col("value"))).as("prev_v"),
        min(when(col("rn") === col("cnt") - 1, col("timestamp"))).as("prev_ts"),
        count(lit(1)).as("n_samples"))
      .select(
        col("component"), col("name"), col("series"), col("win_start"),
        when(col("n_samples") >= 2, col("last_v") - col("first_v")).as("delta"),
        when(col("n_samples") >= 2, col("last_v") - col("prev_v")).as("idelta"),
        when(col("n_samples") >= 2 && col("last_ts") =!= col("prev_ts"),
          when(col("last_v") < col("prev_v"), col("last_v"))
            .otherwise(col("last_v") - col("prev_v")) /
            (col("last_ts") - col("prev_ts")).cast("double")).as("irate"),
        col("n_samples"))
  }

  /** PromQL's `*_over_time` aggregation family — `avg` / `sum` / `min` /
    * `max` / `stddev` / `stdvar` / `last` over time, per series per
    * tumbling window, in ONE plain aggregation (one shuffle, map-side
    * combinable — every member is algebraic: sums, extremes, and
    * `max_by(value, (ts, id))` for `last_over_time` all merge
    * associatively, so at 100 TB the exchange carries one partial row per
    * series per input partition). Engine-portable float discipline: sums
    * of 2-dp inputs ride exact decimals and only then cast to double, so
    * avg/stdvar/stddev derive from order-independent numerators —
    * variance via the algebraic E[x²]−E[x]² form over those exact sums,
    * clamped at zero before the sqrt so FP cancellation can't emit NaN.
    */
  def overTimeAgg(metrics: DataFrame, widthSec: Long = 3600): DataFrame = {
    val labeled =
      if (metrics.columns.contains("labels")) metrics else tagFilter(metrics)
    val dv = IeeeLanes.decLane(col("value"), IeeeLanes.Cap2dp).cast("decimal(18,2)")
    val fv = IeeeLanes.finLane(col("value"))
    val n = col("n_samples").cast("double")
    IeeeLanes.dropFlags(
      labeled
        .withColumn("series", seriesKey(col("labels")))
        .withColumn(
          "win_start",
          (col("timestamp") - pmod(col("timestamp"), lit(widthSec))).cast("long"))
        .groupBy(col("component"), col("name"), col("series"), col("win_start"))
        .agg(
          count(lit(1)).as("n_samples"),
          Seq(
            min(col("value")).as("min_value"),
            max(col("value")).as("max_value"),
            sum(dv).cast("double").as("_sum_dec"),
            sum((dv * dv).cast("decimal(38,4)")).cast("double").as("_sumsq_dec"),
            sum(fv * fv).as("_dsq"),
            graft.functions.GraftFunctions.max_by_ts_id(col("value"), col("timestamp"), col("id")).as("last_value")) ++
            IeeeLanes.flagAggs(col("value"), "v", IeeeLanes.Cap2dp): _*)
        .withColumn("sum_value", IeeeLanes.reconstruct(col("_sum_dec"), "v"))
        // a big-finite group derives its moments from the IEEE sidecars;
        // a non-finite group's variance is the Inf − Inf fold → NaN
        .withColumn("sumsq_value",
          when(IeeeLanes.anyNonFinite("v"), lit(Double.NaN))
            .when(IeeeLanes.isBig("v"), col("_dsq"))
            .otherwise(col("_sumsq_dec")))
        .withColumn("avg_value", col("sum_value") / n)
        .withColumn(
          "stdvar_value",
          when(IeeeLanes.anyNonFinite("v"), lit(Double.NaN))
            .when(IeeeLanes.isBig("v"), greatest(
              (col("_dsq") - col("_vdsum") * col("_vdsum") / n) / n, lit(0.0)))
            .otherwise(greatest(
              (col("_sumsq_dec") - col("_sum_dec") * col("_sum_dec") / n) / n,
              lit(0.0))))
        .withColumn("stddev_value", sqrt(col("stdvar_value")))
        .drop("_sum_dec", "_sumsq_dec", "_dsq"),
      "v")
  }

  /** PromQL `holt_winters()` (double exponential smoothing) per series per
    * tumbling window: s₀ = v₀, b₀ = v₁−v₀, then
    * sᵢ = sf·vᵢ + (1−sf)·(sᵢ₋₁+bᵢ₋₁), bᵢ = tf·(sᵢ−sᵢ₋₁) + (1−tf)·bᵢ₋₁,
    * emitting the final sᵢ (null below two samples, like the endpoint
    * family). The recursion is inherently sequential, but only WITHIN a
    * (series, window) group whose sample count is bounded by scrape rate ×
    * window span — the same bounded-multiset argument as the exact
    * quantile — so it runs as one `aggregate` fold over the sorted
    * in-window sample list after a single shuffle; groups, not samples,
    * set the parallelism. Fold order is pinned by (ts, id) sort, so the
    * IEEE arithmetic sequence is deterministic and engine-portable; the
    * default factors are dyadic rationals (so sf, tf AND their 1−x
    * complements are all exact binary doubles — `1 − 0.3` vs a literal
    * `0.7` can differ in the last ulp between engines, a real hash-gate
    * hazard for a recursion that amplifies it).
    */
  def holtWinters(
      metrics: DataFrame,
      sf: Double = 0.5,
      tf: Double = 0.25,
      widthSec: Long = 3600): DataFrame = {
    val labeled =
      if (metrics.columns.contains("labels")) metrics else tagFilter(metrics)
    val vs = transform(array_sort(col("_s")), s => s.getField("value"))
    def smooth(acc: Column, x: Column): Column = {
      val sNew = lit(sf) * x + lit(1 - sf) * (acc.getField("s") + acc.getField("b"))
      struct(
        sNew.as("s"),
        (lit(tf) * (sNew - acc.getField("s")) + lit(1 - tf) * acc.getField("b")).as("b"))
    }
    labeled
      .withColumn("series", seriesKey(col("labels")))
      .withColumn(
        "win_start",
        (col("timestamp") - pmod(col("timestamp"), lit(widthSec))).cast("long"))
      .groupBy(col("component"), col("name"), col("series"), col("win_start"))
      .agg(
        collect_list(struct(col("timestamp").as("ts"), col("id"), col("value"))).as("_s"),
        count(lit(1)).as("n_samples"))
      .select(
        col("component"), col("name"), col("series"), col("win_start"),
        when(col("n_samples") >= 2,
          aggregate(
            slice(vs, lit(3), greatest(size(vs) - 2, lit(0))),
            struct(
              element_at(vs, 2).as("s"),
              (element_at(vs, 2) - element_at(vs, 1)).as("b")),
            smooth).getField("s")).as("smoothed"),
        col("n_samples"))
  }

  /** PromQL label manipulation — `label_replace` (derive a new label from a
    * regex capture over an existing one; an unmatched regex leaves the
    * series untouched, per spec) then `label_join` (new label = existing
    * label values joined with a separator). Both are pure row-local map
    * expressions (`map_concat` + `regexp_extract` / `concat_ws`) — zero
    * shuffles, fully codegen, and the rewritten label map flows into the
    * same [[seriesKey]] identity every downstream operator groups by.
    */
  def labelOps(metrics: DataFrame): DataFrame = {
    val labeled =
      if (metrics.columns.contains("labels")) metrics else tagFilter(metrics)
    val user = try_element_at(col("labels"), lit("user"))
    val tier = regexp_extract(user, "^(\\d)", 1)
    val replaced =
      // label_replace(v, "tier", "$1", "user", "^(\d)"): only a matching
      // source value writes the destination label
      when(user.rlike("^\\d"), map_concat(col("labels"), map(lit("tier"), tier)))
        .otherwise(col("labels"))
    labeled
      .withColumn("labels", replaced)
      .withColumn(
        "labels",
        // label_join(v, "instance", "-", "user", "tier")
        map_concat(
          col("labels"),
          map(
            lit("instance"),
            // try_element_at: a source label ABSENT from the map (regex
            // unmatched upstream) contributes nothing, ANSI-safely
            concat_ws("-",
              try_element_at(col("labels"), lit("user")),
              try_element_at(col("labels"), lit("tier"))))))
      .select(col("id"), seriesKey(col("labels")).as("series"))
  }

  /** PromQL `count_values()` — sample count per distinct value per metric:
    * one map-side-combinable grouped count (the shuffle carries (value,
    * partial-count) pairs, bounded by value cardinality per metric, never
    * raw samples).
    */
  def countValues(metrics: DataFrame): DataFrame = {
    val labeled =
      if (metrics.columns.contains("labels")) metrics else tagFilter(metrics)
    labeled
      .groupBy(col("component"), col("name"), col("value"))
      .agg(count(lit(1)).as("n"))
  }

  /** Default classic-histogram bucket boundaries for the synthetic stream. */
  val DefaultLes: Seq[Double] = Seq(50.0, 100.0, 200.0, 300.0, 400.0)

  /** Prometheus classic-histogram semantics as engine operators: cumulative
    * `le` bucket counts per metric, and `histogram_quantile()`-style linear
    * interpolation within the located bucket. A quantile landing in the
    * +Inf bucket returns the highest finite boundary (the Prometheus
    * convention). All arithmetic is IEEE add/mul/div over exact counts, so
    * the oracle matches bit-for-bit.
    *
    * @param les finite bucket boundaries, ascending (+Inf appended)
    */
  def histogramQuantile(
      metrics: DataFrame,
      les: Seq[Double] = DefaultLes,
      q: Double = 0.9): DataFrame = {
    val inf = Double.PositiveInfinity
    // bucket classification: the smallest `le` boundary ≥ value, +Inf when
    // none — O(1) per row, pure codegen
    val le = coalesce((les.map(l => when(col("value") <= l, lit(l))) :+ lit(inf)): _*)
    val counts = metrics
      .select(col("name"), le.as("le"))
      .groupBy(col("name"), col("le"))
      .agg(count(lit(1)).as("n"))
    val byLe = Window.partitionBy(col("name")).orderBy(col("le"))
    // totals as max(cum) over the name partition instead of a groupBy+join:
    // the bucket relation then has exactly one consumer, so nothing needs
    // caching, and both windows share the one shuffle by name
    val byName = Window.partitionBy(col("name"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val cum = counts
      .withColumn("cum", sum(col("n")).over(byLe))
      .withColumn("cum_prev", coalesce(lag(col("cum"), 1).over(byLe), lit(0L)))
      .withColumn("lo", coalesce(lag(col("le"), 1).over(byLe), lit(0.0)))
    val ranked = cum
      .withColumn("total", max(col("cum")).over(byName))
      .withColumn("rank", lit(q) * col("total").cast("double"))
      .filter(col("cum").cast("double") >= col("rank"))
      .withColumn("rn", row_number().over(byLe))
      .filter(col("rn") === 1)
    ranked.select(
      col("name"),
      lit(q).as("q"),
      col("total"),
      when(col("le") === lit(inf), col("lo"))
        .otherwise(
          col("lo") + (col("le") - col("lo")) *
            ((col("rank") - col("cum_prev").cast("double")) /
              (col("cum").cast("double") - col("cum_prev").cast("double"))))
        .as("quantile"))
  }

  /** Time-series regularization: resample each series onto a dense
    * `stepSec` grid between its first and last sample, forward-filling the
    * last seen value (what a Prometheus range query does before rate/avg
    * can run on irregular scrapes). ONE stream pass: each slot-aggregated
    * sample emits itself plus the empty grid slots up to (not including)
    * the series' next sample via `lead` + a bounded `sequence` explode —
    * forward-fill by construction, no span aggregate, no grid join-back
    * (that shape scanned the stream twice: column pruning gave the two
    * sample instances different ReadSchemas, so the exchanges never
    * deduped). The explode stays bounded by gap/step per sample.
    *
    * Measured tradeoff (sf0.1, local[32], A/B in one JVM): this form pays
    * ~0.7 s for the window's explicit sort of the slot relation, where the
    * old join shape got its window ordering free from the sort-merge join —
    * but the old shape re-scanned AND re-aggregated the raw stream, which
    * is nearly free on local parquet and dominant at 100 TB (raw events are
    * several times the slot relation, and the second pass cannot be pruned
    * away). Single-scan wins where it matters; pinned in PlanSpec.
    */
  def gapFill(metrics: DataFrame, stepSec: Long = 60): DataFrame = {
    val labeled =
      if (metrics.columns.contains("labels")) metrics else tagFilter(metrics)
    val samples = labeled
      .withColumn("series", seriesKey(col("labels")))
      .withColumn("slot", (col("timestamp") - pmod(col("timestamp"), lit(stepSec))).cast("long"))
      .groupBy(col("component"), col("name"), col("series"), col("slot"))
      .agg(graft.functions.GraftFunctions.max_by_ts_id(col("value"), col("timestamp"), col("id")).as("slot_value"))
    val w = Window
      .partitionBy(col("component"), col("name"), col("series"))
      .orderBy(col("slot"))
    samples
      .withColumn("_next", lead(col("slot"), 1).over(w))
      .select(
        col("component"), col("name"), col("series"),
        col("slot").as("_src"), col("slot_value"),
        explode(sequence(
          col("slot"),
          coalesce(col("_next") - stepSec, col("slot")),
          lit(stepSec))).as("slot"))
      .select(
        col("component"), col("name"), col("series"), col("slot"),
        col("slot_value").as("value"),
        (col("slot") =!= col("_src")).as("filled"))
  }

  /** [[gaugeLatest]] retaining the label MAP alongside the rendered series
    * key — the instant-vector shape [[vectorMatch]] consumes. Any two rows
    * sharing a series key carry an identical map (the key is the map's
    * canonical rendering), so `any_value` over the group is deterministic.
    * Same map-side-combinable shuffle as [[gaugeLatest]].
    */
  def gaugeLatestLabeled(metrics: DataFrame): DataFrame = {
    val labeled =
      if (metrics.columns.contains("labels")) metrics else tagFilter(metrics)
    labeled
      .withColumn("series", seriesKey(col("labels")))
      .groupBy(col("component"), col("name"), col("series"))
      .agg(
        any_value(col("labels")).as("labels"),
        graft.functions.GraftFunctions.max_by_ts_id(col("value"), col("timestamp"), col("id")).as("last_value"),
        max(col("timestamp")).as("last_ts"))
  }

  /** PromQL vector-matching binary operation — generic `vector op vector`
    * with `on(labels)` / `ignoring(labels)` matching and `group_left`
    * one-to-many support, over landed instant vectors (the reference
    * bridge leaves these to Prometheus downstream; this is the engine-side
    * equivalent).
    *
    * Operands carry (component, name, labels: map, `valueCol`). The match
    * key is the canonical rendering ([[seriesKey]]) of the SELECTED label
    * submap — `on` keeps exactly the named labels, `ignoring` drops the
    * named labels, neither means the full label set; the metric NAME never
    * participates (PromQL drops `__name__` for binary ops). Output keeps
    * the LEFT side's full identity (component, name, series) plus
    * `out` = op(left, right); unlike PromQL the left name is retained as
    * an explicit column — engine relations carry identity explicitly, and
    * dropping it would collide group_left results of different left
    * metrics. Rows where `op` yields null (e.g. a guarded divide) emit
    * nothing — PromQL's empty-result semantics.
    *
    * Cardinality contract, enforced at runtime like PromQL's
    * many-to-many error: the right side must be unique per match key; with
    * `groupLeft` the left side may be many (one-to-many), without it the
    * left must be unique too. The check is a window count riding the same
    * hash layout the join needs, with `raise_error` on violation — pure
    * codegen, no action.
    *
    * Scale shape: ONE equi-join on (component, match key). Both sides
    * leave the gauge evaluation already hash-partitioned by their series
    * identity; a registry-sized right side broadcast-joins under AQE, so
    * the corpus-scale side never reshuffles.
    */
  def vectorMatch(
      left: DataFrame,
      right: DataFrame,
      op: (Column, Column) => Column,
      on: Seq[String] = Nil,
      ignoring: Seq[String] = Nil,
      groupLeft: Boolean = false,
      valueCol: String = "value",
      out: String = "value"): DataFrame = {
    def matchKey(labels: Column): Column = vectorMatchKey(labels, on, ignoring)
    def uniquePerKey(side: DataFrame, vCol: String, which: String): DataFrame = {
      val w = Window.partitionBy(col("component"), col("_vm_key"))
      side
        .withColumn("_vm_n", count(lit(1)).over(w))
        .withColumn(
          vCol,
          when(col("_vm_n") === 1, col(vCol)).otherwise(
            raise_error(lit(s"vector match: $which side has multiple series " +
              "per match key (PromQL many-to-many)")).cast("double")))
        .drop("_vm_n")
    }
    val l0 = left.select(
      col("component"), col("name"), seriesKey(col("labels")).as("series"),
      matchKey(col("labels")).as("_vm_key"),
      col(valueCol).cast("double").as("_vm_l"))
    val l = if (groupLeft) l0 else uniquePerKey(l0, "_vm_l", "left")
    val r = uniquePerKey(
      right.select(
        col("component"), matchKey(col("labels")).as("_vm_key"),
        col(valueCol).cast("double").as("_vm_r")),
      "_vm_r", "right")
    l.join(r, Seq("component", "_vm_key"))
      .withColumn(out, op(col("_vm_l"), col("_vm_r")))
      .filter(col(out).isNotNull)
      .select(col("component"), col("name"), col("series"), col(out))
  }

  /** The `on()`/`ignoring()` label-subset match key — the canonical
    * rendering of the selected submap. Shared by the batch [[vectorMatch]]
    * and the PromQL compiler's binary operators, so the matching identity
    * cannot drift between them.
    */
  def vectorMatchKey(
      labels: Column, on: Seq[String] = Nil, ignoring: Seq[String] = Nil): Column = {
    require(on.isEmpty || ignoring.isEmpty, "specify on() or ignoring(), not both")
    val sel =
      if (on.nonEmpty) {
        val keep = array(on.map(lit): _*)
        map_filter(labels, (k, _) => array_contains(keep, k))
      } else if (ignoring.nonEmpty) {
        val drop = array(ignoring.map(lit): _*)
        map_filter(labels, (k, _) => !array_contains(drop, k))
      } else labels
    seriesKey(sel)
  }

  /** PromQL set/logical binary ops — `left and right`, `left or right`,
    * `left unless right` — the other binary-op family next to the
    * arithmetic [[vectorMatch]], and the shape alert silencing/inhibition
    * is composed from (`ALERTS unless silenced`, `pager or fallback`).
    * Matching identity is the same `on()`/`ignoring()` label-subset key
    * ([[vectorMatchKey]]) as the arithmetic ops, so the two families
    * cannot drift.
    *
    * Semantics (PromQL): `and` keeps left entries whose match key has at
    * least one right entry; `unless` keeps left entries whose key has
    * none; `or` keeps ALL left entries plus right entries whose key is
    * absent on the left (left priority). Right-side VALUES never flow into
    * the result, and — unlike the arithmetic ops — set ops carry no
    * cardinality contract (many-to-many is legal), so no runtime check is
    * needed or wanted.
    *
    * Scale shape: `and`/`unless` are a single LEFT SEMI / LEFT ANTI
    * equi-join on (component, match key) — Spark never materializes the
    * right payload, and a registry-sized right side broadcast-joins under
    * AQE exactly as in [[vectorMatch]]. `or` is the left union'd with the
    * right's anti-join against the left's key set: one anti-join plus a
    * union, no shuffle beyond the join's own.
    */
  def vectorSetOp(
      left: DataFrame,
      right: DataFrame,
      setOp: String,
      on: Seq[String] = Nil,
      ignoring: Seq[String] = Nil,
      valueCol: String = "value"): DataFrame = {
    def keyed(df: DataFrame): DataFrame = df.select(
      col("component"), col("name"), seriesKey(col("labels")).as("series"),
      vectorMatchKey(col("labels"), on, ignoring).as("_vm_key"),
      col(valueCol).cast("double").as(valueCol))
    val l = keyed(left)
    val r = keyed(right)
    val joined = setOp match {
      case "and"    => l.join(r, Seq("component", "_vm_key"), "left_semi")
      case "unless" => l.join(r, Seq("component", "_vm_key"), "left_anti")
      case "or"     => l.unionByName(r.join(l, Seq("component", "_vm_key"), "left_anti"))
      case other => throw new IllegalArgumentException(
        s"vector set op must be and/or/unless, got '$other'")
    }
    joined.select(col("component"), col("name"), col("series"), col(valueCol))
  }

  /** Fused same-source vector match — the degenerate (and common) case of
    * [[vectorMatch]] where both operands are name-selections of ONE
    * relation: `sum by (matchCols) (left)  op  sum by (matchCols) (right)`.
    * The co-partitioned equi-join collapses into a single grouped
    * conditional aggregation — one shuffle, no join at all — which is why
    * the m14 burn-rate ratio costs exactly one aggregation over the shared
    * increase pass. Sums ride exact decimals (order-independent,
    * map-side-combinable); match keys where either side is absent, or
    * where `op` yields null (a guarded divide), emit nothing — PromQL's
    * empty-result semantics.
    */
  def vectorMatchSameSource(
      vec: DataFrame,
      matchCols: Seq[String],
      leftName: String,
      rightName: String,
      op: (Column, Column) => Column,
      out: String,
      valueCol: String = "value"): DataFrame =
    {
      // each side's lane masks to its own metric name (null elsewhere —
      // aggregate-skip keeps the absent-side-null contract intact)
      val lv = when(col("name") === leftName, col(valueCol))
      val rv = when(col("name") === rightName, col(valueCol))
      IeeeLanes.dropFlags(
        vec
          .filter(col("name").isin(leftName, rightName))
          .groupBy(matchCols.map(col): _*)
          .agg(
            sum(IeeeLanes.decLane(lv, IeeeLanes.Cap6dp).cast("decimal(18,6)"))
              .cast("double").as("_vm_ld"),
            (sum(IeeeLanes.decLane(rv, IeeeLanes.Cap6dp).cast("decimal(18,6)"))
              .cast("double").as("_vm_rd") +:
              (IeeeLanes.flagAggs(lv, "l", IeeeLanes.Cap6dp) ++
                IeeeLanes.flagAggs(rv, "r", IeeeLanes.Cap6dp))): _*)
          .withColumn("_vm_l", IeeeLanes.reconstruct(col("_vm_ld"), "l"))
          .withColumn("_vm_r", IeeeLanes.reconstruct(col("_vm_rd"), "r"))
          .withColumn(out, op(col("_vm_l"), col("_vm_r")))
          .filter(col(out).isNotNull)
          .drop("_vm_l", "_vm_r", "_vm_ld", "_vm_rd"),
        "l", "r")
    }

  /** Multiwindow ratio alert — the SLO burn-rate shape Prometheus alerting
    * builds on counters: the ratio of two counters' windowed increases
    * (numerator/denominator matched per series), evaluated over a short
    * and a long window, firing only when BOTH exceed the threshold — the
    * standard guard against short-window noise and long-window staleness.
    * One [[counterIncrease]] pass feeds everything: because every delta is
    * attributed to the window holding its LATER sample, and the short
    * windows tile the long one, the long-window increase is exactly the
    * rollup of its short windows — so the stream is parsed and
    * window-shuffled once, and the long side is a tiny second aggregation
    * over per-window rows (decimal rollup, order-independent). Windows
    * without both counters present are dropped (a ratio without traffic is
    * undefined, not zero).
    *
    * The per-window ratio itself is the generic vector-matching machinery:
    * `num / den` matched on (component, series, window) is
    * [[vectorMatchSameSource]] — the fused one-aggregation form, since
    * both operand vectors select from the one shared increase relation.
    */
  def ratioAlert(
      metrics: DataFrame,
      numName: String = "error_total",
      denName: String = "view_total",
      shortSec: Long = 3600,
      longSec: Long = 21600,
      threshold: Double = 1.0): DataFrame = {
    require(longSec % shortSec == 0, "short windows must tile the long window")
    // consumed by BOTH the short and long aggregations; the two subtrees
    // are plan-identical so ReuseExchange deduplicates the parse + window
    // pass (measured: an explicit checkpoint here is SLOWER — it breaks
    // the pipelining without saving a scan)
    val inc = counterIncrease(
      metrics.filter(col("name").isin(numName, denName)), shortSec)
      .select(col("component"), col("name"), col("series"),
        col("win_start"), col("increase"))
    // a ratio without traffic is undefined, not zero — the guarded divide
    // nulls (⇒ drops) windows whose denominator is absent or zero
    val ratio = (n: Column, d: Column) => when(d > 0, n / d)
    def pivotRatio(df: DataFrame, winCol: String, ratioCol: String): DataFrame =
      vectorMatchSameSource(
        df, Seq("component", "series", winCol), numName, denName,
        ratio, ratioCol, valueCol = "increase")
    val shortR = pivotRatio(inc, "win_start", "short_ratio")
    val longR = pivotRatio(
      inc.withColumn("long_win", col("win_start") - pmod(col("win_start"), lit(longSec))),
      "long_win", "long_ratio")
    shortR
      .withColumn("long_win", col("win_start") - pmod(col("win_start"), lit(longSec)))
      .join(longR, Seq("component", "series", "long_win"))
      .withColumn(
        "alert",
        (col("short_ratio") > threshold && col("long_ratio") > threshold).cast("int"))
      .select("component", "series", "win_start", "short_ratio", "long_ratio", "alert")
  }

  /** PromQL SUBQUERY semantics — `agg_over_time(rate(x[inner])[outer:inner])`:
    * the inner range function evaluated once per `innerSec` step, then the
    * outer `*_over_time` aggregation over those samples per series per
    * `outerSec` window. Rides ONE [[counterIncrease]] pass (the m14 tiling
    * argument: inner windows tile the outer), and the outer rollup runs on
    * the same series partitioning — per-window rows in, per-outer-window
    * rows out, map-side combinable.
    *
    * Numerics: rate = increase/inner is an IEEE divide of a ≤6-dp-exact
    * double — summing RATES would be order-dependent, so the aggregates
    * are computed on the exact increases and divided once at the end:
    * avg = Σinc / (n·inner) (decimal numerator), min/max = extreme inc /
    * inner (division is monotone) — engine-portable bit-for-bit.
    */
  def subqueryOverTime(
      metrics: DataFrame,
      innerSec: Long = 3600,
      outerSec: Long = 21600): DataFrame = {
    require(outerSec % innerSec == 0, "inner step must tile the outer range")
    counterIncrease(metrics, innerSec)
      .withColumn("outer_win", col("win_start") - pmod(col("win_start"), lit(outerSec)))
      .groupBy(col("component"), col("name"), col("series"), col("outer_win"))
      .agg(
        count(lit(1)).as("n_points"),
        Seq(
          (min(col("increase")) / lit(innerSec.toDouble)).as("min_rate"),
          (max(col("increase")) / lit(innerSec.toDouble)).as("max_rate"),
          sum(IeeeLanes.decLane(col("increase"), IeeeLanes.Cap6dp)
            .cast("decimal(18,6)")).cast("double").as("_sum_inc")) ++
          IeeeLanes.flagAggs(col("increase"), "i", IeeeLanes.Cap6dp): _*)
      .withColumn(
        "avg_rate",
        IeeeLanes.reconstruct(col("_sum_inc"), "i")
          / (col("n_points").cast("double") * lit(innerSec.toDouble)))
      .drop(IeeeLanes.flagCols("i") :+ "_sum_inc": _*)
  }

  /** Prometheus `for:`-duration alerting quantized to windows: the
    * condition (windowed increase above a threshold) must hold in `k`
    * CONSECUTIVE windows before the alert fires — the standard guard
    * against one-window blips. Consecutiveness is one `lag(k-1)` over the
    * condition windows per series: windows are unique per series, so
    * `lag(k-1) == win - (k-1)·width` holds iff all k windows are present.
    * Adds one window pass over the (series × windows)-bounded condition
    * relation on the SAME series partitioning the increase already
    * shuffled by.
    */
  def forDurationAlert(metrics: DataFrame, widthSec: Long = 3600,
      minIncrease: Double = 50.0, k: Int = 3): DataFrame = {
    require(k >= 2, "for-duration needs at least 2 consecutive windows")
    val cond = counterIncrease(metrics, widthSec)
      .filter(col("increase") > minIncrease)
    val w = Window
      .partitionBy(col("component"), col("name"), col("series"))
      .orderBy(col("win_start"))
    cond
      .withColumn("_back", lag(col("win_start"), k - 1).over(w))
      .filter(col("_back") === col("win_start") - (k - 1) * widthSec)
      .select(col("component"), col("name"), col("series"),
        col("win_start").as("fire_win"), col("increase"))
  }

  /** Registry max-size parity (AbstractPrometheusFirehose.java:20-23:
    * `maximumSize(10000)` on the Guava gauge cache): cap the registry at the
    * `maxSeries` most-recently-updated series — the guard against a
    * hot-cardinality explosion, the other half of the eviction policy next
    * to the TTL ([[gaugeExpiry]]). Runs on the native bounded-heap top-k
    * ([[org.apache.spark.sql.graft.GraftOps.topKPerKey]]): each input
    * partition is pruned to ≤ maxSeries rows map-side, so the exchange
    * carries at most partitions×maxSeries rows and nothing global is ever
    * sorted. Ordering is (last_ts desc) with the full series identity as
    * tie-break, so the cut is deterministic.
    */
  def gaugeCapacity(gauges: DataFrame, maxSeries: Int = 10000): DataFrame =
    org.apache.spark.sql.graft.GraftOps.topKPerKey(
      gauges.withColumn("_registry", lit(1)),
      keys = Seq("_registry"),
      orderBy = Seq(
        ("last_ts", true), ("component", false), ("name", false), ("series", false)),
      k = maxSeries)
      .drop("_registry")

  /** Series-state TTL (AbstractPrometheusFirehose.java:19-29: gauges idle for
    * 10 minutes are evicted from the registry). Batch form: drop series whose
    * last sample is older than `ttlSec` before the stream's high-water mark.
    * The high-water mark is an aggregate scalar broadcast back — no
    * single-partition window.
    */
  def gaugeExpiry(gauges: DataFrame, ttlSec: Long = 600): DataFrame = {
    // The gauge snapshot is bounded by live-series cardinality (not row
    // count), so materializing it is cheap at any scale and avoids
    // recomputing the full upstream aggregation for the high-water-mark
    // branch; checkpoint instead of persist so nothing stays pinned in the
    // cache manager after the caller is done with the result. Eager: the
    // upstream aggregation runs at operator-construction time (see
    // Tables.materializeSmall for the cluster-mode requirements).
    val snapshot = graft.Tables.materializeSmall(gauges)
    val hwm = snapshot.agg(max(col("last_ts")).as("_hwm"))
    snapshot
      .join(broadcast(hwm))
      .filter(col("last_ts") >= col("_hwm") - lit(ttlSec))
      .drop("_hwm")
  }

  /** Per-series linear trend + extrapolation — Prometheus `deriv()` and
    * `predict_linear()` semantics over the landed stream: ordinary
    * least-squares slope per series, and the value the fit predicts
    * `horizonSec` past the series' newest sample ("disk full in 4 h").
    *
    * Numerics are built for a bit-exact oracle AND order-independence at
    * scale: timestamps are centered per series on the series' first sample
    * (exact long arithmetic — no catastrophic cancellation against epoch
    * magnitudes), every sum is an exact decimal fold (order-independent,
    * map-side combinable), and only the final slope/intercept algebra runs
    * in IEEE doubles on the per-series scalars. Shape at 100 TB: one hash
    * shuffle by series shared by the centering window and the aggregation
    * (same key → one exchange), state = one row of sums per series.
    */
  def predictLinear(
      df: DataFrame,
      seriesCols: Seq[String],
      tsSec: Column,
      value: Column,
      horizonSec: Long = 3600): DataFrame = {
    val w = Window.partitionBy(seriesCols.map(col): _*)
    val based = df
      .withColumn("_ts_s", tsSec.cast("long"))
      .withColumn("_x", col("_ts_s") - min(col("_ts_s")).over(w))
      .withColumn("_y", value.cast("double"))
    val yDec = IeeeLanes.decLane(col("_y"), IeeeLanes.Cap2dp).cast("decimal(18,2)")
    val yFin = IeeeLanes.finLane(col("_y"))
    val g = based
      .groupBy(seriesCols.map(col): _*)
      .agg(
        count(lit(1)).as("n"),
        Seq(
          sum(col("_x").cast("decimal(19,0)")).as("_sx"),
          // x*x is exact in long (centered x ≤ series span in seconds);
          // the decimal cast only makes the SUM overflow-proof
          sum((col("_x") * col("_x")).cast("decimal(28,0)")).as("_sxx"),
          sum(yDec).as("_sy"),
          sum(col("_x").cast("decimal(19,0)") * yDec).as("_sxy"),
          sum(col("_x").cast("double") * yFin).as("_dsxy"),
          max(col("_x")).as("_mx")) ++
          IeeeLanes.flagAggs(col("_y"), "t", IeeeLanes.Cap2dp): _*)
    val nd = col("n").cast("double")
    val sxd = col("_sx").cast("double")
    val sxxd = col("_sxx").cast("double")
    // a big-finite group reads the IEEE sidecar sums; a non-finite
    // group's regression is the Inf − Inf fold → NaN (applied at the
    // slope/intercept consumers below through syd/sxyd)
    val nfNaN = when(IeeeLanes.anyNonFinite("t"), lit(Double.NaN))
    val syd = nfNaN
      .when(IeeeLanes.isBig("t"), col("_tdsum"))
      .otherwise(col("_sy").cast("double"))
    val sxyd = nfNaN
      .when(IeeeLanes.isBig("t"), col("_dsxy"))
      .otherwise(col("_sxy").cast("double"))
    val den = nd * sxxd - sxd * sxd
    val slope = (nd * sxyd - sxd * syd) / den
    val intercept = (syd - slope * sxd) / nd
    g.filter(col("n") >= 2 && den =!= lit(0.0))
      .select(
        seriesCols.map(col) ++ Seq(
          col("n"),
          slope.as("slope"),
          (intercept + slope * (col("_mx").cast("double") + lit(horizonSec.toDouble)))
            .as("predicted")): _*)
  }
}
