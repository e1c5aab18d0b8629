package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Bpe, Curate, Dedup, Firehose, Multimodal, NativeHist, Relational, Similarity, TextAnalysis}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every implemented operator from SURVEY.md §2 has a `queries` entry, and
  * (where DuckDB can express it) a matching `oracleSql` entry with identical
  * output column names/types.
  */
object SparkEntry {

  /** The capped n-gram-Jaccard pair relation feeds FOUR registered queries
    * (d2 emits it; d6/d18/d21 consume it). Each `queries` entry stays
    * independently callable, but within one Verify/Bench run they should
    * pay the heavy shingle→pair pipeline ONCE: the relation is pair-bounded
    * (corpus-tiny after the ≥threshold filter), so first use materializes
    * it via [[Tables.materializeSmall]] and later uses reread the blocks.
    * The memo is keyed per (session, dir) — one small entry per live
    * session×dataset, the scope a library entry point actually sees; a new
    * session never observes another session's plans.
    */
  private val jaccardPairsMemo =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]
  private def jaccardPairs(s: SparkSession, dir: String): DataFrame = {
    sweepStoppedMemos()
    jaccardPairsMemo.computeIfAbsent((s, dir), { key =>
      Tables.materializeSmall(
        Dedup.ngramJaccard(Tables(key._1, key._2, "documents"),
          threshold = 0.5, maxShingleDocs = Some(100)))
    })
  }

  /** The PARSED metric stream feeds every m-family query (the reference's
    * whole surface derives from it). Each `queries` entry stays
    * independently callable, but within one Verify/Bench run the
    * JSON-parse + projection of the events table should run ONCE — the
    * d2 memo discipline, closing the round-10 bench-hygiene note (18
    * PromQL-text queries re-paying the same parse); a real deployment
    * parses once at landing and queries the landed relation. Same
    * (session, dir) keying and sweep hygiene as [[jaccardPairs]].
    */
  private val metricsMemo =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]
  private def metricsOf(s: SparkSession, dir: String): DataFrame = {
    sweepStoppedMemos()
    metricsMemo.computeIfAbsent((s, dir), { key =>
      Tables.materializeSmall(Firehose.metricsFromEvents(key._1, key._2))
    })
  }

  /** Memo hygiene: entries whose session's context has stopped are dead —
    * their blocks are already gone with the executors, and retaining the
    * (session → plan) strong reference would pin the stopped session for the
    * JVM's life. Swept on every memo access (the map holds at most a few
    * live session×dataset entries, so the sweep is O(handful)).
    */
  private def sweepStoppedMemos(): Unit = {
    Seq(jaccardPairsMemo, metricsMemo).foreach { m =>
      val it = m.keySet.iterator
      while (it.hasNext) if (it.next()._1.sparkContext.isStopped) it.remove()
    }
  }

  /** Drop this session's memoized relations and release their checkpoint
    * blocks NOW instead of waiting for GC + ContextCleaner. Also the
    * recovery path if a `localCheckpoint` block is lost mid-session
    * (non-reliable storage: executor death loses it and the truncated
    * lineage cannot recompute — invalidate and the next use rebuilds).
    * Sessions with a checkpoint dir take the reliable-file path in
    * [[Tables.materializeSmall]] and don't have that failure mode.
    */
  def invalidateMemos(s: SparkSession): Unit =
    Seq(jaccardPairsMemo, metricsMemo).foreach { m =>
      val it = m.entrySet.iterator
      while (it.hasNext) {
        val e = it.next()
        if (e.getKey._1 eq s) {
          e.getValue.queryExecution.logical match {
            case lr: org.apache.spark.sql.execution.LogicalRDD =>
              lr.rdd.unpersist(blocking = false)
            case _ => ()
          }
          it.remove()
        }
      }
    }

  /** Test seam: live memo entries held for `s`. */
  private[graft] def memoEntries(s: SparkSession): Int = {
    var n = 0
    Seq(jaccardPairsMemo, metricsMemo).foreach(
      _.keySet.forEach(k => if (k._1 eq s) n += 1))
    n
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0:
    * the reference's whole pipeline in one plan — parse JSON metrics, filter
    * tags, keep latest gauge per series, render Prometheus exposition.
    */
  def entry(spark: SparkSession): DataFrame =
    Firehose.promRender(
      Firehose.gaugeLatestLabeled(
        Firehose.metricsFromEvents(spark, "/root/testdata/sf0.001")))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- §2.1 firehose core ----
    "m1_parse_metrics" -> ((s, dir) =>
      metricsOf(s, dir).select(
        col("id"), col("name"), col("timestamp").as("ts_sec"), col("component"),
        col("tags").getItem("user").as("user_tag"),
        col("tags").getItem("unit").as("unit_tag"),
        col("value"),
        col("window.from").as("win_from"),
        col("window.to").as("win_to"),
        col("window.interval").as("win_interval"))),
    "m2_gauge_latest" -> ((s, dir) =>
      Firehose.gaugeLatest(metricsOf(s, dir))),
    "m3_tag_filter" -> ((s, dir) =>
      Firehose.tagFilter(metricsOf(s, dir))
        .select(col("id"), Firehose.seriesKey(col("labels")).as("series"))),
    "m4_lookup_remap" -> ((s, dir) => {
      val lookup = Tables(s, dir, "customer")
        .select(col("c_custkey").cast("string").as("from"), col("c_name").as("to"))
      Firehose.lookupRemap(
          Firehose.tagFilter(metricsOf(s, dir)), "user", lookup)
        .select(col("id"), col("labels").getItem("user").as("user_label"))
    }),
    "m5_window_agg" -> ((s, dir) =>
      Firehose.windowAgg(metricsOf(s, dir), 60)),
    "m6_prom_render" -> ((s, dir) =>
      Firehose.promRender(Firehose.gaugeLatestLabeled(metricsOf(s, dir)))),
    "m7_series_rate" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val e = Firehose.eventsRaw(s, dir).withColumn("ts_us", expr("ts div 1000"))
      val w = Window.partitionBy(col("event_type"), col("user_id"))
        .orderBy(col("ts_us"), col("event_id"))
      e.select(
        col("event_id"), col("user_id"), col("event_type"), col("ts_us"), col("value"),
        ((col("value") - lag(col("value"), 1).over(w)) /
          ((col("ts_us") - lag(col("ts_us"), 1).over(w)) / lit(1e6))).as("rate"))
    }),
    "m8_gauge_expiry" -> ((s, dir) =>
      Firehose.gaugeExpiry(
        Firehose.gaugeLatest(metricsOf(s, dir)),
        ttlSec = 604800)),
    // registry max-size eviction (the reference's maximumSize(10000) LRU):
    // cap small enough that eviction actually bites at sf0.01
    "m15_absent_alert" -> ((s, dir) =>
      Firehose.absentAlert(metricsOf(s, dir), widthSec = 3600)),
    "m8b_gauge_capacity" -> ((s, dir) =>
      Firehose.gaugeCapacity(
        Firehose.gaugeLatest(metricsOf(s, dir)),
        maxSeries = 100)),
    "m14_ratio_alert" -> ((s, dir) =>
      Firehose.ratioAlert(metricsOf(s, dir))),
    // Prometheus deriv()/predict_linear(): per-series OLS trend over the
    // raw events (series = event_type × user), one-hour extrapolation
    "m16_predict_linear" -> ((s, dir) => {
      val e = Firehose.eventsRaw(s, dir)
        .select(col("event_type"), col("user_id"),
          expr("ts div 1000000000").as("ts_s"), col("value"))
      Firehose.predictLinear(
          e, Seq("event_type", "user_id"), col("ts_s"), col("value"), horizonSec = 3600)
        .orderBy(col("event_type"), col("user_id"))
    }),
    "m9_counter_increase" -> ((s, dir) =>
      Firehose.counterIncrease(metricsOf(s, dir))),
    "m10_topk_series" -> ((s, dir) => Relational.mTopkSeries(s, dir)),
    "m11_hist_quantile" -> ((s, dir) =>
      Firehose.histogramQuantile(metricsOf(s, dir))),
    "q_grouping_sets" -> ((s, dir) => Relational.qGroupingSets(s, dir)),
    "m13_gap_fill" -> ((s, dir) =>
      // hourly grid: the synthetic stream spans weeks, so a 60 s grid would
      // be ~98% fill rows — step is a parameter of the operator
      Firehose.gapFill(metricsOf(s, dir), stepSec = 3600)),
    // semi-structured: extract a field from the embedded JSON props column
    // (get_json_object ≡ DuckDB json_extract) and aggregate it
    "m12_props_extract" -> ((s, dir) =>
      Firehose.eventsRaw(s, dir)
        .select(
          col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("n"),
          min(col("k")).as("min_k"),
          max(col("k")).as("max_k"),
          sum(col("k")).as("sum_k"))
        .orderBy(col("event_type"))),
    // ---- §2.2 relational / OLAP ----
    "q1_pricing_summary" -> ((s, dir) => Relational.q1PricingSummary(s, dir)),
    "q3_shipping_priority" -> ((s, dir) => Relational.q3ShippingPriority(s, dir)),
    "q5_supplier_volume" -> ((s, dir) => Relational.q5SupplierVolume(s, dir)),
    "q_rollup" -> ((s, dir) => Relational.qRollup(s, dir)),
    "q_cube" -> ((s, dir) => Relational.qCube(s, dir)),
    "q_pivot" -> ((s, dir) => Relational.qPivot(s, dir)),
    "q_range_join" -> ((s, dir) => Relational.qRangeJoin(s, dir)),
    "q_setops" -> ((s, dir) => Relational.qSetOps(s, dir)),
    "q_window_running" -> ((s, dir) => Relational.qWindowRunning(s, dir)),
    "q_topk_per_group" -> ((s, dir) => Relational.qTopkPerGroup(s, dir)),
    "q_topk_native" -> ((s, dir) => Relational.qTopkNative(s, dir)),
    "q_asof_join" -> ((s, dir) => Relational.qAsofJoin(s, dir)),
    "q_asof_forward" -> ((s, dir) => Relational.qAsofForward(s, dir)),
    "q_semi_anti" -> ((s, dir) => Relational.qSemiAnti(s, dir)),
    "q_distinct" -> ((s, dir) => Relational.qDistinct(s, dir)),
    "q_sessionize" -> ((s, dir) => Relational.qSessionize(s, dir)),
    "q_percentiles" -> ((s, dir) => Relational.qPercentiles(s, dir)),
    "q4_order_priority" -> ((s, dir) => Relational.q4OrderPriority(s, dir)),
    "q_full_outer" -> ((s, dir) => Relational.qFullOuter(s, dir)),
    "q13_custdist" -> ((s, dir) => Relational.q13CustDist(s, dir)),
    "q18_large_orders" -> ((s, dir) => Relational.q18LargeOrders(s, dir)),
    "q22_dormant_value" -> ((s, dir) => Relational.q22DormantValue(s, dir)),
    "q_notin_nullaware" -> ((s, dir) => Relational.qNotInNullAware(s, dir)),
    "q_window_range" -> ((s, dir) => Relational.qWindowRange(s, dir)),
    "q6_forecast_revenue" -> ((s, dir) => Relational.q6ForecastRevenue(s, dir)),
    "q_correlated" -> ((s, dir) => Relational.qCorrelatedAboveAvg(s, dir)),
    "q_histogram" -> ((s, dir) => Relational.qHistogram(s, dir)),
    "q_unpivot" -> ((s, dir) => Relational.qUnpivot(s, dir)),
    "q_string_agg" -> ((s, dir) => Relational.qStringAgg(s, dir)),
    "q_conditional_agg" -> ((s, dir) => Relational.qConditionalAgg(s, dir)),
    "q14_promo_revenue" -> ((s, dir) => Relational.q14PromoRevenue(s, dir)),
    "q16_supplier_variety" -> ((s, dir) => Relational.q16SupplierVariety(s, dir)),
    "q19_disjunctive" -> ((s, dir) => Relational.q19DisjunctivePredicate(s, dir)),
    "q7_nation_volume" -> ((s, dir) => Relational.q7NationVolume(s, dir)),
    "q15_top_supplier" -> ((s, dir) => Relational.q15TopSupplier(s, dir)),
    "q20_big_movers" -> ((s, dir) => Relational.q20BigMovers(s, dir)),
    "q10_returned_rank" -> ((s, dir) => Relational.q10ReturnedRank(s, dir)),
    "q11_value_share" -> ((s, dir) => Relational.q11ValueShare(s, dir)),
    "q17_small_qty" -> ((s, dir) => Relational.q17SmallQtyRevenue(s, dir)),
    "q21_lone_late" -> ((s, dir) => Relational.q21LoneLateSupplier(s, dir)),
    "q2_mincost_supplier" -> ((s, dir) => Relational.q2MinCostSupplier(s, dir)),
    "m17_resets_changes" -> ((s, dir) =>
      Firehose.resetsChanges(metricsOf(s, dir))),
    "m18_quantile_over_time" -> ((s, dir) =>
      Firehose.quantileOverTime(metricsOf(s, dir))),
    "t14_bm25_search" -> ((s, dir) =>
      TextAnalysis.bm25Search(Tables(s, dir, "documents"),
        queryTerms = Seq("spark", "stream", "merge", "window"))),
    "s8_ann_int8" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      Similarity.bruteForceTopKInt8(emb, emb.filter(col("vec_id") < 10), k = 5)
    }),
    "t13_passage_mine" -> ((s, dir) =>
      TextAnalysis.minePassages(Tables(s, dir, "documents"))),
    "q_scd2_intervals" -> ((s, dir) => Relational.qScd2Intervals(s, dir)),
    "d19_fuzzy_verify" -> ((s, dir) =>
      Dedup.fuzzyVerifyPairs(Tables(s, dir, "documents"))),
    "d21_dedup_report" -> ((s, dir) =>
      Dedup.dedupReport(Tables(s, dir, "documents"), jaccardPairs(s, dir))),
    "t16_langid_eval" -> ((s, dir) =>
      TextAnalysis.langIdEval(Tables(s, dir, "documents"))),
    "d18_keep_best" -> ((s, dir) =>
      Dedup.canonicalizeClusters(Tables(s, dir, "documents"), jaccardPairs(s, dir))),
    "t15_tfidf_keywords" -> ((s, dir) =>
      TextAnalysis.tfidfKeywords(Tables(s, dir, "documents"))),
    "m22_for_duration" -> ((s, dir) =>
      Firehose.forDurationAlert(metricsOf(s, dir), widthSec = 86400)),
    "d20_epoch_upsample" -> ((s, dir) =>
      Curate.epochUpsample(Tables(s, dir, "documents"),
        epochs = Map("src0" -> 2.5, "src1" -> 1.0, "src2" -> 0.3))),
    "d22_dsir_sample" -> ((s, dir) =>
      Curate.dsirSample(Tables(s, dir, "documents"))),
    "d23_strip_dup_passages" -> ((s, dir) =>
      Dedup.stripDuplicatePassages(Tables(s, dir, "documents"))),
    "d24_dsir_budget" -> ((s, dir) =>
      Curate.dsirBudgetSample(
        Tables(s, dir, "documents"),
        budgets = Map("src0" -> 3000L, "src1" -> 2000L, "src2" -> 1000L, "src3" -> 500L))),
    "d25_semdedup" -> ((s, dir) =>
      Dedup.semDedup(Tables(s, dir, "embeddings"))),
    // the paper's two-phase shape: k-means cells as blocks, nlist ∝ corpus
    // — rows-only (the seeded solver fit has no portable SQL oracle);
    // agreement/recall floors + weight conservation are spec-pinned
    "d27_semdedup_ivf" -> ((s, dir) =>
      Dedup.semDedupIvf(Tables(s, dir, "embeddings"))),
    "t17_quality_pr" -> ((s, dir) =>
      TextAnalysis.qualityPrCurve(Tables(s, dir, "documents"))),
    // delta ingest vs landed registry: the d17-style id-mod split stands
    // in for yesterday's kept set and today's batch
    "d26_semdedup_incr" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      Dedup.semDedupIncremental(
        emb.filter(col("vec_id") % 3 =!= 0), emb.filter(col("vec_id") % 3 === 0))
    }),
    // filtered vector search (the payload-filter shape of production
    // vector stores): candidates restricted by a metadata predicate
    // BEFORE ranking, probes unrestricted; exact form is oracle-checked,
    // the filtered IVF-PQ scale path is spec'd (pushdown + recall floor)
    "s10_ann_filtered" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      Similarity.bruteForceTopK(
        emb.filter(col("label") < 5), emb.filter(col("vec_id") < 10), k = 5)
    }),
    // hybrid lexical+vector retrieval: BM25 top-20 and cosine top-20
    // fused by reciprocal-rank fusion (rank-only, no score calibration)
    "s11_hybrid_rrf" -> ((s, dir) =>
      Similarity.hybridRrf(
        Tables(s, dir, "documents"), Tables(s, dir, "embeddings"),
        queryTerms = Seq("spark", "stream", "merge", "window"),
        probeVecId = 3L)),
    // eval-overlap report: per benchmark doc, what fraction of its grams
    // the training corpus contains (d13 drops corpus docs; d27 measures
    // the benchmark side) — same id-mod split as d13
    "d27_contamination" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      Dedup.contaminationStats(
        docs.filter(col("doc_id") % 4 =!= 0),
        docs.filter(col("doc_id") % 4 === 0))
    }),
    "p3_expectations" -> ((s, dir) => Relational.p3Expectations(s, dir)),
    // PromQL's instant-window family over the landed stream
    "m23_irate_delta" -> ((s, dir) =>
      Firehose.irateDelta(metricsOf(s, dir))),
    // quasi-identifier k-anonymity suppression (structured sibling of t5)
    "p5_k_anonymity" -> ((s, dir) =>
      Curate.kAnonymitySuppress(
        Tables(s, dir, "documents"), Seq("lang", "source"), k = 30)),
    // seeded-Laplace noisy release of per-event-type count + clamped
    // sum (d22's quantized-ln discipline makes the noise itself
    // oracle-checkable; the published test seed means this run is
    // reproducible noise injection — DP requires a secret seed)
    "p7_dp_release" -> ((s, dir) =>
      Curate.dpRelease(Firehose.eventsRaw(s, dir), seed = "graft-dp")),
    // CDC MERGE apply on the customer snapshot: deterministic changeset
    // (update / insert-new-key / delete by key mod 10)
    "p4_merge_upsert" -> ((s, dir) => {
      val cust = Tables(s, dir, "customer")
      val upd = cust.filter(col("c_custkey") % 10 === 0)
        .select(col("c_custkey"), lit("U").as("op"), col("c_name"),
          col("c_nationkey"), lit(-1.0).as("c_acctbal"),
          lit("RELABELED").as("c_mktsegment"))
      val ins = cust.filter(col("c_custkey") % 10 === 1)
        .select((col("c_custkey") + 1000000L).as("c_custkey"), lit("I").as("op"),
          col("c_name"), col("c_nationkey"), col("c_acctbal"), col("c_mktsegment"))
      val del = cust.filter(col("c_custkey") % 10 === 2)
        .select(col("c_custkey"), lit("D").as("op"), col("c_name"),
          col("c_nationkey"), col("c_acctbal"), col("c_mktsegment"))
      // the changeset is materialized first: a CDC batch arrives as its
      // own small relation in production — and the three customer-derived
      // branches here would otherwise re-scan the snapshot to build it
      Curate.mergeUpsert(
        cust, Tables.materializeSmall(upd.unionByName(ins).unionByName(del)),
        "c_custkey")
    }),
    // PromQL *_over_time aggregation family (one plain aggregation)
    "m24_over_time" -> ((s, dir) =>
      Firehose.overTimeAgg(metricsOf(s, dir))),
    // PromQL label_replace + label_join (row-local map rewrite)
    "m26_label_ops" -> ((s, dir) =>
      Firehose.labelOps(metricsOf(s, dir))),
    // PromQL count_values (sample count per distinct value per metric)
    "m27_count_values" -> ((s, dir) =>
      Firehose.countValues(metricsOf(s, dir))),
    // PromQL instant-vector aggregation without(user) over the registry
    "m28_instant_agg" -> ((s, dir) =>
      Firehose.instantAgg(metricsOf(s, dir))),
    // PromQL holt_winters double exponential smoothing per series/window
    "m25_holt_winters" -> ((s, dir) =>
      Firehose.holtWinters(metricsOf(s, dir))),
    // PromQL vector-matching binary op, one-to-one: error_total /
    // view_total latest-gauge ratio matched on the full label set (the
    // generic join form; the gauge registry is materialized once and both
    // operand selections read it — registry-sized, broadcast under AQE)
    "m29_vector_match" -> ((s, dir) => {
      val g = Tables.materializeSmall(
        Firehose.gaugeLatestLabeled(metricsOf(s, dir)))
      Firehose.vectorMatch(
        g.filter(col("name") === "error_total"),
        g.filter(col("name") === "view_total"),
        (e, v) => when(v =!= 0.0, e / v),
        valueCol = "last_value", out = "ratio")
    }),
    // PromQL subquery: avg/min/max_over_time(rate(x[1h])[6h:1h]) — one
    // increase pass, exact-decimal outer rollup
    "m30_subquery" -> ((s, dir) =>
      Firehose.subqueryOverTime(metricsOf(s, dir))),
    // PromQL group_left one-to-many: each metric's latest gauge divided by
    // the cross-metric per-user total — on("user") matching against a
    // coarser right vector (the share-of-total shape)
    "m29b_group_left" -> ((s, dir) => {
      val g = Tables.materializeSmall(
        Firehose.gaugeLatestLabeled(metricsOf(s, dir)))
      val tot = g
        .groupBy(col("component"), try_element_at(col("labels"), lit("user")).as("_u"))
        .agg(sum(col("last_value").cast("decimal(18,2)")).cast("double").as("last_value"))
        .select(col("component"), map(lit("user"), col("_u")).as("labels"),
          col("last_value"))
      Firehose.vectorMatch(
        g, tot, (v, t) => when(t =!= 0.0, v / t),
        on = Seq("user"), groupLeft = true, valueCol = "last_value", out = "share")
    }),
    // PromQL set ops on the gauge registry: error gauges AND / UNLESS the
    // high-traffic view gauges (left-semi / left-anti on the shared match
    // key — right values never flow into the result)
    "m31_and" -> ((s, dir) => {
      val g = Tables.materializeSmall(
        Firehose.gaugeLatestLabeled(metricsOf(s, dir)))
      Firehose.vectorSetOp(
        g.filter(col("name") === "error_total"),
        g.filter(col("name") === "view_total" && col("last_value") > 50),
        "and", valueCol = "last_value")
    }),
    "m31_unless" -> ((s, dir) => {
      val g = Tables.materializeSmall(
        Firehose.gaugeLatestLabeled(metricsOf(s, dir)))
      Firehose.vectorSetOp(
        g.filter(col("name") === "error_total"),
        g.filter(col("name") === "view_total" && col("last_value") > 50),
        "unless", valueCol = "last_value")
    }),
    // PromQL or with left priority: high-error series, else the user's
    // view series (right entries only where the left key is absent)
    "m31_or" -> ((s, dir) => {
      val g = Tables.materializeSmall(
        Firehose.gaugeLatestLabeled(metricsOf(s, dir)))
      Firehose.vectorSetOp(
        g.filter(col("name") === "error_total" && col("last_value") > 50),
        g.filter(col("name") === "view_total"),
        "or", valueCol = "last_value")
    }),
    // PromQL comparison with the bool modifier: error > bool view per
    // series — yields 0/1 instead of filtering, on the arithmetic
    // vectorMatch machinery
    "m31b_bool_cmp" -> ((s, dir) => {
      val g = Tables.materializeSmall(
        Firehose.gaugeLatestLabeled(metricsOf(s, dir)))
      Firehose.vectorMatch(
        g.filter(col("name") === "error_total"),
        g.filter(col("name") === "view_total"),
        (e, v) => (e > v).cast("double"),
        valueCol = "last_value", out = "gt")
    }),
    // PromQL comparison WITHOUT bool: a filter — keeps the left value
    // where the condition holds, drops the pair otherwise (the guarded
    // null drop on the same arithmetic machinery)
    "m31c_cmp_filter" -> ((s, dir) => {
      val g = Tables.materializeSmall(
        Firehose.gaugeLatestLabeled(metricsOf(s, dir)))
      Firehose.vectorMatch(
        g.filter(col("name") === "error_total"),
        g.filter(col("name") === "view_total"),
        (e, v) => when(e > v, e),
        valueCol = "last_value", out = "value")
    }),
    // ---- m32: the PromQL TEXT front-end (graft.promql) — the same
    // expressions a Prometheus user writes, parsed + compiled onto the
    // verified operator machinery. Each entry is a STRING, end-to-end:
    // lexer → AST → Spark plan → oracle-checked rows.
    // range function with a regex matcher, from text
    "m32_promql_increase" -> ((s, dir) =>
      promql.PromQl.compile(
        """increase(view_total{user=~"1.*"}[1h])""",
        metricsOf(s, dir))),
    // cross-metric aggregation: sum by (user) over every *_total series
    "m32_promql_agg" -> ((s, dir) =>
      promql.PromQl.compile(
        """sum by (user) (increase({__name__=~".*_total"}[1h]))""",
        metricsOf(s, dir))),
    // vector/vector arithmetic with a comparison-filtered denominator —
    // the PromQL-idiomatic zero-guard (the > 0 filter drops the pair)
    "m32_promql_ratio" -> ((s, dir) =>
      promql.PromQl.compile(
        "increase(error_total[1h]) / (increase(view_total[1h]) > 0)",
        metricsOf(s, dir))),
    // set op from text: errors unless the high-traffic view windows
    "m32_promql_unless" -> ((s, dir) =>
      promql.PromQl.compile(
        "increase(error_total[1h]) unless (increase(view_total[1h]) > 10)",
        metricsOf(s, dir))),
    // subquery: hourly increases range-aggregated over 6h outer windows
    "m32_promql_subquery" -> ((s, dir) =>
      promql.PromQl.compile(
        "max_over_time(increase(view_total[1h])[6h:1h])",
        metricsOf(s, dir))),
    // composed flagship: topk over a grouped sum of a compiled range fn
    "m32_promql_topk" -> ((s, dir) =>
      promql.PromQl.compile(
        "topk(3, sum by (user) (increase(view_total[1h])))",
        metricsOf(s, dir))),
    // ---- m33: SLIDING evaluation (R > step) — Prometheus's actual
    // range-query model: every expression on the 15m step grid, range
    // functions looking back their own 1h range over overlapping windows
    // (each delta counted in 4 readings)
    "m33_promql_sliding" -> ((s, dir) =>
      promql.PromQl.compileSliding(
        "sum by (user) (increase(view_total[1h]))",
        metricsOf(s, dir), stepSec = 900L)),
    // sliding *_over_time: raw samples tiled onto the step grid, the
    // exact-decimal mean per overlapping lookback window
    "m33b_sliding_avg" -> ((s, dir) =>
      promql.PromQl.compileSliding(
        "avg_over_time(error_total[1h])",
        metricsOf(s, dir), stepSec = 900L)),
    // ---- m34: the trend + absence function family, from text
    // per-window OLS slope (exact-decimal sums, min-ts centering)
    "m34_promql_deriv" -> ((s, dir) =>
      promql.PromQl.compile(
        "deriv(view_total[1h])", metricsOf(s, dir))),
    // trend extrapolated 30m past the window's newest sample
    "m34b_promql_predict" -> ((s, dir) =>
      promql.PromQl.compile(
        "predict_linear(view_total[1h], 1800)",
        metricsOf(s, dir))),
    // scrape-absence: windows of the stream's span where the asserted
    // series reported nothing (labels = the selector's equality matchers)
    "m34c_promql_absent" -> ((s, dir) =>
      promql.PromQl.compile(
        """absent(error_total{user="1"})""",
        metricsOf(s, dir))),
    // double exponential smoothing from text (m25's fold, dyadic factors)
    "m34d_promql_holt" -> ((s, dir) =>
      promql.PromQl.compile(
        "holt_winters(view_total[1h], 0.5, 0.25)",
        metricsOf(s, dir))),
    // m35: the @ modifier — current increases against the baseline window
    // pinned at a fixed timestamp (zero baselines comparison-filtered out)
    "m35_promql_at" -> ((s, dir) =>
      promql.PromQl.compile(
        "increase(error_total[1h]) / (increase(error_total[1h] @ 1705276800) > 0)",
        metricsOf(s, dir))),
    // m36: scalar() — per-series share of the global per-window total,
    // the share-of-total idiom that needs no label matching (numerator
    // filtered > 0 first, so a zero-total window divides nothing — NaN
    // never enters the relation; since round 11 cmpPred is IEEE, so a
    // post-division > filter would ALSO drop NaN, matching Prometheus —
    // the numerator-first shape is kept for the oracle's simplicity)
    "m36_promql_scalar" -> ((s, dir) =>
      promql.PromQl.compile(
        "(increase(view_total[1h]) > 0) / scalar(sum(increase(view_total[1h])))",
        metricsOf(s, dir))),
    // m38: RECORDING rules — a two-rule chain where the second rule
    // selects the first BY NAME (the recorded series re-enters the
    // metric universe as ordinary samples)
    "m38_promql_rules" -> ((s, dir) =>
      promql.PromQlRules.evaluate(
        """# per-user hourly view increases, then their top-3
          |app:view:increase1h = sum by (user) (increase(view_total[1h]))
          |app:view:top = topk(3, app:view:increase1h)""".stripMargin,
        metricsOf(s, dir))("app:view:top")),
    // m39: ALERTING rule with a `for` duration — fires where the
    // condition held for TWO consecutive hourly windows (the m22 streak
    // shape on the compiled relation; errors are hourly-sparse at small
    // sf, so the streak is the discriminating part)
    "m39_promql_alert" -> ((s, dir) =>
      promql.PromQlRules.evaluate(
        """r:err1h = sum by (user) (increase(error_total[1h]))
          |alert HighErr = r:err1h > 0 for 1h""".stripMargin,
        metricsOf(s, dir))("HighErr")),
    // ---- m37: Prometheus NATIVE histograms (exponential sparse buckets,
    // m58: recording-rule STATIC labels — the first rule stamps
    // tier="gold" onto every recorded series (part of the recorded
    // identity), the second rule aggregates BY that label; the oracle
    // replays the per-user hourly increases and their per-window total
    "m58_rule_labels" -> ((s, dir) =>
      promql.PromQlRules.evaluate(
        """r:err = sum by (user) (increase(error_total[1h])) labels {tier="gold"}
          |r:gold = sum by (tier) (r:err)""".stripMargin,
        metricsOf(s, dir))("r:gold")),
    // m40: timestamp() + the calendar family — hour-of-day of each
    // window's freshest raw sample (tz-independent modular arithmetic)
    "m40_promql_time" -> ((s, dir) =>
      promql.PromQl.compile(
        "hour(timestamp(view_total))",
        metricsOf(s, dir))),
    // day-of-week (Sunday = 0) via the epoch-day DateType route; the
    // oracle recomputes with DuckDB's own calendar — two independent
    // Gregorian implementations hash-compared
    "m40b_promql_calendar" -> ((s, dir) =>
      promql.PromQl.compile(
        "day_of_week(timestamp(error_total))",
        metricsOf(s, dir))),
    // m43: @ end() — the span's final window resolved LAZILY (no literal
    // timestamp in the query text; the bound is two aggregate scalars),
    // here the all-series increase total of that closing window spread
    // across the evaluation grid
    "m43_promql_at_edge" -> ((s, dir) =>
      promql.PromQl.compile(
        """sum(increase({__name__=~".+"}[1h] @ end()))""",
        metricsOf(s, dir))),
    // m42: the experimental sampling aggregators, deterministic on the
    // canonical series-key rank (documented deviation from Prometheus's
    // arbitrary/hashed selection — any engine picks the same rows)
    "m42_promql_limitk" -> ((s, dir) =>
      promql.PromQl.compile(
        "limitk(3, sum by (user) (increase(view_total[1h])))",
        metricsOf(s, dir))),
    // the complement form: limit_ratio(-0.5) keeps exactly the series
    // limit_ratio(0.5) drops
    "m42b_promql_limit_ratio" -> ((s, dir) =>
      promql.PromQl.compile(
        "limit_ratio(-0.5, sum by (user) (increase(view_total[1h])))",
        metricsOf(s, dir))),
    // m41: median absolute deviation over each hourly window — the
    // exact nested median on the bounded per-(series, window) multiset
    "m41_promql_mad" -> ((s, dir) =>
      promql.PromQl.compile(
        "mad_over_time(view_total[1h])",
        metricsOf(s, dir))),
    // base 2^(2^-schema); index from the IEEE exponent — no runtime log)
    "m37_native_hist" -> ((s, dir) =>
      NativeHist.nativeHistogram(metricsOf(s, dir), schema = 0)
        .select(col("component"), col("name"), col("win_start"), col("schema"),
          col("zero_count"), col("n_samples"),
          NativeHist.bucketsString(col("buckets")).as("buckets"))),
    // interpolated 0.9-quantile straight from the sparse bucket array
    "m37b_native_quantile" -> ((s, dir) =>
      NativeHist.quantile(
        NativeHist.nativeHistogram(metricsOf(s, dir), schema = 0),
        0.9)
        .select("component", "name", "win_start", "q_value")),
    // rollup-tier merge over histogram rows only; the oracle RECOMPUTES
    // at the long window, so merge == recompute is hash-proven
    "m37c_native_merge" -> ((s, dir) =>
      NativeHist.merge(
        NativeHist.nativeHistogram(metricsOf(s, dir), schema = 0),
        longSec = 86400L)
        .select(col("component"), col("name"), col("win_start"), col("schema"),
          col("zero_count"), col("n_samples"), col("sum").cast("double").as("sum"),
          NativeHist.bucketsString(col("buckets")).as("buckets"))),
    // histogram_count/sum/avg accessors: count recomputed FROM the
    // sparse fields, sum the exact decimal field Prometheus native
    // histograms carry next to the buckets
    "m37e_native_sum" -> ((s, dir) =>
      NativeHist.accessors(
        NativeHist.nativeHistogram(metricsOf(s, dir), schema = 0))
        .select("component", "name", "win_start", "h_count", "h_sum", "h_avg")),
    // bucket-midpoint variance/stddev around the exact sum/count mean
    "m37f_native_spread" -> ((s, dir) =>
      NativeHist.spread(
        NativeHist.nativeHistogram(metricsOf(s, dir), schema = 0))
        .select("component", "name", "win_start", "h_stdvar", "h_stddev")),
    // interpolated fraction of observations in (3, 50] per histogram —
    // the histogram_fraction accessor (order-robust split: exact long
    // cumulatives + one covering-bucket interpolation term)
    "m37d_native_fraction" -> ((s, dir) =>
      NativeHist.fraction(
        NativeHist.nativeHistogram(metricsOf(s, dir), schema = 0),
        lower = 3.0, upper = 50.0)
        .select("component", "name", "win_start", "fraction")),
    // m44: native histograms from TEXT — a RANGE argument selects the
    // native path (the range's observations build the sparse exponential
    // histogram per tumbling window, the m37 derivation model); the
    // oracle is the m37b bucket-walk restricted to the selected metric
    "m44_promql_native_quantile" -> ((s, dir) =>
      promql.PromQl.compile(
        "histogram_quantile(0.9, view_total[1h])",
        metricsOf(s, dir))
        .select("component", "name", "win_start", "value")),
    // interpolated fraction in (3, 50] from text, m37d's math
    "m44b_promql_native_fraction" -> ((s, dir) =>
      promql.PromQl.compile(
        "histogram_fraction(3, 50, view_total[1h])",
        metricsOf(s, dir))
        .select("component", "name", "win_start", "value")),
    // bucket-midpoint stddev from text, m37f's estimator
    "m44c_promql_native_stddev" -> ((s, dir) =>
      promql.PromQl.compile(
        "histogram_stddev(view_total[1h])",
        metricsOf(s, dir))
        .select("component", "name", "win_start", "value")),
    // m45: the trigonometric family from text — atan2 as PromQL's
    // binary operator (vector match on the full label set, the error/
    // view increase angle in degrees), floor-based round bounding the
    // cross-engine libm ulp drift below the compare grid
    "m45_promql_trig" -> ((s, dir) =>
      promql.PromQl.compile(
        "round(deg(increase(error_total[1h]) " +
          "atan2 increase(view_total[1h])), 0.000001)",
        metricsOf(s, dir))),
    // sin over the window-latest gauge compressed into radians — the
    // value-mapping trig path on the instant-vector shape
    "m45b_promql_sin" -> ((s, dir) =>
      promql.PromQl.compile(
        "round(sin(rad(view_total)), 0.000001)",
        metricsOf(s, dir))),
    // m46: the 3.x experimental timestamp-of-extremum family from text —
    // value = the extremum sample's epoch-second timestamp, ties taking
    // the LATEST occurrence (Prometheus's `>= || isNaN` update loop)
    "m46_promql_ts_of_max" -> ((s, dir) =>
      promql.PromQl.compile(
        "ts_of_max_over_time(view_total[1h])", metricsOf(s, dir))),
    "m46b_promql_ts_of_min" -> ((s, dir) =>
      promql.PromQl.compile(
        "ts_of_min_over_time(error_total[1h])", metricsOf(s, dir))),
    // m47: sort_by_label_desc from text — the natural-sort ordering
    // (digit runs compare as integers: user=10 after user=9, not after
    // user=1) materialized as a per-window rank over the operator's OWN
    // sort keys; the oracle's independent natural-key ORDER BY is what
    // checks the ordering semantics. Rank partitions by (component,
    // name, win_start) — parallel by window, never a global single
    // partition.
    "m47_sort_by_label" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val sorted = promql.PromQl.compileVector(
        "sort_by_label_desc(increase(view_total[1h]), \"user\")",
        metricsOf(s, dir))
      sorted
        .withColumn("rank", row_number().over(
          Window.partitionBy(col("component"), col("name"), col("win_start"))
            .orderBy(promql.PromQlCompiler.sortByLabelKeys(
              Seq("user"), desc = true): _*)))
        .select(col("component"), col("name"),
          Firehose.seriesKey(col("labels")).as("series"),
          col("win_start"), col("value"), col("rank"))
    }),
    // m48: info() from text — the 3.x experimental info-metric label
    // join. The target_info stream derives from the view_total samples
    // (one info row per (user, window) carrying a tier data label on
    // the (instance, job) identifying pair), so a user's error series
    // gains tier exactly in the windows where that user also viewed —
    // windows without a view exercise the pass-through arm
    "m48_promql_info" -> ((s, dir) => {
      val base = Firehose.tagFilter(metricsOf(s, dir))
        .select(col("component"), col("name"), col("labels"),
          col("timestamp"), col("id"), col("value"))
      val u = try_element_at(col("labels"), lit("user"))
      val identified = base.withColumn("labels",
        map_concat(col("labels"),
          map(lit("instance"), u, lit("job"), lit("events"))))
      val info = identified.filter(col("name") === "view_total")
        .withColumn("name", lit("target_info"))
        .withColumn("labels", map(
          lit("instance"), u, lit("job"), lit("events"),
          lit("tier"), (u.cast("long") % 3).cast("string")))
        .withColumn("value", lit(1.0))
      promql.PromQl.compile("info(error_total)", identified.unionByName(info))
    }),
    // m49: INSTANT-query evaluation (Prometheus /api/v1/query): the
    // per-user 2h increase AT the stream's newest timestamp — one
    // lookback-anchored point, window-INTERIOR deltas over (t−2h, t]
    // (t resolved with one tiny aggregate action, the anchor a real
    // dashboard query supplies explicitly)
    "m49_promql_instant" -> ((s, dir) => {
      val m = metricsOf(s, dir)
      val t = m.agg(max(col("timestamp"))).head().getLong(0)
      promql.PromQl.compileInstant(
        "sum by (user) (increase(view_total[2h]))", m, t)
    }),
    // m49b: the instant SELECTOR itself — each series' freshest sample
    // in the lookback window (widened to a day so every live series
    // answers; the default 5m is a production-scrape cadence, not the
    // synthetic stream's)
    "m49b_promql_instant_gauge" -> ((s, dir) => {
      val m = metricsOf(s, dir)
      val t = m.agg(max(col("timestamp"))).head().getLong(0)
      promql.PromQl.compileInstant("view_total", m, t, lookbackSec = 86400L)
    }),
    // m50: the m49 instant query answered through TIME-RANGE FILE
    // PRUNING — the metric corpus landed as a Versioned table in three
    // time-split commits (per-file timestamp range stats), the query's
    // visibility bounds walked from the AST, and only the intersecting
    // files handed to the reader (PromQlVersionedSpec pins the scan
    // census; at 100 TB this is the hours-not-the-year read). Same
    // oracle as m49: pruning must not change a row.
    "m50_promql_pruned_instant" -> ((s, dir) => {
      import graft.sources.Versioned
      val m = Firehose.tagFilter(metricsOf(s, dir))
        .select(col("component"), col("name"), col("labels"),
          col("timestamp"), col("id"), col("value"))
      val cuts = m.agg(
        expr("percentile(timestamp, 0.4)"),
        expr("percentile(timestamp, 0.7)"), max(col("timestamp"))).head()
      val (c1, c2, t) =
        (cuts.getDouble(0).toLong, cuts.getDouble(1).toLong, cuts.getLong(2))
      val root = java.nio.file.Files.createTempDirectory("graft-m50")
        .toFile.getAbsolutePath
      promql.PromQlVersioned.land(m.filter(col("timestamp") <= c1), root)
      promql.PromQlVersioned.land(
        m.filter(col("timestamp") > c1 && col("timestamp") <= c2), root)
      promql.PromQlVersioned.land(m.filter(col("timestamp") > c2), root)
      promql.PromQlVersioned.compileInstant(
        s, root, "sum by (user) (increase(view_total[2h]))", t)
    }),
    // m51: POINT-GRID range evaluation (Prometheus /api/v1/query_range,
    // exactly): the per-user 2d interior increase at THREE daily points
    // ending at the stream head — every point an independent instant
    // evaluation, all in one plan (each sample explodes to the ≤ R/step
    // + 1 points whose window sees it)
    "m51_promql_range" -> ((s, dir) => {
      val m = metricsOf(s, dir)
      val t = m.agg(max(col("timestamp"))).head().getLong(0)
      promql.PromQl.compileRange(
        "sum by (user) (increase(view_total[2d]))", m,
        t - 2 * 86400L, t, 86400L)
    }),
    // m52: EXTRAPOLATED rate (opt-in Prometheus boundary extrapolation,
    // Go's extrapolatedRate transcribed) at the stream head — the last
    // documented divergence, closed behind a flag; the oracle replays
    // the same branch structure (zero-floor before threshold) in DuckDB
    "m52_promql_rate_extrapolated" -> ((s, dir) => {
      val m = metricsOf(s, dir)
      val t = m.agg(max(col("timestamp"))).head().getLong(0)
      promql.PromQl.compileInstant(
        "rate(view_total[2d])", m, t, extrapolate = true)
    }),
    // m53: the landing's hottest dashboard shape — mode=grid
    // rate(x[1d]) over a week of a time-split landed corpus — through
    // the HEAD-SEEDED pruned read: the scan lists the week's files, the
    // crossing delta at the span edge is seeded from each series' one
    // predecessor row (gridLagHeads: a newest-first manifest walk, one
    // margin file in an append-ordered landing), and the result is
    // row-identical to the full-scan grid compile. The oracle replays
    // the FULL-stream crossing-delta rate and filters to the week — so
    // a seeding bug (wrong head, lost delta) hash-mismatches.
    "m53_promql_grid_pruned_rate" -> ((s, dir) => {
      val m = Firehose.tagFilter(metricsOf(s, dir))
        .select(col("component"), col("name"), col("labels"),
          col("timestamp"), col("id"), col("value"))
      val cuts = m.agg(
        expr("percentile(timestamp, 0.4)"),
        expr("percentile(timestamp, 0.7)"), max(col("timestamp"))).head()
      val (c1, c2, t) =
        (cuts.getDouble(0).toLong, cuts.getDouble(1).toLong, cuts.getLong(2))
      val root = java.nio.file.Files.createTempDirectory("graft-m53")
        .toFile.getAbsolutePath
      promql.PromQlVersioned.land(m.filter(col("timestamp") <= c1), root)
      promql.PromQlVersioned.land(
        m.filter(col("timestamp") > c1 && col("timestamp") <= c2), root)
      promql.PromQlVersioned.land(m.filter(col("timestamp") > c2), root)
      promql.PromQlVersioned.compileGridRangeVector(
        s, root, "rate(view_total[1d])", t - 7 * 86400L, t, 86400L)
        .select(col("component"), col("name"),
          Firehose.seriesKey(col("labels")).as("series"),
          col("win_start"), col("value"))
    }),
    // m54: a FAR `@` pin beside a live lookback — the split-interval
    // pruned read (Versioned.prunedReadAny): the scan lists the pin's
    // files and the lookback's files, nothing between. Current per-user
    // daily peak vs the peak of the day ending two days into the stream.
    "m54_promql_pin_split" -> ((s, dir) => {
      val m = Firehose.tagFilter(metricsOf(s, dir))
        .select(col("component"), col("name"), col("labels"),
          col("timestamp"), col("id"), col("value"))
      val cuts = m.agg(min(col("timestamp")),
        expr("percentile(timestamp, 0.4)"),
        expr("percentile(timestamp, 0.7)"), max(col("timestamp"))).head()
      val (t0, c1, c2, t) = (cuts.getLong(0), cuts.getDouble(1).toLong,
        cuts.getDouble(2).toLong, cuts.getLong(3))
      val pin = t0 + 2 * 86400L
      val root = java.nio.file.Files.createTempDirectory("graft-m54")
        .toFile.getAbsolutePath
      promql.PromQlVersioned.land(m.filter(col("timestamp") <= c1), root)
      promql.PromQlVersioned.land(
        m.filter(col("timestamp") > c1 && col("timestamp") <= c2), root)
      promql.PromQlVersioned.land(m.filter(col("timestamp") > c2), root)
      promql.PromQlVersioned.compileInstant(s, root,
        s"max_over_time(view_total[1d] @ $pin) / max_over_time(view_total[1d])",
        t)
    }),
    // m55: TSDB RETENTION on the landing — three time-split commits,
    // then expire(cutoff just past the oldest split): the oldest files
    // drop at FILE granularity (no rewrite, no data read — the same
    // timestamp stats that prune queries prove which files wholly aged
    // out), and the surviving corpus is exactly the rows newer than the
    // first cut. Cuts are INTEGER arithmetic so the oracle replays them
    // bit-exactly (percentile cuts would have to match Spark's
    // interpolation).
    "m55_landing_retention" -> ((s, dir) => {
      val m = Firehose.tagFilter(metricsOf(s, dir))
        .select(col("component"), col("name"), col("labels"),
          col("timestamp"), col("id"), col("value"))
      val mm = m.agg(min(col("timestamp")), max(col("timestamp"))).head()
      val (t0, t1) = (mm.getLong(0), mm.getLong(1))
      val c1 = t0 + (t1 - t0) * 2 / 5
      val c2 = t0 + (t1 - t0) * 7 / 10
      val root = java.nio.file.Files.createTempDirectory("graft-m55")
        .toFile.getAbsolutePath
      promql.PromQlVersioned.land(m.filter(col("timestamp") <= c1), root)
      promql.PromQlVersioned.land(
        m.filter(col("timestamp") > c1 && col("timestamp") <= c2), root)
      promql.PromQlVersioned.land(m.filter(col("timestamp") > c2), root)
      promql.PromQlVersioned.expire(root, c1 + 1)
      graft.sources.Versioned.latest(s, root)
        .withColumn("series", Firehose.seriesKey(col("labels")))
        .groupBy(col("component"), col("name"), col("series"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"))
    }),
    // m56: SMALL-FILE COMPACTION is layout-only — four scrape-shaped
    // tick commits bin-packed into one file must aggregate exactly like
    // the raw stream (the oracle never sees the landing at all; any
    // row lost or duplicated by the rewrite breaks the hash).
    "m56_landing_autocompact" -> ((s, dir) => {
      val m = Firehose.tagFilter(metricsOf(s, dir))
        .select(col("component"), col("name"), col("labels"),
          col("timestamp"), col("id"), col("value"))
      val mm = m.agg(min(col("timestamp")), max(col("timestamp"))).head()
      val (t0, t1) = (mm.getLong(0), mm.getLong(1))
      val c1 = t0 + (t1 - t0) / 4
      val c2 = t0 + (t1 - t0) / 2
      val c3 = t0 + (t1 - t0) * 3 / 4
      val root = java.nio.file.Files.createTempDirectory("graft-m56")
        .toFile.getAbsolutePath
      promql.PromQlVersioned.land(m.filter(col("timestamp") <= c1), root)
      promql.PromQlVersioned.land(
        m.filter(col("timestamp") > c1 && col("timestamp") <= c2), root)
      promql.PromQlVersioned.land(
        m.filter(col("timestamp") > c2 && col("timestamp") <= c3), root)
      promql.PromQlVersioned.land(m.filter(col("timestamp") > c3), root)
      graft.sources.Versioned.compactSmall(s, root, maxBytes = Long.MaxValue)
      graft.sources.Versioned.latest(s, root)
        .withColumn("series", Firehose.seriesKey(col("labels")))
        .groupBy(col("component"), col("name"), col("series"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"))
    }),
    // m57: the INCREMENTAL latest-gauge registry — three time-split
    // appends with a compaction between, the registry refreshed after
    // every transition (so the incremental fold, the maintenance
    // recompute, and a second fold ALL feed the final state) — must
    // equal the plain latest-per-series over the raw stream (the
    // oracle never sees the landing; a merge bug that loses or
    // regresses one series' head breaks the hash).
    "m57_registry_incremental" -> ((s, dir) => {
      val m = Firehose.tagFilter(metricsOf(s, dir))
        .select(col("component"), col("name"), col("labels"),
          col("timestamp"), col("id"), col("value"))
      val mm = m.agg(min(col("timestamp")), max(col("timestamp"))).head()
      val (t0, t1) = (mm.getLong(0), mm.getLong(1))
      val c1 = t0 + (t1 - t0) / 3
      val c2 = t0 + (t1 - t0) * 2 / 3
      val root = java.nio.file.Files.createTempDirectory("graft-m57")
        .toFile.getAbsolutePath
      promql.PromQlVersioned.land(m.filter(col("timestamp") <= c1), root)
      promql.PromRegistry.current(s, root) // full build
      promql.PromQlVersioned.land(
        m.filter(col("timestamp") > c1 && col("timestamp") <= c2), root)
      promql.PromRegistry.current(s, root) // incremental delta fold
      graft.sources.Versioned.compactSmall(s, root, maxBytes = Long.MaxValue)
      promql.PromRegistry.current(s, root) // maintenance recompute
      promql.PromQlVersioned.land(m.filter(col("timestamp") > c2), root)
      promql.PromRegistry.frame(s, promql.PromRegistry.current(s, root))
        .select(col("component"), col("name"), col("series"),
          col("last_value"), col("last_ts"))
    }),
    // per-source gopher-rule failure funnel
    "t18_quality_funnel" -> ((s, dir) =>
      TextAnalysis.qualityFunnel(Tables(s, dir, "documents"))),
    // per-source KL drift vs the pooled corpus over d22's bucket model
    "t20_dist_drift" -> ((s, dir) =>
      TextAnalysis.distributionDrift(Tables(s, dir, "documents"))),
    // SCD Type-2 history apply on the customer dimension: current slice =
    // keys %3≠0 (plus pre-closed versions for %9==0, passthrough), new
    // snapshot = keys %5≠0 with an acctbal bump on %7==0, applied at t=100
    "p6_scd2" -> ((s, dir) => {
      val cust = Tables(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      val hist = cust.filter(col("c_custkey") % 3 =!= 0)
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"),
          lit(0L).as("valid_from"), lit(null).cast("long").as("valid_to"),
          lit(1L).as("is_current"))
        .unionByName(
          cust.filter(col("c_custkey") % 9 === 0)
            .select(col("c_custkey"), concat(lit("OLD "), col("c_name")).as("c_name"),
              col("c_acctbal"), lit(-100L).as("valid_from"),
              lit(0L).cast("long").as("valid_to"), lit(0L).as("is_current")))
      val snap = cust.filter(col("c_custkey") % 5 =!= 0)
        .withColumn("c_acctbal",
          when(col("c_custkey") % 7 === 0, col("c_acctbal") + 1000.0)
            .otherwise(col("c_acctbal")))
      Curate.scd2Apply(hist, snap, "c_custkey", ts = 100L)
    }),
    "m21_prom_parse" -> ((s, dir) =>
      Firehose.promParse(
        Firehose.promRender(Firehose.gaugeLatestLabeled(metricsOf(s, dir))))),
    // m59: OpenMetrics tolerance — the same render with an exemplar
    // tail appended to EVERY line must parse to the identical relation
    // (exemplars tolerated-and-dropped; the oracle is m21's, which
    // never sees a tail)
    "m59_openmetrics_exemplars" -> ((s, dir) =>
      Firehose.promParse(
        Firehose.promRender(Firehose.gaugeLatestLabeled(metricsOf(s, dir)))
          .select(concat(col("line"),
            lit(" # {trace_id=\"abc\",span_id=\"7\"} 0.5 1000")).as("line")))),
    // m63: Prometheus 3.x UTF-8 NAMES round-trip — a dotted metric name
    // renders in the quoted form `{"app_x_total.v2",...}` and a dotted
    // label key renders quoted; promParse recovers both. The oracle
    // constructs the expected (metric, series, value, ts) DIRECTLY, so
    // the green hash proves parse∘render is the identity on the
    // quoted-name grammar (the m21 pattern, extended per the r15
    // verdict's Next #1).
    "m63_utf8_names" -> ((s, dir) =>
      Firehose.promParse(Firehose.promRender(
        Firehose.gaugeLatestLabeled(metricsOf(s, dir))
          .withColumn("name", concat(col("name"), lit(".v2")))
          .withColumn("labels",
            map_concat(col("labels"),
              map(lit("app.env"), lit("prod"))))))),
    // m64: adversarial series-identity round-trip — label text carrying
    // every metacharacter of BOTH grammars (`=` `,` `\` `"` newline,
    // plus a quoted key containing `=`) survives render∘parse, and the
    // recovered series key is the ESCAPED canonical render (injective —
    // the r15 verdict's Next #2). Oracle constructs the escaped key
    // directly in SQL.
    "m64_series_escape" -> ((s, dir) =>
      Firehose.promParse(Firehose.promRender(
        Firehose.gaugeLatestLabeled(metricsOf(s, dir))
          .withColumn("labels",
            map_concat(
              col("labels"),
              map(
                lit("l=w"), lit("1"),
                lit("path"),
                concat(lit("a=b,c\\d\""),
                  element_at(col("labels"), lit("user")),
                  lit("\ne")))))))),
    // m66: FULL-PRECISION value round-trip (the r16 verdict's Next #1)
    // — values with >6 significant decimals, sub-microunit magnitudes,
    // and >1e7 magnitudes (all of which the retired %.6f wire
    // convention rounded or zeroed on the wire) survive render∘parse
    // BIT-FOR-BIT. Three lanes per series: v*1e-9 (scientific small),
    // v/3.0 (17 significant digits), v*1e13 (scientific large). The
    // oracle computes the same IEEE transforms directly on the raw
    // doubles — it never sees the rendered text — so the green hash
    // proves parse(render(x)) == x exactly on every lane.
    "m66_value_precision" -> ((s, dir) =>
      Firehose.promParse(Firehose.promRender(
        Firehose.gaugeLatestLabeled(metricsOf(s, dir))
          .withColumn("lane",
            explode(array(lit("e-9"), lit("div3"), lit("e13"))))
          .withColumn("last_value",
            when(col("lane") === "e-9", col("last_value") * 1e-9)
              .when(col("lane") === "div3", col("last_value") / 3.0)
              .otherwise(col("last_value") * 1e13))
          .withColumn("labels",
            map_concat(col("labels"), map(lit("lane"), col("lane"))))
          .drop("lane")))),
    // m65: the CLASSIC federate downgrade (escaping not negotiated) —
    // the same dotted name/key as m63 rendered with utf8 = false must
    // come out underscore-mangled per Prometheus's EscapeName rule and
    // still re-parse as a classic line; the oracle writes the mangled
    // names directly
    "m65_classic_downgrade" -> ((s, dir) =>
      Firehose.promParse(Firehose.promRender(
        Firehose.gaugeLatestLabeled(metricsOf(s, dir))
          .withColumn("name", concat(col("name"), lit(".v2")))
          .withColumn("labels",
            map_concat(col("labels"),
              map(lit("app.env"), lit("prod")))),
        utf8 = false))),
    "m20_sliding_window" -> ((s, dir) =>
      Firehose.slidingWindowAgg(metricsOf(s, dir))),
    "q_window_ranks" -> ((s, dir) => Relational.qWindowRanks(s, dir)),
    "m19_rollup_merge" -> ((s, dir) => {
      // merge == recompute: two half-corpus rollups (sample-id parity
      // split) merged against the one-pass oracle over ALL events
      val m = metricsOf(s, dir)
      Firehose.rollupMerge(
        Firehose.windowAgg(m.filter(col("id").cast("long") % 2 === 0), 60),
        Firehose.windowAgg(m.filter(col("id").cast("long") % 2 === 1), 60))
    }),
    "q8_market_share" -> ((s, dir) => Relational.q8MarketShare(s, dir)),
    "q9_product_profit" -> ((s, dir) => Relational.q9ProductProfit(s, dir)),
    "q12_shipping_classes" -> ((s, dir) => Relational.q12ShippingClasses(s, dir)),
    "d10_dedup_incremental" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      Dedup.incrementalDedup(
        docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 === 1))
    }),
    "s5_embedding_centroids" -> ((s, dir) =>
      Similarity.labelCentroids(Tables(s, dir, "embeddings"))),
    // ---- §2.3 LLM-training-data pipeline ----
    "d1_dedup_exact" -> ((s, dir) => Dedup.exact(Tables(s, dir, "documents"))),
    // the cap drops degenerate stop-phrase shingles (shared by >100 docs)
    // BEFORE the pair join — the registered form must be the one that
    // survives a skewed 100 TB corpus, and the oracle mirrors the cap
    "d2_dedup_ngram_jaccard" -> ((s, dir) => jaccardPairs(s, dir)),
    "d3_dedup_minhash_lsh" -> ((s, dir) =>
      Dedup.minhashLsh(Tables(s, dir, "documents"), threshold = 0.5)),
    "d4_dedup_simhash" -> ((s, dir) => Dedup.simhash(Tables(s, dir, "documents"))),
    "d4b_simhash_pairs" -> ((s, dir) =>
      Dedup.simhashPairs(Tables(s, dir, "documents"), radius = 3)),
    "d5_dedup_embedding" -> ((s, dir) =>
      Dedup.embeddingNearDup(Tables(s, dir, "embeddings"), threshold = 0.35)),
    "d6_dedup_clusters" -> ((s, dir) =>
      Dedup.resolveClusters(jaccardPairs(s, dir)).orderBy(col("doc_id"))),
    "s1_ann_bruteforce" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 10), k = 5)
    }),
    "s2_ann_lsh" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      Similarity.lshTopK(emb, emb.filter(col("vec_id") < 10), k = 5)
    }),
    "s6_hard_negatives" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      Similarity.hardNegatives(emb, emb.filter(col("vec_id") < 10), k = 5)
    }),
    "t1_lang_id" -> ((s, dir) => TextAnalysis.langId(Tables(s, dir, "documents"))),
    "t2_quality_score" -> ((s, dir) => TextAnalysis.qualityScore(Tables(s, dir, "documents"))),
    "t3_token_count" -> ((s, dir) => TextAnalysis.tokenCounts(Tables(s, dir, "documents"))),
    // exact BPE token counts under a fixed ordered merge table (cascading
    // ranks) — one codegen'd kernel call per row, zero shuffles
    "t19_bpe_count" -> ((s, dir) => Bpe.tokenCounts(Tables(s, dir, "documents"))),
    "t4_fingerprint" -> ((s, dir) => TextAnalysis.fingerprint(Tables(s, dir, "documents"))),
    "t5_pii_redact" -> ((s, dir) => TextAnalysis.piiRedact(Tables(s, dir, "documents"))),
    "t6_top_bigrams" -> ((s, dir) => TextAnalysis.topBigrams(Tables(s, dir, "documents"))),
    "t7_vocab_stats" -> ((s, dir) => TextAnalysis.vocabStats(Tables(s, dir, "documents"))),
    "t8_lm_score" -> ((s, dir) => TextAnalysis.lmScore(Tables(s, dir, "documents"))),
    "t9_chunk_windows" -> ((s, dir) =>
      TextAnalysis.chunkWindows(Tables(s, dir, "documents"), chunkTokens = 50, overlap = 10)),
    // model coefficients are solver output → no portable oracle; the
    // driver records the rows-only check (like s3), the spec asserts
    // model/heuristic agreement
    "t10_quality_model" -> ((s, dir) =>
      TextAnalysis.qualityModel(Tables(s, dir, "documents"))),
    "t11_repetition" -> ((s, dir) =>
      TextAnalysis.repetitionStats(Tables(s, dir, "documents"))),
    "t12_gopher_rules" -> ((s, dir) =>
      TextAnalysis.gopherRules(Tables(s, dir, "documents"))),
    "d15_stratified_split" -> ((s, dir) =>
      Curate.stratifiedSplit(Tables(s, dir, "documents"))),
    "d16_token_budget" -> ((s, dir) =>
      Curate.tokenBudgetSample(
        Tables(s, dir, "documents"),
        budgets = Map("src0" -> 3000L, "src1" -> 2000L, "src2" -> 1000L, "src3" -> 500L))),
    // d16 under tokenizer-EXACT counts: the same budgeted mixture but the
    // running totals are BPE token counts (the codegen'd t19 expression),
    // not regex-word approximations — the real budget math of a mixture
    "d28_bpe_budget" -> ((s, dir) =>
      Curate.tokenBudgetSample(
        Tables(s, dir, "documents"),
        budgets = Map("src0" -> 3000L, "src1" -> 2000L, "src2" -> 1000L, "src3" -> 500L),
        tokenCount = graft.functions.GraftFunctions.bpe_count(
          col("text"), Bpe.referenceMerges))),
    "d17_snapshot_diff" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      Curate.snapshotDiff(
        docs.filter(col("doc_id") % 3 =!= 0),
        docs.filter(col("doc_id") % 5 =!= 0)
          .withColumn("text",
            when(col("doc_id") % 7 === 0, concat(col("text"), lit(" v2")))
              .otherwise(col("text"))))
    }),
    "p2_table_profile" -> ((s, dir) =>
      Relational.tableProfile(
        Tables(s, dir, "documents"),
        Seq("doc_id", "text", "lang", "source", "n_chars"))),
    "s7_quantize_int8" -> ((s, dir) =>
      Similarity.quantizeInt8(Tables(s, dir, "embeddings"))),
    "d11_mixture_sample" -> ((s, dir) =>
      Curate.mixtureSample(
        Tables(s, dir, "documents"),
        weights = Map("src0" -> 0.4, "src1" -> 0.3, "src2" -> 0.2, "src3" -> 0.1),
        kTotal = 40)),
    "d12_dedup_minhash_incr" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      Dedup.minhashLshIncremental(
        docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 === 1))
    }),
    "d14_sequence_pack" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      Curate.packSequences(
        TextAnalysis.chunkWindows(docs)
          .join(docs.select(col("doc_id"), col("source")), "doc_id"))
    }),
    "d13_decontaminate" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      Dedup.decontaminate(
        docs.filter(col("doc_id") % 4 =!= 0),
        docs.filter(col("doc_id") % 4 === 0),
        minCommon = 5)
    }),
    "d8_dedup_normalized" -> ((s, dir) =>
      Dedup.exactNormalized(Tables(s, dir, "documents"))),
    "d9_weighted_sample" -> ((s, dir) =>
      Curate.weightedSamplePerGroup(Tables(s, dir, "documents"), "source", k = 5)),
    // mixed-modality landing (real WAV/BMP/raw payloads by doc_id mod 3) +
    // magic-byte mime SNIFFING read from the payload bytes — codegen'd
    // binary-prefix inspection, no stub anywhere in the path
    "mm1_binary_meta" -> ((s, dir) =>
      Multimodal.binaryMeta(Multimodal.asMixed(Tables(s, dir, "documents")))),
    // feature-VECTOR extraction over genuine WAV payloads with the REAL
    // decoder: duration/RMS/peak/zero-crossings from the decoded PCM
    "mm2_feature_extract" -> ((s, dir) =>
      Multimodal.wavSignalFeatures(Multimodal.asWav(Tables(s, dir, "documents")))),
    // decode-free fixed-stride page sampling (layout op, not a decoder)
    "mm3_page_sample" -> ((s, dir) =>
      Multimodal.samplePages(Multimodal.asBinary(Tables(s, dir, "documents")))),
    // the REAL decoder path: genuine RIFF/WAVE payloads, format-real parse —
    // every output value is a decoded property of the binary (header fields
    // + RMS/duration from the PCM data chunk)
    "mm4_wav_decode" -> ((s, dir) =>
      Multimodal.wavFeatures(Multimodal.asWav(Tables(s, dir, "documents")))),
    // image-modality real decoder: genuine 24-bit BMPs, format-real parse
    "mm5_bmp_decode" -> ((s, dir) =>
      Multimodal.bmpFeatures(Multimodal.asBmp(Tables(s, dir, "documents")))),
    // compressed-image real codec: genuine PNGs (CRC-verified chunks,
    // zlib IDAT, all five filter types) decoded by the real parser
    "mm7_png_decode" -> ((s, dir) =>
      Multimodal.pngFeatures(Multimodal.asPng(Tables(s, dir, "documents")))),
    // video-modality real demuxer: genuine AVI containers, one row per frame
    "mm6_avi_frames" -> ((s, dir) =>
      Multimodal.aviFrames(Multimodal.asAvi(Tables(s, dir, "documents")))
        .select(col("doc_id"), col("frame_idx"), col("width"), col("height"),
          col("fps"), col("n_frames"), col("frame_bytes"), col("frame_mean_lum"))),
    "s3_ann_ivf" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 10), k = 5)
    }),
    // IVF-PQ with the standard refine stage: quantized ADC shortlist from
    // the compact index (8 B of codes + 1 norm per vector), exact re-score
    // of shortlist point lookups only. Rows-only like s3 (solver output);
    // recall floor + landed-index compatibility + compression spec'd.
    "s9_ann_ivfpq" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      Similarity.ivfPqRefine(
        Similarity.ivfPqIndex(emb), emb, emb.filter(col("vec_id") < 10), k = 5)
    }),
    "p1_corpus_curate" -> ((s, dir) => Curate.corpusStats(Tables(s, dir, "documents"))),
    // the composed end-to-end corpus build (p8): p1 gates → d23 passage
    // strip → d25 semantic dedup → d24 DSIR budgets → d14 packing, one
    // pipeline over one corpus relation (documents scanned exactly once;
    // PlanSpec pins the composition's scan census)
    "p8_full_curate" -> ((s, dir) =>
      Curate.fullCurate(Tables(s, dir, "documents"), Tables(s, dir, "embeddings"))),
    // p10: incremental curation — three ingest batches gated and deduped
    // against the landing via its bloom indexes, each an O(batch) commit;
    // the final landed corpus must equal the one-shot gate+dedup with
    // first-batch-wins tie-breaking
    "p10_incremental_curate" -> ((s, dir) => {
      import graft.sources.Versioned
      val docs = Tables(s, dir, "documents")
      val root = java.nio.file.Files.createTempDirectory("graft-p10")
        .toFile.getAbsolutePath
      for (b <- 0 to 2)
        Curate.curateBatchCommit(root, docs.filter(col("doc_id") % 3 === b))
      Versioned.latest(s, root).select("doc_id", "source", "text")
    }),
    // p12: a PromQL recording rule maintained INCREMENTALLY — the rule
    // lowers onto a materialized view over the landed metric corpus
    // (win_start and the by-label as computed view columns, the matcher
    // as the view's WHERE), then create on a partial landing + an
    // append refresh + a delete refresh, each O(delta); the recorded
    // series must equal DuckDB's direct aggregation over the survivors
    // bit-exactly (decimal sums)
    "p12_record_incremental" -> ((s, dir) => {
      import graft.sources.Versioned
      val m = Firehose.tagFilter(metricsOf(s, dir))
        .select(col("component"), col("name"), col("labels"),
          col("timestamp"), col("id"), col("value"))
      val src = java.nio.file.Files.createTempDirectory("graft-rec-src")
        .toFile.getAbsolutePath
      val view = java.nio.file.Files.createTempDirectory("graft-rec-view")
        .toFile.getAbsolutePath
      val part = col("id").cast("long") % 3
      Versioned.appendCommit(m.filter(part =!= 0), src)
      promql.PromQlRecord.create(s,
        "app:views:1h = sum by (user) (sum_over_time(view_total[1h]))",
        src, view)
      Versioned.appendCommit(m.filter(part === 0), src)
      promql.PromQlRecord.refresh(s, view)
      Versioned.deleteWhere(s, src, "id", col("id").cast("long") % 7 === 0)
      promql.PromQlRecord.refresh(s, view)
      promql.PromQlRecord.read(s, view)
    }),
    // p13: an increase() recording rule maintained INCREMENTALLY on
    // append-only lineage — the counter maintainer: per-(series,window)
    // exact decimal increase rows + per-series head-state rows in one
    // Versioned table, each refresh seeding the span's first delta from
    // the recorded head (deletes/backfills refuse to the batch loop).
    // Create on the oldest 40% of the stream, then two time-ordered
    // append-span refreshes; the final series must equal DuckDB's
    // full-history tumbling increase bit-exactly
    "p13_record_increase" -> ((s, dir) => {
      import graft.sources.Versioned
      val m = Firehose.tagFilter(metricsOf(s, dir))
        .select(col("component"), col("name"), col("labels"),
          col("timestamp"), col("id"), col("value"))
      val cuts = m.agg(
        expr("percentile(timestamp, 0.4)"),
        expr("percentile(timestamp, 0.7)")).head()
      val (c1, c2) = (cuts.getDouble(0).toLong, cuts.getDouble(1).toLong)
      val src = java.nio.file.Files.createTempDirectory("graft-p13-src")
        .toFile.getAbsolutePath
      val view = java.nio.file.Files.createTempDirectory("graft-p13-view")
        .toFile.getAbsolutePath
      Versioned.appendCommit(m.filter(col("timestamp") <= c1), src)
      promql.PromQlRecord.create(s,
        "app:views:inc1h = increase(view_total[1h])", src, view)
      Versioned.appendCommit(
        m.filter(col("timestamp") > c1 && col("timestamp") <= c2), src)
      promql.PromQlRecord.refresh(s, view)
      Versioned.appendCommit(m.filter(col("timestamp") > c2), src)
      promql.PromQlRecord.refresh(s, view)
      promql.PromQlRecord.read(s, view)
    }),
    // p9: INCREMENTAL materialized view — create over a partial load,
    // then two O(delta) refreshes (an append span, then a delete span);
    // the final view must equal a from-scratch GROUP BY over the final
    // table state bit-exactly (decimal sums). The oracle recomputes
    // directly from the surviving rows.
    "p9_mv_refresh" -> ((s, dir) => {
      import graft.sources.{MaterializedView, Versioned}
      val docs = Tables(s, dir, "documents")
      val src = java.nio.file.Files.createTempDirectory("graft-mv-src")
        .toFile.getAbsolutePath
      val view = java.nio.file.Files.createTempDirectory("graft-mv-view")
        .toFile.getAbsolutePath
      Versioned.appendCommit(docs.filter(col("doc_id") % 3 =!= 0), src,
        bloomCols = Seq("doc_id"))
      MaterializedView.create(s, src, view, Seq("lang", "source"), Seq("n_chars"))
      Versioned.appendCommit(docs.filter(col("doc_id") % 3 === 0), src,
        bloomCols = Seq("doc_id"))
      MaterializedView.refresh(s, view)
      Versioned.deleteWhere(s, src, "doc_id", col("doc_id") % 7 === 0)
      MaterializedView.refresh(s, view)
      MaterializedView.read(s, view).select("lang", "source", "cnt", "sum_n_chars")
    }),
    // p9b: the min/max hybrid — inserts self-maintain the extremes, the
    // delete span recomputes exactly the groups it touched (the
    // non-self-maintainable case production IVM engines recompute too)
    "p9b_mv_minmax" -> ((s, dir) => {
      import graft.sources.{MaterializedView, Versioned}
      val docs = Tables(s, dir, "documents")
      val src = java.nio.file.Files.createTempDirectory("graft-mvb-src")
        .toFile.getAbsolutePath
      val view = java.nio.file.Files.createTempDirectory("graft-mvb-view")
        .toFile.getAbsolutePath
      Versioned.appendCommit(docs.filter(col("doc_id") % 3 =!= 0), src,
        bloomCols = Seq("doc_id"))
      MaterializedView.create(s, src, view, Seq("lang", "source"),
        Seq("n_chars"), minMaxCols = Seq("n_chars"))
      Versioned.appendCommit(docs.filter(col("doc_id") % 3 === 0), src,
        bloomCols = Seq("doc_id"))
      MaterializedView.refresh(s, view)
      Versioned.deleteWhere(s, src, "doc_id", col("doc_id") % 7 === 0)
      MaterializedView.refresh(s, view)
      MaterializedView.read(s, view).select(
        "lang", "source", "cnt", "sum_n_chars", "min_n_chars", "max_n_chars")
    }),
    // p11: INCREMENTAL materialized JOIN view — create over a partial
    // fact load, then three delta-bounded refreshes (a fact-append span,
    // a dim-upsert span that migrates every joined fact across groups,
    // and a fact-delete span through the min/max recompute arm); the
    // final view must equal DuckDB's direct join + GROUP BY over the
    // surviving rows bit-exactly (decimal sums)
    "p11_mvj_refresh" -> ((s, dir) => {
      import graft.sources.{MaterializedJoinView, Versioned}
      val orders = Tables(s, dir, "orders").select(
        col("o_orderkey"), col("o_custkey").as("custkey"),
        col("o_totalprice").as("price"))
      val cust = Tables(s, dir, "customer").select(
        col("c_custkey").as("custkey"), col("c_mktsegment").as("segment"))
      val fact = java.nio.file.Files.createTempDirectory("graft-mvj-fact")
        .toFile.getAbsolutePath
      val dim = java.nio.file.Files.createTempDirectory("graft-mvj-dim")
        .toFile.getAbsolutePath
      val view = java.nio.file.Files.createTempDirectory("graft-mvj-view")
        .toFile.getAbsolutePath
      Versioned.appendCommit(orders.filter(col("o_orderkey") % 3 =!= 0), fact,
        bloomCols = Seq("custkey", "o_orderkey"))
      Versioned.appendCommit(cust, dim, bloomCols = Seq("custkey"))
      MaterializedJoinView.create(s, fact, dim, view, "custkey",
        Seq("segment"), Seq("price"), minMaxCols = Seq("price"))
      Versioned.appendCommit(orders.filter(col("o_orderkey") % 3 === 0), fact,
        bloomCols = Seq("custkey", "o_orderkey"))
      MaterializedJoinView.refresh(s, view)
      Versioned.upsertCommit(
        cust.filter(col("custkey") % 10 === 0)
          .withColumn("segment", lit("MOVED")), dim, "custkey")
      MaterializedJoinView.refresh(s, view)
      Versioned.deleteWhere(s, fact, "o_orderkey", col("o_orderkey") % 100 === 0)
      MaterializedJoinView.refresh(s, view)
      MaterializedJoinView.read(s, view).select(
        "segment", "cnt", "sum_price", "min_price", "max_price")
    }),
    "d7_sample_per_source" -> ((s, dir) =>
      Curate.samplePerGroup(Tables(s, dir, "documents"), "source", k = 5)))

  // DuckDB dialect; column names/types aligned with the Spark results above.
  def oracleSql: Map[String, String] = Map(
    "m1_parse_metrics" ->
      """SELECT CAST(event_id AS VARCHAR) AS id, event_type || '_total' AS name,
        |  CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec, 'app' AS component,
        |  CAST(user_id AS VARCHAR) AS user_tag, 'bytes' AS unit_tag, value,
        |  CAST(floor(epoch(ts)) AS BIGINT) - 60 AS win_from,
        |  CAST(floor(epoch(ts)) AS BIGINT) AS win_to, 60 AS win_interval
        |FROM events""".stripMargin,
    "m2_gauge_latest" ->
      """WITH m AS (
        |  SELECT 'app' AS component, event_type || '_total' AS name,
        |         'user=' || CAST(user_id AS VARCHAR) AS series, value,
        |         CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec,
        |         row_number() OVER (PARTITION BY event_type, user_id
        |           ORDER BY CAST(floor(epoch(ts)) AS BIGINT) DESC,
        |                    CAST(event_id AS VARCHAR) DESC) AS rn
        |  FROM events)
        |SELECT component, name, series, value AS last_value, ts_sec AS last_ts
        |FROM m WHERE rn = 1""".stripMargin,
    "m15_absent_alert" ->
      """WITH present AS (
        |  SELECT DISTINCT 'app' AS component, event_type || '_total' AS name,
        |    'user=' || CAST(user_id AS VARCHAR) AS series,
        |    CAST(floor(epoch(ts)) AS BIGINT)
        |      - CAST(floor(epoch(ts)) AS BIGINT) % 3600 AS win
        |  FROM events),
        |hi AS (SELECT max(win) AS max_win FROM present)
        |SELECT component, name, series, win + 3600 AS absent_win
        |FROM present p, hi
        |WHERE win + 3600 <= max_win
        |  AND NOT EXISTS (SELECT 1 FROM present q
        |                  WHERE q.component = p.component AND q.name = p.name
        |                    AND q.series = p.series AND q.win = p.win + 3600)""".stripMargin,
    "m3_tag_filter" ->
      """SELECT CAST(event_id AS VARCHAR) AS id,
        |  'user=' || CAST(user_id AS VARCHAR) AS series
        |FROM events""".stripMargin,
    "m4_lookup_remap" ->
      """SELECT CAST(e.event_id AS VARCHAR) AS id,
        |  COALESCE(c.c_name, CAST(e.user_id AS VARCHAR)) AS user_label
        |FROM events e LEFT JOIN customer c
        |  ON CAST(e.user_id AS VARCHAR) = CAST(c.c_custkey AS VARCHAR)""".stripMargin,
    "m5_window_agg" ->
      """SELECT 'app' AS component, event_type || '_total' AS name,
        |  (CAST(floor(epoch(ts)) AS BIGINT) // 60) * 60 AS win_start,
        |  count(*) AS n, min(value) AS min_value, max(value) AS max_value,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_value
        |FROM events GROUP BY 1, 2, 3""".stripMargin,
    "m6_prom_render" ->
      (PromLineCte + "SELECT line FROM lines"),
    "m21_prom_parse" ->
      (PromLineCte +
        """, p AS (SELECT string_split(line, ' ') AS parts FROM lines)
          |SELECT regexp_extract(parts[1], '^([^{]+)', 1) AS metric,
          |  replace(regexp_extract(parts[1], '\{(.*)\}', 1), '"', '') AS series,
          |  CAST(parts[2] AS DOUBLE) AS value,
          |  CAST(parts[3] AS BIGINT) AS ts_ms
          |FROM p""".stripMargin),
    // m59: the exemplar-bearing parse must equal m21's tail-free parse —
    // the oracle IS m21's (it never sees an exemplar)
    "m59_openmetrics_exemplars" ->
      (PromLineCte +
        """, p AS (SELECT string_split(line, ' ') AS parts FROM lines)
          |SELECT regexp_extract(parts[1], '^([^{]+)', 1) AS metric,
          |  replace(regexp_extract(parts[1], '\{(.*)\}', 1), '"', '') AS series,
          |  CAST(parts[2] AS DOUBLE) AS value,
          |  CAST(parts[3] AS BIGINT) AS ts_ms
          |FROM p""".stripMargin),
    // m63/m64: parse∘render must be the IDENTITY, so the oracle builds
    // the expected relation directly from the gauge heads — quoted
    // UTF-8 names (m63) and the escaped series identity under
    // adversarial label text (m64; the escaped key is written out
    // literally — DuckDB standard strings process no backslash escapes)
    "m63_utf8_names" ->
      """WITH m AS (
        |  SELECT event_type, user_id, value,
        |         CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec,
        |         row_number() OVER (PARTITION BY event_type, user_id
        |           ORDER BY CAST(floor(epoch(ts)) AS BIGINT) DESC,
        |                    CAST(event_id AS VARCHAR) DESC) AS rn
        |  FROM events)
        |SELECT 'app_' || event_type || '_total.v2' AS metric,
        |  'app.env=prod,user=' || CAST(user_id AS VARCHAR) AS series,
        |  value AS value,
        |  ts_sec * 1000 AS ts_ms
        |FROM m WHERE rn = 1""".stripMargin,
    "m65_classic_downgrade" ->
      """WITH m AS (
        |  SELECT event_type, user_id, value,
        |         CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec,
        |         row_number() OVER (PARTITION BY event_type, user_id
        |           ORDER BY CAST(floor(epoch(ts)) AS BIGINT) DESC,
        |                    CAST(event_id AS VARCHAR) DESC) AS rn
        |  FROM events)
        |SELECT 'app_' || event_type || '_total_v2' AS metric,
        |  'app_env=prod,user=' || CAST(user_id AS VARCHAR) AS series,
        |  value AS value,
        |  ts_sec * 1000 AS ts_ms
        |FROM m WHERE rn = 1""".stripMargin,
    "m64_series_escape" ->
      """WITH m AS (
        |  SELECT event_type, user_id, value,
        |         CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec,
        |         row_number() OVER (PARTITION BY event_type, user_id
        |           ORDER BY CAST(floor(epoch(ts)) AS BIGINT) DESC,
        |                    CAST(event_id AS VARCHAR) DESC) AS rn
        |  FROM events)
        |SELECT 'app_' || event_type || '_total' AS metric,
        |  'l\=w=1,path=a\=b\,c\\d"' || CAST(user_id AS VARCHAR)
        |    || chr(10) || 'e,user=' || CAST(user_id AS VARCHAR) AS series,
        |  value AS value,
        |  ts_sec * 1000 AS ts_ms
        |FROM m WHERE rn = 1""".stripMargin,
    // m66: the oracle replays the three value transforms on the RAW
    // doubles (same IEEE ops, same literals → same bits in DuckDB and
    // Spark); it never touches the rendered text, so a green hash is a
    // bit-exact proof of the full-precision render∘parse identity
    "m66_value_precision" ->
      """WITH m AS (
        |  SELECT event_type, user_id, value,
        |         CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec,
        |         row_number() OVER (PARTITION BY event_type, user_id
        |           ORDER BY CAST(floor(epoch(ts)) AS BIGINT) DESC,
        |                    CAST(event_id AS VARCHAR) DESC) AS rn
        |  FROM events),
        |l AS (SELECT * FROM m, (VALUES ('e-9'), ('div3'), ('e13')) t(lane)
        |      WHERE rn = 1)
        |SELECT 'app_' || event_type || '_total' AS metric,
        |  'lane=' || lane || ',user=' || CAST(user_id AS VARCHAR) AS series,
        |  CASE lane WHEN 'e-9' THEN value * 1e-9
        |            WHEN 'div3' THEN value / 3.0
        |            ELSE value * 1e13 END AS value,
        |  ts_sec * 1000 AS ts_ms
        |FROM l""".stripMargin,
    "m7_series_rate" ->
      """SELECT event_id, user_id, event_type, epoch_ns(ts) // 1000 AS ts_us, value,
        |  (value - lag(value) OVER w)
        |    / ((epoch_ns(ts) // 1000 - lag(epoch_ns(ts) // 1000) OVER w) / 1e6) AS rate
        |FROM events
        |WINDOW w AS (PARTITION BY event_type, user_id
        |             ORDER BY epoch_ns(ts) // 1000, event_id)""".stripMargin,
    "m8_gauge_expiry" ->
      """WITH m AS (
        |  SELECT 'app' AS component, event_type || '_total' AS name,
        |         'user=' || CAST(user_id AS VARCHAR) AS series, value,
        |         CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec,
        |         row_number() OVER (PARTITION BY event_type, user_id
        |           ORDER BY CAST(floor(epoch(ts)) AS BIGINT) DESC,
        |                    CAST(event_id AS VARCHAR) DESC) AS rn
        |  FROM events),
        |g AS (SELECT component, name, series, value AS last_value, ts_sec AS last_ts
        |      FROM m WHERE rn = 1)
        |SELECT * FROM g
        |WHERE last_ts >= (SELECT max(last_ts) FROM g) - 604800""".stripMargin,
    "m8b_gauge_capacity" ->
      """WITH m AS (
        |  SELECT 'app' AS component, event_type || '_total' AS name,
        |         'user=' || CAST(user_id AS VARCHAR) AS series, value,
        |         CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec,
        |         row_number() OVER (PARTITION BY event_type, user_id
        |           ORDER BY CAST(floor(epoch(ts)) AS BIGINT) DESC,
        |                    CAST(event_id AS VARCHAR) DESC) AS rn
        |  FROM events),
        |g AS (SELECT component, name, series, value AS last_value, ts_sec AS last_ts
        |      FROM m WHERE rn = 1),
        |r AS (SELECT *, row_number() OVER (
        |        ORDER BY last_ts DESC, component, name, series) AS rnk FROM g)
        |SELECT component, name, series, last_value, last_ts
        |FROM r WHERE rnk <= 100""".stripMargin,
    // m9's increase computed at two widths for error/view counters, ratio'd
    // per series, multiwindow AND at threshold 1.0
    "m14_ratio_alert" ->
      """WITH m AS (
        |  SELECT 'app' AS component, event_type || '_total' AS name,
        |         'user=' || CAST(user_id AS VARCHAR) AS series,
        |         CAST(event_id AS VARCHAR) AS id, value,
        |         CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec
        |  FROM events WHERE event_type IN ('error', 'view')),
        |d AS (
        |  SELECT *, value - lag(value) OVER (PARTITION BY component, name, series
        |    ORDER BY ts_sec, id) AS delta
        |  FROM m),
        |i AS (
        |  SELECT component, name, series,
        |    CASE WHEN delta IS NULL THEN 0.0
        |         WHEN delta < 0 THEN value ELSE delta END AS inc,
        |    ts_sec
        |  FROM d),
        |ws AS (SELECT component, name, series, ts_sec - ts_sec % 3600 AS win_start,
        |         CAST(sum(CAST(inc AS DECIMAL(18,6))) AS DOUBLE) AS increase
        |       FROM i GROUP BY 1, 2, 3, 4),
        |wl AS (SELECT component, name, series, ts_sec - ts_sec % 21600 AS win_start,
        |         CAST(sum(CAST(inc AS DECIMAL(18,6))) AS DOUBLE) AS increase
        |       FROM i GROUP BY 1, 2, 3, 4),
        |srt AS (SELECT n.component, n.series, n.win_start,
        |          n.increase / d2.increase AS short_ratio
        |        FROM ws n JOIN ws d2 ON n.component = d2.component
        |          AND n.series = d2.series AND n.win_start = d2.win_start
        |        WHERE n.name = 'error_total' AND d2.name = 'view_total'
        |          AND d2.increase > 0),
        |lrt AS (SELECT n.component, n.series, n.win_start AS long_win,
        |          n.increase / d2.increase AS long_ratio
        |        FROM wl n JOIN wl d2 ON n.component = d2.component
        |          AND n.series = d2.series AND n.win_start = d2.win_start
        |        WHERE n.name = 'error_total' AND d2.name = 'view_total'
        |          AND d2.increase > 0)
        |SELECT s.component, s.series, s.win_start, s.short_ratio, l.long_ratio,
        |  CAST(s.short_ratio > 1.0 AND l.long_ratio > 1.0 AS INTEGER) AS alert
        |FROM srt s JOIN lrt l ON s.component = l.component AND s.series = l.series
        |  AND l.long_win = s.win_start - s.win_start % 21600""".stripMargin,
    // same centered exact-decimal sums, same IEEE scalar algebra —
    // parenthesization mirrored term for term
    "m16_predict_linear" ->
      """WITH pts AS (
        |  SELECT event_type, user_id,
        |    epoch_ns(ts) // 1000000000
        |      - min(epoch_ns(ts) // 1000000000)
        |          OVER (PARTITION BY event_type, user_id) AS x,
        |    value
        |  FROM events),
        |g AS (
        |  SELECT event_type, user_id, count(*) AS n,
        |    sum(CAST(x AS DECIMAL(19,0))) AS sx,
        |    sum(CAST(x * x AS DECIMAL(28,0))) AS sxx,
        |    sum(CAST(value AS DECIMAL(18,2))) AS sy,
        |    sum(CAST(x AS DECIMAL(19,0)) * CAST(value AS DECIMAL(18,2))) AS sxy,
        |    max(x) AS mx
        |  FROM pts GROUP BY 1, 2),
        |d AS (
        |  SELECT event_type, user_id, n,
        |    CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS den,
        |    (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |       - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |      / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS slope,
        |    CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd,
        |    CAST(mx AS DOUBLE) AS mxd
        |  FROM g)
        |SELECT event_type, user_id, n, slope,
        |  (syd - slope * sxd) / CAST(n AS DOUBLE) + slope * (mxd + 3600.0) AS predicted
        |FROM d WHERE n >= 2 AND den <> 0""".stripMargin,
    "m9_counter_increase" ->
      (IncreaseCte(3600) +
        "SELECT component, name, series, win_start, increase, n_samples FROM win"),
    // m9's hourly increases rolled into 6h outer windows: aggregates on the
    // exact increases, divided once at the end (summing rates would be
    // order-dependent; min/max commute with the monotone divide)
    "m30_subquery" ->
      (IncreaseCte(3600) +
        """, sq AS (SELECT component, name, series,
          |    win_start - win_start % 21600 AS outer_win, increase FROM win)
          |SELECT component, name, series, outer_win,
          |  count(*) AS n_points,
          |  min(increase) / 3600.0 AS min_rate,
          |  max(increase) / 3600.0 AS max_rate,
          |  CAST(sum(CAST(increase AS DECIMAL(18,6))) AS DOUBLE)
          |    / (count(*) * 3600.0) AS avg_rate
          |FROM sq GROUP BY 1, 2, 3, 4""".stripMargin),
    // daily windows: the hourly grid is too sparse per series for a
    // 3-consecutive-window condition to ever hold on the synthetic stream
    "m22_for_duration" ->
      (IncreaseCte(86400) +
        """, cond AS (
          |  SELECT component, name, series, win_start, increase FROM win
          |  WHERE increase > 50.0),
          |flag AS (
          |  SELECT *, lag(win_start, 2) OVER (PARTITION BY component, name, series
          |    ORDER BY win_start) AS back2
          |  FROM cond)
          |SELECT component, name, series, win_start AS fire_win, increase
          |FROM flag WHERE back2 = win_start - 2 * 86400""".stripMargin),
    "m10_topk_series" ->
      """WITH m AS (
        |  SELECT event_type || '_total' AS name,
        |         'user=' || CAST(user_id AS VARCHAR) AS series, value,
        |         CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec,
        |         row_number() OVER (PARTITION BY event_type, user_id
        |           ORDER BY CAST(floor(epoch(ts)) AS BIGINT) DESC,
        |                    CAST(event_id AS VARCHAR) DESC) AS rn
        |  FROM events),
        |g AS (SELECT name, series, value AS last_value, ts_sec AS last_ts
        |      FROM m WHERE rn = 1),
        |r AS (SELECT *, row_number() OVER (PARTITION BY name
        |        ORDER BY last_value DESC, series) AS rnk FROM g)
        |SELECT name, series, last_value, last_ts FROM r WHERE rnk <= 3""".stripMargin,
    "m11_hist_quantile" ->
      """WITH m AS (SELECT event_type || '_total' AS name, value FROM events),
        |b AS (SELECT name, coalesce(
        |        CASE WHEN value <= 50 THEN 50.0 END,
        |        CASE WHEN value <= 100 THEN 100.0 END,
        |        CASE WHEN value <= 200 THEN 200.0 END,
        |        CASE WHEN value <= 300 THEN 300.0 END,
        |        CASE WHEN value <= 400 THEN 400.0 END,
        |        'infinity'::DOUBLE) AS le
        |      FROM m),
        |c AS (SELECT name, le, count(*) AS n FROM b GROUP BY 1, 2),
        |w1 AS (SELECT name, le, n,
        |         CAST(sum(n) OVER (PARTITION BY name ORDER BY le) AS BIGINT) AS cum
        |       FROM c),
        |w2 AS (SELECT *,
        |         CAST(coalesce(lag(cum) OVER (PARTITION BY name ORDER BY le), 0) AS BIGINT) AS cum_prev,
        |         coalesce(lag(le) OVER (PARTITION BY name ORDER BY le), 0.0) AS lo
        |       FROM w1),
        |t AS (SELECT name AS t_name, max(cum) AS total FROM w2 GROUP BY 1),
        |f AS (SELECT w2.*, total, 0.9 * CAST(total AS DOUBLE) AS rank
        |      FROM w2 JOIN t ON name = t_name
        |      WHERE CAST(cum AS DOUBLE) >= 0.9 * CAST(total AS DOUBLE)),
        |r AS (SELECT *, row_number() OVER (PARTITION BY name ORDER BY le) AS rn FROM f)
        |SELECT name, 0.9 AS q, total,
        |  CASE WHEN isinf(le) THEN lo
        |       ELSE lo + (le - lo) * ((rank - CAST(cum_prev AS DOUBLE))
        |              / (CAST(cum AS DOUBLE) - CAST(cum_prev AS DOUBLE))) END AS quantile
        |FROM r WHERE rn = 1""".stripMargin,
    "q_grouping_sets" ->
      """SELECT n_name, c_mktsegment, count(*) AS n_customers,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_acctbal,
        |  CAST(GROUPING(n_name, c_mktsegment) AS INTEGER) AS grp
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY GROUPING SETS ((n_name), (c_mktsegment))""".stripMargin,
    "m13_gap_fill" ->
      """WITH m AS (
        |  SELECT 'app' AS component, event_type || '_total' AS name,
        |         'user=' || CAST(user_id AS VARCHAR) AS series, value,
        |         CAST(event_id AS VARCHAR) AS id,
        |         CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec
        |  FROM events),
        |s AS (SELECT component, name, series, ts_sec - ts_sec % 3600 AS slot, value,
        |        row_number() OVER (PARTITION BY component, name, series, ts_sec - ts_sec % 3600
        |          ORDER BY ts_sec DESC, id DESC) AS rn
        |      FROM m),
        |sv AS (SELECT component, name, series, slot, value AS slot_value FROM s WHERE rn = 1),
        |sp AS (SELECT component, name, series, min(slot) AS lo, max(slot) AS hi
        |       FROM sv GROUP BY 1, 2, 3),
        |g AS (SELECT component, name, series, CAST(gs.g AS BIGINT) AS slot
        |      FROM sp, UNNEST(generate_series(lo, hi, 3600)) gs(g)),
        |j AS (SELECT g.component, g.name, g.series, g.slot, sv.slot_value
        |      FROM g LEFT JOIN sv USING (component, name, series, slot))
        |SELECT component, name, series, slot,
        |  last_value(slot_value IGNORE NULLS) OVER (
        |    PARTITION BY component, name, series ORDER BY slot
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value,
        |  slot_value IS NULL AS filled
        |FROM j""".stripMargin,
    "m12_props_extract" ->
      """SELECT event_type, count(*) AS n,
        |  min(CAST(json_extract(props, '$.k') AS BIGINT)) AS min_k,
        |  max(CAST(json_extract(props, '$.k') AS BIGINT)) AS max_k,
        |  CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q4_order_priority" ->
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-07-01' AND o_orderdate < TIMESTAMP '1996-10-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey
        |                AND l_shipdate > o_orderdate + INTERVAL 90 DAY)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q6_forecast_revenue" ->
      """SELECT CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount >= 0.03 AND l_discount <= 0.05 AND l_quantity < 24""".stripMargin,
    "q_correlated" ->
      """WITH ca AS (
        |  SELECT o_custkey AS ca_custkey,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS cust_avg
        |  FROM orders GROUP BY 1)
        |SELECT o_orderkey, o_custkey, o_totalprice, cust_avg
        |FROM orders JOIN ca ON o_custkey = ca_custkey
        |WHERE o_totalprice > cust_avg""".stripMargin,
    "q_full_outer" ->
      """WITH c AS (SELECT c_custkey, c_name FROM customer WHERE c_mktsegment = 'BUILDING'),
        |o AS (SELECT o_custkey, count(*) AS n_orders,
        |        CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend
        |      FROM orders GROUP BY 1)
        |SELECT coalesce(c_custkey, o_custkey) AS custkey, c_name, n_orders, spend
        |FROM c FULL OUTER JOIN o ON c_custkey = o_custkey""".stripMargin,
    "q13_custdist" ->
      """SELECT c_count, count(*) AS custdist FROM (
        |  SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer LEFT OUTER JOIN orders
        |    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        |  GROUP BY c_custkey) c_orders
        |GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin,
    "q18_large_orders" ->
      """WITH big AS (
        |  SELECT l_orderkey,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
        |  FROM lineitem GROUP BY 1
        |  HAVING CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) > 300)
        |SELECT c_name, c_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS order_date,
        |  o_totalprice, total_qty
        |FROM big JOIN orders ON o_orderkey = l_orderkey
        |JOIN customer ON c_custkey = o_custkey
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin,
    "q22_dormant_value" ->
      """WITH a AS (
        |  SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_bal
        |  FROM customer WHERE c_acctbal > 0)
        |SELECT c_nationkey, count(*) AS numcust,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
        |FROM customer, a
        |WHERE c_nationkey IN (1, 2, 3) AND c_acctbal > avg_bal
        |  AND NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_totalprice > 300000)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q14_promo_revenue" ->
      """SELECT 100.0 * CAST(sum(CASE WHEN p_type = 'PROMO'
        |    THEN CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))
        |    ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE)
        |  / CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE)
        |  AS promo_share,
        |  count(*) AS n_items
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1996-04-01'""".stripMargin,
    "q16_supplier_variety" ->
      """SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO'
        |  AND p_size IN (1, 5, 10, 15, 20, 25, 30, 35)
        |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY 1, 2, 3
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin,
    "q19_disjunctive" ->
      """SELECT
        |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE)
        |    AS revenue,
        |  count(*) AS n_items
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 1 AND 20)
        |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 20 AND l_quantity BETWEEN 10 AND 30)
        |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 30 AND l_quantity BETWEEN 20 AND 40)"""
        .stripMargin,
    "q7_nation_volume" ->
      """SELECT supp_nation, cust_nation, l_year,
        |  CAST(sum(vol) AS DOUBLE) AS revenue
        |FROM (
        |  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |    year(l_shipdate) AS l_year,
        |    CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6)) AS vol
        |  FROM lineitem, orders, customer, supplier, nation n1, nation n2
        |  WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
        |    AND l_suppkey = s_suppkey AND s_nationkey = n1.n_nationkey
        |    AND c_nationkey = n2.n_nationkey
        |    AND l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate < TIMESTAMP '1998-01-01'
        |    AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        |      OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')))
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
    "q15_top_supplier" ->
      """WITH revenue AS (
        |  SELECT l_suppkey,
        |    CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE)
        |      AS total_revenue
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate < TIMESTAMP '1996-04-01'
        |  GROUP BY 1)
        |SELECT s_suppkey, s_name, total_revenue
        |FROM supplier JOIN revenue ON s_suppkey = l_suppkey
        |WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
        |ORDER BY s_suppkey""".stripMargin,
    "q20_big_movers" ->
      """SELECT s_suppkey, s_name FROM supplier
        |WHERE s_suppkey IN (
        |  SELECT l_suppkey FROM lineitem
        |  WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_type = 'PROMO')
        |  GROUP BY l_suppkey
        |  HAVING CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) > 500.0)
        |ORDER BY s_suppkey""".stripMargin,
    "q10_returned_rank" ->
      """SELECT c_custkey, c_name, c_mktsegment,
        |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE)
        |    AS revenue,
        |  count(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE l_returnflag = 'R'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY 1, 2, 3
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin,
    "q11_value_share" ->
      """WITH pv AS (
        |  SELECT l_partkey,
        |    sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS val_dec
        |  FROM lineitem GROUP BY 1)
        |SELECT l_partkey, CAST(val_dec AS DOUBLE) AS part_value
        |FROM pv
        |WHERE CAST(val_dec AS DOUBLE) > 0.0007 * (SELECT CAST(sum(val_dec) AS DOUBLE) FROM pv)
        |ORDER BY part_value DESC, l_partkey""".stripMargin,
    "q17_small_qty" ->
      """WITH l AS (
        |  SELECT * FROM lineitem
        |  WHERE l_partkey IN
        |    (SELECT p_partkey FROM part WHERE p_brand = 'Brand#1' AND p_size <= 5)),
        |aq AS (
        |  SELECT l_partkey AS ap,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty
        |  FROM l GROUP BY 1)
        |SELECT
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0 AS avg_yearly,
        |  count(*) AS n_items
        |FROM l JOIN aq ON l_partkey = ap
        |WHERE l_quantity < 0.2 * avg_qty""".stripMargin,
    "m18_quantile_over_time" ->
      """WITH m AS (
        |  SELECT 'app' AS component, event_type || '_total' AS name,
        |         'user=' || CAST(user_id AS VARCHAR) AS series, value,
        |         CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec
        |  FROM events)
        |SELECT component, name, series, ts_sec - ts_sec % 3600 AS win_start,
        |  round(quantile_cont(value, 0.9), 4) AS q_value,
        |  count(*) AS n_samples
        |FROM m GROUP BY 1, 2, 3, 4""".stripMargin,
    "t14_bm25_search" ->
      (WordsCte +
        """tk AS (SELECT doc_id, CAST(len(ws) AS DOUBLE) AS dl, ws FROM words),
          |st AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
          |         CAST(sum(CAST(dl AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avgdl
          |       FROM tk),
          |hits AS (SELECT doc_id, dl,
          |           unnest(list_filter(ws,
          |             t -> list_contains(['spark', 'stream', 'merge', 'window'], t))) AS term
          |         FROM tk),
          |tf AS (SELECT doc_id, dl, term, CAST(count(*) AS DOUBLE) AS tf
          |       FROM hits GROUP BY 1, 2, 3),
          |dfr AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY 1),
          |sc AS (SELECT doc_id,
          |         CAST(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0) * (tf * (1.2 + 1.0))
          |           / (tf + 1.2 * ((1.0 - 0.75) + 0.75 * dl / avgdl))
          |           AS DECIMAL(18,10)) AS contrib
          |       FROM tf JOIN dfr USING (term), st)
          |SELECT doc_id, round(CAST(sum(contrib) AS DOUBLE), 6) AS score,
          |  count(*) AS n_terms
          |FROM sc GROUP BY 1 ORDER BY score DESC, doc_id LIMIT 20""".stripMargin),
    "s8_ann_int8" ->
      s"""WITH s AS (
         |  SELECT vec_id, embedding,
         |    CAST(list_aggregate(list_transform(embedding, x -> abs(x)), 'max') AS DOUBLE)
         |      / 127.0 AS sc
         |  FROM embeddings),
         |q AS (
         |  SELECT vec_id, list_transform(embedding, x ->
         |    CASE WHEN sc = 0.0 THEN 0.0
         |         ELSE least(127.0, greatest(-127.0, round(CAST(x AS DOUBLE) / sc))) END) AS qv
         |  FROM s),
         |probes AS (SELECT * FROM q WHERE vec_id < 10),
         |scored AS (
         |  SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
         |    (CASE WHEN sqrt(${qdotSql("p.qv", "p.qv")}) * sqrt(${qdotSql("c.qv", "c.qv")}) = 0.0
         |          THEN -1.0
         |          ELSE ${qdotSql("p.qv", "c.qv")}
         |            / (sqrt(${qdotSql("p.qv", "p.qv")}) * sqrt(${qdotSql("c.qv", "c.qv")})) END)
         |      AS cosine_q
         |  FROM q c JOIN probes p ON c.vec_id != p.vec_id),
         |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY probe_id
         |        ORDER BY cosine_q DESC, neighbor_id) AS BIGINT) AS rnk FROM scored)
         |SELECT probe_id, neighbor_id, cosine_q, rnk FROM r WHERE rnk <= 5""".stripMargin,
    "d20_epoch_upsample" ->
      """WITH e AS (
        |  SELECT source, doc_id,
        |    CASE source WHEN 'src0' THEN 2.5 WHEN 'src1' THEN 1.0
        |                WHEN 'src2' THEN 0.3 ELSE 0.0 END AS ep,
        |    CAST(CAST('0x' || substr(md5('epoch:' || CAST(doc_id AS VARCHAR)), 1, 15)
        |      AS BIGINT) AS DOUBLE) / 1152921504606846976.0 AS u
        |  FROM documents),
        |n AS (
        |  SELECT source, doc_id,
        |    CAST(floor(ep) + (CASE WHEN u < ep - floor(ep) THEN 1 ELSE 0 END) AS INTEGER) AS nc
        |  FROM e)
        |SELECT source, doc_id, CAST(k AS BIGINT) AS copy_idx
        |FROM n, UNNEST(generate_series(0, nc - 1)) t(k)
        |WHERE nc > 0""".stripMargin,
    "t15_tfidf_keywords" ->
      (WordsCte +
        """tf AS (SELECT doc_id, term, count(*) AS tf
          |      FROM (SELECT doc_id, unnest(ws) AS term FROM words) GROUP BY 1, 2),
          |nd AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents),
          |dfr AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY 1),
          |sc AS (SELECT doc_id, term, tf,
          |         round(CAST(tf AS DOUBLE) * ln(n_docs / df), 6) AS score
          |       FROM tf JOIN dfr USING (term), nd),
          |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
          |        ORDER BY score DESC, term) AS BIGINT) AS rnk FROM sc)
          |SELECT doc_id, term, tf, score, rnk FROM r WHERE rnk <= 3""".stripMargin),
    "m20_sliding_window" ->
      """WITH m AS (
        |  SELECT 'app' AS component, event_type || '_total' AS name, value,
        |         CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec
        |  FROM events),
        |e AS (SELECT component, name, value, k * 900 AS win_start
        |      FROM m, UNNEST(generate_series((ts_sec - 3600) // 900 + 1, ts_sec // 900)) t(k))
        |SELECT component, name, win_start, count(*) AS n,
        |  min(value) AS min_value, max(value) AS max_value,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_value
        |FROM e GROUP BY 1, 2, 3""".stripMargin,
    "q_window_ranks" ->
      """SELECT o_orderkey, o_orderpriority, o_totalprice,
        |  CAST(ntile(4) OVER w AS BIGINT) AS quartile,
        |  percent_rank() OVER w AS pct_rank,
        |  cume_dist() OVER w AS cume,
        |  lag(o_totalprice) OVER w AS prev_price,
        |  lead(o_totalprice) OVER w AS next_price
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)""".stripMargin,
    // the one-pass recompute over ALL events — equality proves the
    // half-corpus rollup merge is lossless (mergeable partials)
    "m19_rollup_merge" ->
      """SELECT 'app' AS component, event_type || '_total' AS name,
        |  (CAST(floor(epoch(ts)) AS BIGINT) // 60) * 60 AS win_start,
        |  count(*) AS n, min(value) AS min_value, max(value) AS max_value,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_value
        |FROM events GROUP BY 1, 2, 3""".stripMargin,
    "m17_resets_changes" ->
      """WITH m AS (
        |  SELECT 'app' AS component, event_type || '_total' AS name,
        |         'user=' || CAST(user_id AS VARCHAR) AS series,
        |         CAST(event_id AS VARCHAR) AS id, value,
        |         CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec
        |  FROM events),
        |d AS (
        |  SELECT *, lag(value) OVER (PARTITION BY component, name, series
        |    ORDER BY ts_sec, id) AS prev
        |  FROM m)
        |SELECT component, name, series,
        |  CAST(sum(CASE WHEN prev IS NOT NULL AND value < prev THEN 1 ELSE 0 END) AS BIGINT) AS resets,
        |  CAST(sum(CASE WHEN prev IS NOT NULL AND value != prev THEN 1 ELSE 0 END) AS BIGINT) AS changes,
        |  count(*) AS n_samples
        |FROM d GROUP BY 1, 2, 3""".stripMargin,
    "t13_passage_mine" ->
      (WordsCte +
        """g AS (SELECT doc_id, array_to_string(list_slice(ws, i, i + 7), ' ') AS passage
          |      FROM words, UNNEST(generate_series(1, len(ws) - 7)) t(i)
          |      WHERE len(ws) >= 8),
          |pd AS (SELECT passage, doc_id, count(*) AS n_in_doc FROM g GROUP BY 1, 2)
          |SELECT passage, count(*) AS n_docs, CAST(sum(n_in_doc) AS BIGINT) AS n_occurrences
          |FROM pd GROUP BY 1 HAVING count(*) >= 2
          |ORDER BY n_occurrences DESC, n_docs DESC, passage LIMIT 50""".stripMargin),
    "q_scd2_intervals" ->
      """WITH e AS (
        |  SELECT user_id, event_id, event_type, epoch_ns(ts) // 1000 AS ts_us FROM events),
        |c AS (
        |  SELECT *, CASE WHEN lag(event_type) OVER w IS NULL
        |                   OR lag(event_type) OVER w != event_type THEN 1 ELSE 0 END AS chg
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
        |r AS (
        |  SELECT *, CAST(sum(chg) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS run_id
        |  FROM c),
        |g AS (
        |  SELECT user_id, run_id, event_type AS state, min(ts_us) AS valid_from_us,
        |         count(*) AS n_events
        |  FROM r GROUP BY 1, 2, 3)
        |SELECT user_id, run_id, state, valid_from_us,
        |  lead(valid_from_us) OVER w2 AS valid_to_us,
        |  (lead(valid_from_us) OVER w2 IS NULL) AS is_current,
        |  n_events
        |FROM g WINDOW w2 AS (PARTITION BY user_id ORDER BY run_id)""".stripMargin,
    // the correlated-scalar-subquery form — identical results prove the
    // Spark side's single-scan window-min decorrelation
    "q2_mincost_supplier" ->
      """WITH cost AS (
        |  SELECT l_partkey, l_suppkey, min(l_extendedprice / l_quantity) AS unit_cost
        |  FROM lineitem
        |  WHERE l_partkey IN
        |    (SELECT p_partkey FROM part WHERE p_type = 'SMALL' AND p_size = 10)
        |  GROUP BY 1, 2),
        |rc AS (
        |  SELECT cost.*, s_name, s_acctbal, n_name
        |  FROM cost
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  WHERE r_name = 'EUROPE')
        |SELECT s_acctbal, s_name, n_name, rc.l_partkey AS p_partkey, p_brand, unit_cost
        |FROM rc JOIN part ON rc.l_partkey = p_partkey
        |WHERE unit_cost = (SELECT min(unit_cost) FROM rc rc2 WHERE rc2.l_partkey = rc.l_partkey)
        |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey LIMIT 100""".stripMargin,
    "q8_market_share" ->
      """SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |  CAST(sum(CASE WHEN n2.n_name = 'NATION_2'
        |      THEN CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))
        |      ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE)
        |    / CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE)
        |    AS mkt_share,
        |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE)
        |    AS total_volume
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation n2 ON s_nationkey = n2.n_nationkey
        |WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_type = 'ECONOMY')
        |  AND o_custkey IN (
        |    SELECT c_custkey FROM customer
        |    JOIN nation n1 ON c_nationkey = n1.n_nationkey
        |    JOIN region ON n1.n_regionkey = r_regionkey
        |    WHERE r_name = 'ASIA')
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q9_product_profit" ->
      """SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount)
        |    - 0.006 * p_retailprice * l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_profit
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |WHERE p_name LIKE '%widget%'
        |GROUP BY 1, 2 ORDER BY 1, 2 DESC""".stripMargin,
    "q12_shipping_classes" ->
      """SELECT CASE WHEN datediff('day', o_orderdate, l_shipdate) > 120 THEN 'LATE'
        |    WHEN datediff('day', o_orderdate, l_shipdate) > 60 THEN 'SLOW'
        |    ELSE 'FAST' END AS ship_class,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END)
        |    AS BIGINT) AS high_line_count,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END)
        |    AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // the EXISTS/NOT-EXISTS form — identical results prove the Spark
    // side's single-scan window decorrelation
    "q21_lone_late" ->
      """SELECT s_suppkey, s_name, count(DISTINCT l1.l_orderkey) AS numwait
        |FROM lineitem l1
        |JOIN orders o ON l1.l_orderkey = o.o_orderkey
        |JOIN supplier s ON l1.l_suppkey = s.s_suppkey
        |WHERE datediff('day', o.o_orderdate, l1.l_shipdate) > 180
        |  AND EXISTS (
        |    SELECT 1 FROM lineitem l2
        |    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (
        |    SELECT 1 FROM lineitem l3
        |    JOIN orders o3 ON l3.l_orderkey = o3.o_orderkey
        |    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
        |      AND datediff('day', o3.o_orderdate, l3.l_shipdate) > 180)
        |GROUP BY 1, 2
        |ORDER BY numwait DESC, s_suppkey LIMIT 100""".stripMargin,
    "q_notin_nullaware" ->
      """SELECT c_custkey, c_mktsegment FROM customer
        |WHERE c_custkey NOT IN
        |  (SELECT o_custkey FROM orders WHERE o_totalprice > 300000)""".stripMargin,
    "q_window_range" ->
      """SELECT event_id, user_id, epoch_ns(ts) // 1000 AS ts_us,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS rolling_1h,
        |  count(*) OVER w AS n_in_window
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ns(ts) // 1000
        |  RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)""".stripMargin,
    "q_histogram" ->
      """SELECT CAST(floor(o_totalprice / 50000.0) AS BIGINT) AS bucket,
        |  count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    // sum_charge goes decimal→VARCHAR→DOUBLE: DuckDB's direct
    // decimal→double cast double-rounds (int128→double, then ÷10^scale)
    // once the scaled integer passes 2^53 — at sf1.0 the scale-6 charge
    // total carries 18 significant digits and lands one ulp off Spark's
    // correctly-rounded Decimal.toDouble (caught by the r17 sf1.0
    // sweep); the string hop is correctly rounded at every magnitude
    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
        |  CAST(CAST(sum(CAST(l_extendedprice*(1-l_discount)*(1+l_tax) AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS sum_charge,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)/count(*) AS avg_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)/count(*) AS avg_price,
        |  CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE)/count(*) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q3_shipping_priority" ->
      """SELECT l_orderkey, CAST(o_orderdate AS DATE) AS order_date,
        |  CAST(sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM customer, orders, lineitem
        |WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
        |  AND l_orderkey = o_orderkey
        |  AND o_orderdate < TIMESTAMP '1998-01-01' AND l_shipdate > TIMESTAMP '1998-01-01'
        |GROUP BY l_orderkey, CAST(o_orderdate AS DATE)
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,
    "q5_supplier_volume" ->
      """SELECT n_name,
        |  CAST(sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem, orders, customer, supplier, nation, region
        |WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
        |  AND l_suppkey = s_suppkey AND s_nationkey = n_nationkey
        |  AND n_regionkey = r_regionkey AND r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
        |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin,
    "q_rollup" ->
      """SELECT n_name, c_mktsegment, count(*) AS n_customers,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_acctbal,
        |  CAST(GROUPING(n_name, c_mktsegment) AS INTEGER) AS grp
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY ROLLUP(n_name, c_mktsegment)
        |ORDER BY grp, n_name NULLS FIRST, c_mktsegment NULLS FIRST""".stripMargin,
    "q_cube" ->
      """SELECT n_name, c_mktsegment, count(*) AS n_customers,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_acctbal,
        |  CAST(GROUPING(n_name, c_mktsegment) AS INTEGER) AS grp
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY CUBE(n_name, c_mktsegment)""".stripMargin,
    "q_pivot" ->
      """SELECT o_orderpriority,
        |  CAST(sum(CASE WHEN o_orderstatus = 'F' THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS sum_f,
        |  CAST(sum(CASE WHEN o_orderstatus = 'O' THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS sum_o,
        |  CAST(sum(CASE WHEN o_orderstatus = 'P' THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS sum_p
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q_range_join" ->
      """WITH bands(band_id, lo, hi) AS (VALUES
        |  (1, 0.0, 100000.0), (2, 100000.0, 200000.0), (3, 200000.0, 300000.0),
        |  (4, 300000.0, 400000.0), (5, 400000.0, 1000000000.0))
        |SELECT band_id, count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders JOIN bands ON o_totalprice >= lo AND o_totalprice < hi
        |GROUP BY band_id ORDER BY band_id""".stripMargin,
    "q_setops" ->
      """SELECT c_custkey, 'building_no_orders' AS op FROM (
        |  SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        |  EXCEPT SELECT DISTINCT o_custkey FROM orders)
        |UNION ALL
        |SELECT c_custkey, 'building_with_orders' AS op FROM (
        |  SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        |  INTERSECT SELECT DISTINCT o_custkey FROM orders)""".stripMargin,
    "q_window_running" ->
      """SELECT o_orderkey, o_custkey, CAST(o_orderdate AS DATE) AS order_date,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER
        |    (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_spend,
        |  CAST(row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS BIGINT) AS order_seq
        |FROM orders""".stripMargin,
    "q_topk_per_group" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rnk FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    CAST(row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rnk
        |  FROM orders) t WHERE rnk <= 3""".stripMargin,
    "q_topk_native" ->
      """SELECT o_custkey, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey) AS rnk
        |  FROM orders) t WHERE rnk <= 3""".stripMargin,
    "q_asof_join" ->
      """SELECT p.event_id, p.user_id, epoch_ns(p.ts) // 1000 AS ts_us, p.value,
        |  c.event_id AS click_event_id, epoch_ns(c.ts) // 1000 AS click_ts_us,
        |  c.value AS click_value,
        |  epoch_ns(p.ts) // 1000 - epoch_ns(c.ts) // 1000 AS gap_us
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |  ON p.user_id = c.user_id AND p.ts >= c.ts""".stripMargin,
    "q_asof_forward" ->
      """SELECT c.event_id, c.user_id, epoch_ns(c.ts) // 1000 AS ts_us, c.value,
        |  p.event_id AS next_event_id, epoch_ns(p.ts) // 1000 AS next_ts_us,
        |  p.value AS next_value,
        |  epoch_ns(p.ts) // 1000 - epoch_ns(c.ts) // 1000 AS gap_us
        |FROM (SELECT * FROM events WHERE event_type = 'click') c
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
        |  ON c.user_id = p.user_id AND c.ts <= p.ts""".stripMargin,
    "q_semi_anti" ->
      """SELECT c_custkey,
        |  CASE WHEN EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |       THEN 'with_orders' ELSE 'without_orders' END AS status
        |FROM customer""".stripMargin,
    "q_distinct" ->
      """SELECT o_orderpriority, count(DISTINCT o_custkey) AS n_custs,
        |  count(*) AS n_orders
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q_sessionize" ->
      """WITH e AS (
        |  SELECT user_id, epoch_ns(ts) // 1000 AS ts_us, value,
        |    CASE WHEN lag(epoch_ns(ts) // 1000) OVER w IS NULL
        |           OR epoch_ns(ts) // 1000 - lag(epoch_ns(ts) // 1000) OVER w > 1800 * 1000000
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ns(ts) // 1000)),
        |s AS (
        |  SELECT user_id, ts_us, value,
        |    CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts_us
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM e)
        |SELECT user_id, session_id, count(*) AS n_events,
        |  min(ts_us) AS start_us, max(ts_us) AS end_us,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM s GROUP BY user_id, session_id""".stripMargin,
    "q_percentiles" ->
      """SELECT o_orderpriority,
        |  round(quantile_cont(o_totalprice, 0.25), 4) AS p25,
        |  round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
        |  round(quantile_cont(o_totalprice, 0.75), 4) AS p75,
        |  count(*) AS n
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "d1_dedup_exact" ->
      """SELECT md5(text) AS content_hash, min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM documents GROUP BY 1""".stripMargin,
    "q_unpivot" ->
      """WITH p AS (
        |  SELECT o_orderpriority,
        |    CAST(sum(CASE WHEN o_orderstatus = 'F' THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS sum_f,
        |    CAST(sum(CASE WHEN o_orderstatus = 'O' THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS sum_o,
        |    CAST(sum(CASE WHEN o_orderstatus = 'P' THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS sum_p
        |  FROM orders GROUP BY o_orderpriority)
        |SELECT o_orderpriority, status, total FROM (
        |  SELECT o_orderpriority, 'sum_f' AS status, sum_f AS total FROM p
        |  UNION ALL SELECT o_orderpriority, 'sum_o', sum_o FROM p
        |  UNION ALL SELECT o_orderpriority, 'sum_p', sum_p FROM p)
        |WHERE total IS NOT NULL""".stripMargin,
    "q_string_agg" ->
      """SELECT c_mktsegment,
        |  string_agg(DISTINCT n_name, ',' ORDER BY n_name) AS nations,
        |  count(DISTINCT n_name) AS n_nations
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "q_conditional_agg" ->
      """SELECT o_orderpriority,
        |  count(*) FILTER (o_totalprice > 200000) AS n_big,
        |  count(*) FILTER (o_orderstatus = 'F') AS n_f,
        |  bool_or(o_totalprice > 400000) AS any_huge,
        |  bool_and(o_totalprice > 1000) AS all_over_1k
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "d10_dedup_incremental" ->
      """WITH corpus AS (SELECT DISTINCT md5(text) AS content_hash
        |                FROM documents WHERE doc_id % 2 = 0),
        |delta AS (SELECT doc_id, md5(text) AS content_hash
        |          FROM documents WHERE doc_id % 2 = 1)
        |SELECT min(doc_id) AS doc_id, content_hash, count(*) AS n_in_delta
        |FROM delta WHERE content_hash NOT IN (SELECT content_hash FROM corpus)
        |GROUP BY content_hash""".stripMargin,
    "s5_embedding_centroids" ->
      """SELECT label, CAST(t.i - 1 AS INTEGER) AS dim, count(*) AS n,
        |  CAST(sum(CAST(floor(CAST(embedding[t.i] AS DOUBLE) * 1e9 + 0.5) AS BIGINT))
        |    AS DOUBLE) / 1e9 / count(*) AS mean
        |FROM embeddings, UNNEST(generate_series(1, len(embedding))) t(i)
        |GROUP BY 1, 2""".stripMargin,
    // mirrors maxShingleDocs=100: shingles shared by >100 docs are dropped
    // before pairing, and per-doc counts cover only surviving shingles
    "d2_dedup_ngram_jaccard" ->
      (ShinglesCte +
        """keep AS (SELECT s FROM sh GROUP BY s HAVING count(*) <= 100),
          |shc AS (SELECT sh.doc_id, sh.s FROM sh JOIN keep USING (s)),
          |cnt AS (SELECT doc_id, count(*) n FROM shc GROUP BY 1),
          |pairs AS (SELECT a.doc_id doc_a, b.doc_id doc_b, count(*) common
          |          FROM shc a JOIN shc b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2)
          |SELECT doc_a, doc_b, common, ca.n AS n_a, cb.n AS n_b,
          |  common::DOUBLE / (ca.n + cb.n - common) AS jaccard
          |FROM pairs JOIN cnt ca ON ca.doc_id = doc_a JOIN cnt cb ON cb.doc_id = doc_b
          |WHERE common::DOUBLE / (ca.n + cb.n - common) >= 0.5""".stripMargin),
    "d3_dedup_minhash_lsh" ->
      (ShinglesCte +
        """cnt AS (SELECT doc_id, count(*) n FROM sh GROUP BY 1),
          |mh AS (SELECT doc_id, i,
          |        min(CAST(((CAST((CAST('0x'||substr(md5('a:'||i),1,15) AS BIGINT) | 1) AS HUGEINT)
          |                   * s
          |                   + CAST('0x'||substr(md5('b:'||i),1,15) AS BIGINT))
          |                  % 2305843009213693951) AS BIGINT)) AS mh
          |       FROM sh CROSS JOIN generate_series(0, 11) t(i) GROUP BY doc_id, i),
          |sig AS (SELECT doc_id, i // 4 AS band, string_agg(i || ':' || mh, ',' ORDER BY i) AS sig
          |        FROM mh GROUP BY doc_id, i // 4),
          |cand AS (SELECT DISTINCT a.doc_id doc_a, b.doc_id doc_b
          |         FROM sig a JOIN sig b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
          |com AS (SELECT c.doc_a, c.doc_b, count(*) AS common
          |        FROM cand c JOIN sh sa ON sa.doc_id = c.doc_a
          |        JOIN sh sb ON sb.doc_id = c.doc_b AND sb.s = sa.s
          |        GROUP BY 1, 2)
          |SELECT doc_a, doc_b, common, ca.n AS n_a, cb.n AS n_b,
          |  common::DOUBLE / (ca.n + cb.n - common) AS jaccard
          |FROM com JOIN cnt ca ON ca.doc_id = doc_a JOIN cnt cb ON cb.doc_id = doc_b
          |WHERE common::DOUBLE / (ca.n + cb.n - common) >= 0.5""".stripMargin),
    "d4_dedup_simhash" ->
      (WordsCte +
        """w AS (SELECT DISTINCT doc_id, wd FROM words, UNNEST(ws) t(wd)),
          |hw AS (SELECT doc_id, CAST('0x' || substr(md5(wd), 1, 15) AS BIGINT) AS h FROM w),
          |bits AS (SELECT doc_id, j, sum(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) AS v
          |         FROM hw CROSS JOIN generate_series(0, 59) t2(j) GROUP BY doc_id, j),
          |fp AS (SELECT doc_id,
          |         CAST(sum(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << j) ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS simhash
          |       FROM bits GROUP BY doc_id)
          |SELECT doc_id, simhash, simhash & 32767 AS b0, (simhash >> 15) & 32767 AS b1,
          |  (simhash >> 30) & 32767 AS b2, (simhash >> 45) & 32767 AS b3 FROM fp""".stripMargin),
    "d6_dedup_clusters" ->
      (ClusterCte + "SELECT doc_id, cluster_rep FROM clusters ORDER BY doc_id"),
    "d21_dedup_report" ->
      (ClusterCte +
        """SELECT d.source, count(*) AS n_docs,
          |  CAST(sum(CASE WHEN c.cluster_rep IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
          |    AS n_dup_involved,
          |  CAST(sum(CASE WHEN c.cluster_rep IS NOT NULL AND c.cluster_rep != d.doc_id
          |      THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
          |  CAST(sum(CASE WHEN c.cluster_rep IS NOT NULL AND c.cluster_rep != d.doc_id
          |      THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS dup_ratio
          |FROM documents d LEFT JOIN clusters c ON d.doc_id = c.doc_id
          |GROUP BY 1 ORDER BY 1""".stripMargin),
    "t16_langid_eval" ->
      (WordsCte +
        s"""c AS (SELECT doc_id,
           |  ${markerSql("en")} AS n_en, ${markerSql("es")} AS n_es,
           |  ${markerSql("fr")} AS n_fr, ${markerSql("de")} AS n_de
           |FROM words),
           |pred AS (SELECT doc_id,
           |  CASE WHEN n_en + n_es + n_fr + n_de = 0 THEN 'und'
           |       WHEN n_en >= n_es AND n_en >= n_fr AND n_en >= n_de THEN 'en'
           |       WHEN n_es >= n_fr AND n_es >= n_de THEN 'es'
           |       WHEN n_fr >= n_de THEN 'fr' ELSE 'de' END AS lang_pred
           |FROM c)
           |SELECT d.lang, count(*) AS n_docs,
           |  CAST(sum(CASE WHEN p.lang_pred = d.lang THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
           |  CAST(sum(CASE WHEN p.lang_pred = d.lang THEN 1 ELSE 0 END) AS DOUBLE)
           |    / count(*) AS accuracy
           |FROM pred p JOIN documents d USING (doc_id)
           |GROUP BY 1 ORDER BY 1""".stripMargin),
    "d18_keep_best" ->
      (ClusterCte +
        """, ranked AS (
          |  SELECT c.cluster_rep, c.doc_id, d.n_chars,
          |    CAST(row_number() OVER (PARTITION BY c.cluster_rep
          |      ORDER BY d.n_chars DESC, c.doc_id) AS BIGINT) AS rnk,
          |    count(*) OVER (PARTITION BY c.cluster_rep) AS n_members
          |  FROM clusters c JOIN documents d USING (doc_id))
          |SELECT cluster_rep, doc_id AS keep_id, n_chars AS keep_chars, n_members
          |FROM ranked WHERE rnk = 1 ORDER BY cluster_rep""".stripMargin),
    "d5_dedup_embedding" ->
      s"""WITH p AS (
         | SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label AS block,
         |  ${cosineSql("a.embedding", "b.embedding")} AS cosine
         | FROM embeddings a JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id)
         |SELECT vec_a, vec_b, block, cosine FROM p WHERE cosine >= 0.35""".stripMargin,
    // mirrors Dedup.semDedup: d5's pair CTE + d6's recursive-closure
    // min-label clusters, then keep the representative per cluster
    "d25_semdedup" ->
      s"""WITH RECURSIVE p AS MATERIALIZED (
         | SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
         | FROM embeddings a JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
         | WHERE ${cosineSql("a.embedding", "b.embedding")} >= 0.35),
         |edges AS MATERIALIZED (SELECT doc_a AS a, doc_b AS b FROM p
         |          UNION SELECT doc_b, doc_a FROM p),
         |reach(doc, r) AS (
         |  SELECT a, b FROM edges
         |  UNION
         |  SELECT reach.doc, e.b FROM reach JOIN edges e ON reach.r = e.a),
         |clusters AS MATERIALIZED (
         |  SELECT doc AS vec_id, least(doc, min(r)) AS cluster_rep
         |  FROM reach GROUP BY doc),
         |sizes AS (SELECT cluster_rep, count(*) AS n_merged FROM clusters GROUP BY 1)
         |SELECT e.vec_id, e.label, CAST(COALESCE(s.n_merged, 1) AS BIGINT) AS n_merged
         |FROM embeddings e
         |LEFT JOIN clusters c ON e.vec_id = c.vec_id
         |LEFT JOIN sizes s ON e.vec_id = s.cluster_rep
         |WHERE c.vec_id IS NULL OR c.cluster_rep = e.vec_id
         |ORDER BY e.vec_id""".stripMargin,
    "s1_ann_bruteforce" ->
      s"""WITH probes AS (SELECT * FROM embeddings WHERE vec_id < 10),
         |scored AS (
         | SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
         |   ${cosineSql("p.embedding", "c.embedding")} AS cosine
         | FROM embeddings c JOIN probes p ON c.vec_id != p.vec_id),
         |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY probe_id
         |        ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rnk FROM scored)
         |SELECT probe_id, neighbor_id, cosine, rnk FROM r WHERE rnk <= 5""".stripMargin,
    // mirrors Dedup.semDedupIncremental: landed-domination EXISTS filter,
    // then d25's closure over the delta-internal pairs only
    "d26_semdedup_incr" ->
      s"""WITH RECURSIVE landed AS (SELECT * FROM embeddings WHERE vec_id % 3 <> 0),
         |delta AS (SELECT * FROM embeddings WHERE vec_id % 3 = 0),
         |surv AS MATERIALIZED (
         |  SELECT d.* FROM delta d
         |  WHERE NOT EXISTS (SELECT 1 FROM landed l WHERE l.label = d.label
         |    AND ${cosineSql("d.embedding", "l.embedding")} >= 0.35)),
         |p AS MATERIALIZED (SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
         |      FROM surv a JOIN surv b ON a.label = b.label AND a.vec_id < b.vec_id
         |      WHERE ${cosineSql("a.embedding", "b.embedding")} >= 0.35),
         |edges AS MATERIALIZED (SELECT doc_a AS a, doc_b AS b FROM p
         |          UNION SELECT doc_b, doc_a FROM p),
         |reach(doc, r) AS (
         |  SELECT a, b FROM edges
         |  UNION
         |  SELECT reach.doc, e.b FROM reach JOIN edges e ON reach.r = e.a),
         |clusters AS (
         |  SELECT doc AS vec_id, least(doc, min(r)) AS cluster_rep
         |  FROM reach GROUP BY doc)
         |SELECT s.vec_id, s.label FROM surv s
         |LEFT JOIN clusters c ON s.vec_id = c.vec_id
         |WHERE c.vec_id IS NULL OR c.cluster_rep = s.vec_id
         |ORDER BY s.vec_id""".stripMargin,
    // t14's BM25 block (same terms, top-20) + s1's cosine block (one
    // probe, top-20), ranks fused by 1/(60+rank); rank-only fusion makes
    // the score a sum of two exact rationals — double division is IEEE-
    // identical in both engines (1.0::DOUBLE guards DuckDB's decimal
    // literal division)
    "s11_hybrid_rrf" ->
      (WordsCte +
        s"""tk AS (SELECT doc_id, CAST(len(ws) AS DOUBLE) AS dl, ws FROM words),
           |st AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
           |         CAST(sum(CAST(dl AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avgdl
           |       FROM tk),
           |hits AS (SELECT doc_id, dl,
           |           unnest(list_filter(ws,
           |             t -> list_contains(['spark', 'stream', 'merge', 'window'], t))) AS term
           |         FROM tk),
           |tf AS (SELECT doc_id, dl, term, CAST(count(*) AS DOUBLE) AS tf
           |       FROM hits GROUP BY 1, 2, 3),
           |dfr AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY 1),
           |sc AS (SELECT doc_id,
           |         CAST(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0) * (tf * (1.2 + 1.0))
           |           / (tf + 1.2 * ((1.0 - 0.75) + 0.75 * dl / avgdl))
           |           AS DECIMAL(18,10)) AS contrib
           |       FROM tf JOIN dfr USING (term), st),
           |bm AS (SELECT doc_id, round(CAST(sum(contrib) AS DOUBLE), 6) AS score
           |       FROM sc GROUP BY 1),
           |lex0 AS (SELECT doc_id AS id,
           |           CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT)
           |             AS lex_rank
           |         FROM bm),
           |lex AS (SELECT * FROM lex0 WHERE lex_rank <= 20),
           |probes AS (SELECT * FROM embeddings WHERE vec_id = 3),
           |vscored AS (
           |  SELECT c.vec_id AS id, ${cosineSql("p.embedding", "c.embedding")} AS cosine
           |  FROM embeddings c JOIN probes p ON c.vec_id != p.vec_id),
           |vec0 AS (SELECT id,
           |           CAST(row_number() OVER (ORDER BY cosine DESC, id) AS BIGINT)
           |             AS vec_rank
           |         FROM vscored),
           |vec AS (SELECT * FROM vec0 WHERE vec_rank <= 20),
           |f AS (SELECT COALESCE(l.id, v.id) AS id, l.lex_rank, v.vec_rank
           |      FROM lex l FULL JOIN vec v ON l.id = v.id)
           |SELECT id,
           |  round(COALESCE(1.0::DOUBLE / (60 + lex_rank), 0.0)
           |    + COALESCE(1.0::DOUBLE / (60 + vec_rank), 0.0), 6) AS rrf,
           |  lex_rank, vec_rank
           |FROM f ORDER BY rrf DESC, id LIMIT 10""".stripMargin),
    // d13's shingle split, aggregated on the benchmark side: a gram
    // contaminates if ANY corpus doc carries it (DISTINCT corp collapses
    // multiplicity exactly like the Spark side's countDistinct)
    "d27_contamination" ->
      (ShinglesCte +
        """corp AS (SELECT DISTINCT s FROM sh WHERE doc_id % 4 != 0),
          |bench AS (SELECT doc_id AS bench_id, s FROM sh WHERE doc_id % 4 = 0),
          |nb AS (SELECT bench_id, count(*) AS n_grams FROM bench GROUP BY 1),
          |hit AS (SELECT bench_id, count(*) AS n_contaminated
          |        FROM bench JOIN corp USING (s) GROUP BY 1)
          |SELECT bench_id, n_grams,
          |  CAST(COALESCE(n_contaminated, 0) AS BIGINT) AS n_contaminated,
          |  round(COALESCE(n_contaminated, 0)::DOUBLE / n_grams, 6) AS contamination
          |FROM nb LEFT JOIN hit USING (bench_id)""".stripMargin),
    // one row_number + one partition count locate first/last/prev-last;
    // windows below two samples are null (PromQL emits nothing there) and
    // equal-timestamp last pairs null the rate instead of dividing by zero
    "m23_irate_delta" ->
      """WITH m AS (
        |  SELECT 'app' AS component, event_type || '_total' AS name,
        |         'user=' || CAST(user_id AS VARCHAR) AS series,
        |         CAST(event_id AS VARCHAR) AS id, value,
        |         CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec
        |  FROM events),
        |w AS (SELECT *, ts_sec - ts_sec % 3600 AS win_start FROM m),
        |r AS (SELECT *,
        |        row_number() OVER (PARTITION BY component, name, series, win_start
        |          ORDER BY ts_sec, id) AS rn,
        |        count(*) OVER (PARTITION BY component, name, series, win_start) AS cnt
        |      FROM w),
        |g AS (SELECT component, name, series, win_start,
        |        min(CASE WHEN rn = 1 THEN value END) AS first_v,
        |        min(CASE WHEN rn = cnt THEN value END) AS last_v,
        |        min(CASE WHEN rn = cnt THEN ts_sec END) AS last_ts,
        |        min(CASE WHEN rn = cnt - 1 THEN value END) AS prev_v,
        |        min(CASE WHEN rn = cnt - 1 THEN ts_sec END) AS prev_ts,
        |        count(*) AS n_samples
        |      FROM r GROUP BY 1, 2, 3, 4)
        |SELECT component, name, series, win_start,
        |  CASE WHEN n_samples >= 2 THEN last_v - first_v END AS delta,
        |  CASE WHEN n_samples >= 2 THEN last_v - prev_v END AS idelta,
        |  CASE WHEN n_samples >= 2 AND last_ts <> prev_ts THEN
        |    (CASE WHEN last_v < prev_v THEN last_v ELSE last_v - prev_v END)
        |      / CAST(last_ts - prev_ts AS DOUBLE) END AS irate,
        |  n_samples
        |FROM g""".stripMargin,
    // sorted-key series rendering: instance < tier < user alphabetically
    "m26_label_ops" ->
      """SELECT CAST(event_id AS VARCHAR) AS id,
        |  'instance=' || CAST(user_id AS VARCHAR) || '-'
        |    || substr(CAST(user_id AS VARCHAR), 1, 1)
        |  || ',tier=' || substr(CAST(user_id AS VARCHAR), 1, 1)
        |  || ',user=' || CAST(user_id AS VARCHAR) AS series
        |FROM events""".stripMargin,
    "m27_count_values" ->
      """SELECT 'app' AS component, event_type || '_total' AS name, value,
        |  count(*) AS n
        |FROM events GROUP BY 1, 2, 3""".stripMargin,
    // m2's latest-per-series CTE collapsed across series per metric
    "m28_instant_agg" ->
      """WITH m AS (
        |  SELECT 'app' AS component, event_type || '_total' AS name, value,
        |         row_number() OVER (PARTITION BY event_type, user_id
        |           ORDER BY CAST(floor(epoch(ts)) AS BIGINT) DESC,
        |                    CAST(event_id AS VARCHAR) DESC) AS rn
        |  FROM events),
        |g AS (SELECT component, name,
        |        count(*) AS n_series,
        |        min(value) AS min_value, max(value) AS max_value,
        |        CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
        |        round(quantile_cont(value, 0.5), 4) AS q_value
        |      FROM m WHERE rn = 1 GROUP BY 1, 2)
        |SELECT *, sum_value / CAST(n_series AS DOUBLE) AS avg_value FROM g""".stripMargin,
    // m2's latest-per-series gauges, error/view pivoted per user; the
    // engine's guarded divide drops zero/absent denominators (inner join +
    // <> 0 here)
    "m29_vector_match" ->
      """WITH m AS (
        |  SELECT 'app' AS component, event_type || '_total' AS name,
        |         'user=' || CAST(user_id AS VARCHAR) AS series, value,
        |         row_number() OVER (PARTITION BY event_type, user_id
        |           ORDER BY CAST(floor(epoch(ts)) AS BIGINT) DESC,
        |                    CAST(event_id AS VARCHAR) DESC) AS rn
        |  FROM events),
        |g AS (SELECT component, name, series, value AS last_value
        |      FROM m WHERE rn = 1)
        |SELECT e.component, e.name, e.series, e.last_value / v.last_value AS ratio
        |FROM g e JOIN g v ON e.component = v.component AND e.series = v.series
        |WHERE e.name = 'error_total' AND v.name = 'view_total'
        |  AND v.last_value <> 0""".stripMargin,
    // every latest gauge over the per-user cross-metric total (group_left:
    // five left series share each user's one right row); per-user series
    // key equals the on("user") match key rendering
    "m29b_group_left" ->
      """WITH m AS (
        |  SELECT 'app' AS component, event_type || '_total' AS name,
        |         'user=' || CAST(user_id AS VARCHAR) AS series, value,
        |         row_number() OVER (PARTITION BY event_type, user_id
        |           ORDER BY CAST(floor(epoch(ts)) AS BIGINT) DESC,
        |                    CAST(event_id AS VARCHAR) DESC) AS rn
        |  FROM events),
        |g AS (SELECT component, name, series, value AS last_value
        |      FROM m WHERE rn = 1),
        |t AS (SELECT component, series,
        |        CAST(sum(CAST(last_value AS DECIMAL(18,2))) AS DOUBLE) AS tot
        |      FROM g GROUP BY 1, 2)
        |SELECT g.component, g.name, g.series, g.last_value / t.tot AS share
        |FROM g JOIN t ON g.component = t.component AND g.series = t.series
        |WHERE t.tot <> 0""".stripMargin,
    // set-op and: error gauges whose user also has a >50 view gauge
    // (left-semi = EXISTS; right values never appear in the result)
    "m31_and" ->
      """WITH m AS (
        |  SELECT 'app' AS component, event_type || '_total' AS name,
        |         'user=' || CAST(user_id AS VARCHAR) AS series, value,
        |         row_number() OVER (PARTITION BY event_type, user_id
        |           ORDER BY CAST(floor(epoch(ts)) AS BIGINT) DESC,
        |                    CAST(event_id AS VARCHAR) DESC) AS rn
        |  FROM events),
        |g AS (SELECT component, name, series, value AS last_value
        |      FROM m WHERE rn = 1)
        |SELECT e.component, e.name, e.series, e.last_value
        |FROM g e
        |WHERE e.name = 'error_total' AND EXISTS (
        |  SELECT 1 FROM g v WHERE v.name = 'view_total'
        |    AND v.component = e.component AND v.series = e.series
        |    AND v.last_value > 50)""".stripMargin,
    // set-op unless: the complement (left-anti = NOT EXISTS)
    "m31_unless" ->
      """WITH m AS (
        |  SELECT 'app' AS component, event_type || '_total' AS name,
        |         'user=' || CAST(user_id AS VARCHAR) AS series, value,
        |         row_number() OVER (PARTITION BY event_type, user_id
        |           ORDER BY CAST(floor(epoch(ts)) AS BIGINT) DESC,
        |                    CAST(event_id AS VARCHAR) DESC) AS rn
        |  FROM events),
        |g AS (SELECT component, name, series, value AS last_value
        |      FROM m WHERE rn = 1)
        |SELECT e.component, e.name, e.series, e.last_value
        |FROM g e
        |WHERE e.name = 'error_total' AND NOT EXISTS (
        |  SELECT 1 FROM g v WHERE v.name = 'view_total'
        |    AND v.component = e.component AND v.series = e.series
        |    AND v.last_value > 50)""".stripMargin,
    // set-op or with left priority: all high-error series, plus view
    // series only for users with no high-error series
    "m31_or" ->
      """WITH m AS (
        |  SELECT 'app' AS component, event_type || '_total' AS name,
        |         'user=' || CAST(user_id AS VARCHAR) AS series, value,
        |         row_number() OVER (PARTITION BY event_type, user_id
        |           ORDER BY CAST(floor(epoch(ts)) AS BIGINT) DESC,
        |                    CAST(event_id AS VARCHAR) DESC) AS rn
        |  FROM events),
        |g AS (SELECT component, name, series, value AS last_value
        |      FROM m WHERE rn = 1)
        |SELECT e.component, e.name, e.series, e.last_value
        |FROM g e WHERE e.name = 'error_total' AND e.last_value > 50
        |UNION ALL
        |SELECT v.component, v.name, v.series, v.last_value
        |FROM g v
        |WHERE v.name = 'view_total' AND NOT EXISTS (
        |  SELECT 1 FROM g e WHERE e.name = 'error_total' AND e.last_value > 50
        |    AND e.component = v.component AND e.series = v.series)""".stripMargin,
    // comparison with bool modifier: 0/1 per matched pair, nothing dropped
    "m31b_bool_cmp" ->
      """WITH m AS (
        |  SELECT 'app' AS component, event_type || '_total' AS name,
        |         'user=' || CAST(user_id AS VARCHAR) AS series, value,
        |         row_number() OVER (PARTITION BY event_type, user_id
        |           ORDER BY CAST(floor(epoch(ts)) AS BIGINT) DESC,
        |                    CAST(event_id AS VARCHAR) DESC) AS rn
        |  FROM events),
        |g AS (SELECT component, name, series, value AS last_value
        |      FROM m WHERE rn = 1)
        |SELECT e.component, e.name, e.series,
        |       CASE WHEN e.last_value > v.last_value THEN 1.0 ELSE 0.0 END AS gt
        |FROM g e JOIN g v
        |  ON e.component = v.component AND e.series = v.series
        |WHERE e.name = 'error_total' AND v.name = 'view_total'""".stripMargin,
    // comparison without bool: a filter keeping the left value
    "m31c_cmp_filter" ->
      """WITH m AS (
        |  SELECT 'app' AS component, event_type || '_total' AS name,
        |         'user=' || CAST(user_id AS VARCHAR) AS series, value,
        |         row_number() OVER (PARTITION BY event_type, user_id
        |           ORDER BY CAST(floor(epoch(ts)) AS BIGINT) DESC,
        |                    CAST(event_id AS VARCHAR) DESC) AS rn
        |  FROM events),
        |g AS (SELECT component, name, series, value AS last_value
        |      FROM m WHERE rn = 1)
        |SELECT e.component, e.name, e.series, e.last_value AS value
        |FROM g e JOIN g v
        |  ON e.component = v.component AND e.series = v.series
        |WHERE e.name = 'error_total' AND v.name = 'view_total'
        |  AND e.last_value > v.last_value""".stripMargin,
    // ---- m32: compiled-PromQL oracles. Each mirrors the TEXT query the
    // engine compiles; the increase CTE is the shared m9 fragment, so a
    // compiler bug cannot hide behind an oracle written to match it.
    // increase(view_total{user=~"1.*"}[1h]) — the matcher filters whole
    // series, so filtering the windowed relation is equivalent
    "m32_promql_increase" ->
      (IncreaseCte(3600) +
        """SELECT component, name, series, win_start, increase AS value
          |FROM win WHERE name = 'view_total' AND series LIKE 'user=1%'""".stripMargin),
    // sum by (user) (increase({__name__=~".*_total"}[1h])): cross-metric
    // regroup — the aggregation drops the name (PromQL) and sums the
    // exact-decimal increases
    "m32_promql_agg" ->
      (IncreaseCte(3600) +
        """SELECT component, '' AS name, series, win_start,
          |  CAST(sum(CAST(increase AS DECIMAL(26,6))) AS DOUBLE) AS value
          |FROM win GROUP BY 1, 2, 3, 4""".stripMargin),
    // increase(error_total[1h]) / (increase(view_total[1h]) > 0): the
    // comparison filter IS the zero-guard; one-to-one match on the full
    // label set drops the name and keeps the match labels
    "m32_promql_ratio" ->
      (IncreaseCte(3600) +
        """SELECT e.component, '' AS name, e.series, e.win_start,
          |  e.increase / v.increase AS value
          |FROM win e JOIN win v
          |  ON e.component = v.component AND e.series = v.series
          | AND e.win_start = v.win_start
          |WHERE e.name = 'error_total' AND v.name = 'view_total'
          |  AND v.increase > 0""".stripMargin),
    // increase(error_total[1h]) unless (increase(view_total[1h]) > 10):
    // left-anti on (component, full-label key, window); left rows intact
    "m32_promql_unless" ->
      (IncreaseCte(3600) +
        """SELECT component, name, series, win_start, increase AS value
          |FROM win e WHERE name = 'error_total' AND NOT EXISTS (
          |  SELECT 1 FROM win v WHERE v.name = 'view_total'
          |    AND v.increase > 10 AND v.component = e.component
          |    AND v.series = e.series AND v.win_start = e.win_start)""".stripMargin),
    // max_over_time(increase(view_total[1h])[6h:1h]): the m30 tiling —
    // inner hourly increases, outer max per 6h window (max commutes, no
    // decimal detour needed)
    "m32_promql_subquery" ->
      (IncreaseCte(3600) +
        """SELECT component, name, series,
          |  win_start - win_start % 21600 AS win_start,
          |  max(increase) AS value
          |FROM win WHERE name = 'view_total' GROUP BY 1, 2, 3, 4""".stripMargin),
    // topk(3, sum by (user) (increase(view_total[1h]))): rank over the
    // regrouped exact sums; ties break on (name, series) in both engines
    "m32_promql_topk" ->
      (IncreaseCte(3600) +
        """, agg AS (
          |  SELECT component, '' AS name, series, win_start,
          |    CAST(sum(CAST(increase AS DECIMAL(26,6))) AS DOUBLE) AS value
          |  FROM win WHERE name = 'view_total' GROUP BY 1, 2, 3, 4),
          |r AS (
          |  SELECT *, row_number() OVER (PARTITION BY component, win_start
          |    ORDER BY value DESC, name, series) AS rnk
          |  FROM agg)
          |SELECT component, name, series, win_start, value
          |FROM r WHERE rnk <= 3""".stripMargin),
    // m33: sliding evaluation — per-series increases over overlapping 1h
    // lookbacks on the 15m grid, then the by-(user) regroup (name drops)
    "m33_promql_sliding" ->
      (SlidingIncreaseCte(3600, 900) +
        """SELECT component, '' AS name, series, win_start,
          |  CAST(sum(CAST(increase AS DECIMAL(26,6))) AS DOUBLE) AS value
          |FROM win WHERE name = 'view_total' GROUP BY 1, 2, 3, 4""".stripMargin),
    // sliding avg_over_time: raw samples tiled onto the 15m grid, the
    // exact-decimal mean per overlapping 1h lookback (name kept — a
    // value-transforming range fn)
    "m33b_sliding_avg" ->
      """WITH m AS (
        |  SELECT 'app' AS component, event_type || '_total' AS name,
        |         'user=' || CAST(user_id AS VARCHAR) AS series, value,
        |         CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec
        |  FROM events),
        |w AS (SELECT component, name, series, value,
        |        ts_sec - ts_sec % 900 AS ws FROM m),
        |t AS (SELECT component, name, series, value, ws - g.j * 900 AS win_start
        |      FROM w CROSS JOIN (SELECT unnest(range(0, 4)) AS j) g)
        |SELECT component, name, series, win_start,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE) AS value
        |FROM t WHERE name = 'error_total' GROUP BY 1, 2, 3, 4""".stripMargin,
    // m34: per-window OLS slope — x centered on the window's min ts
    // (exact integers), decimal sums, the slope algebra in doubles with
    // the engine's exact expression tree
    "m34_promql_deriv" ->
      (TrendCte(3600) +
        """SELECT component, name, series, win_start,
          |  (CAST(n AS DOUBLE) * sxy - sx * sy) / den AS value
          |FROM t WHERE n >= 2 AND den <> 0 AND name = 'view_total'""".stripMargin),
    // predict_linear: intercept + slope * (max x + horizon), slope shared
    // as a named subexpression so the double rounding path is identical
    "m34b_promql_predict" ->
      (TrendCte(3600) +
        """, s AS (
          |  SELECT *, (CAST(n AS DOUBLE) * sxy - sx * sy) / den AS slope
          |  FROM t WHERE n >= 2 AND den <> 0)
          |SELECT component, name, series, win_start,
          |  (sy - slope * sx) / CAST(n AS DOUBLE)
          |    + slope * (CAST(mx AS DOUBLE) + 1800.0) AS value
          |FROM s WHERE name = 'view_total'""".stripMargin),
    // absent: the full hourly grid of the stream's observed span minus
    // the windows where the asserted series reported; labels = the
    // selector's equality matchers, name empty per PromQL
    "m34c_promql_absent" ->
      """WITH m AS (
        |  SELECT 'app' AS component, event_type || '_total' AS name, user_id,
        |         CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec
        |  FROM events),
        |grid AS (
        |  SELECT 'app' AS component, CAST(unnest(range(
        |    (SELECT min(ts_sec - ts_sec % 3600) FROM m),
        |    (SELECT max(ts_sec - ts_sec % 3600) FROM m) + 3600, 3600)) AS BIGINT)
        |    AS win_start),
        |p AS (
        |  SELECT DISTINCT component, ts_sec - ts_sec % 3600 AS win_start
        |  FROM m WHERE name = 'error_total' AND user_id = 1)
        |SELECT g.component, '' AS name, 'user=1' AS series, g.win_start, 1.0 AS value
        |FROM grid g WHERE NOT EXISTS (
        |  SELECT 1 FROM p WHERE p.component = g.component
        |    AND p.win_start = g.win_start)""".stripMargin,
    // compiled holt_winters: m25's recursive replay, final smoothed value
    // per >=2-sample window only (the compile drops the n<2 nulls)
    "m34d_promql_holt" ->
      """WITH RECURSIVE m AS MATERIALIZED (
        |  SELECT 'app' AS component, event_type || '_total' AS name,
        |         'user=' || CAST(user_id AS VARCHAR) AS series,
        |         CAST(event_id AS VARCHAR) AS id, value,
        |         CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec
        |  FROM events),
        |r AS MATERIALIZED (SELECT component, name, series,
        |        ts_sec - ts_sec % 3600 AS win_start, value,
        |        row_number() OVER (PARTITION BY component, name, series,
        |          ts_sec - ts_sec % 3600 ORDER BY ts_sec, id) AS rn,
        |        count(*) OVER (PARTITION BY component, name, series,
        |          ts_sec - ts_sec % 3600) AS cnt
        |      FROM m),
        |hw AS (
        |  SELECT r2.component, r2.name, r2.series, r2.win_start, r2.cnt,
        |         CAST(2 AS BIGINT) AS i, r2.value AS s, r2.value - r1.value AS b
        |  FROM r r2 JOIN r r1 ON r1.component = r2.component AND r1.name = r2.name
        |    AND r1.series = r2.series AND r1.win_start = r2.win_start
        |    AND r2.rn = 2 AND r1.rn = 1
        |  UNION ALL
        |  SELECT hw.component, hw.name, hw.series, hw.win_start, hw.cnt, hw.i + 1,
        |         0.5 * r.value + 0.5 * (hw.s + hw.b),
        |         0.25 * (0.5 * r.value + 0.5 * (hw.s + hw.b) - hw.s) + 0.75 * hw.b
        |  FROM hw JOIN r ON r.component = hw.component AND r.name = hw.name
        |    AND r.series = hw.series AND r.win_start = hw.win_start AND r.rn = hw.i + 1
        |  WHERE hw.i < hw.cnt)
        |SELECT component, name, series, win_start, s AS value
        |FROM hw WHERE i = cnt AND name = 'view_total'""".stripMargin,
    // @: the pinned window's per-series increase is a constant baseline
    // joined to every evaluation window of that series (the > 0 filter
    // IS the zero-baseline guard, so the division is plain IEEE)
    "m35_promql_at" ->
      (IncreaseCte(3600) +
        """, p AS (
          |  SELECT component, series, increase AS base
          |  FROM win WHERE name = 'error_total'
          |    AND win_start = 1705276800 AND increase > 0)
          |SELECT e.component, '' AS name, e.series, e.win_start,
          |  e.increase / p.base AS value
          |FROM win e JOIN p
          |  ON e.component = p.component AND e.series = p.series
          |WHERE e.name = 'error_total'""".stripMargin),
    // scalar(): the window's single aggregated element becomes a
    // per-window scalar; positive increases divided by their window's
    // total (a window with a positive increase has a positive total)
    "m36_promql_scalar" ->
      (IncreaseCte(3600) +
        """, s AS (
          |  SELECT component, win_start,
          |    CAST(sum(CAST(increase AS DECIMAL(26,6))) AS DOUBLE) AS value
          |  FROM win WHERE name = 'view_total' GROUP BY 1, 2),
          |sc AS (
          |  SELECT win_start,
          |    CASE WHEN count(*) = 1 THEN min(value) ELSE 'NaN'::DOUBLE END AS sv
          |  FROM s GROUP BY 1)
          |SELECT e.component, e.name, e.series, e.win_start,
          |  e.increase / sc.sv AS value
          |FROM win e JOIN sc ON e.win_start = sc.win_start
          |WHERE e.name = 'view_total' AND e.increase > 0""".stripMargin),
    // min/max through the hybrid maintenance path vs the direct extremes
    "p9b_mv_minmax" ->
      """SELECT lang, source, count(*) AS cnt,
        |  CAST(sum(CAST(n_chars AS DECIMAL(18,6))) AS DOUBLE) AS sum_n_chars,
        |  min(n_chars) AS min_n_chars, max(n_chars) AS max_n_chars
        |FROM documents WHERE doc_id % 7 <> 0 GROUP BY 1, 2""".stripMargin,
    // the incrementally-refreshed JOIN view vs DuckDB's direct
    // join + GROUP BY over the surviving rows (dim movers re-segmented,
    // deleted facts gone) — exact decimal sums make them bit-equal
    "p11_mvj_refresh" ->
      """SELECT CASE WHEN c_custkey % 10 = 0 THEN 'MOVED'
        |            ELSE c_mktsegment END AS segment,
        |  count(*) AS cnt,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_price,
        |  min(o_totalprice) AS min_price, max(o_totalprice) AS max_price
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE o_orderkey % 100 <> 0
        |GROUP BY 1""".stripMargin,
    // the incrementally-refreshed view vs a direct GROUP BY over the
    // final surviving rows — exact decimal sums make them bit-equal
    "p9_mv_refresh" ->
      """SELECT lang, source, count(*) AS cnt,
        |  CAST(sum(CAST(n_chars AS DECIMAL(18,6))) AS DOUBLE) AS sum_n_chars
        |FROM documents WHERE doc_id % 7 <> 0 GROUP BY 1, 2""".stripMargin,
    // the recorded series recomputed directly over the SURVIVING
    // samples (event_id % 7 tombstoned) — sum by (user, hourly window)
    // in the same exact-decimal lane the view maintains
    "p12_record_incremental" ->
      """WITH m AS (
        |  SELECT 'app' AS component, event_type || '_total' AS name,
        |         user_id, value, event_id,
        |         CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec
        |  FROM events)
        |SELECT 'app' AS component, 'app:views:1h' AS name,
        |  'user=' || CAST(user_id AS VARCHAR) AS series,
        |  ts_sec - ts_sec % 3600 AS win_start,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value
        |FROM m
        |WHERE name = 'view_total' AND event_id % 7 <> 0
        |GROUP BY 1, 2, 3, 4""".stripMargin,
    // p13: the incrementally-maintained increase rule must equal the
    // full-history tumbling increase (reset-clamped lag deltas, the
    // boundary-crossing delta counted in the window holding the later
    // sample, exact decimal sums) under the rule's recorded name
    "p13_record_increase" ->
      (IncreaseCte(3600) +
        """SELECT component, 'app:views:inc1h' AS name, series, win_start,
          |  increase AS value
          |FROM win WHERE name = 'view_total'""".stripMargin),
    // hour-of-day of each hourly window's freshest sample: both sides
    // are pure modular arithmetic on the max epoch second
    "m40_promql_time" ->
      """WITH m AS (
        |  SELECT 'app' AS component, event_type || '_total' AS name,
        |         'user=' || CAST(user_id AS VARCHAR) AS series,
        |         CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec
        |  FROM events),
        |g AS (
        |  SELECT component, name, series,
        |         ts_sec - ts_sec % 3600 AS win_start, max(ts_sec) AS mts
        |  FROM m WHERE name = 'view_total' GROUP BY 1, 2, 3, 4)
        |SELECT component, name, series, win_start,
        |  CAST((mts % 86400) // 3600 AS DOUBLE) AS value
        |FROM g""".stripMargin,
    // day_of_week via DuckDB's own calendar (Sunday = 0 both sides) —
    // an independent Gregorian implementation against Spark's DateType
    "m40b_promql_calendar" ->
      """WITH m AS (
        |  SELECT 'app' AS component, event_type || '_total' AS name,
        |         'user=' || CAST(user_id AS VARCHAR) AS series,
        |         CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec
        |  FROM events),
        |g AS (
        |  SELECT component, name, series,
        |         ts_sec - ts_sec % 3600 AS win_start, max(ts_sec) AS mts
        |  FROM m WHERE name = 'error_total' GROUP BY 1, 2, 3, 4)
        |SELECT component, name, series, win_start,
        |  CAST(dayofweek(DATE '1970-01-01'
        |    + CAST(mts // 86400 AS INTEGER)) AS DOUBLE) AS value
        |FROM g""".stripMargin,
    // the closing window's all-series increase total, replicated onto
    // the span grid (the @-pin spread shape with a computed bound)
    "m43_promql_at_edge" ->
      (IncreaseCte(3600) +
        """, p AS (
          |  SELECT CAST(sum(CAST(increase AS DECIMAL(26,6))) AS DOUBLE) AS sv
          |  FROM win WHERE win_start = (SELECT max(win_start) FROM win)),
          |g AS (
          |  SELECT component,
          |    unnest(generate_series(min(win_start), max(win_start), 3600))
          |      AS win_start
          |  FROM win GROUP BY component)
          |SELECT g.component, '' AS name, '' AS series, g.win_start,
          |  p.sv AS value
          |FROM g, p""".stripMargin),
    // first-3-by-series-rank per window over the per-user sums
    "m42_promql_limitk" ->
      (IncreaseCte(3600) +
        """, agg AS (
          |  SELECT component, '' AS name, series, win_start,
          |    CAST(sum(CAST(increase AS DECIMAL(26,6))) AS DOUBLE) AS value
          |  FROM win WHERE name = 'view_total' GROUP BY 1, 2, 3, 4),
          |r AS (
          |  SELECT *, row_number() OVER (PARTITION BY component, win_start
          |    ORDER BY name, series) AS rnk
          |  FROM agg)
          |SELECT component, name, series, win_start, value
          |FROM r WHERE rnk <= 3""".stripMargin),
    // the complement: keep ranks ABOVE ceil((1 - 0.5) * n)
    "m42b_promql_limit_ratio" ->
      (IncreaseCte(3600) +
        """, agg AS (
          |  SELECT component, '' AS name, series, win_start,
          |    CAST(sum(CAST(increase AS DECIMAL(26,6))) AS DOUBLE) AS value
          |  FROM win WHERE name = 'view_total' GROUP BY 1, 2, 3, 4),
          |r AS (
          |  SELECT *, row_number() OVER (PARTITION BY component, win_start
          |    ORDER BY name, series) AS rnk,
          |    count(*) OVER (PARTITION BY component, win_start) AS n
          |  FROM agg)
          |SELECT component, name, series, win_start, value
          |FROM r WHERE rnk > ceil(0.5 * n)""".stripMargin),
    // nested exact medians: quantile_cont(0.5) inner per window (the
    // m18 equivalence convention), outer rounded to 4 dp
    "m41_promql_mad" ->
      """WITH m AS (
        |  SELECT 'app' AS component, event_type || '_total' AS name,
        |         'user=' || CAST(user_id AS VARCHAR) AS series, value,
        |         CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec
        |  FROM events),
        |w AS (
        |  SELECT component, name, series, value,
        |         ts_sec - ts_sec % 3600 AS win_start
        |  FROM m WHERE name = 'view_total'),
        |med AS (
        |  SELECT *, quantile_cont(value, 0.5) OVER (
        |    PARTITION BY component, name, series, win_start) AS med
        |  FROM w)
        |SELECT component, name, series, win_start,
        |  round(quantile_cont(abs(value - med), 0.5), 4) AS value
        |FROM med GROUP BY 1, 2, 3, 4""".stripMargin,
    // the alert fires where the per-user error increase was positive in
    // TWO consecutive hourly windows (for 1h = 1 extra lookback step)
    "m39_promql_alert" ->
      (IncreaseCte(3600) +
        """, agg AS (
          |  SELECT component, series, win_start,
          |    CAST(sum(CAST(increase AS DECIMAL(26,6))) AS DOUBLE) AS value
          |  FROM win WHERE name = 'error_total' GROUP BY 1, 2, 3),
          |cond AS (SELECT * FROM agg WHERE value > 0),
          |flag AS (
          |  SELECT *, lag(win_start, 1) OVER (PARTITION BY component, series
          |    ORDER BY win_start) AS back1
          |  FROM cond)
          |SELECT component, 'HighErr' AS name, series, win_start, value
          |FROM flag WHERE back1 = win_start - 3600""".stripMargin),
    // the rule chain collapses to m32_promql_topk's relation, recorded
    // under the second rule's name
    // m58: the per-user recorded increases (stamped tier=gold) summed by
    // the STATIC label — the recorded identity carries the rule's label
    // or the second rule groups nothing
    "m58_rule_labels" ->
      (IncreaseCte(3600) +
        """, agg AS (
          |  SELECT component, series, win_start,
          |    CAST(sum(CAST(increase AS DECIMAL(26,6))) AS DOUBLE) AS v
          |  FROM win WHERE name = 'error_total' GROUP BY 1, 2, 3)
          |SELECT component, 'r:gold' AS name, 'tier=gold' AS series,
          |  win_start, CAST(sum(CAST(v AS DECIMAL(26,6))) AS DOUBLE) AS value
          |FROM agg GROUP BY 1, 4""".stripMargin),
    "m38_promql_rules" ->
      (IncreaseCte(3600) +
        """, agg AS (
          |  SELECT component, series, win_start,
          |    CAST(sum(CAST(increase AS DECIMAL(26,6))) AS DOUBLE) AS value
          |  FROM win WHERE name = 'view_total' GROUP BY 1, 2, 3),
          |r AS (
          |  SELECT *, row_number() OVER (PARTITION BY component, win_start
          |    ORDER BY value DESC, series) AS rnk
          |  FROM agg)
          |SELECT component, 'app:view:top' AS name, series, win_start, value
          |FROM r WHERE rnk <= 3""".stripMargin),
    // native histogram (schema 0): bucket k covers (2^(k-1), 2^k] — the
    // oracle's ceil(log2) agrees with the engine's exact IEEE-exponent
    // index because log2 is exact at powers of two and 2-dp data sits
    // ≫1 ulp from every other boundary
    "m37_native_hist" ->
      (NativeHistCte(3600) +
        """SELECT component, name, win_start, 0 AS schema,
          |  CAST(COALESCE(sum(CASE WHEN idx IS NULL THEN c END), 0) AS BIGINT)
          |    AS zero_count,
          |  CAST(sum(c) AS BIGINT) AS n_samples,
          |  COALESCE(string_agg(CASE WHEN idx IS NOT NULL
          |    THEN idx || ':' || c END, ',' ORDER BY idx), '') AS buckets
          |FROM c GROUP BY 1, 2, 3, 4""".stripMargin),
    // interpolated quantile from the cumulative sparse buckets (exact
    // integer cumulatives as doubles; the interpolation tree mirrors the
    // engine's fold)
    "m37b_native_quantile" ->
      (NativeHistCte(3600) +
        """, z AS (
          |  SELECT component, name, win_start,
          |    COALESCE(sum(CASE WHEN idx IS NULL THEN c END), 0) AS zero_count,
          |    sum(c) AS total
          |  FROM c GROUP BY 1, 2, 3),
          |r AS (
          |  SELECT c.component, c.name, c.win_start, c.idx, c.c, z.zero_count,
          |    0.9 * CAST(z.total AS DOUBLE) AS rank,
          |    CAST(z.zero_count AS DOUBLE)
          |      + CAST(sum(c.c) OVER (PARTITION BY c.component, c.name, c.win_start
          |          ORDER BY c.idx) AS DOUBLE) AS cum
          |  FROM c JOIN z USING (component, name, win_start)
          |  WHERE c.idx IS NOT NULL),
          |pick AS (
          |  SELECT *, row_number() OVER (PARTITION BY component, name, win_start
          |    ORDER BY idx) AS rn
          |  FROM r WHERE cum >= rank),
          |sel AS (SELECT * FROM pick WHERE rn = 1)
          |SELECT z.component, z.name, z.win_start,
          |  CASE WHEN 0.9 * CAST(z.total AS DOUBLE) <= CAST(z.zero_count AS DOUBLE)
          |       THEN 0.0
          |       ELSE power(2.0, CAST(s.idx - 1 AS DOUBLE))
          |         + (power(2.0, CAST(s.idx AS DOUBLE))
          |            - power(2.0, CAST(s.idx - 1 AS DOUBLE)))
          |           * ((s.rank - (s.cum - CAST(s.c AS DOUBLE))) / CAST(s.c AS DOUBLE))
          |  END AS q_value
          |FROM z LEFT JOIN sel s USING (component, name, win_start)""".stripMargin),
    // the text-compiled native quantile: m37b's bucket walk restricted
    // to the selected metric, final column aliased to the vector shape
    "m44_promql_native_quantile" ->
      (NativeHistCte(3600) +
        """, z AS (
          |  SELECT component, name, win_start,
          |    COALESCE(sum(CASE WHEN idx IS NULL THEN c END), 0) AS zero_count,
          |    sum(c) AS total
          |  FROM c WHERE name = 'view_total' GROUP BY 1, 2, 3),
          |r AS (
          |  SELECT c.component, c.name, c.win_start, c.idx, c.c, z.zero_count,
          |    0.9 * CAST(z.total AS DOUBLE) AS rank,
          |    CAST(z.zero_count AS DOUBLE)
          |      + CAST(sum(c.c) OVER (PARTITION BY c.component, c.name, c.win_start
          |          ORDER BY c.idx) AS DOUBLE) AS cum
          |  FROM c JOIN z USING (component, name, win_start)
          |  WHERE c.idx IS NOT NULL),
          |pick AS (
          |  SELECT *, row_number() OVER (PARTITION BY component, name, win_start
          |    ORDER BY idx) AS rn
          |  FROM r WHERE cum >= rank),
          |sel AS (SELECT * FROM pick WHERE rn = 1)
          |SELECT z.component, z.name, z.win_start,
          |  CASE WHEN 0.9 * CAST(z.total AS DOUBLE) <= CAST(z.zero_count AS DOUBLE)
          |       THEN 0.0
          |       ELSE power(2.0, CAST(s.idx - 1 AS DOUBLE))
          |         + (power(2.0, CAST(s.idx AS DOUBLE))
          |            - power(2.0, CAST(s.idx - 1 AS DOUBLE)))
          |           * ((s.rank - (s.cum - CAST(s.c AS DOUBLE))) / CAST(s.c AS DOUBLE))
          |  END AS value
          |FROM z LEFT JOIN sel s USING (component, name, win_start)""".stripMargin),
    // the text-compiled fraction: m37d's order-robust split, restricted
    "m44b_promql_native_fraction" ->
      (NativeHistCte(3600) +
        """, z AS (
          |  SELECT component, name, win_start,
          |    COALESCE(sum(CASE WHEN idx IS NULL THEN c END), 0) AS zero_count,
          |    sum(c) AS total
          |  FROM c WHERE name = 'view_total' GROUP BY 1, 2, 3),
          |f AS (
          |  SELECT component, name, win_start,
          |    sum(CASE WHEN power(2.0, CAST(idx AS DOUBLE)) <= 50.0
          |        THEN c ELSE 0 END) AS wu,
          |    sum(CASE WHEN power(2.0, CAST(idx AS DOUBLE)) <= 3.0
          |        THEN c ELSE 0 END) AS wl,
          |    sum(CASE WHEN power(2.0, CAST(idx - 1 AS DOUBLE)) < 50.0
          |          AND power(2.0, CAST(idx AS DOUBLE)) > 50.0
          |        THEN CAST(c AS DOUBLE)
          |          * ((50.0 - power(2.0, CAST(idx - 1 AS DOUBLE)))
          |             / (power(2.0, CAST(idx AS DOUBLE))
          |                - power(2.0, CAST(idx - 1 AS DOUBLE))))
          |        ELSE 0.0 END) AS fu,
          |    sum(CASE WHEN power(2.0, CAST(idx - 1 AS DOUBLE)) < 3.0
          |          AND power(2.0, CAST(idx AS DOUBLE)) > 3.0
          |        THEN CAST(c AS DOUBLE)
          |          * ((3.0 - power(2.0, CAST(idx - 1 AS DOUBLE)))
          |             / (power(2.0, CAST(idx AS DOUBLE))
          |                - power(2.0, CAST(idx - 1 AS DOUBLE))))
          |        ELSE 0.0 END) AS fl
          |  FROM c WHERE idx IS NOT NULL GROUP BY 1, 2, 3)
          |SELECT z.component, z.name, z.win_start,
          |  CASE WHEN z.total = 0 THEN 'NaN'::DOUBLE ELSE
          |    ((CAST(z.zero_count + COALESCE(f.wu, 0) AS DOUBLE) + COALESCE(f.fu, 0.0))
          |     - (CAST(z.zero_count + COALESCE(f.wl, 0) AS DOUBLE) + COALESCE(f.fl, 0.0)))
          |    / CAST(z.total AS DOUBLE) END AS value
          |FROM z LEFT JOIN f USING (component, name, win_start)""".stripMargin),
    // the text-compiled stddev: m37f's midpoint estimator, restricted
    "m44c_promql_native_stddev" ->
      (NativeHistCte(3600) +
        """, z AS (
          |  SELECT component, name, win_start,
          |    COALESCE(sum(CASE WHEN idx IS NULL THEN c END), 0) AS zc,
          |    sum(c) AS total
          |  FROM c WHERE name = 'view_total' GROUP BY 1, 2, 3),
          |mn AS (
          |  SELECT component, name, ts_sec - ts_sec % 3600 AS win_start,
          |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS vsum
          |  FROM m GROUP BY 1, 2, 3),
          |mm AS (
          |  SELECT z.component, z.name, z.win_start, z.zc, z.total,
          |    mn.vsum / CAST(z.total AS DOUBLE) AS mean
          |  FROM z JOIN mn USING (component, name, win_start)),
          |terms AS (
          |  SELECT c.component, c.name, c.win_start,
          |    list(CAST(c.c AS DOUBLE)
          |      * ((power(2.0, CAST(c.idx - 1 AS DOUBLE))
          |          + power(2.0, CAST(c.idx AS DOUBLE))) / 2.0 - mm.mean)
          |      * ((power(2.0, CAST(c.idx - 1 AS DOUBLE))
          |          + power(2.0, CAST(c.idx AS DOUBLE))) / 2.0 - mm.mean)
          |      ORDER BY c.idx) AS ts
          |  FROM c JOIN mm USING (component, name, win_start)
          |  WHERE c.idx IS NOT NULL GROUP BY 1, 2, 3),
          |f AS (
          |  SELECT mm.component, mm.name, mm.win_start,
          |    list_reduce(
          |      list_prepend(CAST(mm.zc AS DOUBLE) * mm.mean * mm.mean,
          |        COALESCE(t.ts, [])),
          |      (a, b) -> a + b) / CAST(mm.total AS DOUBLE) AS h_stdvar
          |  FROM mm LEFT JOIN terms t USING (component, name, win_start))
          |SELECT component, name, win_start, sqrt(h_stdvar) AS value
          |FROM f""".stripMargin),
    // deg(atan2(err_inc, view_inc)): the increases are exact decimal
    // sums (bit-identical across engines), atan2/degrees differ only in
    // libm ulps — the shared floor-based round puts both under one grid
    "m45_promql_trig" ->
      (IncreaseCte(3600) +
        """SELECT e.component, '' AS name, e.series, e.win_start,
          |  floor(degrees(atan2(e.increase, v.increase)) * (1.0 / 0.000001)
          |    + 0.5) / (1.0 / 0.000001) AS value
          |FROM win e JOIN win v
          |  ON e.component = v.component AND e.series = v.series
          | AND e.win_start = v.win_start
          |WHERE e.name = 'error_total' AND v.name = 'view_total'""".stripMargin),
    // sin(radians(gauge)) over each window's freshest sample (ts desc,
    // id desc — the instant selector's max_by tie-break)
    "m45b_promql_sin" ->
      """WITH m AS (
        |  SELECT 'app' AS component, event_type || '_total' AS name,
        |         'user=' || CAST(user_id AS VARCHAR) AS series, value,
        |         CAST(event_id AS VARCHAR) AS id,
        |         CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec
        |  FROM events),
        |g AS (
        |  SELECT component, name, series,
        |         ts_sec - ts_sec % 3600 AS win_start, value,
        |         row_number() OVER (
        |           PARTITION BY component, name, series, ts_sec - ts_sec % 3600
        |           ORDER BY ts_sec DESC, id DESC) AS rn
        |  FROM m WHERE name = 'view_total')
        |SELECT component, name, series, win_start,
        |  floor(sin(radians(value)) * (1.0 / 0.000001) + 0.5)
        |    / (1.0 / 0.000001) AS value
        |FROM g WHERE rn = 1""".stripMargin,
    // the latest timestamp among the window's max-valued samples — the
    // `>=` in Prometheus's update loop makes the LAST occurrence win
    "m46_promql_ts_of_max" ->
      """WITH m AS (
        |  SELECT 'app' AS component, event_type || '_total' AS name,
        |         'user=' || CAST(user_id AS VARCHAR) AS series, value,
        |         CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec
        |  FROM events),
        |g AS (
        |  SELECT component, name, series,
        |         ts_sec - ts_sec % 3600 AS win_start, value, ts_sec,
        |         max(value) OVER (PARTITION BY component, name, series,
        |           ts_sec - ts_sec % 3600) AS mx
        |  FROM m WHERE name = 'view_total')
        |SELECT component, name, series, win_start,
        |  CAST(max(ts_sec) FILTER (WHERE value = mx) AS DOUBLE) AS value
        |FROM g GROUP BY component, name, series, win_start""".stripMargin,
    "m46b_promql_ts_of_min" ->
      """WITH m AS (
        |  SELECT 'app' AS component, event_type || '_total' AS name,
        |         'user=' || CAST(user_id AS VARCHAR) AS series, value,
        |         CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec
        |  FROM events),
        |g AS (
        |  SELECT component, name, series,
        |         ts_sec - ts_sec % 3600 AS win_start, value, ts_sec,
        |         min(value) OVER (PARTITION BY component, name, series,
        |           ts_sec - ts_sec % 3600) AS mn
        |  FROM m WHERE name = 'error_total')
        |SELECT component, name, series, win_start,
        |  CAST(max(ts_sec) FILTER (WHERE value = mn) AS DOUBLE) AS value
        |FROM g GROUP BY component, name, series, win_start""".stripMargin,
    // each user's window-latest error value, with the tier data label
    // joined on when (and only when) that (user, window) also carries a
    // view_total sample — DuckDB recomputes the info join as a LEFT
    // JOIN against the distinct view windows
    "m48_promql_info" ->
      """WITH m AS (
        |  SELECT 'app' AS component, event_type || '_total' AS name,
        |         user_id, value, CAST(event_id AS VARCHAR) AS id,
        |         CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec
        |  FROM events),
        |e AS (
        |  SELECT user_id, value, ts_sec - ts_sec % 3600 AS win_start,
        |         row_number() OVER (
        |           PARTITION BY user_id, ts_sec - ts_sec % 3600
        |           ORDER BY ts_sec DESC, id DESC) AS rn
        |  FROM m WHERE name = 'error_total'),
        |vt AS (
        |  SELECT DISTINCT user_id, ts_sec - ts_sec % 3600 AS win_start
        |  FROM m WHERE name = 'view_total')
        |SELECT 'app' AS component, 'error_total' AS name,
        |  CASE WHEN vt.user_id IS NULL THEN
        |    'instance=' || e.user_id || ',job=events,user=' || e.user_id
        |  ELSE
        |    'instance=' || e.user_id || ',job=events,tier=' ||
        |      (e.user_id % 3) || ',user=' || e.user_id END AS series,
        |  e.win_start, e.value
        |FROM e LEFT JOIN vt
        |  ON e.user_id = vt.user_id AND e.win_start = vt.win_start
        |WHERE e.rn = 1""".stripMargin,
    // instant increase at t = max(ts): interior deltas (lag among the
    // samples of (t−7200, t] only — the window filter runs BEFORE the
    // lag, unlike the tumbling IncreaseCte), decimal-summed per user
    "m49_promql_instant" -> InstantIncreaseOracle,
    // m50 answers the SAME instant query through the pruned landed
    // read — the oracle is byte-identical to m49's: file pruning must
    // never change a row
    "m50_promql_pruned_instant" -> InstantIncreaseOracle,
    // m51: the same interior-increase math at EACH of the three points
    // independently — a points relation cross-joined into the window
    // filter, the lag partitioned per point so every point's deltas are
    // its own window's interior
    "m51_promql_range" ->
      """WITH m AS (
        |  SELECT 'app' AS component, event_type || '_total' AS name,
        |         'user=' || CAST(user_id AS VARCHAR) AS series,
        |         CAST(event_id AS VARCHAR) AS id, value,
        |         CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec
        |  FROM events),
        |tt AS (SELECT max(ts_sec) AS t FROM m),
        |pts AS (SELECT t - 86400 * k AS p FROM tt, (VALUES (0), (1), (2)) v(k)),
        |w AS (
        |  SELECT m.*, pts.p FROM m, pts
        |  WHERE m.name = 'view_total'
        |    AND m.ts_sec > pts.p - 172800 AND m.ts_sec <= pts.p),
        |d AS (
        |  SELECT *, value - lag(value) OVER (
        |    PARTITION BY component, name, series, p ORDER BY ts_sec, id) AS delta
        |  FROM w),
        |i AS (
        |  SELECT component, series, p,
        |    CASE WHEN delta IS NULL THEN 0.0
        |         WHEN delta < 0 THEN value ELSE delta END AS inc
        |  FROM d)
        |SELECT component, '' AS name, series, p AS win_start,
        |  CAST(sum(CAST(inc AS DECIMAL(18,6))) AS DOUBLE) AS value
        |FROM i GROUP BY component, series, p""".stripMargin,
    // m52: Go's extrapolatedRate replayed in SQL — interior delta sum,
    // then the boundary extension with the counter zero-floor clamp
    // applied BEFORE the average-interval threshold (Go's order), in
    // the engine's exact IEEE operation order
    "m52_promql_rate_extrapolated" ->
      """WITH m AS (
        |  SELECT 'app' AS component, event_type || '_total' AS name,
        |         'user=' || CAST(user_id AS VARCHAR) AS series,
        |         CAST(event_id AS VARCHAR) AS id, value,
        |         CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec
        |  FROM events),
        |tt AS (SELECT max(ts_sec) AS t FROM m),
        |w AS (
        |  SELECT m.*, tt.t FROM m, tt
        |  WHERE m.name = 'view_total'
        |    AND m.ts_sec > tt.t - 172800 AND m.ts_sec <= tt.t),
        |d AS (
        |  SELECT *, value - lag(value) OVER (
        |      PARTITION BY component, name, series ORDER BY ts_sec, id) AS delta,
        |    row_number() OVER (
        |      PARTITION BY component, name, series ORDER BY ts_sec, id) AS rn
        |  FROM w),
        |i AS (
        |  SELECT *, CASE WHEN delta IS NULL THEN 0.0
        |                 WHEN delta < 0 THEN value ELSE delta END AS inc
        |  FROM d),
        |g AS (
        |  SELECT component, name, series, t,
        |    CAST(sum(CAST(inc AS DECIMAL(18,6))) AS DOUBLE) AS rv,
        |    min(ts_sec) AS fts, max(ts_sec) AS lts, count(*) AS n,
        |    max(CASE WHEN rn = 1 THEN value END) AS fval
        |  FROM i GROUP BY 1, 2, 3, 4
        |  HAVING count(*) >= 2),
        |y AS (
        |  SELECT *,
        |    CAST(lts - fts AS DOUBLE) AS sampled,
        |    CAST(lts - fts AS DOUBLE) / (n - 1) AS avgiv,
        |    CAST(fts - (t - 172800) AS DOUBLE) AS ds0,
        |    CAST(t - lts AS DOUBLE) AS de0
        |  FROM g),
        |z AS (
        |  SELECT *, CASE WHEN rv > 0 AND fval >= 0
        |                      AND sampled * (fval / rv) < ds0
        |                 THEN sampled * (fval / rv) ELSE ds0 END AS ds1
        |  FROM y),
        |q AS (
        |  SELECT *,
        |    CASE WHEN ds1 >= avgiv * 1.1 THEN avgiv / 2 ELSE ds1 END AS dstart,
        |    CASE WHEN de0 >= avgiv * 1.1 THEN avgiv / 2 ELSE de0 END AS dend
        |  FROM z)
        |SELECT component, name, series, t AS win_start,
        |  rv * ((sampled + dstart + dend) / sampled) / 172800.0 AS value
        |FROM q""".stripMargin,
    // m53: the engine's grid-mode rate over the PRUNED landed read must
    // equal the crossing-delta rate computed over the FULL stream (the
    // oracle never prunes: full-order lag, reset clamp, decimal window
    // sums, /86400), filtered to the requested week — a head-seeding
    // bug (wrong predecessor, lost edge delta) breaks the hash
    "m53_promql_grid_pruned_rate" ->
      (IncreaseCte(86400) +
        """, tt AS (SELECT max(ts_sec) AS t FROM m)
          |SELECT w.component, w.name, w.series, w.win_start,
          |  w.increase / 86400.0 AS value
          |FROM win w, tt WHERE w.name = 'view_total'
          |  AND w.win_start >= tt.t - 604800 AND w.win_start <= tt.t""".stripMargin),
    // m54: per-series daily peak now vs the peak of the day ending two
    // days into the stream (the far pin) — one-to-one match drops the
    // name; both windows left-open per the instant rules
    "m54_promql_pin_split" ->
      """WITH m AS (
        |  SELECT 'app' AS component, event_type || '_total' AS name,
        |         'user=' || CAST(user_id AS VARCHAR) AS series, value,
        |         CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec
        |  FROM events),
        |tt AS (SELECT max(ts_sec) AS t, min(ts_sec) + 172800 AS pin FROM m),
        |l AS (
        |  SELECT component, series, max(value) AS v FROM m, tt
        |  WHERE name = 'view_total'
        |    AND ts_sec > tt.pin - 86400 AND ts_sec <= tt.pin
        |  GROUP BY 1, 2),
        |r AS (
        |  SELECT component, series, max(value) AS v FROM m, tt
        |  WHERE name = 'view_total'
        |    AND ts_sec > tt.t - 86400 AND ts_sec <= tt.t
        |  GROUP BY 1, 2)
        |SELECT l.component, '' AS name, l.series,
        |  (SELECT t FROM tt) AS win_start, l.v / r.v AS value
        |FROM l JOIN r
        |  ON l.component = r.component AND l.series = r.series""".stripMargin,
    // m55: after file-granular expiry at cutoff c1+1, the surviving
    // corpus is exactly the rows with ts > c1 (the oldest commit's
    // files all prove max ≤ c1 < cutoff; the younger splits' files all
    // hold rows > c1). Integer cut arithmetic replayed exactly.
    "m55_landing_retention" ->
      """WITH m AS (
        |  SELECT 'app' AS component, event_type || '_total' AS name,
        |         'user=' || CAST(user_id AS VARCHAR) AS series, value,
        |         CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec
        |  FROM events),
        |tt AS (SELECT min(ts_sec) + (max(ts_sec) - min(ts_sec)) * 2 // 5 AS c1
        |       FROM m)
        |SELECT component, name, series, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM m, tt WHERE ts_sec > tt.c1
        |GROUP BY 1, 2, 3""".stripMargin,
    // m57: the incrementally-maintained registry must equal the plain
    // latest-per-series pick over the raw stream — newest (ts, id)
    // wins, id compared as VARCHAR exactly like the engine's max_by
    // struct tie-break
    "m57_registry_incremental" ->
      """WITH m AS (
        |  SELECT 'app' AS component, event_type || '_total' AS name,
        |         'user=' || CAST(user_id AS VARCHAR) AS series,
        |         CAST(event_id AS VARCHAR) AS id, value,
        |         CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec
        |  FROM events),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY component, name, series
        |    ORDER BY ts_sec DESC, id DESC) AS rn
        |  FROM m)
        |SELECT component, name, series, value AS last_value,
        |  ts_sec AS last_ts
        |FROM r WHERE rn = 1""".stripMargin,
    // m56: compaction is layout-only, so the landed-then-compacted
    // aggregate equals the raw stream's — the oracle is the plain
    // aggregate with no landing at all
    "m56_landing_autocompact" ->
      """WITH m AS (
        |  SELECT 'app' AS component, event_type || '_total' AS name,
        |         'user=' || CAST(user_id AS VARCHAR) AS series, value
        |  FROM events)
        |SELECT component, name, series, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM m
        |GROUP BY 1, 2, 3""".stripMargin,
    // the freshest sample per series in (t − 86400, t]
    "m49b_promql_instant_gauge" ->
      """WITH m AS (
        |  SELECT 'app' AS component, event_type || '_total' AS name,
        |         'user=' || CAST(user_id AS VARCHAR) AS series,
        |         CAST(event_id AS VARCHAR) AS id, value,
        |         CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec
        |  FROM events),
        |tt AS (SELECT max(ts_sec) AS t FROM m),
        |r AS (
        |  SELECT m.*, tt.t,
        |    row_number() OVER (PARTITION BY component, name, series
        |      ORDER BY ts_sec DESC, id DESC) AS rn
        |  FROM m, tt
        |  WHERE m.name = 'view_total'
        |    AND m.ts_sec > tt.t - 86400 AND m.ts_sec <= tt.t)
        |SELECT component, name, series, t AS win_start, value
        |FROM r WHERE rn = 1""".stripMargin,
    // the natural-sort rank computed INDEPENDENTLY: tokenize the user
    // label value into digit/non-digit runs, encode each digit run
    // length-prefixed (leading zeros stripped, 8-digit run-length, then
    // the digits — the engine's any-length numeric ordering, spelled in
    // DuckDB's own functions), ORDER BY that key desc with the series
    // tiebreak — DuckDB's ordering defines the expected rank the
    // engine's sort_by_label_desc must reproduce
    "m47_sort_by_label" ->
      (IncreaseCte(3600) +
        """SELECT component, name, series, win_start, increase AS value,
          |  CAST(row_number() OVER (
          |    PARTITION BY component, name, win_start
          |    ORDER BY
          |      array_to_string(list_transform(
          |        regexp_extract_all(substr(series, 6), '[0-9]+|[^0-9]+'),
          |        x -> CASE WHEN regexp_matches(x, '^[0-9]+$')
          |             THEN lpad(CAST(length(ltrim(x, '0')) AS VARCHAR), 8, '0')
          |                    || ltrim(x, '0')
          |             ELSE x END), '') DESC,
          |      series DESC) AS INTEGER) AS rank
          |FROM win WHERE name = 'view_total'""".stripMargin),
    // merge == recompute: the oracle builds the DAILY histogram straight
    // from raw samples; the engine merges the hourly tier
    "m37c_native_merge" ->
      (NativeHistCte(86400) +
        """, s AS (
          |  SELECT component, name, ts_sec - ts_sec % 86400 AS win_start,
          |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum
          |  FROM m GROUP BY 1, 2, 3)
          |SELECT c.component, c.name, c.win_start, 0 AS schema,
          |  CAST(COALESCE(sum(CASE WHEN idx IS NULL THEN c.c END), 0) AS BIGINT)
          |    AS zero_count,
          |  CAST(sum(c.c) AS BIGINT) AS n_samples,
          |  min(s.sum) AS sum,
          |  COALESCE(string_agg(CASE WHEN idx IS NOT NULL
          |    THEN idx || ':' || c.c END, ',' ORDER BY idx), '') AS buckets
          |FROM c JOIN s USING (component, name, win_start)
          |GROUP BY 1, 2, 3, 4""".stripMargin),
    // count/sum/avg straight off the raw rows — proving the histogram's
    // stored fields reconstruct them exactly (decimal sum, IEEE quotient)
    "m37e_native_sum" ->
      """WITH m AS (
        |  SELECT 'app' AS component, event_type || '_total' AS name, value,
        |         CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec
        |  FROM events)
        |SELECT component, name, ts_sec - ts_sec % 3600 AS win_start,
        |  count(*) AS h_count,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS h_sum,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE) AS h_avg
        |FROM m GROUP BY 1, 2, 3""".stripMargin,
    // midpoint variance replayed as the SAME left fold: ordered list of
    // per-bucket terms (ascending idx), zero-bucket term prepended, each
    // term the identical ((c*d)*d) association
    "m37f_native_spread" ->
      (NativeHistCte(3600) +
        """, z AS (
          |  SELECT component, name, win_start,
          |    COALESCE(sum(CASE WHEN idx IS NULL THEN c END), 0) AS zc,
          |    sum(c) AS total
          |  FROM c GROUP BY 1, 2, 3),
          |mn AS (
          |  SELECT component, name, ts_sec - ts_sec % 3600 AS win_start,
          |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS vsum
          |  FROM m GROUP BY 1, 2, 3),
          |mm AS (
          |  SELECT z.component, z.name, z.win_start, z.zc, z.total,
          |    mn.vsum / CAST(z.total AS DOUBLE) AS mean
          |  FROM z JOIN mn USING (component, name, win_start)),
          |terms AS (
          |  SELECT c.component, c.name, c.win_start,
          |    list(CAST(c.c AS DOUBLE)
          |      * ((power(2.0, CAST(c.idx - 1 AS DOUBLE))
          |          + power(2.0, CAST(c.idx AS DOUBLE))) / 2.0 - mm.mean)
          |      * ((power(2.0, CAST(c.idx - 1 AS DOUBLE))
          |          + power(2.0, CAST(c.idx AS DOUBLE))) / 2.0 - mm.mean)
          |      ORDER BY c.idx) AS ts
          |  FROM c JOIN mm USING (component, name, win_start)
          |  WHERE c.idx IS NOT NULL GROUP BY 1, 2, 3),
          |f AS (
          |  SELECT mm.component, mm.name, mm.win_start,
          |    list_reduce(
          |      list_prepend(CAST(mm.zc AS DOUBLE) * mm.mean * mm.mean,
          |        COALESCE(t.ts, [])),
          |      (a, b) -> a + b) / CAST(mm.total AS DOUBLE) AS h_stdvar
          |  FROM mm LEFT JOIN terms t USING (component, name, win_start))
          |SELECT component, name, win_start, h_stdvar,
          |  sqrt(h_stdvar) AS h_stddev
          |FROM f""".stripMargin),
    // interpolated fraction in (3, 50]: exact BIGINT cumulatives + one
    // covering-bucket term per bound — the identical IEEE expression
    // tree the engine's order-robust split evaluates
    "m37d_native_fraction" ->
      (NativeHistCte(3600) +
        """, z AS (
          |  SELECT component, name, win_start,
          |    COALESCE(sum(CASE WHEN idx IS NULL THEN c END), 0) AS zero_count,
          |    sum(c) AS total
          |  FROM c GROUP BY 1, 2, 3),
          |f AS (
          |  SELECT component, name, win_start,
          |    sum(CASE WHEN power(2.0, CAST(idx AS DOUBLE)) <= 50.0
          |        THEN c ELSE 0 END) AS wu,
          |    sum(CASE WHEN power(2.0, CAST(idx AS DOUBLE)) <= 3.0
          |        THEN c ELSE 0 END) AS wl,
          |    sum(CASE WHEN power(2.0, CAST(idx - 1 AS DOUBLE)) < 50.0
          |          AND power(2.0, CAST(idx AS DOUBLE)) > 50.0
          |        THEN CAST(c AS DOUBLE)
          |          * ((50.0 - power(2.0, CAST(idx - 1 AS DOUBLE)))
          |             / (power(2.0, CAST(idx AS DOUBLE))
          |                - power(2.0, CAST(idx - 1 AS DOUBLE))))
          |        ELSE 0.0 END) AS fu,
          |    sum(CASE WHEN power(2.0, CAST(idx - 1 AS DOUBLE)) < 3.0
          |          AND power(2.0, CAST(idx AS DOUBLE)) > 3.0
          |        THEN CAST(c AS DOUBLE)
          |          * ((3.0 - power(2.0, CAST(idx - 1 AS DOUBLE)))
          |             / (power(2.0, CAST(idx AS DOUBLE))
          |                - power(2.0, CAST(idx - 1 AS DOUBLE))))
          |        ELSE 0.0 END) AS fl
          |  FROM c WHERE idx IS NOT NULL GROUP BY 1, 2, 3)
          |SELECT z.component, z.name, z.win_start,
          |  CASE WHEN z.total = 0 THEN 'NaN'::DOUBLE ELSE
          |    ((CAST(z.zero_count + COALESCE(f.wu, 0) AS DOUBLE) + COALESCE(f.fu, 0.0))
          |     - (CAST(z.zero_count + COALESCE(f.wl, 0) AS DOUBLE) + COALESCE(f.fl, 0.0)))
          |    / CAST(z.total AS DOUBLE) END AS fraction
          |FROM z LEFT JOIN f USING (component, name, win_start)""".stripMargin),
    // decimal sums make avg/stdvar derive from order-independent
    // numerators; variance via the algebraic form over those exact sums
    "m24_over_time" ->
      """WITH m AS (
        |  SELECT 'app' AS component, event_type || '_total' AS name,
        |         'user=' || CAST(user_id AS VARCHAR) AS series,
        |         CAST(event_id AS VARCHAR) AS id, value,
        |         CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec
        |  FROM events),
        |w AS (SELECT *, ts_sec - ts_sec % 3600 AS win_start FROM m),
        |r AS (SELECT *, row_number() OVER (PARTITION BY component, name, series, win_start
        |        ORDER BY ts_sec DESC, id DESC) AS rn FROM w),
        |g AS (SELECT component, name, series, win_start,
        |        count(*) AS n_samples,
        |        min(value) AS min_value, max(value) AS max_value,
        |        CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
        |        CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2))
        |          AS DECIMAL(38,4))) AS DOUBLE) AS sumsq_value,
        |        min(CASE WHEN rn = 1 THEN value END) AS last_value
        |      FROM r GROUP BY 1, 2, 3, 4)
        |SELECT component, name, series, win_start, n_samples, min_value, max_value,
        |  sum_value, sumsq_value, last_value,
        |  sum_value / CAST(n_samples AS DOUBLE) AS avg_value,
        |  greatest((sumsq_value - sum_value * sum_value / CAST(n_samples AS DOUBLE))
        |    / CAST(n_samples AS DOUBLE), 0.0) AS stdvar_value,
        |  sqrt(greatest((sumsq_value - sum_value * sum_value / CAST(n_samples AS DOUBLE))
        |    / CAST(n_samples AS DOUBLE), 0.0)) AS stddev_value
        |FROM g""".stripMargin,
    // the smoothing recursion replayed sample-by-sample as a recursive
    // CTE; factors are dyadic so every constant is an exact binary double
    "m25_holt_winters" ->
      """WITH RECURSIVE m AS MATERIALIZED (
        |  SELECT 'app' AS component, event_type || '_total' AS name,
        |         'user=' || CAST(user_id AS VARCHAR) AS series,
        |         CAST(event_id AS VARCHAR) AS id, value,
        |         CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec
        |  FROM events),
        |w AS MATERIALIZED (SELECT *, ts_sec - ts_sec % 3600 AS win_start FROM m),
        |r AS MATERIALIZED (SELECT component, name, series, win_start, value,
        |        row_number() OVER (PARTITION BY component, name, series, win_start
        |          ORDER BY ts_sec, id) AS rn,
        |        count(*) OVER (PARTITION BY component, name, series, win_start) AS cnt
        |      FROM w),
        |hw AS (
        |  SELECT r2.component, r2.name, r2.series, r2.win_start, r2.cnt,
        |         CAST(2 AS BIGINT) AS i, r2.value AS s, r2.value - r1.value AS b
        |  FROM r r2 JOIN r r1 ON r1.component = r2.component AND r1.name = r2.name
        |    AND r1.series = r2.series AND r1.win_start = r2.win_start
        |    AND r2.rn = 2 AND r1.rn = 1
        |  UNION ALL
        |  SELECT hw.component, hw.name, hw.series, hw.win_start, hw.cnt, hw.i + 1,
        |         0.5 * r.value + 0.5 * (hw.s + hw.b),
        |         0.25 * (0.5 * r.value + 0.5 * (hw.s + hw.b) - hw.s) + 0.75 * hw.b
        |  FROM hw JOIN r ON r.component = hw.component AND r.name = hw.name
        |    AND r.series = hw.series AND r.win_start = hw.win_start AND r.rn = hw.i + 1
        |  WHERE hw.i < hw.cnt),
        |g AS (SELECT component, name, series, win_start, count(*) AS n_samples
        |      FROM w GROUP BY 1, 2, 3, 4),
        |fin AS (SELECT component, name, series, win_start, s FROM hw WHERE i = cnt)
        |SELECT g.component, g.name, g.series, g.win_start, f.s AS smoothed,
        |  g.n_samples
        |FROM g LEFT JOIN fin f
        |  USING (component, name, series, win_start)""".stripMargin,
    // class size = window count over the quasi-identifier partitioning;
    // mask is a row-local projection of that count
    "p5_k_anonymity" ->
      """WITH c AS (SELECT doc_id, lang, source,
        |  count(*) OVER (PARTITION BY lang, source) AS class_size FROM documents)
        |SELECT doc_id,
        |  CASE WHEN class_size >= 30 THEN lang ELSE '*' END AS lang,
        |  CASE WHEN class_size >= 30 THEN source ELSE '*' END AS source,
        |  CAST(class_size AS BIGINT) AS class_size,
        |  CAST(CASE WHEN class_size < 30 THEN 1 ELSE 0 END AS BIGINT) AS suppressed
        |FROM c""".stripMargin,
    // mirrors Curate.dpRelease: same hash-derived uniform, same inverse
    // CDF, same 1e-6 ln grid — the release must match bit-for-bit
    "p7_dp_release" ->
      """WITH g AS (
        |  SELECT event_type,
        |    CAST(count(*) AS DOUBLE) AS n_true,
        |    CAST(sum(CAST(least(greatest(value, 0.0), 100.0)
        |        AS DECIMAL(18,2))) AS DOUBLE) AS sum_true
        |  FROM events GROUP BY 1),
        |u AS (
        |  SELECT *,
        |    (CAST(CAST('0x' || substr(md5('graft-dp|' || event_type || '|n'), 1, 15)
        |       AS BIGINT) % 1048576 AS DOUBLE) + 0.5) / 1048576.0 - 0.5 AS un,
        |    (CAST(CAST('0x' || substr(md5('graft-dp|' || event_type || '|s'), 1, 15)
        |       AS BIGINT) % 1048576 AS DOUBLE) + 0.5) / 1048576.0 - 0.5 AS us
        |  FROM g)
        |SELECT event_type,
        |  n_true + (-(1.0/0.25)) * sign(un) *
        |    (CAST(floor(ln(1.0 - 2.0*abs(un))*1e6 + 0.5) AS BIGINT) / 1e6) AS n_noisy,
        |  sum_true + (-(100.0*(1.0/0.25))) * sign(us) *
        |    (CAST(floor(ln(1.0 - 2.0*abs(us))*1e6 + 0.5) AS BIGINT) / 1e6) AS sum_noisy
        |FROM u""".stripMargin,
    // single-scan conditional aggregate + one anti-join; composite key
    // uniqueness via orderkey*100+linenumber (exact: linenumber < 100)
    "p3_expectations" ->
      """WITH b AS (
        |  SELECT count(*) AS n_rows,
        |    count(*) - count(DISTINCT l_orderkey * 100 + l_linenumber) AS dup_keys,
        |    sum(CASE WHEN l_quantity < 1 OR l_quantity > 50 THEN 1 ELSE 0 END) AS qty_range,
        |    sum(CASE WHEN l_returnflag NOT IN ('A', 'N', 'R') THEN 1 ELSE 0 END) AS flag_domain,
        |    sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS null_shipdate,
        |    sum(CASE WHEN l_extendedprice <= 0 THEN 1 ELSE 0 END) AS price_pos
        |  FROM lineitem),
        |o AS (SELECT count(*) AS orphan_rows FROM lineitem l
        |      LEFT JOIN orders r ON l.l_orderkey = r.o_orderkey
        |      WHERE r.o_orderkey IS NULL),
        |m AS (SELECT * FROM b, o),
        |u AS (
        |  SELECT 'dup_primary_key' AS check_name, CAST(dup_keys AS BIGINT) AS violations FROM m
        |  UNION ALL SELECT 'empty_table', CAST(CASE WHEN n_rows = 0 THEN 1 ELSE 0 END AS BIGINT) FROM m
        |  UNION ALL SELECT 'extendedprice_positive', CAST(price_pos AS BIGINT) FROM m
        |  UNION ALL SELECT 'orderkey_ref_integrity', CAST(orphan_rows AS BIGINT) FROM m
        |  UNION ALL SELECT 'quantity_in_range', CAST(qty_range AS BIGINT) FROM m
        |  UNION ALL SELECT 'returnflag_in_domain', CAST(flag_domain AS BIGINT) FROM m
        |  UNION ALL SELECT 'shipdate_not_null', CAST(null_shipdate AS BIGINT) FROM m)
        |SELECT check_name, violations,
        |  CAST(CASE WHEN violations = 0 THEN 1 ELSE 0 END AS BIGINT) AS passed
        |FROM u""".stripMargin,
    // MERGE semantics on the customer snapshot: matched-U updates,
    // matched-D deletes, unmatched-I inserts; each key lands in exactly
    // one op class (mod-10 split) so the outer join is 1:1
    "p4_merge_upsert" ->
      """WITH chg AS (
        |  SELECT c_custkey AS k, 'U' AS op, c_name, c_nationkey,
        |    CAST(-1.0 AS DOUBLE) AS c_acctbal, 'RELABELED' AS c_mktsegment
        |  FROM customer WHERE c_custkey % 10 = 0
        |  UNION ALL
        |  SELECT c_custkey + 1000000, 'I', c_name, c_nationkey, c_acctbal, c_mktsegment
        |  FROM customer WHERE c_custkey % 10 = 1
        |  UNION ALL
        |  SELECT c_custkey, 'D', c_name, c_nationkey, c_acctbal, c_mktsegment
        |  FROM customer WHERE c_custkey % 10 = 2),
        |kept AS (
        |  SELECT b.c_custkey,
        |    CASE WHEN c.op = 'U' THEN c.c_name ELSE b.c_name END AS c_name,
        |    CASE WHEN c.op = 'U' THEN c.c_nationkey ELSE b.c_nationkey END AS c_nationkey,
        |    CASE WHEN c.op = 'U' THEN c.c_acctbal ELSE b.c_acctbal END AS c_acctbal,
        |    CASE WHEN c.op = 'U' THEN c.c_mktsegment ELSE b.c_mktsegment END AS c_mktsegment
        |  FROM customer b LEFT JOIN chg c ON b.c_custkey = c.k
        |  WHERE c.op IS NULL OR c.op <> 'D'),
        |ins AS (
        |  SELECT c.k AS c_custkey, c.c_name, c.c_nationkey, c.c_acctbal, c.c_mktsegment
        |  FROM chg c LEFT JOIN customer b ON c.k = b.c_custkey
        |  WHERE c.op = 'I' AND b.c_custkey IS NULL)
        |SELECT * FROM kept UNION ALL SELECT * FROM ins""".stripMargin,
    // full-outer of the current slice vs the snapshot; each joined row
    // yields its close/open output rows, closed history passes through
    "p6_scd2" ->
      """WITH cust AS (SELECT c_custkey, c_name, c_acctbal FROM customer),
        |hist_cur AS (
        |  SELECT c_custkey, c_name, c_acctbal, CAST(0 AS BIGINT) AS valid_from
        |  FROM cust WHERE c_custkey % 3 <> 0),
        |hist_closed AS (
        |  SELECT c_custkey, 'OLD ' || c_name AS c_name, c_acctbal,
        |    CAST(-100 AS BIGINT) AS valid_from, CAST(0 AS BIGINT) AS valid_to,
        |    CAST(0 AS BIGINT) AS is_current
        |  FROM cust WHERE c_custkey % 9 = 0),
        |snap AS (
        |  SELECT c_custkey, c_name,
        |    CASE WHEN c_custkey % 7 = 0 THEN c_acctbal + 1000.0 ELSE c_acctbal END
        |      AS c_acctbal
        |  FROM cust WHERE c_custkey % 5 <> 0),
        |j AS (
        |  SELECT h.c_custkey AS hk, s.c_custkey AS sk,
        |    h.c_name AS h_name, h.c_acctbal AS h_bal, h.valid_from AS h_from,
        |    s.c_name AS s_name, s.c_acctbal AS s_bal,
        |    (h.c_name = s.c_name AND h.c_acctbal = s.c_acctbal) AS same
        |  FROM hist_cur h FULL OUTER JOIN snap s ON h.c_custkey = s.c_custkey),
        |out_old AS (
        |  SELECT hk AS c_custkey, h_name AS c_name, h_bal AS c_acctbal,
        |    h_from AS valid_from,
        |    CASE WHEN sk IS NOT NULL AND same THEN CAST(NULL AS BIGINT)
        |         ELSE CAST(100 AS BIGINT) END AS valid_to,
        |    CASE WHEN sk IS NOT NULL AND same THEN CAST(1 AS BIGINT)
        |         ELSE CAST(0 AS BIGINT) END AS is_current
        |  FROM j WHERE hk IS NOT NULL),
        |out_new AS (
        |  SELECT sk AS c_custkey, s_name AS c_name, s_bal AS c_acctbal,
        |    CAST(100 AS BIGINT) AS valid_from, CAST(NULL AS BIGINT) AS valid_to,
        |    CAST(1 AS BIGINT) AS is_current
        |  FROM j WHERE sk IS NOT NULL AND (hk IS NULL OR NOT same))
        |SELECT * FROM hist_closed UNION ALL
        |SELECT * FROM out_old UNION ALL
        |SELECT * FROM out_new""".stripMargin,
    // s1 with the candidate side pre-filtered on metadata
    "s10_ann_filtered" ->
      s"""WITH probes AS (SELECT * FROM embeddings WHERE vec_id < 10),
         |cand AS (SELECT * FROM embeddings WHERE label < 5),
         |scored AS (
         | SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
         |   ${cosineSql("p.embedding", "c.embedding")} AS cosine
         | FROM cand c JOIN probes p ON c.vec_id != p.vec_id),
         |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY probe_id
         |        ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rnk FROM scored)
         |SELECT probe_id, neighbor_id, cosine, rnk FROM r WHERE rnk <= 5""".stripMargin,
    // mirrors TextAnalysis.qualityPrCurve: t2's quality chain + t12's keep
    // chain joined on the doc key, 21-threshold sweep, exact counts
    "t17_quality_pr" ->
      (WordsCte +
        s"""qb AS (SELECT doc_id,
           |  CAST(length(text) AS BIGINT) AS n_chars_actual,
           |  CAST(len(ws) AS BIGINT) AS n_words,
           |  CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS BIGINT) AS n_punct,
           |  ${markerSql("en")} AS n_stop
           |FROM documents JOIN words USING (doc_id)),
           |q AS (SELECT doc_id,
           |  least(n_words::DOUBLE / 50.0, 1.0) * 0.5
           |    + (1.0 - n_punct::DOUBLE / nullif(n_chars_actual, 0)) * 0.3
           |    + least((n_stop::DOUBLE / nullif(n_words, 0)) * 5.0, 1.0) * 0.2 AS quality
           |FROM qb),
           |gb AS (SELECT doc_id,
           |  CAST(len(ws) AS BIGINT) AS n_words,
           |  CAST(list_reduce(
           |    list_prepend(CAST(0 AS BIGINT),
           |      list_transform(ws, w -> CAST(length(w) AS BIGINT))),
           |    (a, b) -> a + b) AS BIGINT) AS sum_word_len,
           |  CAST(len(list_filter(ws, w -> regexp_matches(w, '[A-Za-z]'))) AS BIGINT)
           |    AS n_alpha_words,
           |  CAST(len(list_filter(ws, w -> contains(w, '#') OR contains(w, '...'))) AS BIGINT)
           |    AS n_symbol_words,
           |  CAST(len(list_distinct(list_filter(ws, w -> list_contains(${markerLists("en")}, w))))
           |    AS BIGINT) AS n_stop_distinct
           |FROM words),
           |g AS (SELECT doc_id,
           |  CAST(n_words BETWEEN 50 AND 100000
           |    AND sum_word_len::DOUBLE / nullif(n_words, 0) BETWEEN 3.0 AND 10.0
           |    AND n_symbol_words::DOUBLE / nullif(n_words, 0) < 0.1
           |    AND n_alpha_words::DOUBLE / nullif(n_words, 0) > 0.8
           |    AND n_stop_distinct >= 2 AS BIGINT) AS keep
           |FROM gb),
           |t AS (SELECT i / 20.0 AS tau FROM UNNEST(generate_series(0, 20)) s(i)),
           |j AS (SELECT quality, keep, tau FROM q JOIN g USING (doc_id) CROSS JOIN t),
           |cm AS (SELECT tau,
           |  CAST(sum(CASE WHEN quality >= tau AND keep = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
           |  CAST(sum(CASE WHEN quality >= tau AND keep = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
           |  CAST(sum(CASE WHEN quality < tau AND keep = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
           |  CAST(sum(CASE WHEN quality < tau AND keep = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn
           |FROM j GROUP BY tau)
           |SELECT tau, tp, fp, fn, tn,
           |  tp::DOUBLE / nullif((tp + fp)::DOUBLE, 0.0) AS prec,
           |  tp::DOUBLE / nullif((tp + fn)::DOUBLE, 0.0) AS rec
           |FROM cm ORDER BY tau""".stripMargin),
    "t1_lang_id" ->
      (WordsCte +
        s"""c AS (SELECT doc_id,
           |  ${markerSql("en")} AS n_en, ${markerSql("es")} AS n_es,
           |  ${markerSql("fr")} AS n_fr, ${markerSql("de")} AS n_de
           |FROM words)
           |SELECT doc_id, n_en, n_es, n_fr, n_de,
           |  CASE WHEN n_en + n_es + n_fr + n_de = 0 THEN 'und'
           |       WHEN n_en >= n_es AND n_en >= n_fr AND n_en >= n_de THEN 'en'
           |       WHEN n_es >= n_fr AND n_es >= n_de THEN 'es'
           |       WHEN n_fr >= n_de THEN 'fr' ELSE 'de' END AS lang_pred
           |FROM c""".stripMargin),
    "t2_quality_score" ->
      (WordsCte +
        s"""base AS (SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars_actual,
           |  CAST(len(ws) AS BIGINT) AS n_words,
           |  CAST(len(list_distinct(ws)) AS BIGINT) AS n_distinct_words,
           |  CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS BIGINT) AS n_punct,
           |  ${markerSql("en")} AS n_stop
           |FROM documents JOIN words USING (doc_id)),
           |r AS (SELECT *, n_distinct_words::DOUBLE / nullif(n_words, 0) AS rep_ratio,
           |        n_punct::DOUBLE / nullif(n_chars_actual, 0) AS punct_ratio,
           |        n_stop::DOUBLE / nullif(n_words, 0) AS stop_ratio FROM base)
           |SELECT doc_id, n_chars_actual, n_words, n_distinct_words, n_punct, n_stop,
           |  rep_ratio, punct_ratio, stop_ratio,
           |  least(n_words::DOUBLE / 50.0, 1.0) * 0.5 + (1.0 - punct_ratio) * 0.3
           |    + least(stop_ratio * 5.0, 1.0) * 0.2 AS quality
           |FROM r""".stripMargin),
    "t3_token_count" ->
      """SELECT doc_id,
        |  CAST(len(list_filter(string_split_regex(trim(text), '\s+'), x -> x != '')) AS BIGINT) AS n_words,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_bpeish,
        |  CAST(length(text) AS BIGINT) AS n_chars_actual
        |FROM documents""".stripMargin,
    // sequential replace() with single-char encodings IS the BPE apply
    // when every symbol renders as one character: rank order = nesting
    // order, leftmost non-overlapping both sides, token count = length
    "t19_bpe_count" ->
      """SELECT doc_id,
        |  CAST(COALESCE((SELECT sum(len(
        |      replace(replace(replace(replace(replace(w,
        |        'ab', chr(945)),
        |        't' || chr(945), chr(946)),
        |        'le', chr(947)),
        |        'sc', chr(948)),
        |        'ro', chr(949))))
        |   FROM unnest(regexp_split_to_array(lower(text), '\s+')) AS t(w)
        |   WHERE len(w) > 0), 0) AS BIGINT) AS n_tokens
        |FROM documents""".stripMargin,
    "t4_fingerprint" ->
      """SELECT doc_id,
        |  list_reduce(
        |    list_prepend(CAST(0 AS BIGINT),
        |      list_transform(generate_series(1, length(text)),
        |        i -> CAST(ord(substr(text, CAST(i AS INTEGER), 1)) AS BIGINT))),
        |    (h, cp) -> (h * 31 + cp) % 1000000000000037) AS fp,
        |  CAST(length(text) AS BIGINT) AS n_chars_actual
        |FROM documents""".stripMargin,
    "t5_pii_redact" ->
      s"""SELECT doc_id,
         |  CAST(len(regexp_extract_all(text, '$EmailRe')) AS BIGINT) AS n_emails,
         |  CAST(len(regexp_extract_all(text, '$PhoneRe')) AS BIGINT) AS n_phones,
         |  CAST(len(regexp_extract_all(text, '$Ipv4Re')) AS BIGINT) AS n_ips,
         |  regexp_replace(regexp_replace(regexp_replace(
         |    text, '$EmailRe', '<EMAIL>', 'g'), '$PhoneRe', '<PHONE>', 'g'),
         |    '$Ipv4Re', '<IP>', 'g') AS redacted
         |FROM documents""".stripMargin,
    "t6_top_bigrams" ->
      (WordsCte +
        """bg AS (SELECT s FROM words,
          |  UNNEST(list_transform(generate_series(1, len(ws) - 1),
          |    i -> ws[i] || ' ' || ws[i+1])) t(s)),
          |c AS (SELECT s AS bigram, count(*) AS n FROM bg GROUP BY 1)
          |SELECT bigram, n FROM c ORDER BY n DESC, bigram LIMIT 20""".stripMargin),
    "t7_vocab_stats" ->
      (WordsCte +
        """per AS (SELECT d.source, CAST(len(w.ws) AS BIGINT) AS n_words,
          |          CAST(length(d.text) AS BIGINT) AS n_chars
          |        FROM documents d JOIN words w USING (doc_id)),
          |tot AS (SELECT source, count(*) AS n_docs,
          |          CAST(sum(n_words) AS BIGINT) AS n_tokens,
          |          CAST(sum(n_chars) AS BIGINT) AS n_chars_total
          |        FROM per GROUP BY 1),
          |v AS (SELECT d.source, count(DISTINCT wd) AS n_vocab
          |      FROM documents d JOIN words w USING (doc_id),
          |        UNNEST(list_distinct(w.ws)) t(wd)
          |      GROUP BY 1)
          |SELECT source, n_docs, n_tokens, n_chars_total, n_vocab,
          |  CAST(n_vocab AS DOUBLE) / CAST(nullif(n_tokens, 0) AS DOUBLE) AS type_token_ratio
          |FROM tot JOIN v USING (source) ORDER BY source""".stripMargin),
    "t8_lm_score" ->
      (WordsCte +
        """bgd AS (SELECT doc_id, ws[i] AS w1, ws[i+1] AS w2
          |        FROM words, UNNEST(generate_series(1, len(ws) - 1)) t(i)),
          |model AS (SELECT w1, w2, count(*) AS n12 FROM bgd GROUP BY 1, 2),
          |starts AS (SELECT w1, count(*) AS n1 FROM bgd GROUP BY 1),
          |p AS (SELECT doc_id, CAST(n12 AS DOUBLE) / CAST(n1 AS DOUBLE) AS p
          |      FROM bgd JOIN model USING (w1, w2) JOIN starts USING (w1))
          |SELECT doc_id, count(*) AS n_bigrams,
          |  CAST(sum(CAST(p AS DECIMAL(18,12))) AS DOUBLE) / count(*) AS avg_p
          |FROM p GROUP BY 1""".stripMargin),
    "d8_dedup_normalized" ->
      """SELECT md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS norm_hash,
        |  min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM documents GROUP BY 1""".stripMargin,
    // sequential next-fit packing mirrored as a linear recursive CTE per
    // source (rn-ordered), over the same chunk relation as t9 (budget 120)
    "d14_sequence_pack" ->
      """WITH RECURSIVE words AS (
        |  SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), x -> x != '') AS ws
        |  FROM documents),
        |n AS (SELECT doc_id, ws, len(ws) AS n FROM words WHERE len(ws) > 0),
        |c AS (SELECT doc_id, ws,
        |        CAST(1 + (greatest(n - 50, 0) + 39) // 40 AS INTEGER) AS n_chunks
        |      FROM n),
        |ch AS (SELECT doc_id, CAST(k AS BIGINT) AS chunk_id,
        |         CAST(len(list_slice(ws, k * 40 + 1, k * 40 + 50)) AS BIGINT) AS tok
        |       FROM c, UNNEST(generate_series(0, n_chunks - 1)) t(k)),
        |sc AS MATERIALIZED (SELECT d.source, ch.doc_id, ch.chunk_id, ch.tok,
        |         row_number() OVER (PARTITION BY d.source
        |           ORDER BY ch.doc_id, ch.chunk_id) AS rn
        |       FROM ch JOIN documents d USING (doc_id)),
        |r AS (
        |  SELECT source, rn, tok, tok AS fill, CAST(0 AS BIGINT) AS pack
        |  FROM sc WHERE rn = 1
        |  UNION ALL
        |  SELECT c.source, c.rn, c.tok,
        |    CASE WHEN r.fill + c.tok <= 120 THEN r.fill + c.tok ELSE c.tok END,
        |    CASE WHEN r.fill + c.tok <= 120 THEN r.pack ELSE r.pack + 1 END
        |  FROM r JOIN sc c ON c.source = r.source AND c.rn = r.rn + 1)
        |SELECT source, pack AS pack_id, count(*) AS n_chunks,
        |  CAST(sum(tok) AS BIGINT) AS total_tokens
        |FROM r GROUP BY 1, 2""".stripMargin,
    "d13_decontaminate" ->
      (ShinglesCte +
        """corp AS (SELECT doc_id, s FROM sh WHERE doc_id % 4 != 0),
          |bench AS (SELECT doc_id AS bench_id, s FROM sh WHERE doc_id % 4 = 0),
          |nb AS (SELECT bench_id, count(*) AS n_bench FROM bench GROUP BY 1),
          |com AS (SELECT corp.doc_id, bench.bench_id, count(*) AS common
          |        FROM corp JOIN bench USING (s) GROUP BY 1, 2)
          |SELECT doc_id, bench_id, common, n_bench,
          |  common::DOUBLE / n_bench AS containment
          |FROM com JOIN nb USING (bench_id) WHERE common >= 5""".stripMargin),
    // chunk = 50 tokens, overlap = 10 → step 40; 1 + ceil(max(0, n-50)/40)
    // chunks per non-empty doc, list_slice is 1-based inclusive like Spark's
    // slice(start, length) with end = start + 50 - 1
    "t9_chunk_windows" ->
      (WordsCte +
        """n AS (SELECT doc_id, ws, len(ws) AS n FROM words WHERE len(ws) > 0),
          |c AS (SELECT doc_id, ws,
          |        CAST(1 + (greatest(n - 50, 0) + 39) // 40 AS INTEGER) AS n_chunks
          |      FROM n),
          |ch AS (SELECT doc_id, CAST(k AS BIGINT) AS chunk_id,
          |         list_slice(ws, k * 40 + 1, k * 40 + 50) AS chunk
          |       FROM c, UNNEST(generate_series(0, n_chunks - 1)) t(k))
          |SELECT doc_id, chunk_id, CAST(len(chunk) AS BIGINT) AS n_chunk_tokens,
          |  array_to_string(chunk, ' ') AS chunk_text
          |FROM ch""".stripMargin),
    "t11_repetition" ->
      (WordsCte +
        """g AS (
          |  SELECT doc_id, 2 AS n, gram FROM words,
          |    UNNEST(list_transform(generate_series(1, len(ws) - 1),
          |      i -> ws[i] || ' ' || ws[i+1])) t(gram)
          |  UNION ALL
          |  SELECT doc_id, 3 AS n, gram FROM words,
          |    UNNEST(list_transform(generate_series(1, len(ws) - 2),
          |      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) t(gram)),
          |c AS (SELECT doc_id, n, gram, count(*) AS cnt FROM g GROUP BY 1, 2, 3),
          |sh AS (SELECT doc_id, n,
          |         CAST(max(cnt) AS DOUBLE) / CAST(sum(cnt) AS DOUBLE) AS share
          |       FROM c GROUP BY 1, 2),
          |p AS (SELECT doc_id,
          |        max(CASE WHEN n = 2 THEN share END) AS top_bigram_share,
          |        max(CASE WHEN n = 3 THEN share END) AS top_trigram_share
          |      FROM sh GROUP BY 1),
          |base AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_words,
          |           CAST(len(list_distinct(ws)) AS BIGINT) AS n_distinct_words
          |         FROM words)
          |SELECT b.doc_id, b.n_words,
          |  1.0 - CAST(n_distinct_words AS DOUBLE) / CAST(nullif(n_words, 0) AS DOUBLE)
          |    AS dup_word_ratio,
          |  p.top_bigram_share, p.top_trigram_share,
          |  CAST(coalesce(top_bigram_share, 0.0) > 0.2
          |       OR coalesce(top_trigram_share, 0.0) > 0.2 AS INTEGER) AS repetitive
          |FROM base b LEFT JOIN p USING (doc_id)""".stripMargin),
    "t12_gopher_rules" ->
      (WordsCte +
        s"""base AS (SELECT doc_id,
           |  CAST(len(ws) AS BIGINT) AS n_words,
           |  CAST(list_reduce(
           |    list_prepend(CAST(0 AS BIGINT),
           |      list_transform(ws, w -> CAST(length(w) AS BIGINT))),
           |    (a, b) -> a + b) AS BIGINT) AS sum_word_len,
           |  CAST(len(list_filter(ws, w -> regexp_matches(w, '[A-Za-z]'))) AS BIGINT)
           |    AS n_alpha_words,
           |  CAST(len(list_filter(ws, w -> contains(w, '#') OR contains(w, '...'))) AS BIGINT)
           |    AS n_symbol_words,
           |  CAST(len(list_distinct(list_filter(ws, w -> list_contains(${markerLists("en")}, w))))
           |    AS BIGINT) AS n_stop_distinct
           |FROM words),
           |r AS (SELECT *,
           |  sum_word_len::DOUBLE / nullif(n_words, 0) AS mean_word_len,
           |  n_alpha_words::DOUBLE / nullif(n_words, 0) AS alpha_ratio,
           |  n_symbol_words::DOUBLE / nullif(n_words, 0) AS symbol_ratio
           |FROM base)
           |SELECT doc_id, n_words, sum_word_len, n_alpha_words, n_symbol_words,
           |  n_stop_distinct, mean_word_len, alpha_ratio, symbol_ratio,
           |  CAST(n_words BETWEEN 50 AND 100000
           |    AND mean_word_len BETWEEN 3.0 AND 10.0
           |    AND symbol_ratio < 0.1 AND alpha_ratio > 0.8
           |    AND n_stop_distinct >= 2 AS BIGINT) AS keep
           |FROM r""".stripMargin),
    // t12's signal CTEs + a per-source conditional aggregation; null
    // signals count as failures via the same coalesce(…, FALSE) discipline
    // per-source KL vs corpus on the dense (source × bucket) grid; every
    // number mirrors the engine's exact expression tree (1e-6 ln grid,
    // 1e-9 term grid, exact BIGINT sum)
    "t20_dist_drift" ->
      """WITH toks AS (
        |  SELECT source,
        |    unnest(list_filter(string_split_regex(trim(text), '\s+'), x -> x != '')) AS w
        |  FROM documents),
        |b AS (
        |  SELECT source, CAST('0x' || substr(md5(w), 1, 15) AS BIGINT) % 4096 AS bkt
        |  FROM toks),
        |sb AS (SELECT source, bkt, count(*) AS c_sb FROM b GROUP BY 1, 2),
        |g AS (SELECT bkt, sum(c_sb) AS c_b FROM sb GROUP BY 1),
        |st AS (SELECT source, sum(c_sb) AS n_s FROM sb GROUP BY 1),
        |t AS (SELECT sum(c_b) AS n FROM g),
        |grid AS (
        |  SELECT st.source, st.n_s, gs.b AS bkt
        |  FROM st CROSS JOIN (SELECT unnest(range(0, 4096)) AS b) gs),
        |j AS (
        |  SELECT grid.source, grid.n_s, grid.bkt,
        |    COALESCE(sb.c_sb, 0) AS c_sb, COALESCE(g.c_b, 0) AS c_b
        |  FROM grid LEFT JOIN sb ON sb.source = grid.source AND sb.bkt = grid.bkt
        |  LEFT JOIN g ON g.bkt = grid.bkt),
        |term AS (
        |  SELECT source, n_s,
        |    CAST(floor(
        |      (CAST(c_sb + 1 AS DOUBLE) / (CAST(n_s AS DOUBLE) + 4096.0))
        |      * (floor(ln((CAST(c_sb + 1 AS DOUBLE) * (CAST(n AS DOUBLE) + 4096.0))
        |           / ((CAST(n_s AS DOUBLE) + 4096.0) * CAST(c_b + 1 AS DOUBLE)))
        |         * 1000000.0 + 0.5) / 1000000.0)
        |      * 1000000000.0 + 0.5) AS BIGINT) AS tq
        |  FROM j, t)
        |SELECT source, CAST(n_s AS BIGINT) AS n_tokens,
        |  CAST(sum(tq) AS DOUBLE) / 1000000000.0 AS kl_vs_corpus
        |FROM term GROUP BY 1, 2
        |ORDER BY source""".stripMargin,
    "t18_quality_funnel" ->
      (WordsCte +
        s"""base AS (SELECT doc_id,
           |  CAST(len(ws) AS BIGINT) AS n_words,
           |  CAST(list_reduce(
           |    list_prepend(CAST(0 AS BIGINT),
           |      list_transform(ws, w -> CAST(length(w) AS BIGINT))),
           |    (a, b) -> a + b) AS BIGINT) AS sum_word_len,
           |  CAST(len(list_filter(ws, w -> regexp_matches(w, '[A-Za-z]'))) AS BIGINT)
           |    AS n_alpha_words,
           |  CAST(len(list_filter(ws, w -> contains(w, '#') OR contains(w, '...'))) AS BIGINT)
           |    AS n_symbol_words,
           |  CAST(len(list_distinct(list_filter(ws, w -> list_contains(${markerLists("en")}, w))))
           |    AS BIGINT) AS n_stop_distinct
           |FROM words),
           |r AS (SELECT *,
           |  sum_word_len::DOUBLE / nullif(n_words, 0) AS mean_word_len,
           |  n_alpha_words::DOUBLE / nullif(n_words, 0) AS alpha_ratio,
           |  n_symbol_words::DOUBLE / nullif(n_words, 0) AS symbol_ratio
           |FROM base),
           |f AS (SELECT r.*, d.source FROM r JOIN documents d USING (doc_id)),
           |g AS (SELECT source,
           |  count(*) AS n_docs,
           |  CAST(sum(CAST(n_words BETWEEN 50 AND 100000
           |    AND mean_word_len BETWEEN 3.0 AND 10.0
           |    AND symbol_ratio < 0.1 AND alpha_ratio > 0.8
           |    AND n_stop_distinct >= 2 AS BIGINT)) AS BIGINT) AS n_pass,
           |  CAST(sum(CASE WHEN NOT coalesce(n_words BETWEEN 50 AND 100000, FALSE)
           |    THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_words,
           |  CAST(sum(CASE WHEN NOT coalesce(mean_word_len BETWEEN 3.0 AND 10.0, FALSE)
           |    THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_wordlen,
           |  CAST(sum(CASE WHEN NOT coalesce(symbol_ratio < 0.1, FALSE)
           |    THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_symbol,
           |  CAST(sum(CASE WHEN NOT coalesce(alpha_ratio > 0.8, FALSE)
           |    THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_alpha,
           |  CAST(sum(CASE WHEN NOT coalesce(n_stop_distinct >= 2, FALSE)
           |    THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_stop
           |FROM f GROUP BY source)
           |SELECT *, n_pass::DOUBLE / n_docs::DOUBLE AS pass_rate FROM g""".stripMargin),
    "d15_stratified_split" ->
      """WITH r AS (
        |  SELECT source, doc_id,
        |    CAST(row_number() OVER (PARTITION BY source
        |      ORDER BY CAST('0x' || substr(md5('graft-split:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT),
        |               doc_id) AS BIGINT) AS rnk,
        |    count(*) OVER (PARTITION BY source) AS n_in_stratum
        |  FROM documents)
        |SELECT source, doc_id, rnk, n_in_stratum,
        |  CASE WHEN rnk <= ceil(n_in_stratum * 0.8) THEN 'train'
        |       WHEN rnk <= ceil(n_in_stratum * 0.8) + ceil(n_in_stratum * 0.1) THEN 'val'
        |       ELSE 'test' END AS split
        |FROM r""".stripMargin,
    "d16_token_budget" ->
      """WITH b(source, budget) AS (VALUES
        |  ('src0', 3000), ('src1', 2000), ('src2', 1000), ('src3', 500)),
        |p AS (
        |  SELECT d.source, doc_id,
        |    CAST(len(list_filter(string_split_regex(trim(text), '\s+'), x -> x != '')) AS BIGINT)
        |      AS n_words,
        |    CAST('0x' || substr(md5('graft:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
        |      AS priority,
        |    CAST(budget AS BIGINT) AS budget
        |  FROM documents d JOIN b USING (source)),
        |r AS (SELECT *, CAST(sum(n_words) OVER (PARTITION BY source
        |        ORDER BY priority, doc_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
        |      FROM p)
        |SELECT source, doc_id, n_words, cum_tokens, budget FROM r
        |WHERE cum_tokens <= budget""".stripMargin,
    // d16's budget mixture with the t19 BPE oracle as the token counter
    "d28_bpe_budget" ->
      """WITH b(source, budget) AS (VALUES
        |  ('src0', 3000), ('src1', 2000), ('src2', 1000), ('src3', 500)),
        |p AS (
        |  SELECT d.source, doc_id,
        |    CAST(COALESCE((SELECT sum(len(
        |        replace(replace(replace(replace(replace(w,
        |          'ab', chr(945)),
        |          't' || chr(945), chr(946)),
        |          'le', chr(947)),
        |          'sc', chr(948)),
        |          'ro', chr(949))))
        |     FROM unnest(regexp_split_to_array(lower(text), '\s+')) AS t(w)
        |     WHERE len(w) > 0), 0) AS BIGINT) AS n_words,
        |    CAST('0x' || substr(md5('graft:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
        |      AS priority,
        |    CAST(budget AS BIGINT) AS budget
        |  FROM documents d JOIN b USING (source)),
        |r AS (SELECT *, CAST(sum(n_words) OVER (PARTITION BY source
        |        ORDER BY priority, doc_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
        |      FROM p)
        |SELECT source, doc_id, n_words, cum_tokens, budget FROM r
        |WHERE cum_tokens <= budget""".stripMargin,
    "d17_snapshot_diff" ->
      """WITH oldsnap AS (
        |  SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % 3 <> 0),
        |newsnap AS (
        |  SELECT doc_id,
        |    md5(CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END) AS h
        |  FROM documents WHERE doc_id % 5 <> 0)
        |SELECT doc_id,
        |  CASE WHEN o.h IS NULL THEN 'added'
        |       WHEN n.h IS NULL THEN 'removed'
        |       ELSE 'changed' END AS change
        |FROM oldsnap o FULL OUTER JOIN newsnap n USING (doc_id)
        |WHERE o.h IS NULL OR n.h IS NULL OR o.h <> n.h""".stripMargin,
    "p2_table_profile" ->
      """SELECT 'doc_id' AS col_name, count(*) AS n_rows,
        |  count(*) - count(doc_id) AS n_nulls, count(DISTINCT doc_id) AS n_distinct,
        |  CAST(min(doc_id) AS DOUBLE) AS min_num, CAST(max(doc_id) AS DOUBLE) AS max_num,
        |  CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str
        |FROM documents
        |UNION ALL
        |SELECT 'lang', count(*), count(*) - count(lang), count(DISTINCT lang),
        |  CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), min(lang), max(lang)
        |FROM documents
        |UNION ALL
        |SELECT 'n_chars', count(*), count(*) - count(n_chars), count(DISTINCT n_chars),
        |  CAST(min(n_chars) AS DOUBLE), CAST(max(n_chars) AS DOUBLE),
        |  CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)
        |FROM documents
        |UNION ALL
        |SELECT 'source', count(*), count(*) - count(source), count(DISTINCT source),
        |  CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), min(source), max(source)
        |FROM documents
        |UNION ALL
        |SELECT 'text', count(*), count(*) - count(text), count(DISTINCT text),
        |  CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), min(text), max(text)
        |FROM documents""".stripMargin,
    "s7_quantize_int8" ->
      """WITH s AS (
        |  SELECT vec_id, embedding,
        |    CAST(list_aggregate(list_transform(embedding, x -> abs(x)), 'max') AS DOUBLE)
        |      / 127.0 AS scale
        |  FROM embeddings)
        |SELECT vec_id, scale,
        |  array_to_string(list_transform(embedding, x ->
        |    CAST(CASE WHEN scale = 0.0 THEN 0.0
        |         ELSE least(127.0, greatest(-127.0, round(CAST(x AS DOUBLE) / scale))) END
        |      AS INTEGER)), ',') AS q_csv,
        |  CAST(list_aggregate(list_transform(embedding, x ->
        |    CAST(abs(CAST(x AS DOUBLE)
        |             - (CASE WHEN scale = 0.0 THEN 0.0
        |                ELSE least(127.0, greatest(-127.0, round(CAST(x AS DOUBLE) / scale))) END)
        |               * scale) AS DECIMAL(18,12))), 'sum') AS DOUBLE)
        |    / len(embedding) AS mean_abs_err
        |FROM s""".stripMargin,
    "d11_mixture_sample" ->
      """WITH q(source, quota) AS (VALUES
        |  ('src0', 16), ('src1', 12), ('src2', 8), ('src3', 4)),
        |p AS (SELECT d.source, doc_id,
        |        CAST('0x' || substr(md5('graft:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS priority,
        |        CAST(quota AS BIGINT) AS quota
        |      FROM documents d JOIN q USING (source)),
        |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY source
        |        ORDER BY priority, doc_id) AS BIGINT) AS rnk FROM p)
        |SELECT source, doc_id, priority, rnk, quota FROM r WHERE rnk <= quota""".stripMargin,
    // d3's oracle with the pair condition swapped to cross-side only
    // (corpus = even doc_ids, delta = odd)
    "d12_dedup_minhash_incr" ->
      (ShinglesCte +
        """cnt AS (SELECT doc_id, count(*) n FROM sh GROUP BY 1),
          |mh AS (SELECT doc_id, i,
          |        min(CAST(((CAST((CAST('0x'||substr(md5('a:'||i),1,15) AS BIGINT) | 1) AS HUGEINT)
          |                   * s
          |                   + CAST('0x'||substr(md5('b:'||i),1,15) AS BIGINT))
          |                  % 2305843009213693951) AS BIGINT)) AS mh
          |       FROM sh CROSS JOIN generate_series(0, 11) t(i) GROUP BY doc_id, i),
          |sig AS (SELECT doc_id, i // 4 AS band, string_agg(i || ':' || mh, ',' ORDER BY i) AS sig
          |        FROM mh GROUP BY doc_id, i // 4),
          |cand AS (SELECT DISTINCT a.doc_id corpus_id, b.doc_id delta_id
          |         FROM sig a JOIN sig b ON a.band = b.band AND a.sig = b.sig
          |           AND a.doc_id % 2 = 0 AND b.doc_id % 2 = 1),
          |com AS (SELECT c.corpus_id, c.delta_id, count(*) AS common
          |        FROM cand c JOIN sh sa ON sa.doc_id = c.corpus_id
          |        JOIN sh sb ON sb.doc_id = c.delta_id AND sb.s = sa.s
          |        GROUP BY 1, 2)
          |SELECT corpus_id, delta_id, common, ca.n AS n_corpus, cb.n AS n_delta,
          |  common::DOUBLE / (ca.n + cb.n - common) AS jaccard
          |FROM com JOIN cnt ca ON ca.doc_id = corpus_id JOIN cnt cb ON cb.doc_id = delta_id
          |WHERE common::DOUBLE / (ca.n + cb.n - common) >= 0.5""".stripMargin),
    "d9_weighted_sample" ->
      """WITH b AS (
        |  SELECT source, doc_id,
        |    CAST(len(list_filter(string_split_regex(trim(text), '\s+'), x -> x != '')) AS BIGINT) AS n_words,
        |    CAST('0x' || substr(md5('graft:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS h
        |  FROM documents),
        |p AS (SELECT source, doc_id, n_words,
        |        -ln((CAST(h AS DOUBLE) + 1.0) / 1152921504606846976.0)
        |          / CAST(greatest(n_words, 1) AS DOUBLE) AS priority
        |      FROM b),
        |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY source
        |        ORDER BY priority, doc_id) AS BIGINT) AS rnk FROM p)
        |SELECT source, doc_id, n_words, rnk FROM r WHERE rnk <= 5""".stripMargin,
    "s2_ann_lsh" -> s2OracleSql,
    "s6_hard_negatives" ->
      s"""WITH probes AS (SELECT * FROM embeddings WHERE vec_id < 10),
         |scored AS (
         | SELECT p.vec_id AS probe_id, p.label AS probe_label,
         |   c.vec_id AS neighbor_id, c.label AS cand_label,
         |   ${cosineSql("p.embedding", "c.embedding")} AS cosine
         | FROM embeddings c JOIN probes p ON c.label != p.label),
         |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY probe_id
         |        ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rnk FROM scored)
         |SELECT probe_id, probe_label, neighbor_id, cand_label, cosine, rnk
         |FROM r WHERE rnk <= 5""".stripMargin,
    // mirrors Multimodal.asMixed/binaryMeta: per-modality container size
    // from the format-real writers (WAV: 44-byte header + 2 bytes/sample;
    // BMP: 54-byte headers + stride-96 rows; raw: the UTF-8 bytes) and the
    // magic-byte sniff (raw TEXT payloads are sniffed too — a doc that
    // happens to start with a container magic is reported as that format,
    // exactly what byte-level sniffing means)
    "mm1_binary_meta" ->
      """SELECT doc_id,
        |  CASE CAST(doc_id % 3 AS INTEGER)
        |    WHEN 0 THEN 44 + 2 * CAST(length(text) AS BIGINT)
        |    WHEN 1 THEN 54 + 96 * greatest(CAST(1 AS BIGINT),
        |      (CAST(length(text) AS BIGINT) + 31) // 32)
        |    ELSE CAST(octet_length(encode(text)) AS BIGINT)
        |  END AS byte_len,
        |  CASE
        |    WHEN doc_id % 3 = 0 THEN 'audio/x-wav'
        |    WHEN doc_id % 3 = 1 THEN 'image/bmp'
        |    WHEN octet_length(encode(text)) >= 12 AND substr(text, 1, 4) = 'RIFF'
        |      AND substr(text, 9, 4) = 'WAVE' THEN 'audio/x-wav'
        |    WHEN octet_length(encode(text)) >= 2 AND substr(text, 1, 2) = 'BM'
        |      THEN 'image/bmp'
        |    ELSE 'application/octet-stream'
        |  END AS mime,
        |  source
        |FROM documents""".stripMargin,
    // mirrors Multimodal.textToSamples/wavSignalFeatures: one s16 sample
    // per code point, duration from the 8 kHz mono writer, RMS / peak /
    // zero-crossing count as the same exact-integer folds over the samples
    "mm2_feature_extract" ->
      """WITH s AS (
        |  SELECT doc_id, CAST(length(text) AS BIGINT) AS n,
        |    list_transform(generate_series(1, CAST(length(text) AS INTEGER)),
        |      i -> ((ord(substr(text, i, 1)) % 256) - 128) * 256) AS smp
        |  FROM documents)
        |SELECT doc_id,
        |  n AS n_samples,
        |  CAST(n AS DOUBLE) / 8000.0 AS f_duration,
        |  CASE WHEN n = 0 THEN 0.0
        |       ELSE sqrt(list_reduce(list_prepend(0.0::DOUBLE,
        |         list_transform(smp, x -> CAST(x AS DOUBLE) * x)),
        |         (a, v) -> a + v) / n) END AS f_rms,
        |  CASE WHEN n = 0 THEN 0.0
        |       ELSE CAST(list_max(list_transform(smp, x -> abs(x))) AS DOUBLE) END AS f_peak,
        |  CAST(coalesce(list_sum(list_transform(generate_series(2, CAST(n AS INTEGER)),
        |    i -> CASE WHEN smp[i] * smp[i - 1] < 0 THEN 1 ELSE 0 END)), 0) AS BIGINT)
        |    AS n_zero_cross
        |FROM s""".stripMargin,
    // mirrors Multimodal.samplePages: page k = bytes [k*64, k*64+16) of the
    // payload, summary = byte sum mod 256
    "mm3_page_sample" ->
      """WITH b AS (
        |  SELECT doc_id, hex(encode(text)) AS hx,
        |    CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
        |  FROM documents),
        |f AS (SELECT doc_id, CAST(k AS BIGINT) AS page_idx,
        |        CAST(k * 64 AS BIGINT) AS page_offset,
        |        least(CAST(16 AS BIGINT), n_bytes - k * 64) AS page_len,
        |        hx
        |      FROM b, UNNEST(generate_series(0, CAST((n_bytes - 1) // 64 AS INTEGER))) t(k)
        |      WHERE n_bytes > 0)
        |SELECT doc_id, page_idx, page_offset, page_len,
        |  CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_transform(generate_series(1, CAST(page_len AS INTEGER)),
        |      i -> CAST('0x' || substr(hx, CAST(2 * (page_offset + i) - 1 AS INTEGER), 2) AS BIGINT))),
        |    (a, v) -> a + v) % 256 AS DOUBLE) AS page_sum_mod
        |FROM f""".stripMargin,
    // mirrors Multimodal.textToSamples/decodeWavPcm16: one s16 sample per
    // code point, header constants from the 8 kHz mono writer, RMS as the
    // same exact-integer sum-of-squares fold
    "mm4_wav_decode" ->
      """WITH s AS (
        |  SELECT doc_id, CAST(length(text) AS BIGINT) AS n,
        |    list_transform(generate_series(1, CAST(length(text) AS INTEGER)),
        |      i -> ((ord(substr(text, i, 1)) % 256) - 128) * 256) AS smp
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(1 AS BIGINT) AS channels,
        |  CAST(8000 AS BIGINT) AS sample_rate,
        |  CAST(16 AS BIGINT) AS bits,
        |  n AS n_samples,
        |  CAST(n AS DOUBLE) / 8000.0 AS duration_sec,
        |  CASE WHEN n = 0 THEN 0.0
        |       ELSE sqrt(list_reduce(list_prepend(0.0::DOUBLE,
        |         list_transform(smp, x -> CAST(x AS DOUBLE) * x)),
        |         (a, v) -> a + v) / n) END AS rms
        |FROM s""".stripMargin,
    // mirrors Multimodal.textToPixels/decodeBmp: one luminance pixel per
    // code point at fixed width 32, final row zero-padded (those pixels
    // count toward n_pixels with zero luminance), mean over 3 equal
    // channels = channel-sum / (3 * n_pixels)
    // same zero-padded fixed-width luminance layout as mm5, one grayscale
    // channel: mean = pixel sum / (32 * height) — the PNG compression and
    // filtering must reconstruct the exact bytes for this to hash-match
    "mm7_png_decode" ->
      """WITH s AS (
        |  SELECT doc_id, CAST(length(text) AS BIGINT) AS n,
        |    list_transform(generate_series(1, CAST(length(text) AS INTEGER)),
        |      i -> ord(substr(text, i, 1)) % 256) AS px
        |  FROM documents),
        |d AS (
        |  SELECT doc_id,
        |    greatest(CAST(1 AS BIGINT), (n + 31) // 32) AS h,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT), px), (a, v) -> a + v) AS lum
        |  FROM s)
        |SELECT doc_id,
        |  CAST(32 AS BIGINT) AS width,
        |  h AS height,
        |  CAST(8 AS BIGINT) AS bit_depth,
        |  CAST(0 AS BIGINT) AS color_type,
        |  32 * h AS n_pixels,
        |  CAST(lum AS DOUBLE) / CAST(32 * h AS DOUBLE) AS mean_lum
        |FROM d""".stripMargin,
    "mm5_bmp_decode" ->
      """WITH s AS (
        |  SELECT doc_id, CAST(length(text) AS BIGINT) AS n,
        |    list_transform(generate_series(1, CAST(length(text) AS INTEGER)),
        |      i -> ord(substr(text, i, 1)) % 256) AS px
        |  FROM documents),
        |d AS (
        |  SELECT doc_id,
        |    greatest(CAST(1 AS BIGINT), (n + 31) // 32) AS h,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT), px), (a, v) -> a + v) AS lum
        |  FROM s)
        |SELECT doc_id,
        |  CAST(32 AS BIGINT) AS width,
        |  h AS height,
        |  CAST(24 AS BIGINT) AS bpp,
        |  32 * h AS n_pixels,
        |  CAST(3 * lum AS DOUBLE) / (3.0 * (32 * h)) AS mean_lum
        |FROM d""".stripMargin,
    // mirrors Multimodal.textToPixels/encodeAvi/demuxAvi: 8x8 frames page
    // through the luminance stream (64 px per frame, final frame
    // zero-padded), stride 24 -> 192 channel bytes per frame, channel sum
    // = 3x the pixel-slice sum
    "mm6_avi_frames" ->
      """WITH s AS (
        |  SELECT doc_id, CAST(length(text) AS BIGINT) AS n,
        |    list_transform(generate_series(1, CAST(length(text) AS INTEGER)),
        |      i -> ord(substr(text, i, 1)) % 256) AS px
        |  FROM documents),
        |d AS (
        |  SELECT doc_id, px,
        |    greatest(CAST(1 AS BIGINT), (n + 63) // 64) AS nf
        |  FROM s),
        |f AS (
        |  SELECT doc_id, px, nf, CAST(k AS BIGINT) AS frame_idx
        |  FROM d, UNNEST(generate_series(0, CAST(nf - 1 AS INTEGER))) t(k))
        |SELECT doc_id, frame_idx,
        |  CAST(8 AS BIGINT) AS width,
        |  CAST(8 AS BIGINT) AS height,
        |  25.0 AS fps,
        |  nf AS n_frames,
        |  CAST(192 AS BIGINT) AS frame_bytes,
        |  CAST(3 * list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_slice(px, CAST(frame_idx * 64 + 1 AS INTEGER),
        |        CAST((frame_idx + 1) * 64 AS INTEGER))),
        |    (a, v) -> a + v) AS DOUBLE) / 192.0 AS frame_mean_lum
        |FROM f""".stripMargin,
    // mirrors Curate.dsirSample: unigram buckets via the portable md5 hash,
    // Laplace-smoothed log importance quantized to exact integers
    // (floor(ln·1e6 + 0.5)), doc score = exact BIGINT sum / 1e6
    "d22_dsir_sample" ->
      """WITH toks AS (
        |  SELECT doc_id, source,
        |    unnest(list_filter(string_split_regex(trim(text), '\s+'), x -> x != '')) AS w
        |  FROM documents),
        |b AS (
        |  SELECT doc_id, source,
        |    CAST('0x' || substr(md5(w), 1, 15) AS BIGINT) % 4096 AS bkt
        |  FROM toks),
        |model AS (
        |  SELECT bkt, count(*) AS nr,
        |    sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS nt
        |  FROM b GROUP BY 1),
        |tot AS (SELECT sum(nr) AS dr, sum(nt) AS dt FROM model),
        |scored AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |    CAST(sum(CAST(floor(ln(
        |        (CAST(nt + 1 AS DOUBLE) * CAST(dr + 4096 AS DOUBLE)) /
        |        (CAST(nr + 1 AS DOUBLE) * CAST(dt + 4096 AS DOUBLE)))
        |      * 1e6 + 0.5) AS BIGINT)) AS DOUBLE) / 1e6 AS dsir_score
        |  FROM b JOIN model USING (bkt), tot
        |  GROUP BY doc_id),
        |r AS (SELECT *, CAST(row_number() OVER (
        |        ORDER BY dsir_score DESC, doc_id) AS BIGINT) AS rnk FROM scored)
        |SELECT doc_id, n_tokens, dsir_score, rnk FROM r WHERE rnk <= 100""".stripMargin,
    // mirrors Curate.dsirBudgetSample: d22's scoring CTEs, then the d16
    // budget window ordered by importance instead of the hash priority
    "d24_dsir_budget" ->
      """WITH toks AS (
        |  SELECT doc_id, source,
        |    unnest(list_filter(string_split_regex(trim(text), '\s+'), x -> x != '')) AS w
        |  FROM documents),
        |b AS (
        |  SELECT doc_id, source,
        |    CAST('0x' || substr(md5(w), 1, 15) AS BIGINT) % 4096 AS bkt
        |  FROM toks),
        |model AS (
        |  SELECT bkt, count(*) AS nr,
        |    sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS nt
        |  FROM b GROUP BY 1),
        |tot AS (SELECT sum(nr) AS dr, sum(nt) AS dt FROM model),
        |scored AS (
        |  SELECT doc_id, source, CAST(count(*) AS BIGINT) AS n_tokens,
        |    CAST(sum(CAST(floor(ln(
        |        (CAST(nt + 1 AS DOUBLE) * CAST(dr + 4096 AS DOUBLE)) /
        |        (CAST(nr + 1 AS DOUBLE) * CAST(dt + 4096 AS DOUBLE)))
        |      * 1e6 + 0.5) AS BIGINT)) AS DOUBLE) / 1e6 AS dsir_score
        |  FROM b JOIN model USING (bkt), tot
        |  GROUP BY doc_id, source),
        |bud(source, budget) AS (VALUES
        |  ('src0', 3000), ('src1', 2000), ('src2', 1000), ('src3', 500)),
        |r AS (
        |  SELECT s.source, doc_id, n_tokens, dsir_score,
        |    CAST(sum(n_tokens) OVER (PARTITION BY s.source
        |      ORDER BY dsir_score DESC, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens,
        |    CAST(budget AS BIGINT) AS budget
        |  FROM scored s JOIN bud USING (source))
        |SELECT source, doc_id, n_tokens, dsir_score, cum_tokens, budget
        |FROM r WHERE cum_tokens <= budget""".stripMargin,
    // mirrors Dedup.stripDuplicatePassages: t13's gram CTE finds the
    // duplicated passages, the transform strips every covered token
    "d23_strip_dup_passages" ->
      (WordsCte +
        """g AS (SELECT doc_id, i AS pos, array_to_string(list_slice(ws, i, i + 7), ' ') AS passage
          |      FROM words, UNNEST(generate_series(1, len(ws) - 7)) t(i)
          |      WHERE len(ws) >= 8),
          |pd AS (SELECT passage, doc_id FROM g GROUP BY 1, 2),
          |dup AS (SELECT passage FROM pd GROUP BY 1 HAVING count(*) >= 2),
          |m AS (SELECT g.doc_id, g.pos FROM g JOIN dup USING (passage)),
          |cov AS (SELECT doc_id, tp FROM m, UNNEST(generate_series(pos, pos + 7)) c(tp) GROUP BY 1, 2),
          |spans AS (SELECT doc_id, count(*) AS n_dup_spans FROM m GROUP BY 1),
          |covn AS (SELECT doc_id, count(*) AS n_removed FROM cov GROUP BY 1),
          |kept AS (
          |  SELECT w.doc_id, p AS pos, ws[p] AS tok
          |  FROM words w, UNNEST(generate_series(1, len(ws))) t(p)
          |  WHERE NOT EXISTS (SELECT 1 FROM cov WHERE cov.doc_id = w.doc_id AND cov.tp = p)),
          |clean AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean_text
          |          FROM kept GROUP BY 1)
          |SELECT w.doc_id,
          |  COALESCE(spans.n_dup_spans, 0) AS n_dup_spans,
          |  COALESCE(covn.n_removed, 0) AS n_tokens_removed,
          |  COALESCE(clean.clean_text, '') AS clean_text
          |FROM words w
          |LEFT JOIN spans USING (doc_id)
          |LEFT JOIN covn USING (doc_id)
          |LEFT JOIN clean USING (doc_id)
          |ORDER BY doc_id""".stripMargin),
    "d4b_simhash_pairs" ->
      (SimhashCandCte +
        """SELECT doc_a, doc_b, sh_a, sh_b,
          |  CAST(bit_count(xor(sh_a, sh_b)) AS INTEGER) AS hamming
          |FROM cand WHERE bit_count(xor(sh_a, sh_b)) <= 3""".stripMargin),
    "d19_fuzzy_verify" ->
      (SimhashCandCte +
        """, pair AS (
          |  SELECT doc_a, doc_b, CAST(bit_count(xor(sh_a, sh_b)) AS INTEGER) AS hamming
          |  FROM cand WHERE bit_count(xor(sh_a, sh_b)) <= 3)
          |SELECT p.doc_a, p.doc_b, p.hamming,
          |  CAST(levenshtein(substr(da.text, 1, 80), substr(db.text, 1, 80)) AS INTEGER)
          |    AS edit_dist
          |FROM pair p
          |JOIN documents da ON p.doc_a = da.doc_id
          |JOIN documents db ON p.doc_b = db.doc_id
          |WHERE levenshtein(substr(da.text, 1, 80), substr(db.text, 1, 80)) <= 20
          |ORDER BY doc_a, doc_b""".stripMargin),
    "d7_sample_per_source" ->
      """SELECT source, doc_id, priority, rnk FROM (
        |  SELECT source, doc_id,
        |    CAST('0x' || substr(md5('graft:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS priority,
        |    CAST(row_number() OVER (PARTITION BY source
        |      ORDER BY CAST('0x' || substr(md5('graft:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT),
        |               doc_id) AS BIGINT) AS rnk
        |  FROM documents) t WHERE rnk <= 5""".stripMargin,
    // the composed pipeline: p1's gate CTEs feed d23's strip CTEs feed
    // d25's recursive clustering (over the restricted embeddings) feed
    // d24's scoring/budget CTEs feed d14's recursive packing — each block
    // token-identical to its stage's own verified oracle, re-rooted on the
    // previous block's output instead of the raw table
    // one-shot equivalent of the three-batch incremental build: the
    // survivor per content hash is min by (batch, doc_id) over the
    // quality-gated docs — first batch wins, then lowest doc_id
    "p10_incremental_curate" ->
      s"""WITH base AS (
        | SELECT doc_id, source, text,
        |   CAST(length(text) AS BIGINT) AS n_chars_actual,
        |   CAST(len(list_filter(string_split_regex(trim(text), '\\s+'), x -> x != '')) AS BIGINT) AS n_words,
        |   CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS BIGINT) AS n_punct,
        |   CAST(len(list_filter(string_split_regex(trim(text), '\\s+'),
        |     x -> x != '' AND list_contains(['the','and','of','to','a','in'], x))) AS BIGINT) AS n_stop
        | FROM documents),
        |rq AS (SELECT *, n_punct::DOUBLE / nullif(n_chars_actual, 0) AS punct_ratio,
        |        n_stop::DOUBLE / nullif(n_words, 0) AS stop_ratio FROM base),
        |q AS (SELECT *,
        |  least(n_words::DOUBLE / 50.0, 1.0) * 0.5 + (1.0 - punct_ratio) * 0.3
        |    + least(stop_ratio * 5.0, 1.0) * 0.2 AS quality FROM rq),
        |keptq AS (SELECT doc_id, source, text FROM q WHERE quality >= 0.5),
        |r AS (SELECT *, row_number() OVER (PARTITION BY md5(text)
        |        ORDER BY doc_id % 3, doc_id) AS rn FROM keptq)
        |SELECT doc_id, source, text FROM r WHERE rn = 1""".stripMargin,
    "p8_full_curate" ->
      s"""WITH RECURSIVE base AS (
        | SELECT doc_id, source, text,
        |   CAST(length(text) AS BIGINT) AS n_chars_actual,
        |   CAST(len(list_filter(string_split_regex(trim(text), '\\s+'), x -> x != '')) AS BIGINT) AS n_words,
        |   CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS BIGINT) AS n_punct,
        |   CAST(len(list_filter(string_split_regex(trim(text), '\\s+'),
        |     x -> x != '' AND list_contains(['the','and','of','to','a','in'], x))) AS BIGINT) AS n_stop
        | FROM documents),
        |rq AS (SELECT *, n_punct::DOUBLE / nullif(n_chars_actual, 0) AS punct_ratio,
        |        n_stop::DOUBLE / nullif(n_words, 0) AS stop_ratio FROM base),
        |q AS (SELECT *,
        |  least(n_words::DOUBLE / 50.0, 1.0) * 0.5 + (1.0 - punct_ratio) * 0.3
        |    + least(stop_ratio * 5.0, 1.0) * 0.2 AS quality FROM rq),
        |keptq AS MATERIALIZED (SELECT doc_id, source, text FROM q WHERE quality >= 0.5),
        |surv AS (SELECT md5(text) AS h, min(doc_id) AS doc_id FROM keptq GROUP BY 1),
        |gated AS MATERIALIZED (SELECT k.doc_id, k.source, k.text FROM keptq k JOIN surv USING (doc_id)),
        |words AS MATERIALIZED (SELECT doc_id, list_filter(string_split_regex(trim(text), '\\s+'), x -> x != '') AS ws
        |          FROM gated),
        |pg AS MATERIALIZED (SELECT doc_id, i AS pos, array_to_string(list_slice(ws, i, i + 7), ' ') AS passage
        |       FROM words, UNNEST(generate_series(1, len(ws) - 7)) t(i)
        |       WHERE len(ws) >= 8),
        |pd AS (SELECT passage, doc_id FROM pg GROUP BY 1, 2),
        |dup AS (SELECT passage FROM pd GROUP BY 1 HAVING count(*) >= 2),
        |mth AS (SELECT pg.doc_id, pg.pos FROM pg JOIN dup USING (passage)),
        |cov AS MATERIALIZED (SELECT doc_id, tp FROM mth, UNNEST(generate_series(pos, pos + 7)) c(tp) GROUP BY 1, 2),
        |keptw AS (
        |  SELECT w.doc_id, p AS pos, ws[p] AS tok
        |  FROM words w, UNNEST(generate_series(1, len(ws))) t(p)
        |  WHERE NOT EXISTS (SELECT 1 FROM cov WHERE cov.doc_id = w.doc_id AND cov.tp = p)),
        |clean AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean_text FROM keptw GROUP BY 1),
        |cur AS MATERIALIZED (SELECT g.doc_id, g.source, COALESCE(c.clean_text, '') AS text
        |        FROM gated g LEFT JOIN clean c USING (doc_id)),
        |emb AS MATERIALIZED (SELECT e.vec_id, e.label, e.embedding
        |        FROM embeddings e JOIN cur ON e.vec_id = cur.doc_id),
        |prs AS MATERIALIZED (SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
        |        FROM emb a JOIN emb b ON a.label = b.label AND a.vec_id < b.vec_id
        |        WHERE ${cosineSql("a.embedding", "b.embedding")} >= 0.35),
        |edges AS MATERIALIZED (SELECT doc_a AS a, doc_b AS b FROM prs
        |          UNION SELECT doc_b, doc_a FROM prs),
        |reach(doc, r) AS (
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT reach.doc, e.b FROM reach JOIN edges e ON reach.r = e.a),
        |clus AS (SELECT doc AS vec_id, least(doc, min(r)) AS cluster_rep FROM reach GROUP BY doc),
        |sem AS (SELECT e.vec_id FROM emb e LEFT JOIN clus c ON e.vec_id = c.vec_id
        |        WHERE c.vec_id IS NULL OR c.cluster_rep = e.vec_id),
        |kept2 AS MATERIALIZED (SELECT cur.doc_id, cur.source, cur.text FROM cur JOIN sem ON cur.doc_id = sem.vec_id),
        |toks2 AS (
        |  SELECT doc_id, source,
        |    unnest(list_filter(string_split_regex(trim(text), '\\s+'), x -> x != '')) AS w
        |  FROM kept2),
        |b2 AS MATERIALIZED (
        |  SELECT doc_id, source,
        |    CAST('0x' || substr(md5(w), 1, 15) AS BIGINT) % 4096 AS bkt
        |  FROM toks2),
        |model2 AS MATERIALIZED (
        |  SELECT bkt, count(*) AS nr,
        |    sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS nt
        |  FROM b2 GROUP BY 1),
        |tot2 AS (SELECT sum(nr) AS dr, sum(nt) AS dt FROM model2),
        |scored2 AS (
        |  SELECT doc_id, source, CAST(count(*) AS BIGINT) AS n_tokens,
        |    CAST(sum(CAST(floor(ln(
        |        (CAST(nt + 1 AS DOUBLE) * CAST(dr + 4096 AS DOUBLE)) /
        |        (CAST(nr + 1 AS DOUBLE) * CAST(dt + 4096 AS DOUBLE)))
        |      * 1e6 + 0.5) AS BIGINT)) AS DOUBLE) / 1e6 AS dsir_score
        |  FROM b2 JOIN model2 USING (bkt), tot2
        |  GROUP BY doc_id, source),
        |bud(source, budget) AS (VALUES
        |  ('src0', 3000), ('src1', 2000), ('src2', 1000), ('src3', 500)),
        |rsel AS (
        |  SELECT s.source, doc_id, n_tokens,
        |    CAST(sum(n_tokens) OVER (PARTITION BY s.source
        |      ORDER BY dsir_score DESC, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens,
        |    CAST(budget AS BIGINT) AS budget
        |  FROM scored2 s JOIN bud USING (source)),
        |sel AS (SELECT doc_id FROM rsel WHERE cum_tokens <= budget),
        |words2 AS (SELECT k.doc_id, k.source,
        |    list_filter(string_split_regex(trim(k.text), '\\s+'), x -> x != '') AS ws
        |  FROM kept2 k JOIN sel USING (doc_id)),
        |n2 AS (SELECT doc_id, source, ws, len(ws) AS n FROM words2 WHERE len(ws) > 0),
        |c2 AS (SELECT doc_id, source, ws,
        |        CAST(1 + (greatest(n - 50, 0) + 39) // 40 AS INTEGER) AS n_chunks
        |      FROM n2),
        |ch2 AS (SELECT doc_id, source, CAST(k AS BIGINT) AS chunk_id,
        |         CAST(len(list_slice(ws, k * 40 + 1, k * 40 + 50)) AS BIGINT) AS tok
        |       FROM c2, UNNEST(generate_series(0, n_chunks - 1)) t(k)),
        |sc2 AS MATERIALIZED (SELECT source, doc_id, chunk_id, tok,
        |         row_number() OVER (PARTITION BY source
        |           ORDER BY doc_id, chunk_id) AS rn
        |       FROM ch2),
        |rpack AS (
        |  SELECT source, rn, tok, tok AS fill, CAST(0 AS BIGINT) AS pack
        |  FROM sc2 WHERE rn = 1
        |  UNION ALL
        |  SELECT c.source, c.rn, c.tok,
        |    CASE WHEN r.fill + c.tok <= 120 THEN r.fill + c.tok ELSE c.tok END,
        |    CASE WHEN r.fill + c.tok <= 120 THEN r.pack ELSE r.pack + 1 END
        |  FROM rpack r JOIN sc2 c ON c.source = r.source AND c.rn = r.rn + 1)
        |SELECT source, pack AS pack_id, count(*) AS n_chunks,
        |  CAST(sum(tok) AS BIGINT) AS total_tokens
        |FROM rpack GROUP BY 1, 2""".stripMargin,
    "p1_corpus_curate" ->
      """WITH base AS (
        | SELECT doc_id, source, text,
        |   CAST(length(text) AS BIGINT) AS n_chars_actual,
        |   CAST(len(list_filter(string_split_regex(trim(text), '\s+'), x -> x != '')) AS BIGINT) AS n_words,
        |   CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS BIGINT) AS n_punct,
        |   CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
        |     x -> x != '' AND list_contains(['the','and','of','to','a','in'], x))) AS BIGINT) AS n_stop
        | FROM documents),
        |r AS (SELECT *, n_punct::DOUBLE / nullif(n_chars_actual, 0) AS punct_ratio,
        |        n_stop::DOUBLE / nullif(n_words, 0) AS stop_ratio FROM base),
        |q AS (SELECT *,
        |  least(n_words::DOUBLE / 50.0, 1.0) * 0.5 + (1.0 - punct_ratio) * 0.3
        |    + least(stop_ratio * 5.0, 1.0) * 0.2 AS quality FROM r),
        |kept AS (SELECT * FROM q WHERE quality >= 0.5),
        |surv AS (SELECT md5(text) AS h, min(doc_id) AS doc_id FROM kept GROUP BY 1)
        |SELECT source, count(*) AS n_docs, CAST(sum(n_words) AS BIGINT) AS n_tokens,
        |  CAST(sum(CAST(quality AS DECIMAL(18,12))) AS DOUBLE) / count(*) AS avg_quality
        |FROM kept JOIN surv USING (doc_id) GROUP BY source ORDER BY source""".stripMargin)

  private val EmailRe = operators.TextAnalysis.EmailPattern
  private val PhoneRe = operators.TextAnalysis.PhonePattern
  private val Ipv4Re = operators.TextAnalysis.Ipv4Pattern

  /** DuckDB mirror of [[operators.Similarity.lshTopK]] at the s2 defaults
    * (16 planes, 4 bands, k=5, probes = vec_id < 10): the ±1 hyperplanes are
    * embedded as literal lists from the same md5-parity generator, and every
    * float reduction is the same left fold, so the result is bit-exact.
    */
  private def s2OracleSql: String = {
    val planes = 16
    val dims = 64
    val bands = 4
    val bits = planes / bands
    val mask = (1 << bits) - 1
    def dot(j: Int): String = {
      val planeLit = operators.Similarity.planeRow(j, dims)
        .map(v => if (v > 0) "1.0" else "-1.0").mkString("[", ", ", "]")
      s"list_reduce(list_prepend(0.0::DOUBLE, list_transform(generate_series(1, $dims), " +
        s"i -> embedding[i]::DOUBLE * ($planeLit)[i])), (acc, v) -> acc + v)"
    }
    val sig = (0 until planes)
      .map(j => s"(CASE WHEN ${dot(j)} > 0 THEN CAST(${1L << j} AS BIGINT) ELSE CAST(0 AS BIGINT) END)")
      .mkString("\n      + ")
    s"""WITH s AS (SELECT vec_id, embedding, $sig AS sig FROM embeddings),
       |bk AS (SELECT vec_id, embedding, b, (sig >> (b * $bits)) & $mask AS key
       |       FROM s CROSS JOIN generate_series(0, ${bands - 1}) t(b)),
       |p AS (SELECT * FROM bk WHERE vec_id < 10),
       |cand AS (SELECT DISTINCT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
       |           p.embedding AS pe, c.embedding AS ce
       |         FROM bk c JOIN p ON c.b = p.b AND c.key = p.key AND c.vec_id != p.vec_id),
       |sc AS (SELECT probe_id, neighbor_id, ${cosineSql("pe", "ce")} AS cosine FROM cand),
       |r AS (SELECT probe_id, neighbor_id, cosine,
       |        CAST(row_number() OVER (PARTITION BY probe_id
       |          ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rnk
       |      FROM sc)
       |SELECT probe_id, neighbor_id, cosine, rnk FROM r WHERE rnk <= 5""".stripMargin
  }

  /** Near-dup cluster resolution CTE (shingle → capped Jaccard pairs →
    * recursive transitive closure), shared by the d6 cluster oracle and
    * the d18 canonicalization oracle; ends with a
    * `clusters(doc_id, cluster_rep)` relation.
    */
  private val ClusterCte: String =
    """WITH RECURSIVE words AS (
      |  SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), x -> x != '') AS ws
      |  FROM documents),
      |sh0 AS (
      |  SELECT DISTINCT doc_id, s
      |  FROM words, UNNEST(list_transform(generate_series(1, len(ws) - 2),
      |    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) t(s)),
      |sh AS MATERIALIZED (
      |  SELECT doc_id, CAST('0x' || substr(md5(s), 1, 15) AS BIGINT) AS s
      |  FROM sh0),
      |keep AS (SELECT s FROM sh GROUP BY s HAVING count(*) <= 100),
      |shc AS MATERIALIZED (SELECT sh.doc_id, sh.s FROM sh JOIN keep USING (s)),
      |cnt AS MATERIALIZED (SELECT doc_id, count(*) n FROM shc GROUP BY 1),
      |p AS (SELECT a.doc_id doc_a, b.doc_id doc_b, count(*) common
      |      FROM shc a JOIN shc b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
      |jp AS MATERIALIZED (SELECT doc_a, doc_b FROM p
      |       JOIN cnt ca ON ca.doc_id = doc_a JOIN cnt cb ON cb.doc_id = doc_b
      |       WHERE common::DOUBLE / (ca.n + cb.n - common) >= 0.5),
      |edges AS MATERIALIZED (SELECT doc_a AS a, doc_b AS b FROM jp
      |          UNION SELECT doc_b, doc_a FROM jp),
      |reach(doc, r) AS (
      |  SELECT a, b FROM edges
      |  UNION
      |  SELECT reach.doc, e.b FROM reach JOIN edges e ON reach.r = e.a),
      |clusters AS (
      |  SELECT doc AS doc_id, least(doc, min(r)) AS cluster_rep
      |  FROM reach GROUP BY doc)
      |""".stripMargin

  /** Prometheus exposition-line CTE (latest gauge per series → rendered
    * text line), shared by the m6 render oracle and the m21 parse oracle;
    * ends with `lines(line)`.
    */
  private val PromLineCte: String =
    """WITH m AS (
      |  SELECT event_type, user_id, value,
      |         CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec,
      |         row_number() OVER (PARTITION BY event_type, user_id
      |           ORDER BY CAST(floor(epoch(ts)) AS BIGINT) DESC,
      |                    CAST(event_id AS VARCHAR) DESC) AS rn
      |  FROM events),
      |lines AS (
      |  SELECT 'app_' || event_type || '_total{user="' || CAST(user_id AS VARCHAR)
      |    || '"} ' || CAST(value AS VARCHAR) || ' ' || CAST(ts_sec * 1000 AS VARCHAR) AS line
      |  FROM m WHERE rn = 1)
      |""".stripMargin

  /** m49 and m50 share ONE oracle text by construction: m50 answers the
    * SAME instant query through the pruned landed read, and pruning must
    * never change a row — the byte-identity is the point (review catch:
    * a duplicated string invites silent drift).
    */
  private val InstantIncreaseOracle: String =
    """WITH m AS (
        |  SELECT 'app' AS component, event_type || '_total' AS name,
        |         'user=' || CAST(user_id AS VARCHAR) AS series,
        |         CAST(event_id AS VARCHAR) AS id, value,
        |         CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec
        |  FROM events),
        |tt AS (SELECT max(ts_sec) AS t FROM m),
        |w AS (
        |  SELECT m.* FROM m, tt
        |  WHERE m.name = 'view_total'
        |    AND m.ts_sec > tt.t - 7200 AND m.ts_sec <= tt.t),
        |d AS (
        |  SELECT *, value - lag(value) OVER (
        |    PARTITION BY component, name, series ORDER BY ts_sec, id) AS delta
        |  FROM w),
        |i AS (
        |  SELECT component, series,
        |    CASE WHEN delta IS NULL THEN 0.0
        |         WHEN delta < 0 THEN value ELSE delta END AS inc
        |  FROM d)
        |SELECT component, '' AS name, series,
        |  (SELECT t FROM tt) AS win_start,
        |  CAST(sum(CAST(inc AS DECIMAL(18,6))) AS DOUBLE) AS value
        |FROM i GROUP BY component, series""".stripMargin

  /** Per-series windowed counter-increase CTE (the m9 semantics: positive
    * deltas summed per tumbling hour, resets clamped), shared by the m9
    * oracle and the m22 for-duration alert oracle; ends with
    * `win(component, name, series, win_start, increase, n_samples)`.
    */
  private def IncreaseCte(widthSec: Long): String =
    s"""WITH m AS (
      |  SELECT 'app' AS component, event_type || '_total' AS name,
      |         'user=' || CAST(user_id AS VARCHAR) AS series,
      |         CAST(event_id AS VARCHAR) AS id, value,
      |         CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec
      |  FROM events),
      |d AS (
      |  SELECT *, value - lag(value) OVER (PARTITION BY component, name, series
      |    ORDER BY ts_sec, id) AS delta
      |  FROM m),
      |i AS (
      |  SELECT component, name, series,
      |    CASE WHEN delta IS NULL THEN 0.0
      |         WHEN delta < 0 THEN value ELSE delta END AS inc,
      |    ts_sec - ts_sec % $widthSec AS win_start
      |  FROM d),
      |win AS (
      |  SELECT component, name, series, win_start,
      |    CAST(sum(CAST(inc AS DECIMAL(18,6))) AS DOUBLE) AS increase,
      |    count(*) AS n_samples
      |  FROM i GROUP BY 1, 2, 3, 4)
      |""".stripMargin

  /** [[IncreaseCte]]'s sliding sibling: reset-clamped full-series deltas
    * tiled onto every `slideSec`-grid window whose `[w, w + width)`
    * lookback holds the delta's later sample — the m33 assignment rule,
    * mirrored with an explicit `width/slide`-row offset cross join.
    */
  private def SlidingIncreaseCte(widthSec: Long, slideSec: Long): String =
    s"""WITH m AS (
      |  SELECT 'app' AS component, event_type || '_total' AS name,
      |         'user=' || CAST(user_id AS VARCHAR) AS series,
      |         CAST(event_id AS VARCHAR) AS id, value,
      |         CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec
      |  FROM events),
      |d AS (
      |  SELECT *, value - lag(value) OVER (PARTITION BY component, name, series
      |    ORDER BY ts_sec, id) AS delta
      |  FROM m),
      |i AS (
      |  SELECT component, name, series,
      |    CASE WHEN delta IS NULL THEN 0.0
      |         WHEN delta < 0 THEN value ELSE delta END AS inc,
      |    ts_sec - ts_sec % $slideSec AS ws
      |  FROM d),
      |t AS (
      |  SELECT component, name, series, inc, ws - g.j * $slideSec AS win_start
      |  FROM i CROSS JOIN (SELECT unnest(range(0, ${widthSec / slideSec})) AS j) g),
      |win AS (
      |  SELECT component, name, series, win_start,
      |    CAST(sum(CAST(inc AS DECIMAL(18,6))) AS DOUBLE) AS increase
      |  FROM t GROUP BY 1, 2, 3, 4)
      |""".stripMargin

  /** Per-window OLS trend sums mirroring the m34 compiler path: x
    * centered on the window's min timestamp (exact integer arithmetic),
    * each sum an exact decimal fold cast to double, `den` the shared
    * slope denominator.
    */
  private def TrendCte(widthSec: Long): String =
    s"""WITH m AS (
      |  SELECT 'app' AS component, event_type || '_total' AS name,
      |         'user=' || CAST(user_id AS VARCHAR) AS series, value,
      |         CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec
      |  FROM events),
      |w AS (SELECT *, ts_sec - ts_sec % $widthSec AS win_start FROM m),
      |b AS (SELECT *, ts_sec - min(ts_sec) OVER (PARTITION BY component, name,
      |        series, win_start) AS x
      |      FROM w),
      |g AS (
      |  SELECT component, name, series, win_start,
      |    count(*) AS n,
      |    CAST(sum(CAST(x AS DECIMAL(19,0))) AS DOUBLE) AS sx,
      |    CAST(sum(CAST(x * x AS DECIMAL(28,0))) AS DOUBLE) AS sxx,
      |    CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sy,
      |    CAST(sum(CAST(x AS DECIMAL(19,0)) * CAST(value AS DECIMAL(18,6)))
      |      AS DOUBLE) AS sxy,
      |    max(x) AS mx
      |  FROM b GROUP BY 1, 2, 3, 4),
      |t AS (SELECT *, CAST(n AS DOUBLE) * sxx - sx * sx AS den FROM g)
      |""".stripMargin

  /** Native-histogram bucket counts at `widthSec` (schema 0): per
    * (component, name, window, idx) sample counts, NULL idx for the zero
    * bucket. ceil(log2) here is exact where the engine's IEEE-exponent
    * index needs it to be (powers of two; 2-dp data clears every other
    * boundary by ≫1 ulp).
    */
  private def NativeHistCte(widthSec: Long): String =
    s"""WITH m AS (
      |  SELECT 'app' AS component, event_type || '_total' AS name, value,
      |         CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec
      |  FROM events),
      |w AS (SELECT component, name, value,
      |        ts_sec - ts_sec % $widthSec AS win_start FROM m),
      |b AS (SELECT *, CASE WHEN value > 0
      |        THEN CAST(ceil(log2(value)) AS INT) END AS idx FROM w),
      |c AS (SELECT component, name, win_start, idx, count(*) AS c
      |      FROM b GROUP BY 1, 2, 3, 4)
      |""".stripMargin

  /** Shared DuckDB CTE fragments (kept identical across oracles). */
  private val WordsCte: String =
    """WITH words AS (
      |  SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), x -> x != '') AS ws
      |  FROM documents),
      |""".stripMargin

  /** SimHash band-bucket candidate CTE (fingerprint → 4-band keys → bucket
    * join), shared by the d4b pair oracle and the d19 edit-distance
    * verification oracle; ends with `cand(doc_a, doc_b, sh_a, sh_b)`.
    */
  private val SimhashCandCte: String =
    (WordsCte +
      """w AS (SELECT DISTINCT doc_id, wd FROM words, UNNEST(ws) t(wd)),
        |hw AS (SELECT doc_id, CAST('0x' || substr(md5(wd), 1, 15) AS BIGINT) AS h FROM w),
        |bits AS (SELECT doc_id, j, sum(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) AS v
        |         FROM hw CROSS JOIN generate_series(0, 59) t2(j) GROUP BY doc_id, j),
        |fp AS (SELECT doc_id,
        |         CAST(sum(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << j) ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS simhash
        |       FROM bits GROUP BY doc_id),
        |bk AS (SELECT doc_id, simhash, b,
        |         CASE b WHEN 0 THEN simhash & 32767
        |                WHEN 1 THEN (simhash >> 15) & 32767
        |                WHEN 2 THEN (simhash >> 30) & 32767
        |                ELSE (simhash >> 45) & 32767 END AS key
        |       FROM fp CROSS JOIN generate_series(0, 3) t3(b)),
        |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |           a.simhash AS sh_a, b.simhash AS sh_b
        |         FROM bk a JOIN bk b ON a.b = b.b AND a.key = b.key AND a.doc_id < b.doc_id)
        |""".stripMargin)

  // shingle key = 60-bit md5 prefix of the shingle text, mirroring
  // Dedup.shingles (narrow join keys; same hash both engines)
  private val ShinglesCte: String =
    WordsCte +
      """sh0 AS (
        |  SELECT DISTINCT doc_id, s
        |  FROM words, UNNEST(list_transform(generate_series(1, len(ws) - 2),
        |    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) t(s)),
        |sh AS (
        |  SELECT doc_id, CAST('0x' || substr(md5(s), 1, 15) AS BIGINT) AS s
        |  FROM sh0),
        |""".stripMargin

  private val markerLists: Map[String, String] = Map(
    "en" -> "['the','and','of','to','a','in']",
    "es" -> "['el','la','de','que','los','y']",
    "fr" -> "['le','et','les','des','un','une']",
    "de" -> "['der','und','die','das','ein','nicht']")

  private def markerSql(lang: String): String =
    s"CAST(len(list_filter(ws, x -> list_contains(${markerLists(lang)}, x))) AS BIGINT)"

  /** Dot product of two already-quantized DOUBLE list columns (s8 oracle):
    * the plain sum-fold mirror of the Spark side's `aggregate(zip_with)` —
    * every term and partial sum is an exact integer, so the left-to-right
    * fold order both engines share makes it bit-portable by construction.
    */
  private def qdotSql(x: String, y: String): String =
    s"list_reduce(list_prepend(0.0::DOUBLE, list_transform(generate_series(1, len($x)), " +
      s"i -> $x[i] * $y[i])), (acc, v) -> acc + v)"

  /** Explicit f64 cosine in DuckDB, sequential accumulation — bit-identical
    * to [[graft.functions.Kernels.cosine]].
    */
  private def cosineSql(a: String, b: String): String = {
    def sumProd(x: String, y: String): String =
      s"list_reduce(list_prepend(0.0::DOUBLE, list_transform(generate_series(1, len($a)), " +
        s"i -> $x[i]::DOUBLE * $y[i]::DOUBLE)), (acc, v) -> acc + v)"
    // zero-norm guard mirrors Kernels.cosine's -1.0 pin: without it DuckDB
    // yields NaN here, which it orders above every double — an all-zero
    // embedding would diverge the gate in the opposite direction from Spark
    s"(CASE WHEN sqrt(${sumProd(a, a)}) * sqrt(${sumProd(b, b)}) = 0.0 THEN -1.0 " +
      s"ELSE ${sumProd(a, b)} / (sqrt(${sumProd(a, a)}) * sqrt(${sumProd(b, b)})) END)"
  }
}
