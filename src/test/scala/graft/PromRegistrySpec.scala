package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.Firehose
import graft.promql.{PromQlVersioned, PromRegistry}
import graft.sources.Versioned

/** The incremental latest-gauge registry (r13 verdict #1): registry(v)
  * must equal the full-scan `gaugeLatest` at EVERY version, while an
  * append-only advance reads ONLY the delta files (census-pinned) and
  * the surfaces riding it (federate, metadata names, newestTs, the
  * bare-selector instant fast path) answer without touching the
  * landing.
  */
class PromRegistrySpec extends SparkSuite {

  import spark.implicits._

  private def mk(
      rows: Seq[(String, String, Map[String, String], Long, String, Double)]) =
    rows.toDF("component", "name", "labels", "timestamp", "id", "value")

  /** Full-scan reference: `gaugeLatestLabeled` over the live version. */
  private def fullHeads(root: String)
      : Map[(String, String, String), (Map[String, String], Double, Long)] =
    Firehose.gaugeLatestLabeled(Versioned.latest(spark, root))
      .collect().map { r =>
        (r.getString(0), r.getString(1), r.getString(2)) ->
          (r.getMap[String, String](3).toMap, r.getDouble(4), r.getLong(5))
      }.toMap

  private def stateHeads(s: PromRegistry.State)
      : Map[(String, String, String), (Map[String, String], Double, Long)] =
    s.heads.map { case (k, h) => k -> (h.labels, h.value, h.ts) }

  test("append-only advance folds exactly the delta files; " +
      "maintenance transitions recompute") {
    PromRegistry.reset()
    val root = Files.createTempDirectory("graft-reg").toFile.getAbsolutePath
    PromQlVersioned.land(mk(Seq(
      ("app", "m", Map("h" -> "a"), 100L, "r1", 1.0),
      ("app", "m", Map("h" -> "b"), 110L, "r2", 2.0))), root)
    val (s0, census0) = PromRegistry.refresh(spark, root)
    assert(census0.toSet === Versioned.manifest(root, 0L).map(_.path).toSet)
    assert(stateHeads(s0) === fullHeads(root))
    assert(s0.minTs === 100L && s0.maxTs === 110L)
    assert(s0.names === Seq("m"))

    // memo hit: same version reads nothing
    assert(PromRegistry.refresh(spark, root)._2 === Nil)

    // append: the refresh census is EXACTLY the new files
    PromQlVersioned.land(mk(Seq(
      ("app", "m", Map("h" -> "a"), 120L, "r3", 5.0),
      ("app", "n", Map("h" -> "a"), 90L, "r4", 7.0))), root)
    val before = Versioned.manifest(root, 0L).map(_.path).toSet
    val (s1, census1) = PromRegistry.refresh(spark, root)
    assert(census1.nonEmpty &&
      census1.toSet === Versioned.manifest(root, 1L).map(_.path).toSet -- before)
    assert(stateHeads(s1) === fullHeads(root))
    assert(s1.minTs === 90L && s1.maxTs === 120L)
    assert(s1.names === Seq("m", "n"))

    // compaction rewrites the layout: a full recompute, same answers
    assert(Versioned.compactSmall(spark, root, maxBytes = Long.MaxValue) >= 0)
    val (s2, census2) = PromRegistry.refresh(spark, root)
    assert(census2.toSet ===
      Versioned.manifest(root, Versioned.latestVersion(root)).map(_.path).toSet)
    assert(stateHeads(s2) === fullHeads(root))

    // retention that drops a series' every sample drops its head too —
    // the incremental merge alone could never remove it (the recompute
    // path is what makes expiry correct)
    val r2 = Files.createTempDirectory("graft-reg2").toFile.getAbsolutePath
    PromQlVersioned.land(mk(Seq(
      ("app", "old_only", Map("h" -> "x"), 50L, "r1", 1.0))), r2)
    PromQlVersioned.land(mk(Seq(
      ("app", "live", Map("h" -> "x"), 200L, "r2", 2.0))), r2)
    val (sa, _) = PromRegistry.refresh(spark, r2)
    assert(sa.names === Seq("live", "old_only"))
    assert(PromQlVersioned.expire(r2, 100L) >= 0)
    val (sb, _) = PromRegistry.refresh(spark, r2)
    assert(sb.names === Seq("live"))
    assert(stateHeads(sb) === fullHeads(r2))
    assert(sb.minTs === 200L)
  }

  test("a newer head in the delta wins; an older delta row never " +
      "regresses a series") {
    PromRegistry.reset()
    val root = Files.createTempDirectory("graft-reg3").toFile.getAbsolutePath
    PromQlVersioned.land(mk(Seq(
      ("app", "m", Map("h" -> "a"), 100L, "r9", 5.0))), root)
    PromRegistry.refresh(spark, root)
    // late-arriving batch: an OLDER sample for the same series plus a
    // tie-timestamp row with a smaller id — neither may displace r9
    PromQlVersioned.land(mk(Seq(
      ("app", "m", Map("h" -> "a"), 60L, "r1", 1.0),
      ("app", "m", Map("h" -> "a"), 100L, "r0", 3.0))), root)
    val (s, _) = PromRegistry.refresh(spark, root)
    assert(stateHeads(s) === fullHeads(root))
    assert(s.heads(("app", "m", "h=a")).value === 5.0)
    assert(s.minTs === 60L)
    // and a genuinely newer sample does displace it
    PromQlVersioned.land(mk(Seq(
      ("app", "m", Map("h" -> "a"), 130L, "r10", 9.0))), root)
    val (s2, _) = PromRegistry.refresh(spark, root)
    assert(s2.heads(("app", "m", "h=a")).value === 9.0)
    assert(stateHeads(s2) === fullHeads(root))
  }

  test("bare-selector instant fast path is byte-identical to the " +
      "landed compile and declines every other shape") {
    PromRegistry.reset()
    val metrics = Firehose.tagFilter(Firehose.metricsFromEvents(spark, sfDir))
      .select("component", "name", "labels", "timestamp", "id", "value")
    val root = Files.createTempDirectory("graft-regfp").toFile.getAbsolutePath
    PromQlVersioned.land(metrics, root)
    val t = metrics.agg(max(col("timestamp"))).head().getLong(0)
    def rendered(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.select(col("component"), col("name"),
          Firehose.seriesKey(col("labels")).as("s"), col("win_start"),
          col("value"))
        .collect()
        .map(r => s"${r.getString(0)}|${r.getString(1)}|${r.getString(2)}|" +
          s"${r.getLong(3)}|${r.getDouble(4)}")
        .sorted.toSeq
    // the instant-selector-only class: bare selectors, instant aggs,
    // vector arithmetic/comparisons/set ops, scalar + universe + label
    // function families — each byte-identical to the landed compile
    for (q <- Seq(
        "view_total", """view_total{user="1"}""",
        """{user=~"1|2",__name__=~".*_total"}""",
        "sum by (user) (view_total)",
        "topk(3, view_total)",
        "view_total / on(user) click_total",
        "view_total > 50",
        "2 * view_total + 1",
        "view_total and error_total",
        "count_values(\"v\", round(view_total, 10))",
        "absent(view_total)", """absent(nosuch_metric{user="1"})""",
        "hour(timestamp(view_total))",
        "label_replace(view_total, \"u2\", \"$1\", \"user\", \"(.*)\")",
        "scalar(count(view_total)) * vector(1)",
        "sort_desc(view_total)");
        (tt, lb) <- Seq((t, 300L), (t, 7 * 86400L), (t + 60L, 3600L))) {
      val fast = PromRegistry.instantFastPath(spark, root, q, tt, lb)
      assert(fast.nonEmpty, s"fast path must take '$q'")
      val slow = PromQlVersioned.compileInstantVector(
        spark, root, q, tt, lookbackSec = lb)
      assert(rendered(fast.get) === rendered(slow), s"$q @ $tt lb=$lb")
    }
    // r17: the sort/sort_desc FOLD must reproduce the compiled plan's
    // exact ROW ORDER, not just its row set — order is the semantics of
    // sort, the LocalRelation preserves row sequence, and the compiled
    // orderBy is a total order (value, component, name, series key), so
    // both collects are deterministic and must match position by
    // position (ties exercised via the all-equal-values / 0 variant)
    def ordered(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.select(col("component"), col("name"),
          Firehose.seriesKey(col("labels")).as("s"), col("win_start"),
          col("value"))
        .collect()
        .map(r => s"${r.getString(0)}|${r.getString(1)}|${r.getString(2)}|" +
          s"${r.getLong(3)}|${r.getDouble(4)}")
        .toSeq
    for (q <- Seq("sort(view_total)", "sort_desc(view_total)",
        "sort(view_total > bool 50)", "sort_desc(view_total * 0)")) {
      val fast = PromRegistry.instantFastPath(spark, root, q, t, 7 * 86400L)
      assert(fast.nonEmpty, q)
      val slow = PromQlVersioned.compileInstantVector(
        spark, root, q, t, lookbackSec = 7 * 86400L)
      assert(ordered(fast.get) === ordered(slow), s"row ORDER must pin: $q")
    }
    // declined shapes: offset, @, window-interior functions, subqueries,
    // and an evaluation time before the newest sample (older points can
    // see past a series' head — only the landed walk answers those)
    for (q <- Seq("view_total offset 1h", s"view_total @ ${t - 3600}",
        "rate(view_total[1h])", "avg_over_time(view_total[1h])",
        "sum_over_time((sum(view_total))[2h:1h])",
        s"sum(view_total @ $t)"))
      assert(PromRegistry.instantFastPath(spark, root, q, t, 300L).isEmpty, q)
    assert(PromRegistry.instantFastPath(
      spark, root, "view_total", t - 1L, 300L).isEmpty)
  }

  test("instant-only tree fuzz: the registry fast path equals the landed " +
      "compile on random expressions") {
    import spark.implicits._
    import graft.promql._
    PromRegistry.reset()
    val seeds = sys.env.get("GRAFT_FUZZ_SEED")
      .map(s => Seq(s.toLong)).getOrElse(Seq(19L))
    for (seed <- seeds) {
      val rnd = new scala.util.Random(seed)
      val base = 1704067200L
      // two live metrics (heads near t), one STALE metric whose head
      // falls out of small lookbacks, one series-sparse metric — the
      // shapes that distinguish head-window filtering and absent()
      val samples =
        (for (n <- Seq("a_total", "b_total"); u <- Seq("u1", "u2", "u3");
            i <- 0 until 12)
          yield ("app", n, Map("user" -> u), base + i * 600L, f"i$i%03d",
            rnd.nextInt(10000) / 100.0)) ++
        (for (i <- 0 until 4)
          yield ("app", "old_total", Map("user" -> "u1"), base - 86400L + i,
            f"o$i%03d", i * 1.0)) :+
        (("app", "rare_total", Map("user" -> "u2"), base + 7000L, "r001", 3.5))
      val metrics = samples
        .toDF("component", "name", "labels", "timestamp", "id", "value")
      val root = Files.createTempDirectory(s"graft-regdiff$seed")
        .toFile.getAbsolutePath
      PromQlVersioned.land(metrics, root)
      val t = samples.map(_._4).max
      val names = Seq("a_total", "b_total", "old_total", "rare_total")
      def leaf(): PromExpr = rnd.nextInt(4) match {
        case 0 => VectorSelector(Some(names(rnd.nextInt(names.length))))
        case 1 => VectorSelector(Some(names(rnd.nextInt(2))),
          Seq(LabelMatcher("user", MatchOp.Re, "u1|u2")))
        case 2 => VectorSelector(Some(names(rnd.nextInt(names.length))),
          Seq(LabelMatcher("user", MatchOp.Neq, "u3")))
        case 3 => VectorSelector(None,
          Seq(LabelMatcher("__name__", MatchOp.Re, ".*_total")))
      }
      val fns = Seq("abs", "ceil", "floor", "sgn", "sqrt", "exp", "ln", "round")
      val aggs = Seq("sum", "min", "max", "avg", "count")
      def gen(d: Int): PromExpr =
        if (d == 0) leaf()
        else rnd.nextInt(9) match {
          case 0 => leaf()
          case 1 =>
            val g = rnd.nextInt(3) match {
              case 0 => AggGroup.All
              case 1 => AggGroup.By(Seq("user"))
              case 2 => AggGroup.Without(Seq("user"))
            }
            Agg(aggs(rnd.nextInt(aggs.length)), gen(d - 1), None, g)
          case 2 =>
            val ops = Seq("+", "-", "*", "/", "%", ">", "<", ">=", "==")
            val op = ops(rnd.nextInt(ops.length))
            Binary(op, gen(d - 1), NumberLit(rnd.nextInt(100) / 10.0), None,
              boolMod = op.exists(">=<=".contains(_)) && rnd.nextBoolean())
          case 3 =>
            val ops = Seq("and", "or", "unless")
            Binary(ops(rnd.nextInt(3)), leaf(), leaf(), None, boolMod = false)
          case 4 => Call(fns(rnd.nextInt(fns.length)), Seq(gen(d - 1)))
          case 5 => Call("absent", Seq(leaf()))
          case 6 => Call("hour", Seq(Call("timestamp", Seq(leaf()))))
          case 7 => Agg("topk", leaf(), Some(NumberLit(2)), AggGroup.All)
          case 8 => Agg("count_values", leaf(), Some(StringLit("v")),
            AggGroup.All)
        }
      def rendered(df: org.apache.spark.sql.DataFrame): Seq[String] =
        df.select(col("component"), col("name"),
            Firehose.seriesKey(col("labels")).as("s"), col("win_start"),
            col("value"))
          .collect()
          .map(r => s"${r.getString(0)}|${r.getString(1)}|${r.getString(2)}|" +
            s"${r.getLong(3)}|${r.getDouble(4)}")
          .sorted.toSeq
      var taken = 0
      for (i <- 0 until 60) {
        val q = PromQlPrinter.print(gen(2))
        val (tt, lb) = Seq((t, 300L), (t, 86400L * 3), (t + 120L, 7200L))(
          rnd.nextInt(3))
        PromRegistry.instantFastPath(spark, root, q, tt, lb) match {
          case Some(fast) =>
            taken += 1
            val slow = PromQlVersioned.compileInstantVector(
              spark, root, q, tt, lookbackSec = lb)
            assert(rendered(fast) === rendered(slow),
              s"seed $seed iter $i: $q @ $tt lb=$lb")
          case None =>
            fail(s"seed $seed iter $i: instant-only tree declined: $q")
        }
      }
      assert(taken === 60)
    }
  }

  test("random append/compact/expire/delete sequences keep the registry " +
      "full-scan-exact at every step") {
    PromRegistry.reset()
    val seeds = sys.env.get("GRAFT_FUZZ_SEED")
      .map(s => Seq(s.toLong)).getOrElse(Seq(7L, 41L))
    for (seed <- seeds) {
      val rnd = new scala.util.Random(seed)
      val root =
        Files.createTempDirectory(s"graft-regfz$seed").toFile.getAbsolutePath
      var nextId = 0
      def batch(): Seq[(String, String, Map[String, String], Long, String, Double)] =
        (0 until (1 + rnd.nextInt(4))).map { _ =>
          nextId += 1
          val series = rnd.nextInt(6)
          ("app", s"m${series % 3}", Map("h" -> s"s$series"),
            (rnd.nextInt(500) + 1).toLong, f"r$nextId%05d",
            rnd.nextInt(100).toDouble)
        }
      PromQlVersioned.land(mk(batch()), root)
      for (step <- 0 until 25) {
        rnd.nextInt(8) match {
          case 0 | 1 | 2 => PromQlVersioned.land(mk(batch()), root)
          case 3 => Versioned.compactSmall(spark, root, maxBytes = Long.MaxValue)
          case 4 => PromQlVersioned.expire(root, (rnd.nextInt(300) + 1).toLong)
          case 5 => Versioned.deleteWhere(spark, root, "id",
            col("value") < lit(rnd.nextInt(30).toDouble))
          // restart steps (r14 verdict #1): land a checkpoint / drop the
          // memo — the next refresh cold-starts from checkpoint ∪ delta
          // (or the full recompute when maintenance intervened) and must
          // stay full-scan-exact either way
          case 6 => PromRegistry.checkpoint(spark, root)
          case 7 => PromRegistry.reset()
        }
        val live = Versioned.latest(spark, root)
        if (live.isEmpty) {
          val (s, _) = PromRegistry.refresh(spark, root)
          assert(s.heads.isEmpty, s"seed $seed step $step: empty corpus")
          // re-seed so later ops have something to chew on
          PromQlVersioned.land(mk(batch()), root)
        } else {
          val (s, _) = PromRegistry.refresh(spark, root)
          assert(stateHeads(s) === fullHeads(root), s"seed $seed step $step")
          assert(s.minTs ===
            live.agg(min(col("timestamp"))).head().getLong(0),
            s"seed $seed step $step minTs")
        }
      }
    }
  }

  test("the driver-side /federate render is byte-identical to the Spark " +
      "promRender path across label/value/match edge shapes") {
    PromRegistry.reset()
    val root = Files.createTempDirectory("graft-regfed").toFile.getAbsolutePath
    // edge corpus: empty label set, multi-label, regex-relevant names,
    // integral / negative / tiny / NaN / ±Inf values, sub-second ts
    PromQlVersioned.land(mk(Seq(
      ("app", "up", Map.empty[String, String], 100L, "r1", 1.0),
      ("app", "up", Map("host" -> "a", "zone" -> "eu-1"), 100L, "r2", 0.5),
      ("app", "lat_ms", Map("q" -> "0.99"), 120L, "r3", 123.456789),
      ("app", "lat_ms", Map("q" -> "0.50"), 120L, "r4", -7.25),
      ("db", "up", Map("host" -> "b"), 130L, "r5", Double.NaN),
      ("db", "conns", Map("host" -> "b"), 131L, "r6", Double.PositiveInfinity),
      ("db", "conns", Map("host" -> "c"), 131L, "r7", Double.NegativeInfinity),
      ("app", "tiny", Map("k" -> "v w", "j" -> "x,y"), 140L, "r8", 1.0e-9),
      // r16 grammar round: adversarial label text (exposition escapes +
      // series-identity metachars), a non-classic label KEY, and a
      // non-classic metric NAME — all must render byte-identically on
      // both paths (driver renderLineStr vs codegen promRender), the
      // name and key in the Prometheus 3.x quoted form
      ("app", "dot.metric", Map("path.key" -> "a=b,c\\d\"\ne"), 150L, "r9", 2.0),
      ("app", "up", Map("l=w" -> "x\\", "host" -> "q\"z"), 151L, "r10", 3.0))), root)
    val state = PromRegistry.current(spark, root)
    val frame = PromRegistry.frame(spark, state)
    for (m <- Seq(
        Seq("up"),
        Seq("""{__name__=~".*"}"""),
        Seq("""up{host="a"}"""),
        Seq("""{host=~"a|b"}"""),
        Seq("""{zone!=""}"""),
        Seq("""{q!~"0\\.5.*"}"""),
        Seq("up", "lat_ms"), // union of selectors
        Seq("""{nosuch="x"}"""))) {
      assert(PromRegistry.federateBody(state, m) ===
        graft.promql.PromQlHttp.federateSparkBody(frame, m), m.mkString(","))
    }
    assertThrows[IllegalArgumentException](
      PromRegistry.federateBody(state, Nil))
    assertThrows[IllegalArgumentException](
      PromRegistry.federateBody(state, Seq("rate(up[5m])")))
  }

  test("the ungrouped instant-aggregation driver fold is byte-identical " +
      "to the landed compile; the big-value lane declines to the plan") {
    PromRegistry.reset()
    def mkd(rows: Seq[(String, String, Map[String, String], Long, String, Double)]) =
      rows.toDF("component", "name", "labels", "timestamp", "id", "value")
    val root = Files.createTempDirectory("graft-regagg").toFile.getAbsolutePath
    val t = 1000L
    PromQlVersioned.land(mkd(Seq(
      // in-window heads across two components, mixed magnitudes
      ("app", "m", Map("u" -> "1"), 990L, "r1", 0.1),
      ("app", "m", Map("u" -> "2"), 995L, "r2", 0.2),
      ("app", "m", Map("u" -> "3"), t, "r3", -3.7),
      ("db", "m", Map("u" -> "4"), 998L, "r4", 1.0e10),
      // head EXACTLY at t - lookback: excluded (left-open window)
      ("app", "m", Map("u" -> "old"), 700L, "r5", 100.0),
      // NaN head: staleness drops the series
      ("app", "m", Map("u" -> "stale"), 999L, "r6", Double.NaN),
      // +Inf head: the flag lanes
      ("db", "infm", Map("u" -> "5"), 999L, "r7", Double.PositiveInfinity))), root)
    def renderedBits(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map { r =>
        s"${r.getString(0)}|${r.getString(1)}|" +
          s"${r.getMap[String, String](2).toSeq.sorted}|${r.getLong(3)}|" +
          java.lang.Double.doubleToRawLongBits(r.getDouble(4)).toString
      }.sorted.toSeq
    val lookback = 300L
    for (q <- Seq(
        "sum(m)", "min(m)", "max(m)", "avg(m)", "count(m)", "group(m)",
        """sum(m{u=~"1|2|3"})""", "sum(infm)", "max(infm)", "avg(infm)",
        "sum(nosuch)", """count({__name__=~"m|infm"})""",
        "sum(m or infm)", /* not the fold shape: falls to the plan */
        // the generalized fold (round 15): grouped aggs, scalar
        // wrappers (arith incl. the zero branches, both comparison
        // forms), negation, and compositions — plus the NaN-mid-tree
        // case arith synthesizes (m / 0 at a 0-valued head is NaN)
        "sum by (u) (m)", "min by (u) (m)", "count without (u) (m)",
        "sum without (u) (m)",
        "m", """m{u!="old"}""", "-m", "m % 3", "m % 0", "2 * m + 1",
        "m / 0", "sum by (u) (m / 0)", "avg(m / 0)",
        "sum(m % 0)", "min(m % 0)", "max(m % 0)",
        "m > bool 0", "m > 0.15", "0.15 < m", "3 - m", "6 / m",
        "sum by (u) (2 * m) > bool 0.3", "-min(m)",
        // the r16 fold growth: absent (universe anti-join + Eq-matcher
        // label synthesis), vector/scalar/time (incl. the EMPTY-scalar
        // join lane and scalar()'s NaN-on-many rule), scalar-expression
        // operands beyond literals, and the label-function family
        "absent(m)", "absent(nosuch)", """absent(m{u="1"})""",
        """absent(m{u="zz"})""", """absent(nosuch{a="1",b="2"})""",
        "vector(5)", "vector(2 ^ 3)", "vector(time())",
        """vector(scalar(m{u="1"}))""", "vector(scalar(m))",
        "vector(scalar(nosuch))", "vector(1 atan2 2)",
        """m * scalar(m{u="1"})""", "m > scalar(nosuch)",
        "m + time()", "time() - m", "m <= bool scalar(m)",
        """label_replace(m, "w", "$1X", "u", "(.*)")""",
        """label_replace(m, "u", "", "u", "1")""",
        """label_replace(m, "w", "x", "u", "9\\d*")""",
        """label_join(m, "j", "-", "u", "u")""",
        """label_join(m, "u", "-")""",
        """sum by (w) (label_replace(m, "w", "g$1", "u", "(1|2)"))""",
        """count(label_join(m, "u", "-"))""",
        // the IEEE-exact map family folds; the transcendental family
        // (exp/ln/trig) stays plan-served — both byte-identical
        "abs(m)", "ceil(m)", "floor(m)", "sqrt(m)", "sgn(m)",
        "deg(m)", "rad(m)", "round(m)", "round(m, 0.3)",
        "round(m, pi() / 10)", "ceil(m / 0)", "floor(-m)",
        "clamp(m, -1, 0.15)", "clamp(m, 1, -1)",
        "clamp(m, 0/0, 10)", "clamp_min(m, 0/0)", "clamp_max(m, 0/0)",
        "clamp_min(m, 0.15)", "clamp_max(m, 0.15)",
        "clamp(m, 0.1 * 1, 2 ^ -1)", "sum(abs(m))",
        "exp(m)", "ln(m)", "sin(m)", "acosh(m)",
        // declined shapes stay plan-served and identical
        "stdvar(m)", "stddev by (u) (m)", "quantile(0.5, m)",
        "m ^ 2", "m atan2 1",
        // r17: the selection/presentation family folds (rank replayed)
        "topk(2, m)", "bottomk(2, m)", "topk(1, m) by (u)",
        "limitk(2, m)", "limit_ratio(0.5, m)", "limit_ratio(-0.5, m)",
        "limit_ratio(1, m)", "sort(m)", "sort_desc(m)",
        "sort(m / 0)", "topk(2, m / 0)")) {
      val fast = PromRegistry.instantFastPath(spark, root, q, t, lookback)
      assert(fast.nonEmpty, q)
      val slow = PromQlVersioned.compileInstantVector(
        spark, root, q, t, lookbackSec = lookback)
      assert(renderedBits(fast.get) === renderedBits(slow), q)
    }
    // ±Inf together in one group: the Inf − Inf sum must be NaN through
    // the flag lanes on both sides
    PromQlVersioned.land(mkd(Seq(
      ("db", "infm", Map("u" -> "6"), 999L, "r8", Double.NegativeInfinity))), root)
    for (q <- Seq("sum(infm)", "min(infm)", "max(infm)", "avg(infm)")) {
      val fast = PromRegistry.instantFastPath(spark, root, q, t, lookback).get
      val slow = PromQlVersioned.compileInstantVector(
        spark, root, q, t, lookbackSec = lookback)
      assert(renderedBits(fast) === renderedBits(slow), q)
    }
    // a decimal-cap value (≥ 9e11) routes sums through the IEEE sidecar:
    // the fold DECLINES (order-dependent lane) and the fast path falls
    // back to the compiled local plan — answers still identical
    PromQlVersioned.land(mkd(Seq(
      ("app", "big", Map("u" -> "7"), 999L, "r9", 5.0e12),
      ("app", "big", Map("u" -> "8"), 999L, "rA", 1.25))), root)
    for (q <- Seq("sum(big)", "avg(big)", "min(big)", "count(big)")) {
      val fast = PromRegistry.instantFastPath(spark, root, q, t, lookback).get
      val slow = PromQlVersioned.compileInstantVector(
        spark, root, q, t, lookbackSec = lookback)
      assert(renderedBits(fast) === renderedBits(slow), q)
    }
  }

  test("cold start bootstraps from the landed checkpoint plus the delta " +
      "files since — never the corpus; /federate identical across restart") {
    PromRegistry.reset()
    val root = Files.createTempDirectory("graft-regckpt").toFile.getAbsolutePath
    PromQlVersioned.land(mk(Seq(
      ("app", "m", Map("h" -> "a"), 100L, "r1", 1.0),
      ("app", "m", Map("h" -> "b"), 110L, "r2", 2.0))), root)
    PromQlVersioned.land(mk(Seq(
      ("app", "n", Map("h" -> "a"), 120L, "r3", 3.0))), root)
    // checkpoint at source version 1
    PromRegistry.checkpoint(spark, root)
    // two more appends AFTER the checkpoint
    PromQlVersioned.land(mk(Seq(
      ("app", "m", Map("h" -> "a"), 130L, "r4", 4.0))), root)
    PromQlVersioned.land(mk(Seq(
      ("app", "p", Map("h" -> "c"), 90L, "r5", 5.0))), root)
    val preRestart = stateHeads(PromRegistry.current(spark, root))

    // a landing server answering /federate before the restart
    val server = graft.promql.PromQlHttp.startLandingServer(spark, root)
    val port = server.getAddress.getPort
    def federate(): String = {
      val resp = java.net.http.HttpClient.newHttpClient().send(
        java.net.http.HttpRequest.newBuilder(java.net.URI.create(
          s"http://127.0.0.1:$port/federate?match[]=" +
            java.net.URLEncoder.encode("""{__name__=~".*"}""",
              java.nio.charset.StandardCharsets.UTF_8))).build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())
      assert(resp.statusCode() === 200)
      resp.body()
    }
    try {
      val bodyBefore = federate()

      // RESTART: the driver memo is gone; the rebuild's census must be
      // (checkpoint + the two post-checkpoint delta files) ONLY
      PromRegistry.reset()
      val (s, census) = PromRegistry.refresh(spark, root)
      val ckptFiles = Versioned
        .manifest(PromRegistry.ckptRoot(root),
          Versioned.latestVersion(PromRegistry.ckptRoot(root)))
        .map(e => s"_registry_ckpt/${e.path}").toSet
      val v1Files = Versioned.manifest(root, 1L).map(_.path).toSet
      val deltaFiles = Versioned.manifest(root, 3L).map(_.path).toSet -- v1Files
      assert(ckptFiles.nonEmpty && deltaFiles.size === 2)
      assert(census.toSet === ckptFiles ++ deltaFiles,
        "restart must read checkpoint + delta only")
      assert(census.toSet.intersect(v1Files).isEmpty,
        "no pre-checkpoint landed file may be re-read")
      assert(stateHeads(s) === fullHeads(root))
      assert(s.version === 3L && s.minTs === 90L)

      // the serving surface agrees byte-for-byte across the restart
      assert(federate() === bodyBefore)
      assert(preRestart === stateHeads(PromRegistry.current(spark, root)))
    } finally server.stop(0)

    // a maintenance transition AFTER the checkpoint (compaction) makes
    // the checkpoint's delta unsound — the cold start must fall back to
    // the full recompute and still be exact
    Versioned.compactSmall(spark, root, maxBytes = Long.MaxValue)
    PromRegistry.reset()
    val (s2, census2) = PromRegistry.refresh(spark, root)
    assert(stateHeads(s2) === fullHeads(root))
    val liveNow = Versioned
      .manifest(root, Versioned.latestVersion(root)).map(_.path).toSet
    assert(census2.toSet.intersect(liveNow) === liveNow,
      "maintenance after checkpoint falls back to the full recompute")

    // a checkpoint under a FOREIGN series-key format (e.g. pre-r16
    // unescaped keys) must never seed the merge, however tempting its
    // sourceVersion — one series would otherwise live under two
    // spellings. Plant a maximally tempting one (source = current
    // latest, delta empty) with a doctored format stamp.
    val cr = PromRegistry.ckptRoot(root)
    val cv = Versioned.latestVersion(cr)
    Versioned.commit(
      Versioned.asOf(spark, cr, cv), cr,
      props = Versioned.markerProps(cr, cv)
        .updated("ckpt.keyFormat", "legacy0")
        .updated("ckpt.sourceVersion",
          Versioned.latestVersion(root).toString))
    PromRegistry.reset()
    val (s3, census3) = PromRegistry.refresh(spark, root)
    assert(stateHeads(s3) === fullHeads(root))
    assert(!census3.exists(_.startsWith("_registry_ckpt/")),
      "a foreign-key-format checkpoint must not seed the restart")
  }

  test("the checkpoint relation holds the registry's heads: the Spark " +
      "/federate render over it equals the driver render") {
    // the checkpoint is a landed head table; rendering it through the
    // m6 Spark path must give the driver fold's body byte for byte
    PromRegistry.reset()
    val root = Files.createTempDirectory("graft-regswap").toFile.getAbsolutePath
    PromQlVersioned.land(mk(Seq(
      ("app", "up", Map("host" -> "a"), 100L, "r1", 1.0),
      ("app", "up", Map("host" -> "b", "z" -> "x,y=q\\"), 110L, "r2", 2.0),
      ("app", "dot.name", Map("k.q" -> "v"), 120L, "r3", 3.0),
      ("db", "up", Map.empty[String, String], 130L, "r4", 4.0))), root)
    PromRegistry.checkpoint(spark, root)
    val state = PromRegistry.current(spark, root)
    val cr = PromRegistry.ckptRoot(root)
    val ckpt = Versioned.asOf(spark, cr, Versioned.latestVersion(cr))
      .select(col("component"), col("name"), col("labels"),
        col("value").as("last_value"), col("ts").as("last_ts"))
    for (m <- Seq(
        Seq("""{__name__=~".*"}"""),
        Seq("up"),
        Seq("""up{host="a"}""", """{"dot.name"}"""))) {
      assert(graft.promql.PromQlHttp.federateSparkBody(ckpt, m) ===
        PromRegistry.federateBody(state, m), m.mkString(","))
    }
  }

  test("the checkpoint sidecar stays O(1) snapshots and a recreated " +
      "landing refuses a dead generation's checkpoint") {
    PromRegistry.reset()
    val root = Files.createTempDirectory("graft-reggen").toFile.getAbsolutePath
    PromQlVersioned.land(mk(Seq(
      ("app", "dead", Map("h" -> "a"), 100L, "r1", 1.0),
      ("app", "dead", Map("h" -> "b"), 110L, "r2", 2.0))), root)
    // repeated checkpoints must not grow the sidecar without bound: the
    // post-commit vacuum (r15 ADVICE) keeps it at <= 2 live snapshots
    (1 to 5).foreach { i =>
      PromQlVersioned.land(mk(Seq(
        ("app", "dead", Map("h" -> s"c$i"), 100L + i, s"x$i", i.toDouble))), root)
      PromRegistry.checkpoint(spark, root)
    }
    val cr = PromRegistry.ckptRoot(root)
    val cv = Versioned.latestVersion(cr)
    val liveCkpts = (0L to cv).filter { v =>
      try { Versioned.manifest(cr, v); true }
      catch { case _: IllegalArgumentException => false }
    }
    assert(cv >= 4 && liveCkpts.size <= 2,
      s"sidecar must be vacuumed to O(1) snapshots, live: $liveCkpts")

    // RECREATE the landing in place, sidecar surviving (partial wipe /
    // restore-from-backup): once the new generation's version count
    // passes the stale checkpoint's sourceVersion, the old containment
    // check alone would merge the DEAD generation's heads — the
    // generation stamp must refuse the checkpoint instead
    val srcV = Versioned.markerProps(cr, cv)("ckpt.sourceVersion").toLong
    new java.io.File(root).listFiles().foreach { f =>
      if (f.getName != "_registry_ckpt")
        org.apache.commons.io.FileUtils.deleteQuietly(f)
    }
    Thread.sleep(5) // generation id is the v0 marker's millis timestamp
    (0 to srcV.toInt + 1).foreach { i =>
      PromQlVersioned.land(mk(Seq(
        ("app", "fresh", Map("h" -> s"n$i"), 200L + i, s"f$i", i.toDouble))), root)
    }
    assert(Versioned.latestVersion(root) >= srcV,
      "the new generation must regrow past the stale sourceVersion")
    PromRegistry.reset()
    val (s, _) = PromRegistry.refresh(spark, root)
    assert(stateHeads(s) === fullHeads(root),
      "a dead generation's heads must never merge into a recreated landing")
    assert(!s.heads.keysIterator.exists(_._2 == "dead"))
  }

  test("the delta fold orders by the SAME key as the Spark max_by: " +
      "sub-second timestamps and non-ASCII ids pick one winner") {
    PromRegistry.reset()
    // land() accepts arbitrary frames — a DOUBLE timestamp carries
    // sub-second precision the old long-seconds merge truncated away
    def mkd(rows: Seq[(String, String, Map[String, String], Double, String, Double)]) =
      rows.toDF("component", "name", "labels", "timestamp", "id", "value")
    val root = Files.createTempDirectory("graft-regord").toFile.getAbsolutePath
    PromQlVersioned.land(mkd(Seq(
      ("app", "m", Map("h" -> "a"), 100.25, "r1", 1.0))), root)
    PromRegistry.refresh(spark, root)
    // 100.75 > 100.25 but both truncate to second 100: the fold must
    // still advance the head (the old merge saw a ts tie and kept the
    // LARGER id — r1 — silently freezing the series)
    PromQlVersioned.land(mkd(Seq(
      ("app", "m", Map("h" -> "a"), 100.75, "q9", 2.0))), root)
    val (s1, c1) = PromRegistry.refresh(spark, root)
    assert(c1.nonEmpty, "append-only transition must delta-fold")
    assert(s1.heads(("app", "m", "h=a")).value === 2.0)
    // …and a sub-second OLDER sample must not displace it
    PromQlVersioned.land(mkd(Seq(
      ("app", "m", Map("h" -> "a"), 100.5, "z9", 3.0))), root)
    assert(PromRegistry.refresh(spark, root)._1
      .heads(("app", "m", "h=a")).value === 2.0)

    // exact-tie ids compare in UTF8-binary order, Spark's struct order:
    // U+1F600 (UTF-8 F0 9F 98 80) sorts ABOVE U+FFFD (EF BF BD) even
    // though its UTF-16 lead surrogate D83D sorts below — the Scala
    // string compare would pick the wrong winner
    assert(PromRegistry.utf8Gt("😀", "�") &&
      "😀" < "�")
    val r2 = Files.createTempDirectory("graft-regord2").toFile.getAbsolutePath
    PromQlVersioned.land(mk(Seq(
      ("app", "m", Map("h" -> "a"), 100L, "�", 1.0))), r2)
    PromRegistry.refresh(spark, r2)
    PromQlVersioned.land(mk(Seq(
      ("app", "m", Map("h" -> "a"), 100L, "😀", 2.0))), r2)
    val (s2, c2) = PromRegistry.refresh(spark, r2)
    assert(c2.nonEmpty)
    assert(stateHeads(s2) === fullHeads(r2))
    assert(s2.heads(("app", "m", "h=a")).value === 2.0)
  }

  test("a recreated landing (version regression) evicts the stale memo " +
      "instead of poisoning it") {
    PromRegistry.reset()
    val dir = Files.createTempDirectory("graft-regpoison").toFile
    val root = dir.getAbsolutePath
    PromQlVersioned.land(mk(Seq(
      ("app", "m", Map("h" -> "a"), 100L, "r1", 1.0))), root)
    PromQlVersioned.land(mk(Seq(
      ("app", "m", Map("h" -> "a"), 110L, "r2", 2.0))), root)
    PromQlVersioned.land(mk(Seq(
      ("app", "m", Map("h" -> "a"), 120L, "r3", 3.0))), root)
    assert(PromRegistry.refresh(spark, root)._1.version === 2L)
    // delete + recreate at the same root: latestVersion regresses to 0
    def rmrf(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rmrf)); f.delete()
    }
    rmrf(dir)
    PromQlVersioned.land(mk(Seq(
      ("app", "fresh", Map("h" -> "b"), 50L, "n1", 9.0))), root)
    val (sa, _) = PromRegistry.refresh(spark, root)
    assert(sa.version === 0L && sa.names === Seq("fresh"))
    // the stale v2 memo must be GONE: the next refresh is a memo hit
    // (before the fix the forward-only merge kept v2 pinned and every
    // call recomputed the corpus)
    val (sb, census) = PromRegistry.refresh(spark, root)
    assert(census === Nil && sb.version === 0L)
    assert(stateHeads(sb) === fullHeads(root))
  }
}
