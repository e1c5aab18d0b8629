package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.operators.Firehose
import graft.sources.PromSource

/** Randomized parity property for the shared exposition grammar: for ANY
  * generated line — well-formed (escaped quotes/backslashes/newlines,
  * ±Inf/NaN values, optional timestamps, trailing commas) or corrupted
  * (block residue, unbalanced quotes, bad tokens) — the DSv2 scanner and
  * the expression parser must make the SAME keep/drop decision and produce
  * the SAME (metric, series, value, ts) when keeping. This pins the
  * cannot-drift claim far beyond the hand-written adversarial cases.
  * Seeded RNG → deterministic (the repo's property-test convention).
  */
class PromFuzzSpec extends SparkSuite {

  private val rnd = new scala.util.Random(20260813L)

  // nasty raw label values: spaces, commas, braces, '=', quotes,
  // backslashes, raw newlines, runs of backslashes before 'n'
  private def randLabelValue(): String = {
    val chars = "abXZ 019,{}=\"\\\n:/.-n"
    val n = rnd.nextInt(12)
    (0 until n).map(_ => chars(rnd.nextInt(chars.length))).mkString
  }

  private def escape(v: String): String = v.flatMap {
    case '\\' => "\\\\"
    case '"' => "\\\""
    case '\n' => "\\n"
    case c => c.toString
  }

  private def randValueTok(): String = rnd.nextInt(8) match {
    case 0 => "+Inf"
    case 1 => "-Inf"
    case 2 => "NaN"
    case 3 => "Inf"
    case 4 => rnd.nextInt(1000).toString
    case 5 => f"${rnd.nextDouble() * 100}%.6f"
    case 6 => s"${rnd.nextInt(100)}e${rnd.nextInt(4)}"
    case _ => "notanum" + rnd.nextInt(10) // malformed: both must drop
  }

  // sometimes a Prometheus 3.x quoted UTF-8 key ("k.0" etc), sometimes
  // classic — the parsers must treat both identically
  private def randKey(i: Int): String =
    if (rnd.nextBoolean()) s"k$i" else s""""k.$i""""

  private def randLine(): String = {
    val nLabels = rnd.nextInt(4)
    val pairs =
      (0 until nLabels).map(i => s"""${randKey(i)}="${escape(randLabelValue())}"""")
    // 1-in-3: the quoted-name form — the metric moves into the block as
    // its (escaped) first entry; else the classic bare-name form
    val quotedName = rnd.nextInt(3) == 0
    val head =
      if (quotedName) {
        val name = s"m${rnd.nextInt(100)}.total" // non-classic (dot)
        val entries = s""""${escape(name)}"""" +: pairs
        "{" + entries.mkString(",") + (if (rnd.nextBoolean()) "," else "") + "}"
      } else {
        val metric = s"m${rnd.nextInt(100)}_total"
        val block =
          if (nLabels == 0 && rnd.nextBoolean()) ""
          else {
            val trail = if (rnd.nextBoolean() && nLabels > 0) "," else ""
            "{" + pairs.mkString(",") + trail + "}"
          }
        s"$metric$block"
      }
    val ts =
      if (rnd.nextBoolean()) s" ${1700000000000L + rnd.nextInt(100000)}" else ""
    s"$head ${randValueTok()}$ts"
  }

  private def corrupt(line: String): String = rnd.nextInt(4) match {
    case 0 => line.replaceFirst("\\{", "{oops ") // block residue
    case 1 => line.replaceFirst("\"", "") // unbalance a quote
    case 2 => line + " extra trailing token"
    case _ => line.replaceFirst("=", "~")
  }

  test("scanner, parse kernel and regex parser agree on 600 fuzzed lines") {
    val lines = (1 to 500).map(_ => randLine()) ++
      (1 to 100).map(_ => corrupt(randLine()))
    // canonicalize values through bit patterns so NaN compares equal
    def canon(metric: String, series: String, value: Double, ts: Option[Long]) =
      (metric, series, java.lang.Double.doubleToLongBits(value), ts)
    val viaScanner = lines
      .flatMap(PromSource.parseLine)
      .map(t => canon(t._1, t._2, t._3, Option(t._4).map(_.longValue())))
      .sorted
    import spark.implicits._
    def run(parse: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame) =
      parse(lines.toDF("line"))
        .collect()
        .map(r => canon(r.getString(0), r.getString(1), r.getDouble(2),
          if (r.isNullAt(3)) None else Some(r.getLong(3))))
        .toSeq
        .sorted
    // THREE independent implementations of the one grammar: the codegen
    // kernel (the hot path), the regexp-expression spelling it replaced
    // (kept as the differential reference), and the Java-matcher scanner
    val viaKernel = run(Firehose.promParse)
    val viaRegex = run(PromFuzzSpec.promParseRegex)
    assert(viaKernel === viaScanner)
    assert(viaRegex === viaScanner)
    // the generator must actually exercise both outcomes
    assert(viaScanner.size > 200, s"too few kept lines: ${viaScanner.size}")
    assert(viaScanner.size < lines.size, "no line was dropped — fuzzer too tame")
  }

  test("series identity is injective and round-trips; driver render twins " +
      "match codegen byte-for-byte on 200 fuzzed label maps") {
    import graft.promql.PromRegistry
    // random label maps over the nasty alphabet (keys too — quoted-form
    // territory), plus non-classic metric names
    def randMap(): Map[String, String] = {
      val n = rnd.nextInt(4)
      (0 until n).map { i =>
        val key =
          if (rnd.nextBoolean()) s"k$i" else s"k$i${randLabelValue()}x"
        key -> randLabelValue()
      }.toMap
    }
    val rows = (1 to 200).map { i =>
      val name = if (rnd.nextBoolean()) s"n${i}_total" else s"n$i.${randLabelValue()}t"
      ("app", name, randMap(), 1000L + i, s"r$i", rnd.nextDouble())
    }
    import spark.implicits._
    val df = rows.toDF("component", "name", "labels", "last_ts", "id", "last_value")
      .withColumn("series", Firehose.seriesKey(col("labels")))
    val got = df.select(col("name"), col("labels"), col("series"),
        col("last_value"), col("last_ts")).collect()
    // 1) the codegen key equals the driver escape render in utf8 key
    //    order; 2) parseSeriesKey inverts it exactly
    val seen = scala.collection.mutable.Map.empty[String, Map[String, String]]
    got.foreach { r =>
      val labels = r.getMap[String, String](1).toMap
      val series = r.getString(2)
      val want = labels.toSeq
        .sortWith((x, y) => PromRegistry.utf8Gt(y._1, x._1))
        .map { case (k, v) =>
          Firehose.escapeSeriesPartStr(k) + "=" + Firehose.escapeSeriesPartStr(v)
        }.mkString(",")
      assert(series === want, s"codegen/driver key drift for $labels")
      assert(Firehose.parseSeriesKey(series).toMap === labels,
        s"parseSeriesKey not inverse for $labels")
      // injectivity: one key, one map
      seen.get(series).foreach(prev => assert(prev === labels,
        s"series-key collision: $prev vs $labels"))
      seen(series) = labels
    }
    // 3) the exposition line renders byte-identically on the codegen and
    //    driver paths for every map/name, quoted forms included
    val lines = Firehose.promRender(df).collect().map(_.getString(0))
    val driverLines = got.map { r =>
      val labels = r.getMap[String, String](1).toMap
      Firehose.renderLineStr("app", r.getString(0),
        labels.toSeq.sortWith((x, y) => PromRegistry.utf8Gt(y._1, x._1)),
        r.getDouble(3), r.getLong(4))
    }
    assert(lines.sorted.toSeq === driverLines.sorted.toSeq)
    // 4) and each line round-trips through promParse to the same
    //    (metric, series) identity
    val parsed = Firehose.promParse(lines.toSeq.toDF("line"))
      .collect().map(r => (r.getString(0), r.getString(1))).sorted.toSeq
    val wantParsed = got.map(r =>
      (s"app_${r.getString(0)}", r.getString(2))).sorted.toSeq
    assert(parsed === wantParsed)
    // 5) the classic downgrade (escaping not negotiated) must render a
    //    PARSEABLE classic line for ANY name/label text: names
    //    underscore-mangled per EscapeName, values intact — and the
    //    codegen leg (promRender utf8 = false) byte-matches the driver
    val classicDriver = got.map { r =>
      val labels = r.getMap[String, String](1).toMap
      val line = Firehose.renderLineStr("app", r.getString(0),
        labels.toSeq.sortWith((x, y) => PromRegistry.utf8Gt(y._1, x._1)),
        r.getDouble(3), r.getLong(4), utf8 = false)
      val p = PromSource.parseLine(line)
      assert(p.nonEmpty, s"classic downgrade unparseable: $line")
      assert(p.get._1 ===
        Firehose.underscoreMetricName("app_" + r.getString(0)))
      line
    }
    val classicCodegen =
      Firehose.promRender(df, utf8 = false).collect().map(_.getString(0))
    assert(classicCodegen.sorted.toSeq === classicDriver.sorted.toSeq)
  }

  test("full-precision value wire spelling: codegen == driver == re-parse " +
      "identity over adversarial doubles (the %.6f convention retired)") {
    import spark.implicits._
    // hand-picked adversarial values (everything %.6f lost or rounded)
    // plus 300 uniform-random bit patterns (any finite double at all)
    val picked = Seq(
      3e-7, 1e21, -1e21, 0.0, -0.0, 1.0 / 3.0, math.Pi * 1e-20,
      Double.MaxValue, Double.MinPositiveValue, java.lang.Double.MIN_NORMAL,
      9999999.999999998, 1.0e7, 0.001, 1.0e-4, 123456789012345680.0,
      -42.0, 560.21, 2.5000000000000004,
      Double.PositiveInfinity, Double.NegativeInfinity, Double.NaN)
    val random = (1 to 300).map { _ =>
      java.lang.Double.longBitsToDouble(rnd.nextLong())
    }
    val vals = picked ++ random
    // 1) codegen expoValueCol byte-matches the driver twin on every value
    val rendered = vals.toDF("v")
      .select(Firehose.expoValueCol(col("v")).as("s"))
      .collect().map(_.getString(0))
    vals.zip(rendered).foreach { case (v, s) =>
      assert(s === Firehose.expoValueStr(v),
        s"codegen/driver value-spelling drift for $v")
      // 2) the spelling re-parses to the SAME BITS (NaN payloads
      //    canonicalize — any NaN spelling parsing to any NaN is the
      //    identity Prometheus itself guarantees)
      val back =
        if (s == "+Inf") Double.PositiveInfinity
        else if (s == "-Inf") Double.NegativeInfinity
        else java.lang.Double.parseDouble(s)
      if (v.isNaN) assert(back.isNaN, s"NaN lost: $s")
      else assert(
        java.lang.Double.doubleToLongBits(back) ===
          java.lang.Double.doubleToLongBits(v),
        s"round-trip drift: $v -> $s -> $back")
    }
    // 3) the FULL line round-trips through promParse with the exact
    //    value — render and parse as one circle over adversarial values
    val df = vals.zipWithIndex.map { case (v, i) =>
      ("app", "bytes_total", Map("user" -> s"u$i"), 1000L + i, v)
    }.toDF("component", "name", "labels", "last_ts", "last_value")
    val got = Firehose.promParse(Firehose.promRender(df))
      .select(col("series"), col("value")).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    vals.zipWithIndex.foreach { case (v, i) =>
      val back = got(s"user=u$i")
      if (v.isNaN) assert(back.isNaN)
      else assert(
        java.lang.Double.doubleToLongBits(back) ===
          java.lang.Double.doubleToLongBits(v),
        s"line round-trip drift for $v")
    }
  }
}

object PromFuzzSpec {

  /** The regexp-expression spelling of [[Firehose.promParse]] — the
    * DIFFERENTIAL REFERENCE the fuzz property compares the kernel against
    * (three independent implementations of one grammar: this, the
    * kernel, the DSv2 scanner).
    */
  def promParseRegex(lines: DataFrame): DataFrame = {
    import Firehose.PromGrammar
    import SeriesKeySpec.escapeSeriesPart
    // one anchored match: optional metric (absent for the Prometheus 3.x
    // quoted-name form `{"my.metric",k="v"} 5`), optional {label block}
    // (greedy `.*` so the block extends to the LAST '}' — quoted values
    // may contain '}'), value token, optional timestamp token
    val re = PromGrammar.LineRe
    val pairRe = PromGrammar.PairRe
    val bmRe = PromGrammar.BlockMetricRe
    // the two regex passes of PromGrammar.unescapeLabelValue: newline
    // escapes first, then the generic `\x` → x
    def unesc(c: Column): Column =
      regexp_replace(
        regexp_replace(c, PromGrammar.NewlineEscRe, "$1\n"),
        PromGrammar.AnyEscRe, "$1")
    // validity under the plain grammar: the line matches, and its block
    // tiles as pairs (classic form) or as quoted-metric-then-pairs
    // (quoted-name form — exactly when the bare metric token is absent)
    def lineValid(l: Column): Column = {
      val mtok = regexp_extract(l, re, 1)
      val block = regexp_extract(l, re, 3)
      l.rlike(re) && (
        (mtok =!= "" && block.rlike(PromGrammar.BlockRe)) ||
        (mtok === "" && block.rlike(bmRe) &&
          regexp_extract(block, bmRe, 2).rlike(PromGrammar.BlockRe)))
    }
    lines
      .select(trim(col("line")).as("_l0"))
      .filter(length(col("_l0")) > 0 && !col("_l0").startsWith("#"))
      // OpenMetrics tolerance, the scanners' retry discipline as one
      // codegen'd conditional: a line that does NOT already parse under
      // the plain grammar sheds its exemplar tail; previously-valid
      // lines are left byte-identical. Raw-line validity is computed
      // ONCE here (`_v0` — ProjectExec's subexpression elimination
      // shares it with the `_l` conditional); the keep/drop filter
      // below reads the materialized boolean and only re-runs the line
      // grammar on the RETRY branch (codegen `Or` short-circuits), so a
      // valid line engages the LineRe family once, not twice
      .select(
        col("_l0"),
        lineValid(col("_l0")).as("_v0"))
      .select(
        col("_v0"),
        when(col("_v0"), col("_l0"))
          .otherwise(regexp_replace(col("_l0"), PromGrammar.ExemplarTailRe, ""))
          .as("_l"))
      .filter(col("_v0") || lineValid(col("_l")))
      .withColumn("_mtok", regexp_extract(col("_l"), re, 1))
      .withColumn("_block", regexp_extract(col("_l"), re, 3))
      // the pairs live in the whole block (classic) or after the quoted
      // metric's comma (quoted-name form)
      .withColumn("_pairsrc",
        when(col("_mtok") =!= "", col("_block"))
          .otherwise(regexp_extract(col("_block"), bmRe, 2)))
      .withColumn("_ts_tok", regexp_extract(col("_l"), re, 6))
      .withColumn("_val_tok", regexp_extract(col("_l"), re, 4))
      // try_cast, not cast: a malformed token must become a dropped row,
      // not an ANSI runtime error killing the scan. Accepts Spark's special
      // floating-point literals (+Inf/-Inf/NaN, any case) — the scanner's
      // PromGrammar.parseDoubleToken mirrors exactly this acceptance set.
      .withColumn("value", expr("try_cast(_val_tok AS double)"))
      .withColumn("ts_ms",
        when(col("_ts_tok") === "", lit(null).cast("long"))
          .otherwise(expr("try_cast(_ts_tok AS bigint)")))
      // a present-but-unparseable value or timestamp token is a malformed
      // line (skip), not a null field
      .filter(col("value").isNotNull &&
        !(col("_ts_tok") =!= "" && col("ts_ms").isNull))
      .select(
        when(col("_mtok") =!= "", col("_mtok"))
          .otherwise(unesc(regexp_extract(col("_block"), bmRe, 1)))
          .as("metric"),
        array_join(
          transform(
            regexp_extract_all(col("_pairsrc"), lit(pairRe), lit(0)),
            p => concat(
              // classic key verbatim, quoted key unescaped; both
              // series-escaped so the rendered key stays injective
              escapeSeriesPart(
                when(regexp_extract(p, pairRe, 1) =!= "",
                  regexp_extract(p, pairRe, 1))
                  .otherwise(unesc(regexp_extract(p, pairRe, 2)))),
              lit("="),
              escapeSeriesPart(unesc(regexp_extract(p, pairRe, 3))))),
          ",").as("series"),
        col("value"), col("ts_ms"))
  }
}
