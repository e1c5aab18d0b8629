package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.GraftBridge
import org.apache.spark.sql.types.{ArrayType, MapType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.model.FirehoseMetric
import graft.operators.Firehose

/** Differential specs of the label-map kernels against the higher-order
  * function spellings they replace (kept in the companion object as
  * oracles): [[Firehose.seriesKey]] against
  * `array_join(transform(array_sort(map_entries(...))))` and
  * [[Firehose.tagFilter]] against `map_filter`, on seeded random maps with
  * the key metacharacters, null values, duplicate keys, empty and null
  * maps, and non-ASCII keys whose UTF-8 order differs from Java `String`
  * order.
  */
class SeriesKeySpec extends SparkSuite {
  import SeriesKeySpec._

  private val rnd = new scala.util.Random(20261021L)

  private val alphabet = Seq("a", "b", "\\", "=", ",", "é", "Ａ", "😀", "", "k=v,", "\\\\=")

  private def randText(): String =
    (0 until rnd.nextInt(4)).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString

  /** A label map as Spark holds it, duplicate keys included (a map read
    * from a file can carry them; Spark's own builders refuse them).
    */
  private def randMap(): ArrayBasedMapData = {
    val n = rnd.nextInt(6)
    val keys = (0 until n).map(_ => UTF8String.fromString(randText()))
    val withDup = if (n > 0 && rnd.nextInt(5) == 0) keys :+ keys(rnd.nextInt(n)) else keys
    val values = withDup.map(_ =>
      if (rnd.nextInt(6) == 0) null else UTF8String.fromString(randText()))
    new ArrayBasedMapData(new GenericArrayData(withDup.toArray[Any]), new GenericArrayData(values.toArray[Any]))
  }

  /** `count` maps (every 9th null) as a column `m` read per row, so the
    * expressions over it run in generated code, not constant-folded.
    */
  private def maps(count: Int): (Seq[ArrayBasedMapData], DataFrame) = {
    val ms = (0 until count).map(i => if (i % 9 == 4) null else randMap()) ++ Seq(
      // UTF-8 order puts "Ａ" (EF BC A1) before "😀" (F0 9F 98 80);
      // Java String order puts the surrogate pair first
      mapOf("😀" -> "1", "Ａ" -> "2"),
      mapOf("k" -> "v=1", "k" -> "v,0", "k" -> null, "" -> "", "=" -> "\\"),
      mapOf())
    val lit = GraftBridge.column(Literal.create(
      new GenericArrayData(ms.toArray[Any]), ArrayType(MapType(StringType, StringType))))
    (ms, spark.range(ms.size).select(col("id"), element_at(lit, col("id").cast("int") + 1).as("m")))
  }

  private def mapOf(kvs: (String, String)*): ArrayBasedMapData =
    new ArrayBasedMapData(
      new GenericArrayData(kvs.map(kv => UTF8String.fromString(kv._1)).toArray[Any]),
      new GenericArrayData(kvs.map(kv => if (kv._2 == null) null else UTF8String.fromString(kv._2)).toArray[Any]))

  test("the seriesKey kernel renders the lambda spelling's key byte for byte, and parseSeriesKey inverts it") {
    val (ms, df) = maps(3000)
    val rows = df.select(col("id"), Firehose.seriesKey(col("m")), seriesKeyLambda(col("m")))
      .orderBy("id").collect()
    assert(rows.length === ms.size)
    val diff = rows.filter(r => r.get(1) != r.get(2))
    assert(diff.isEmpty, diff.take(5).map(r => s"map ${r.get(0)}: kernel ${r.get(1)} vs lambda ${r.get(2)}")
      .mkString("\n"))
    assert(rows.count(_.isNullAt(1)) === ms.count(_ == null))
    assert(rows.exists(r => !r.isNullAt(1) && r.getString(1).contains("\\,")))
    rows.zip(ms).foreach { case (r, m) =>
      if (m != null) {
        val (keys, values) = (m.keyArray, m.valueArray)
        val entries = (0 until m.numElements())
          .filterNot(i => values.isNullAt(i))
          .map(i => (keys.getUTF8String(i), values.getUTF8String(i)))
          .sortWith { (a, b) =>
            val c = a._1.compareTo(b._1)
            c < 0 || (c == 0 && a._2.compareTo(b._2) < 0)
          }
          .map { case (k, v) => (k.toString, v.toString) }
        assert(Firehose.parseSeriesKey(r.getString(1)) === entries, r.getString(1))
      }
    }
    assert(rows(ms.size - 3).getString(1) === "Ａ=2,😀=1")
    assert(rows(ms.size - 2).getString(1) === "=,\\==\\\\,k=v\\,0,k=v\\=1")
    assert(rows(ms.size - 1).getString(1) === "")
  }

  test("the tagFilter kernel keeps map_filter's entries in map_filter's order") {
    val (ms, df) = maps(3000)
    def entries(c: Column): Column = to_json(map_entries(c))
    for (filtered <- Seq(FirehoseMetric.filteredTags, Set("a", "é", "", "k=v,"))) {
      val rows = Firehose.tagFilter(df.withColumnRenamed("m", "tags"), filtered)
        .select(col("id"), entries(col("labels")), entries(tagFilterLambda(col("tags"), filtered)))
        .orderBy("id").collect()
      assert(rows.length === ms.size)
      val diff = rows.filter(r => r.get(1) != r.get(2))
      assert(diff.isEmpty, diff.take(5).map(r => s"map ${r.get(0)}: kernel ${r.get(1)} vs map_filter ${r.get(2)}")
        .mkString("\n"))
    }
  }

  test("the label-map kernels answer by their SQL names, as a recording rule's view stores them") {
    val (ms, df) = maps(300)
    val rows = df.selectExpr("id", "series_key(m)", "to_json(map_entries(drop_map_keys(m, 'a', 'unit')))")
      .join(df.select(col("id"), Firehose.seriesKey(col("m")).as("k"),
        to_json(map_entries(Firehose.dropKeys(col("m"), Set("a", "unit")))).as("d")), "id")
      .collect()
    assert(rows.length === ms.size)
    assert(rows.forall(r => r.get(1) == r.get(3) && r.get(2) == r.get(4)))
  }

  test("the label-map kernels run in whole-stage codegen, with no lambda in the plan") {
    val (_, df) = maps(10)
    val q = Firehose.tagFilter(df.withColumnRenamed("m", "tags"))
      .select(Firehose.seriesKey(col("labels")))
    q.collect()
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("lambdafunction"), plan)
    assert(plan.contains("*(1) Project [series_key(drop_map_keys("), plan)
  }
}

object SeriesKeySpec {

  /** The higher-order function spelling of [[Firehose.seriesKey]]: the
    * seriesKey kernel's oracle.
    */
  def seriesKeyLambda(labels: Column): Column =
    array_join(
      transform(
        array_sort(map_entries(labels)),
        e => concat(
          escapeSeriesPart(e.getField("key")), lit("="),
          escapeSeriesPart(e.getField("value")))),
      ",")

  /** The literal `replace` chain spelling of
    * [[Firehose.escapeSeriesPartStr]] as a column expression.
    */
  def escapeSeriesPart(c: Column): Column =
    replace(
      replace(
        replace(c, lit("\\"), lit("\\\\")),
        lit("="), lit("\\=")),
      lit(","), lit("\\,"))

  /** The `map_filter` spelling of [[Firehose.tagFilter]]: the tagFilter
    * kernel's oracle.
    */
  def tagFilterLambda(tags: Column, filtered: Set[String]): Column = {
    val filteredArr = array(filtered.toSeq.map(lit): _*)
    map_filter(tags, (k, _) => !array_contains(filteredArr, k))
  }
}
