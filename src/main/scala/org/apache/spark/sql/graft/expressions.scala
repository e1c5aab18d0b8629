package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, LeafExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DataType, DoubleType, FloatType, IntegerType, LongType, MapType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{Kernels, MetricJsonDecoder}
import graft.model.FirehoseMetric

/** graft's custom Catalyst expressions. They live under
  * `org.apache.spark.sql` because the expression-authoring surface
  * (`AbstractDataType`, `ExpressionUtils`) is `private[sql]` — the standard
  * technique for out-of-tree Catalyst extensions.
  */

/** Codegen'd cosine similarity over two float-array columns. Null-safe; the
  * generated code is a single static call inside whole-stage codegen.
  */
case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(FloatType), ArrayType(FloatType))
  override def dataType: DataType = DoubleType

  override protected def nullSafeEval(a: Any, b: Any): Any =
    Kernels.cosine(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.Kernels.cosine($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSim =
    copy(left = newLeft, right = newRight)
}

/** Codegen'd 60-bit SimHash fingerprint of an array of terms. */
case class SimHash64(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = LongType

  override protected def nullSafeEval(terms: Any): Any =
    Kernels.simhash(terms.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Kernels.simhash($c)")

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

/** Codegen'd polynomial rolling fingerprint of a string. */
case class PolyFingerprint(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = LongType

  override protected def nullSafeEval(s: Any): Any =
    Kernels.fingerprint(s.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Kernels.fingerprint($c)")

  override protected def withNewChildInternal(newChild: Expression): PolyFingerprint =
    copy(child = newChild)
}

/** 60-bit md5-prefix hash of a string (the portable per-term hash). */
case class Md5Prefix60(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = LongType

  override protected def nullSafeEval(s: Any): Any =
    Kernels.md5Prefix60(s.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Kernels.md5Prefix60($c)")

  override protected def withNewChildInternal(newChild: Expression): Md5Prefix60 =
    copy(child = newChild)
}

/** Codegen'd full-signature MinHash over an array of terms. */
case class MinHashSig(child: Expression, k: Int)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override protected def nullSafeEval(terms: Any): Any =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      Kernels.minhashSig(terms.asInstanceOf[ArrayData], k))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"new org.apache.spark.sql.catalyst.util.GenericArrayData(" +
        s"graft.functions.Kernels.minhashSig($c, $k))")

  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

/** IVF-PQ expressions: the model matrices (centroids / per-subspace
  * codebooks) are PLAN-TIME CONSTANTS carried as reference objects into the
  * generated code — one kernel call per row inside whole-stage codegen, a
  * plan of a few nodes. (The equivalent higher-order-function formulation
  * built thousands-of-node trees that cost Catalyst seconds of analysis
  * per action and evaluated interpreted.)
  */

/** The single nearest IVF cell of an embedding (corpus assignment). */
case class PqCell(child: Expression, centroids: Array[Array[Double]])
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(FloatType))
  override def dataType: DataType = IntegerType

  override protected def nullSafeEval(v: Any): Any =
    Kernels.nearestCell(v.asInstanceOf[ArrayData], centroids)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cRef = ctx.addReferenceObj("centroids", centroids, "double[][]")
    defineCodeGen(ctx, ev, c => s"graft.functions.Kernels.nearestCell($c, $cRef)")
  }

  override protected def withNewChildInternal(newChild: Expression): PqCell =
    copy(child = newChild)
}

/** The `nprobe` nearest IVF cells of a probe embedding, ascending by
  * (distance, id).
  */
case class NearestCells(
    child: Expression,
    centroids: Array[Array[Double]],
    nprobe: Int)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(FloatType))
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override protected def nullSafeEval(v: Any): Any =
    Kernels.nearestCells(v.asInstanceOf[ArrayData], centroids, nprobe)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cRef = ctx.addReferenceObj("centroids", centroids, "double[][]")
    defineCodeGen(ctx, ev, c => s"graft.functions.Kernels.nearestCells($c, $cRef, $nprobe)")
  }

  override protected def withNewChildInternal(newChild: Expression): NearestCells =
    copy(child = newChild)
}

/** PQ-encode (emb, cell) → struct(code: long, recon_norm: double). */
case class PqEncode(
    left: Expression,
    right: Expression,
    centroids: Array[Array[Double]],
    codebooks: Array[Array[Array[Double]]])
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(FloatType), IntegerType)
  override def dataType: DataType = StructType(Seq(
    StructField("code", LongType, nullable = false),
    StructField("recon_norm", DoubleType, nullable = false)))

  override protected def nullSafeEval(v: Any, cell: Any): Any =
    Kernels.pqEncode(
      v.asInstanceOf[ArrayData], cell.asInstanceOf[Int], centroids, codebooks)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cRef = ctx.addReferenceObj("centroids", centroids, "double[][]")
    val bRef = ctx.addReferenceObj("codebooks", codebooks, "double[][][]")
    defineCodeGen(ctx, ev, (v, cell) =>
      s"graft.functions.Kernels.pqEncode($v, $cell, $cRef, $bRef)")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PqEncode =
    copy(left = newLeft, right = newRight)
}

/** ADC dot of (probe emb, packed code) against the literal codebooks. */
case class PqAdcDot(
    left: Expression,
    right: Expression,
    codebooks: Array[Array[Array[Double]]])
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(FloatType), LongType)
  override def dataType: DataType = DoubleType

  override protected def nullSafeEval(v: Any, code: Any): Any =
    Kernels.pqAdcDot(v.asInstanceOf[ArrayData], code.asInstanceOf[Long], codebooks)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bRef = ctx.addReferenceObj("codebooks", codebooks, "double[][][]")
    defineCodeGen(ctx, ev, (v, code) =>
      s"graft.functions.Kernels.pqAdcDot($v, $code, $bRef)")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PqAdcDot =
    copy(left = newLeft, right = newRight)
}

/** probe · centroids[cell] — the per-probed-cell ADC term. */
case class DotCentroid(
    left: Expression,
    right: Expression,
    centroids: Array[Array[Double]])
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(FloatType), IntegerType)
  override def dataType: DataType = DoubleType

  override protected def nullSafeEval(v: Any, cell: Any): Any =
    Kernels.dotCentroid(v.asInstanceOf[ArrayData], cell.asInstanceOf[Int], centroids)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cRef = ctx.addReferenceObj("centroids", centroids, "double[][]")
    defineCodeGen(ctx, ev, (v, cell) =>
      s"graft.functions.Kernels.dotCentroid($v, $cell, $cRef)")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotCentroid =
    copy(left = newLeft, right = newRight)
}

/** Euclidean norm of a float-array embedding. */
case class VecNorm(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(FloatType))
  override def dataType: DataType = DoubleType

  override protected def nullSafeEval(v: Any): Any =
    Kernels.vecNorm(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Kernels.vecNorm($c)")

  override protected def withNewChildInternal(newChild: Expression): VecNorm =
    copy(child = newChild)
}

/** Exact BPE token count of a text column under a fixed, ordered merge
  * table. The merges ride into the generated code as a reference object
  * (plan-time constant, like the IVF-PQ codebooks) — one static kernel
  * call per row inside whole-stage codegen, never a UDF.
  */
case class BpeCount(child: Expression, merges: Array[Array[String]])
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = LongType

  override protected def nullSafeEval(text: Any): Any =
    Kernels.bpeCount(text.asInstanceOf[UTF8String], merges)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val mRef = ctx.addReferenceObj("merges", merges, "java.lang.String[][]")
    defineCodeGen(ctx, ev, c => s"graft.functions.Kernels.bpeCount($c, $mRef)")
  }

  override protected def withNewChildInternal(newChild: Expression): BpeCount =
    copy(child = newChild)
}

/** Codegen'd Prometheus native-histogram bucket index
  * ([[graft.functions.Kernels.exp2Bucket]]): k with
  * v ∈ (base^(k-1), base^k], base = 2^(2^-schema), computed exactly from
  * the IEEE exponent/mantissa — no runtime logarithm, so no cross-engine
  * bucket flips at powers of two. The sub-octave boundary table rides
  * into the generated code as a plan-time reference object (the IVF
  * codebook pattern).
  */
case class Exp2Bucket(child: Expression, schema: Int)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(DoubleType)
  override def dataType: DataType = IntegerType

  private lazy val tbl: Array[Double] = Kernels.exp2Boundaries(schema)

  override protected def nullSafeEval(v: Any): Any =
    Kernels.exp2Bucket(v.asInstanceOf[Double], schema, tbl)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val tRef = ctx.addReferenceObj("exp2tbl", tbl, "double[]")
    defineCodeGen(ctx, ev, c => s"graft.functions.Kernels.exp2Bucket($c, $schema, $tRef)")
  }

  override protected def withNewChildInternal(newChild: Expression): Exp2Bucket =
    copy(child = newChild)
}

/** Codegen'd single-pass Prometheus exposition-line parse: the whole
  * line grammar (validity, metric/series/value/timestamp extraction,
  * exemplar-tail retry) as ONE static kernel call returning a struct —
  * null = drop the line. Replaces a ~10-regex-execution expression tree
  * per line; the kernel runs each compiled pattern once.
  */
case class PromLineParse(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = StructType(Seq(
    StructField("metric", StringType, nullable = true),
    StructField("series", StringType, nullable = true),
    StructField("value", DoubleType, nullable = true),
    StructField("ts_ms", LongType, nullable = true)))
  override def nullable: Boolean = true

  override protected def nullSafeEval(line: Any): Any =
    Kernels.promLine(line.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.Kernels.promLine($c);
      ${ev.isNull} = ${ev.value} == null;
    """)

  override protected def withNewChildInternal(
      newChild: Expression): PromLineParse = copy(child = newChild)
}

/** Codegen'd decode of one firehose JSON line into the metric struct
  * ([[graft.functions.Kernels.metricJson]]): the struct, nulls and raw
  * text `from_json(line, FirehoseMetric.schema)` writes, from one pass of
  * Jackson's byte parser per line instead of a reader per row. The
  * decoder (Jackson factory and the reader path for odd lines) rides into
  * the generated code as a reference object, built once per task.
  */
case class MetricJsonDecode(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = MetricJsonDecode.schema
  override def nullable: Boolean = true
  override def prettyName: String = "decode_metric_json"

  @transient private lazy val decoder = new MetricJsonDecoder(MetricJsonDecode.schema)

  override protected def nullSafeEval(line: Any): Any =
    Kernels.metricJson(line.asInstanceOf[UTF8String], decoder)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val d = ctx.addReferenceObj("decoder", new MetricJsonDecoder(MetricJsonDecode.schema))
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.Kernels.metricJson($c, $d);
      ${ev.isNull} = ${ev.value} == null;
    """)
  }

  override protected def withNewChildInternal(
      newChild: Expression): MetricJsonDecode = copy(child = newChild)
}

object MetricJsonDecode {
  /** `from_json`'s output type: the metric schema with every field nullable. */
  val schema: StructType = FirehoseMetric.schema.asNullable
}

/** Input check of the label-map kernels: a `map<string,string>`. */
private[graft] trait StringMapInput extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case MapType(StringType, StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs a map<string,string>, got ${other.catalogString}")
  }
}

/** Codegen'd `map_filter(labels, (k, _) -> k NOT IN keys)`
  * ([[graft.functions.Kernels.dropKeys]]): the tag filter without a
  * lambda, which Spark evaluates outside whole-stage codegen.
  */
case class DropMapKeys(child: Expression, keys: Seq[String]) extends StringMapInput {

  override def dataType: DataType = child.dataType
  override def prettyName: String = "drop_map_keys"

  @transient private lazy val dropped: Array[UTF8String] =
    keys.map(UTF8String.fromString).toArray

  override protected def nullSafeEval(labels: Any): Any =
    Kernels.dropKeys(labels.asInstanceOf[MapData], dropped)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("dropped", dropped, "org.apache.spark.unsafe.types.UTF8String[]")
    defineCodeGen(ctx, ev, c => s"graft.functions.Kernels.dropKeys($c, $ref)")
  }

  override protected def withNewChildInternal(newChild: Expression): DropMapKeys =
    copy(child = newChild)
}

/** Codegen'd canonical series key of a label map
  * ([[graft.functions.Kernels.seriesKey]]); null for a null map.
  */
case class SeriesKey(child: Expression) extends StringMapInput {

  override def dataType: DataType = StringType
  override def prettyName: String = "series_key"

  override protected def nullSafeEval(labels: Any): Any =
    Kernels.seriesKey(labels.asInstanceOf[MapData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Kernels.seriesKey($c)")

  override protected def withNewChildInternal(newChild: Expression): SeriesKey =
    copy(child = newChild)
}

/** A PromQL evaluation time (unix seconds), bound into the generated
  * code BY REFERENCE, like [[PqCell]]'s centroids. Spark writes a long
  * literal straight into the generated Java, so a `lit(t)` above the scan
  * makes every new evaluation time a new source text and Janino compiles
  * each stage again; this leaf reads the value from a reference slot, so
  * the source stays the same across times and the compiled class is
  * reused. Not foldable, so the optimizer cannot turn it back into a
  * literal; deterministic and not nullable, like the literal it replaces.
  */
case class EvalTime(value: Long) extends LeafExpression {

  override def foldable: Boolean = false
  override def nullable: Boolean = false
  override def dataType: DataType = LongType

  override def eval(input: InternalRow): Any = value

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("evalTime", value, "java.lang.Long")
    ev.copy(code = code"final long ${ev.value} = $ref;", isNull = FalseLiteral)
  }
}

/** Column ↔ Expression bridge re-exported for graft's public function API. */
object GraftBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Spark's own bloom-filter aggregate (the machinery behind AQE runtime
    * filters) exposed as a Column: aggregates xxhash64 values into a
    * `org.apache.spark.util.sketch.BloomFilter` binary. Probe with
    * [[xxhash64String]] + `BloomFilter.readFrom(...).mightContainLong`.
    */
  def bloomAgg(hashed: Column, expectedItems: Long, numBits: Long): Column =
    ExpressionUtils.column(
      org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
        ExpressionUtils.expression(hashed),
        org.apache.spark.sql.catalyst.expressions.Literal(expectedItems),
        org.apache.spark.sql.catalyst.expressions.Literal(numBits), 0, 0)
        .toAggregateExpression())

  /** Driver-side xxhash64 of a string, bit-identical to
    * `functions.xxhash64(col)` (same expression, same default seed) — the
    * probe-side hash for [[bloomAgg]] blooms.
    */
  def xxhash64String(s: String): Long =
    org.apache.spark.sql.catalyst.expressions.XxHash64(
      Seq(org.apache.spark.sql.catalyst.expressions.Literal(
        UTF8String.fromString(s), StringType)), 42L)
      .eval(null).asInstanceOf[Long]
}
