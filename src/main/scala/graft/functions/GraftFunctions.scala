package graft.functions

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.graft.{BpeCount, CosineSim, DropMapKeys, EvalTime, Exp2Bucket, GraftBridge, MaxByTsId, Md5Prefix60, MinHashSig, PolyFingerprint, SeriesKey, SimHash64}

/** Column-API and SQL registration for graft's custom Catalyst expressions. */
object GraftFunctions {

  def cosine_sim(a: Column, b: Column): Column =
    GraftBridge.column(CosineSim(GraftBridge.expression(a), GraftBridge.expression(b)))

  def simhash64(terms: Column): Column =
    GraftBridge.column(SimHash64(GraftBridge.expression(terms)))

  def poly_fingerprint(s: Column): Column =
    GraftBridge.column(PolyFingerprint(GraftBridge.expression(s)))

  def md5_prefix60(s: Column): Column =
    GraftBridge.column(Md5Prefix60(GraftBridge.expression(s)))

  def minhash_sig(terms: Column, k: Int): Column =
    GraftBridge.column(MinHashSig(GraftBridge.expression(terms), k))

  /** Prometheus native-histogram bucket index of a positive double at
    * `schema` (base 2^(2^-schema)); non-positive values yield
    * Int.MinValue — route them to the zero bucket upstream.
    */
  def exp2_bucket(v: Column, schema: Int): Column =
    GraftBridge.column(Exp2Bucket(GraftBridge.expression(v), schema))

  /** Exact token count under an ordered BPE merge table (see
    * [[graft.operators.Bpe]] for training one on a corpus).
    */
  def bpe_count(text: Column, merges: Seq[(String, String)]): Column =
    GraftBridge.column(BpeCount(
      GraftBridge.expression(text), merges.map(m => Array(m._1, m._2)).toArray))

  /** The long `t` as a column whose generated code reads it by reference
    * (see [[org.apache.spark.sql.graft.EvalTime]]): a plan that differs
    * from another only in such a value reuses its compiled code.
    */
  def eval_time(t: Long): Column = GraftBridge.column(EvalTime(t))

  /** `max_by(value, struct(ts, id))` routed through ObjectHashAggregate
    * instead of SortAggregate — identical semantics (the struct ordering's
    * field comparison, strict-greater replacement), see
    * [[org.apache.spark.sql.graft.MaxByTsId]]. The engine-wide
    * latest-sample selector.
    */
  def max_by_ts_id(value: Column, ts: Column, id: Column): Column =
    GraftBridge.column(
      MaxByTsId(
        GraftBridge.expression(value),
        GraftBridge.expression(ts),
        GraftBridge.expression(id)).toAggregateExpression())

  /** Bind an expensive expression to a lambda variable so an expression tree
    * that references it many times evaluates it ONCE per row. Inlining a
    * Column value into a composed expression copies the tree per reference —
    * inside a per-element `transform` lambda that turns O(1) work into
    * O(elements) re-evaluations (e.g. re-tokenizing a document per shingle
    * position). A lambda variable is evaluated once and referenced by slot,
    * and unlike a projection boundary it cannot be undone by
    * `CollapseProject`.
    */
  def bound(e: Column)(f: Column => Column): Column =
    org.apache.spark.sql.functions.element_at(
      org.apache.spark.sql.functions.transform(
        org.apache.spark.sql.functions.array(e), f), 1)

  private val registry: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    ("cosine_sim", "cosine similarity of two float arrays",
      { case Seq(a, b) => CosineSim(a, b) }),
    ("simhash64", "60-bit simhash of an array of terms",
      { case Seq(t) => SimHash64(t) }),
    ("poly_fingerprint", "polynomial rolling fingerprint of a string",
      { case Seq(s) => PolyFingerprint(s) }),
    ("md5_prefix60", "first 60 bits of md5(s) as a long",
      { case Seq(s) => Md5Prefix60(s) }),
    ("series_key", "canonical series key of a map<string,string> of labels",
      { case Seq(m) => SeriesKey(m) }),
    ("drop_map_keys", "the map without the entries whose key is one of the literal keys",
      { case m +: keys if keys.forall(_.foldable) =>
          DropMapKeys(m, keys.map(k => String.valueOf(k.eval()))) }))

  /** Idempotently register the functions on an existing session
    * (`graft.Verify` and `graft.Bench` build plain sessions, so extensions
    * aren't always available); a name the session already has is left as
    * it is.
    */
  def register(spark: SparkSession): Unit = {
    val fr = spark.sessionState.functionRegistry
    registry.foreach { case (name, usage, builder) =>
      val id = FunctionIdentifier(name)
      if (!fr.functionExists(id))
        fr.registerFunction(id, new ExpressionInfo("graft.functions", name, usage), builder)
    }
  }

  /** `SparkSessionExtensions` hook: `.withExtensions(GraftFunctions.inject)`
    * or `spark.sql.extensions=graft.functions.GraftExtensions`.
    */
  def inject(ext: SparkSessionExtensions): Unit = {
    registry.foreach { case (name, usage, builder) =>
      ext.injectFunction(
        (FunctionIdentifier(name),
          new ExpressionInfo("graft.functions", name, usage),
          builder))
    }
    ext.injectPlannerStrategy(_ => new org.apache.spark.sql.graft.TopKStrategy)
    ext.injectOptimizerRule(_ => org.apache.spark.sql.graft.PushFilterThroughTopK)
  }
}

/** Injectable extensions class for `spark.sql.extensions`. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = GraftFunctions.inject(ext)
}
