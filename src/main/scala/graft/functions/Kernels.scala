package graft.functions

import java.io.{ByteArrayInputStream, InputStreamReader}
import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import com.fasterxml.jackson.core.{JsonFactory, JsonParser, JsonToken}
import com.fasterxml.jackson.core.JsonParser.NumberType

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.json.{JacksonParser, JSONOptions}
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, ArrayData, FailureSafeParser, GenericArrayData, MapData, PermissiveMode}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Static kernels shared by interpreted eval and generated code. Keeping the
  * hot loop in one static JVM method lets whole-stage codegen emit a single
  * static call (no virtual dispatch, no boxing) while staying identical to
  * the interpreted path. (Scala objects emit static forwarders, so Janino
  * resolves `graft.functions.Kernels.cosine(...)` directly.)
  */
object Kernels {

  /** dot/(|a||b|) accumulated in f64 over f32 inputs, strictly in index
    * order — bit-identical to the DuckDB oracle's `list_reduce` formulation.
    * A zero-norm (all-zero) vector would make this 0/0 = NaN, which Spark
    * orders ABOVE every double in a descending sort — a degenerate
    * embedding would then beat every real neighbor in top-k. Pin it to
    * -1.0 instead: below any true cosine, so degenerate vectors rank last
    * and never pass a similarity threshold.
    */
  def cosine(a: ArrayData, b: ArrayData): Double = {
    val n = a.numElements()
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble
      val y = b.getFloat(i).toDouble
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    val normProd = math.sqrt(na) * math.sqrt(nb)
    if (normProd == 0.0) -1.0 else dot / normProd
  }

  private val md5Local: ThreadLocal[MessageDigest] =
    ThreadLocal.withInitial(() => MessageDigest.getInstance("MD5"))

  /** First 60 bits of md5(s) as a non-negative long — the portable hash both
    * engines can compute (`CAST('0x' || substr(md5(s),1,15) AS BIGINT)`).
    * The digest instance is thread-local: a fresh JCA lookup per row would
    * dominate the hash itself on hot paths.
    */
  def md5Prefix60(s: UTF8String): Long = {
    val md = md5Local.get()
    md.reset()
    val digest = md.digest(s.getBytes)
    // first 15 hex chars = first 7 bytes + high nibble of the 8th
    var h = 0L
    var i = 0
    while (i < 7) {
      h = (h << 8) | (digest(i) & 0xffL)
      i += 1
    }
    (h << 4) | ((digest(7) & 0xf0L) >> 4)
  }

  /** 60-bit SimHash over an array of terms: per bit j, majority vote of
    * (md5Prefix60(term) >> j) & 1 mapped to ±1; bit set iff the vote is
    * strictly positive. Caller is responsible for term de-duplication.
    */
  def simhash(terms: ArrayData): Long = {
    val votes = new Array[Int](60)
    val n = terms.numElements()
    var i = 0
    while (i < n) {
      val h = md5Prefix60(terms.getUTF8String(i))
      var j = 0
      while (j < 60) {
        votes(j) += (if (((h >> j) & 1L) == 1L) 1 else -1)
        j += 1
      }
      i += 1
    }
    var fp = 0L
    var j = 0
    while (j < 60) {
      if (votes(j) > 0) fp |= (1L << j)
      j += 1
    }
    fp
  }

  /** Mersenne modulus 2^61 - 1 for the MinHash permutation family. */
  val M61: Long = (1L << 61) - 1

  /** Exact (a*b) mod 2^61-1 for 0 ≤ a, b < 2^61, via the 128-bit product:
    * with prod = hi·2^64 + lo and 2^64 ≡ 8 (mod M61),
    * prod ≡ hi·8 + (lo mod M61). All reductions are branch-light adds.
    */
  def mulModM61(a: Long, b: Long): Long = {
    val hi = Math.multiplyHigh(a, b) // a,b < 2^61 are positive: signed == unsigned
    val lo = a * b                   // low 64 bits, interpret unsigned
    val loMod = {
      val r = (lo & M61) + (lo >>> 61)
      if (r >= M61) r - M61 else r
    }
    val hi8 = {
      val h = hi << 3 // hi < 2^58 so hi*8 < 2^61: no overflow
      if (h >= M61) h - M61 else h
    }
    val r = hi8 + loMod
    if (r >= M61) r - M61 else r
  }

  /** Universal-family permutation hash h_i(x) = (a_i·x + b_i) mod 2^61-1,
    * with (a_i, b_i) derived once from md5 of the permutation index. This is
    * the classic MinHash construction: ONE content hash per term, k cheap
    * affine maps — versus k full md5 computations per term. Portable: DuckDB
    * computes the identical value with HUGEINT arithmetic
    * (`(a_i::HUGEINT * base + b_i) % 2305843009213693951`).
    */
  def permCoeffA(i: Int): Long =
    md5Prefix60(UTF8String.fromString("a:" + i)) | 1L // odd, non-zero
  def permCoeffB(i: Int): Long =
    md5Prefix60(UTF8String.fromString("b:" + i))

  /** Full MinHash signature in one pass: base = md5Prefix60(term) once, then
    * k affine permutation hashes; element i = min over terms.
    */
  def minhashSig(terms: ArrayData, k: Int): Array[Long] = {
    val n = terms.numElements()
    val as = Array.tabulate(k)(permCoeffA)
    val bs = Array.tabulate(k)(permCoeffB)
    val sig = Array.fill(k)(Long.MaxValue)
    var t = 0
    while (t < n) {
      val base = md5Prefix60(terms.getUTF8String(t))
      var i = 0
      while (i < k) {
        var h = mulModM61(as(i), base) + bs(i)
        if (h >= M61) h -= M61 // bs(i) < 2^60 < M61, so one reduction suffices
        if (h < sig(i)) sig(i) = h
        i += 1
      }
      t += 1
    }
    sig
  }

  /** Modulus of the polynomial rolling fingerprint (prime < 2^50, so
    * `h*31 + cp` can never overflow a long).
    */
  val FingerprintMod: Long = 1000000000000037L

  /** h = fold over code points of (h*31 + cp) mod FingerprintMod. Portable:
    * the oracle expresses the same fold with `list_reduce` over
    * `ord(substr(text,i,1))`.
    */
  def fingerprint(s: UTF8String): Long = {
    val str = s.toString
    var h = 0L
    var i = 0
    val n = str.length
    while (i < n) {
      val cp = str.codePointAt(i)
      h = (h * 31 + cp) % FingerprintMod
      i += Character.charCount(cp)
    }
    h
  }

  // ---- IVF-PQ kernels ------------------------------------------------
  // The model matrices (centroids, per-subspace codebooks) are plan-time
  // constants passed by reference; each kernel is one tight primitive loop
  // so the whole PQ hot path stays inside whole-stage codegen with a plan
  // of a few NODES instead of the thousands a higher-order-function
  // formulation costs Catalyst per action.

  private def sqDistTo(v: ArrayData, c: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < c.length) {
      val d = v.getFloat(i).toDouble - c(i)
      s += d * d
      i += 1
    }
    s
  }

  /** Nearest centroid id (ties → lower id, matching strict-< selection). */
  def nearestCell(v: ArrayData, centroids: Array[Array[Double]]): Int = {
    var best = 0
    var bestD = Double.MaxValue
    var i = 0
    while (i < centroids.length) {
      val d = sqDistTo(v, centroids(i))
      if (d < bestD) { bestD = d; best = i }
      i += 1
    }
    best
  }

  /** The `nprobe` nearest centroid ids ascending by (distance, id). */
  def nearestCells(
      v: ArrayData,
      centroids: Array[Array[Double]],
      nprobe: Int): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val k = centroids.length
    val dists = new Array[Double](k)
    var i = 0
    while (i < k) { dists(i) = sqDistTo(v, centroids(i)); i += 1 }
    val n = math.min(nprobe, k)
    val out = new Array[Int](n)
    val used = new Array[Boolean](k)
    var o = 0
    while (o < n) {
      var best = -1
      var bestD = Double.MaxValue
      var j = 0
      while (j < k) {
        if (!used(j) && dists(j) < bestD) { bestD = dists(j); best = j }
        j += 1
      }
      if (best == -1) {
        // every remaining distance is NaN (NaN component in the probe):
        // degrade to the first unused cell, mirroring nearestCell's
        // centroid-0 fallback, instead of indexing with -1
        var f = 0
        while (f < k && used(f)) f += 1
        best = f
      }
      used(best) = true
      out(o) = best
      o += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** PQ-encode one vector: residual vs its cell centroid, per-subspace
    * argmin against the shared codebooks (ties → lower code), 4 bits per
    * code packed into one long, plus the reconstruction norm
    * ‖centroid + Σ codebook[code]‖. Returns (code, recon_norm).
    */
  def pqEncode(
      v: ArrayData,
      cell: Int,
      centroids: Array[Array[Double]],
      codebooks: Array[Array[Array[Double]]])
      : org.apache.spark.sql.catalyst.expressions.GenericInternalRow = {
    val cent = centroids(cell)
    val m = codebooks.length
    val dsub = cent.length / m
    var code = 0L
    var normSq = 0.0
    var mm = 0
    while (mm < m) {
      val cb = codebooks(mm)
      val off = mm * dsub
      var bestJ = 0
      var bestD = Double.MaxValue
      var j = 0
      while (j < cb.length) {
        val e = cb(j)
        var s = 0.0
        var i = 0
        while (i < dsub) {
          val d = (v.getFloat(off + i).toDouble - cent(off + i)) - e(i)
          s += d * d
          i += 1
        }
        if (s < bestD) { bestD = s; bestJ = j }
        j += 1
      }
      code |= bestJ.toLong << (mm * 4)
      val e = cb(bestJ)
      var i = 0
      while (i < dsub) {
        val r = e(i) + cent(off + i)
        normSq += r * r
        i += 1
      }
      mm += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](code, math.sqrt(normSq)))
  }

  /** Asymmetric-distance dot: Σ_m probe_sub_m · codebook_m[code_m]. */
  def pqAdcDot(
      v: ArrayData,
      code: Long,
      codebooks: Array[Array[Array[Double]]]): Double = {
    val m = codebooks.length
    val dsub = v.numElements() / m
    var s = 0.0
    var mm = 0
    while (mm < m) {
      val e = codebooks(mm)(((code >>> (mm * 4)) & 15L).toInt)
      val off = mm * dsub
      var i = 0
      while (i < dsub) {
        s += v.getFloat(off + i).toDouble * e(i)
        i += 1
      }
      mm += 1
    }
    s
  }

  /** probe · centroids[cell] — the per-probed-cell ADC term. */
  def dotCentroid(v: ArrayData, cell: Int, centroids: Array[Array[Double]]): Double = {
    val c = centroids(cell)
    var s = 0.0
    var i = 0
    while (i < c.length) { s += v.getFloat(i).toDouble * c(i); i += 1 }
    s
  }

  /** Euclidean norm of a float-array vector. */
  def vecNorm(v: ArrayData): Double = {
    val n = v.numElements()
    var s = 0.0
    var i = 0
    while (i < n) { val x = v.getFloat(i).toDouble; s += x * x; i += 1 }
    math.sqrt(s)
  }

  /** Exact BPE token count of `text` under an ordered merge table: words
    * (lowercased, whitespace-split) start as character sequences; each
    * merge rank rewrites every adjacent (left, right) occurrence in one
    * left-to-right non-overlapping pass — the classic BPE apply, and
    * byte-for-byte the semantics of sequential `replace()` when every
    * symbol renders as one character (which is how the DuckDB oracle
    * mirrors it). One flat loop per word per rank; the merge table is a
    * plan-time reference object, so this is a single static call inside
    * whole-stage codegen.
    */
  def bpeCount(text: UTF8String, merges: Array[Array[String]]): Long = {
    val words = text.toString.toLowerCase.split("\\s+")
    var total = 0L
    var wi = 0
    while (wi < words.length) {
      val w = words(wi)
      if (w.nonEmpty) total += bpeApply(w, merges).length
      wi += 1
    }
    total
  }

  /** The symbol sequence of one pre-tokenized word after every merge rank
    * is applied in order. Shared by [[bpeCount]] and the spec's
    * tokenization checks so count and tokens cannot drift.
    */
  def bpeApply(word: String, merges: Array[Array[String]]): Array[String] = {
    var syms: Array[String] = word.map(_.toString).toArray
    var mi = 0
    while (mi < merges.length) {
      val l = merges(mi)(0)
      val r = merges(mi)(1)
      if (syms.length > 1) {
        val out = new scala.collection.mutable.ArrayBuffer[String](syms.length)
        var i = 0
        while (i < syms.length) {
          if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
            out += l + r; i += 2
          } else { out += syms(i); i += 1 }
        }
        syms = out.toArray
      }
      mi += 1
    }
    syms
  }

  /** The upper mantissa boundaries of one octave's sub-buckets at
    * `schema`: tbl(j) = 2^(j / 2^schema) for j = 0..2^schema, computed
    * once per plan (a reference object, like the IVF codebooks). The
    * boundary IS this double — bucket membership is an exact double
    * comparison at runtime, never a runtime logarithm.
    */
  def exp2Boundaries(schema: Int): Array[Double] = {
    require(schema >= 0 && schema <= 8, s"native-histogram schema must be in [0, 8], got $schema")
    val n = 1 << schema
    Array.tabulate(n + 1)(j => StrictMath.pow(2.0, j.toDouble / n))
  }

  /** Prometheus native-histogram bucket index: the k with
    * v ∈ (base^(k-1), base^k], base = 2^(2^-schema) — i.e.
    * k = ceil(2^schema · log2 v), computed EXACTLY from the IEEE
    * exponent and mantissa (`getExponent`/`scalb` are exact; the
    * sub-octave step is an exact comparison against the boundary
    * table) — no runtime log, so no cross-engine last-ulp bucket flips
    * at powers of two. Non-positive / non-finite values return
    * Int.MinValue (callers route them to the zero bucket / drop them
    * before this kernel).
    */
  def exp2Bucket(v: Double, schema: Int, tbl: Array[Double]): Int = {
    if (!(v > 0.0) || java.lang.Double.isInfinite(v)) return Int.MinValue
    val e = java.lang.Math.getExponent(v)
    if (schema == 0) {
      if (v == java.lang.Math.scalb(1.0, e)) e else e + 1
    } else {
      val m = java.lang.Math.scalb(v, -e) // mantissa in [1, 2), exact
      var j = 0
      while (m > tbl(j)) j += 1
      (e << schema) + j
    }
  }

  /** Single-pass Prometheus exposition-line parse — the codegen kernel
    * behind [[graft.operators.Firehose.promParse]]. One compiled-pattern
    * match per regex per line (the regexp-expression spelling it replaces
    * ran the LineRe family once per extracted GROUP), the same grammar
    * objects every other reader shares
    * ([[graft.operators.Firehose.PromGrammar]]), and the series rendered
    * exactly like the DSv2 scanner ([[graft.sources.PromSource.parseLine]]):
    * pairs in BLOCK order, classic key verbatim / quoted key unescaped,
    * both series-escaped. Returns null to DROP the line (comment, blank,
    * malformed — the skip-and-continue discipline).
    *
    * Two deliberate try_cast fidelity points, so the kernel is
    * byte-faithful to the expression leg it replaces (not just to the
    * scanner): the leading trim is [[UTF8String.trim]] (ASCII space, like
    * `functions.trim`), and the timestamp token parses via
    * [[UTF8String.toLong]] — exactly `try_cast(tok AS bigint)`. The value
    * token goes through [[graft.operators.Firehose.PromGrammar
    * .parseDoubleToken]], the established spec-asserted `try_cast AS
    * double` mirror.
    */
  def promLine(line: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    import graft.operators.Firehose.PromGrammar
    val l0 = line.trim().toString
    if (l0.isEmpty || l0.startsWith("#")) return null
    val plain = promLinePlain(l0)
    if (plain != null) return plain
    val stripped = PromGrammar.stripExemplarTail(l0)
    if (stripped == l0) null else promLinePlain(stripped)
  }

  private def promLinePlain(
      l: String): org.apache.spark.sql.catalyst.InternalRow = {
    import graft.operators.Firehose
    import Firehose.PromGrammar
    val m = PromGrammar.LinePattern.matcher(l)
    if (!m.matches()) return null
    val block = { val b = m.group(3); if (b == null) "" else b }
    val mp = PromGrammar.metricAndPairs(m.group(1), block)
    if (mp.isEmpty) return null
    val (metric, pairsTxt) = mp.get
    val value = PromGrammar.parseDoubleToken(m.group(4))
    if (value.isEmpty) return null
    val tsTok = m.group(6)
    var tsNull = true
    var ts = 0L
    if (tsTok != null) {
      // try_cast(tok AS bigint) semantics, exactly — a present-but-
      // unparseable timestamp token makes the LINE malformed (drop)
      val w = new UTF8String.LongWrapper
      if (!UTF8String.fromString(tsTok).toLong(w)) return null
      tsNull = false
      ts = w.value
    }
    val sb = new java.lang.StringBuilder
    val pm = PromGrammar.PairPattern.matcher(pairsTxt)
    while (pm.find()) {
      if (sb.length > 0) sb.append(',')
      val (k, v) = PromGrammar.pairOf(pm)
      sb.append(Firehose.escapeSeriesPartStr(k)).append('=')
        .append(Firehose.escapeSeriesPartStr(v))
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](
        UTF8String.fromString(metric), UTF8String.fromString(sb.toString),
        value.get, if (tsNull) null else java.lang.Long.valueOf(ts)))
  }

  // ---- firehose metric JSON and series keys ---------------------------

  /** One firehose JSON line decoded into the seven-field metric struct,
    * row for row what `from_json(line, FirehoseMetric.schema)` returns
    * under the session's defaults (null for a blank line, a row of nulls
    * for a line that does not parse, a partial row when a field does not
    * fit its type). The reference decodes each record once with
    * Jackson (AbstractFirehose.java:100-107); so does this.
    *
    * A line whose fields all have their expected token types (strings,
    * integers in range, numbers, a map of strings, a window of integers,
    * or nulls; unknown fields skipped) decodes in one pass of Jackson's
    * byte parser over its UTF-8 bytes. Any other line, and any line a
    * Jackson error stops, is decoded again by `from_json`'s own parser:
    * Spark's `JacksonParser` behind its permissive `FailureSafeParser`,
    * over a UTF-8 reader, so raw text for a non-string token, partial
    * results, a repeated field, overflow and invalid UTF-8 all come out as
    * `from_json` writes them. A NUL or a byte-order mark in the first four
    * bytes could make the byte parser's bootstrapper pick another
    * encoding, so such a line goes to the reader at once.
    */
  def metricJson(line: UTF8String, decoder: MetricJsonDecoder): InternalRow = {
    val n = line.numBytes
    val (bytes, off) = line.getBaseObject match {
      case a: Array[Byte] => (a, (line.getBaseOffset - Platform.BYTE_ARRAY_OFFSET).toInt)
      case _ => (line.getBytes, 0)
    }
    var bootstrapSafe = n > 0
    var i = 0
    while (bootstrapSafe && i < 4 && i < n) {
      val b = bytes(off + i)
      if (b == 0 || (i == 0 && (b == 0xEF.toByte || b == 0xFE.toByte || b == 0xFF.toByte)))
        bootstrapSafe = false
      i += 1
    }
    val fast =
      if (!bootstrapSafe) null
      else {
        val p = decoder.factory.createParser(bytes, off, n)
        try metricJsonFast(p)
        catch { case _: Exception => null }
        finally p.close()
      }
    if (fast != null) fast else decoder.viaReader(line)
  }

  private val MetricFields = Array("id", "name", "timestamp", "component", "tags", "value", "window")
  private val WindowFields = Array("from", "to", "interval")

  private def fieldIndex(fields: Array[String], name: String): Int = {
    var i = 0
    while (i < fields.length && fields(i) != name) i += 1
    if (i < fields.length) i else -1
  }

  /** The one-pass decode; null hands the line to the reader path. */
  private def metricJsonFast(p: JsonParser): InternalRow = {
    if (p.nextToken() != JsonToken.START_OBJECT) return null
    val row = new GenericInternalRow(MetricFields.length)
    var seen = 0
    while (p.nextToken() == JsonToken.FIELD_NAME) {
      val i = fieldIndex(MetricFields, p.currentName())
      val t = p.nextToken()
      if (i < 0) p.skipChildren()
      else {
        if ((seen & (1 << i)) != 0) return null
        seen |= 1 << i
        if (t != JsonToken.VALUE_NULL) {
          val v: Any = i match {
            case 0 | 1 | 3 =>
              if (t == JsonToken.VALUE_STRING) UTF8String.fromString(p.getText) else null
            case 2 => longOf(p, t)
            case 4 => if (t == JsonToken.START_OBJECT) stringMap(p) else null
            case 5 =>
              if (t == JsonToken.VALUE_NUMBER_INT || t == JsonToken.VALUE_NUMBER_FLOAT) p.getDoubleValue
              else null
            case _ => if (t == JsonToken.START_OBJECT) window(p) else null
          }
          if (v == null) return null
          row.update(i, v)
        }
      }
    }
    if (p.currentToken() == JsonToken.END_OBJECT) row else null
  }

  private def longOf(p: JsonParser, t: JsonToken): Any =
    if (t != JsonToken.VALUE_NUMBER_INT) null
    else p.getNumberType match {
      case NumberType.INT | NumberType.LONG => p.getLongValue
      case _ => null
    }

  /** A `map<string,string>` of string or null values, a repeated key kept
    * as `from_json` keeps it; null (reader path) on any other value token.
    */
  private def stringMap(p: JsonParser): MapData = {
    val keys = scala.collection.mutable.ArrayBuffer.empty[Any]
    val values = scala.collection.mutable.ArrayBuffer.empty[Any]
    while (p.nextToken() == JsonToken.FIELD_NAME) {
      keys += UTF8String.fromString(p.currentName())
      p.nextToken() match {
        case JsonToken.VALUE_STRING => values += UTF8String.fromString(p.getText)
        case JsonToken.VALUE_NULL => values += null
        case _ => return null
      }
    }
    new ArrayBasedMapData(new GenericArrayData(keys.toArray), new GenericArrayData(values.toArray))
  }

  /** The `window` struct of integers or nulls; unknown fields skipped. */
  private def window(p: JsonParser): InternalRow = {
    val w = new GenericInternalRow(WindowFields.length)
    var seen = 0
    while (p.nextToken() == JsonToken.FIELD_NAME) {
      val i = fieldIndex(WindowFields, p.currentName())
      val t = p.nextToken()
      if (i < 0) p.skipChildren()
      else {
        if ((seen & (1 << i)) != 0) return null
        seen |= 1 << i
        if (t != JsonToken.VALUE_NULL) {
          val v: Any =
            if (i < 2) longOf(p, t)
            else if (t == JsonToken.VALUE_NUMBER_INT && p.getNumberType == NumberType.INT) p.getIntValue
            else null
          if (v == null) return null
          w.update(i, v)
        }
      }
    }
    w
  }

  /** `map_filter(labels, (k, _) -> k NOT IN drop)`: the map without the
    * entries whose key is in `drop`, the rest in their order. The input
    * map itself when no key is dropped.
    */
  def dropKeys(labels: MapData, drop: Array[UTF8String]): MapData = {
    val n = labels.numElements()
    val keys = labels.keyArray()
    val keep = new Array[Boolean](n)
    var kept = 0
    var i = 0
    while (i < n) {
      val k = keys.getUTF8String(i)
      var j = 0
      while (j < drop.length && drop(j) != k) j += 1
      keep(i) = j == drop.length
      if (keep(i)) kept += 1
      i += 1
    }
    if (kept == n) return labels
    val values = labels.valueArray()
    val ks = new Array[Any](kept)
    val vs = new Array[Any](kept)
    var o = 0
    i = 0
    while (i < n) {
      if (keep(i)) {
        ks(o) = keys.getUTF8String(i)
        vs(o) = if (values.isNullAt(i)) null else values.getUTF8String(i)
        o += 1
      }
      i += 1
    }
    new ArrayBasedMapData(new GenericArrayData(ks), new GenericArrayData(vs))
  }

  private def escapedLen(s: UTF8String): Int = {
    var n = s.numBytes
    var i = 0
    while (i < s.numBytes) {
      val b = s.getByte(i)
      if (b == '\\' || b == '=' || b == ',') n += 1
      i += 1
    }
    n
  }

  private def putEscaped(s: UTF8String, out: Array[Byte], at: Int): Int = {
    var o = at
    var i = 0
    while (i < s.numBytes) {
      val b = s.getByte(i)
      if (b == '\\' || b == '=' || b == ',') { out(o) = '\\'; o += 1 }
      out(o) = b
      o += 1
      i += 1
    }
    o
  }

  /** The canonical series key of a label map: its entries sorted by
    * (key, value) in UTF-8 byte order, each rendered `k=v` with `\`, `=`
    * and `,` escaped by a `\`, joined by `,`. An entry with a null value
    * is left out; an empty map gives "". Byte for byte the key of
    * `array_join(transform(array_sort(map_entries(labels)), ...), ',')`,
    * the spelling [[graft.operators.Firehose.parseSeriesKey]] inverts.
    */
  def seriesKey(labels: MapData): UTF8String = {
    val n = labels.numElements()
    val keys = labels.keyArray()
    val values = labels.valueArray()
    val ks = new Array[UTF8String](n)
    val vs = new Array[UTF8String](n)
    var m = 0
    var i = 0
    while (i < n) {
      if (!values.isNullAt(i)) {
        ks(m) = keys.getUTF8String(i)
        vs(m) = values.getUTF8String(i)
        m += 1
      }
      i += 1
    }
    if (m == 0) return UTF8String.EMPTY_UTF8
    val order = Array.range(0, m)
    scala.util.Sorting.stableSort(order, (x: Int, y: Int) => {
      val c = ks(x).compareTo(ks(y))
      c < 0 || (c == 0 && vs(x).compareTo(vs(y)) < 0)
    })
    var len = m * 2 - 1
    i = 0
    while (i < m) { len += escapedLen(ks(i)) + escapedLen(vs(i)); i += 1 }
    val out = new Array[Byte](len)
    var o = 0
    i = 0
    while (i < m) {
      if (i > 0) { out(o) = ','; o += 1 }
      o = putEscaped(ks(order(i)), out, o)
      out(o) = '='
      o = putEscaped(vs(order(i)), out, o + 1)
      i += 1
    }
    UTF8String.fromBytes(out)
  }
}

/** The per-task state of [[Kernels.metricJson]]: the Jackson factory
  * Spark's `JSONOptions` builds for `from_json` under the session's
  * defaults, and `from_json`'s parser over a UTF-8 reader for the lines the
  * one-pass decode hands back. Built lazily where it runs, as Spark builds
  * `from_json`'s, so the session conf it reads is the task's.
  */
final class MetricJsonDecoder(schema: StructType) extends Serializable {

  @transient private lazy val options = new JSONOptions(
    Map.empty[String, String], SQLConf.get.sessionLocalTimeZone,
    SQLConf.get.columnNameOfCorruptRecord)

  @transient lazy val factory: JsonFactory = options.buildJsonFactory()

  @transient private lazy val reader: FailureSafeParser[UTF8String] = {
    val jackson = new JacksonParser(schema, options, false, Nil)
    val viaReader = (f: JsonFactory, s: UTF8String) =>
      f.createParser(new InputStreamReader(
        new ByteArrayInputStream(s.getBytes), StandardCharsets.UTF_8))
    new FailureSafeParser[UTF8String](
      s => jackson.parse(s, viaReader, identity[UTF8String]),
      PermissiveMode, schema, options.columnNameOfCorruptRecord)
  }

  def viaReader(line: UTF8String): InternalRow = {
    val rows = reader.parse(line)
    if (rows.hasNext) rows.next() else null
  }
}
