package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * `bruteForceTopK` is the exact baseline: broadcast the (small) probe set,
  * score every (probe, candidate) pair with the codegen'd cosine expression,
  * take per-probe top-k. The scan side never shuffles its vectors — only
  * (probe_id, candidate_id, score) triples move.
  *
  * `lshTopK` is the scale path: 16 deterministic random-hyperplane sign bits
  * bucket the corpus; probes only score candidates in their own bucket.
  * Recall vs the exact baseline is spec-measured.
  */
object Similarity {

  def bruteForceTopK(
      embeddings: DataFrame,
      probes: DataFrame,
      k: Int = 5): DataFrame = {
    val cand = embeddings.select(
      col("vec_id").as("neighbor_id"), col("embedding").as("cand_emb"))
    val p = probes.select(col("vec_id").as("probe_id"), col("embedding").as("probe_emb"))
    val scored = cand
      .join(broadcast(p), col("neighbor_id") =!= col("probe_id"))
      .select(
        col("probe_id"), col("neighbor_id"),
        GraftFunctions.cosine_sim(col("probe_emb"), col("cand_emb")).as("cosine"))
    val w = Window.partitionBy(col("probe_id")).orderBy(col("cosine").desc, col("neighbor_id"))
    scored
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
  }

  /** Quantized brute-force ANN — the int8 search path: both sides are
    * symmetric-quantized per vector ([[quantizeInt8]]'s exact scheme) and
    * scored by integer dot products. Every product and partial sum is an
    * exactly-representable integer (|q| ≤ 127 ⇒ dim-bounded sums stay
    * far inside 2^53), so the quantized cosine is bit-deterministic
    * across engines and partitionings with NO decimal detour — this is
    * what a SIMD/VNNI-backed vector index computes, expressed as one
    * codegen'd fold. Same join shape as [[bruteForceTopK]]: probes
    * broadcast, corpus vectors never shuffle, only (probe, neighbor,
    * score) triples move. Recall vs the f32 exact baseline is
    * spec-measured.
    */
  def bruteForceTopKInt8(
      embeddings: DataFrame,
      probes: DataFrame,
      k: Int = 5): DataFrame = {
    def quantized(df: DataFrame, id: String, out: String): DataFrame = {
      val scale = array_max(transform(col("embedding"), x => abs(x))).cast("double") / lit(127.0)
      df.withColumn("_s", scale)
        .select(
          col("vec_id").as(id),
          transform(col("embedding"), x =>
            when(col("_s") === 0.0, lit(0.0))
              .otherwise(least(lit(127.0),
                greatest(lit(-127.0), round(x.cast("double") / col("_s")))))).as(out))
    }
    def dot(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)
    val cand = quantized(embeddings, "neighbor_id", "_cq")
    val p = quantized(probes, "probe_id", "_pq")
    // an all-zero embedding has norm 0 → 0/0 = NaN, and Spark sorts NaN
    // ABOVE every double descending, so an unguarded zero vector would win
    // every probe's top-k; pin it to -1 (below any real cosine) instead
    val normProd =
      sqrt(dot(col("_pq"), col("_pq"))) * sqrt(dot(col("_cq"), col("_cq")))
    val scored = cand
      .join(broadcast(p), col("neighbor_id") =!= col("probe_id"))
      .select(
        col("probe_id"), col("neighbor_id"),
        when(normProd === 0.0, lit(-1.0))
          .otherwise(dot(col("_pq"), col("_cq")) / normProd)
          .as("cosine_q"))
    val w = Window.partitionBy(col("probe_id")).orderBy(col("cosine_q").desc, col("neighbor_id"))
    scored
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
  }

  /** Deterministic ±1 hyperplane component for (plane j, dim i): parity of
    * the portable 60-bit md5 hash — reproducible in any engine. Evaluated
    * once at plan-build time and embedded as a literal matrix (the values
    * are constants; hashing them per row would cost planes×dims md5 calls
    * per vector).
    */
  def planeRow(j: Int, dims: Int): Seq[Double] =
    (0 until dims).map { i =>
      if (graft.functions.Kernels.md5Prefix60(
        org.apache.spark.unsafe.types.UTF8String.fromString(s"$j#$i")) % 2 == 0) 1.0 else -1.0
    }

  /** `planes`-bit random-hyperplane signature of an embedding column.
    * @param dims embedding dimensionality (hyperplanes are literals)
    */
  def rhpSignature(emb: Column, planes: Int = 16, dims: Int = 64): Column = {
    val bits = (0 until planes).map { j =>
      val dotJ = aggregate(
        zip_with(emb, typedLit(planeRow(j, dims)), (x, s) => x.cast("double") * s),
        lit(0.0),
        (acc, x) => acc + x)
      when(dotJ > 0, lit(1L << j)).otherwise(lit(0L))
    }
    bits.reduce(_ + _)
  }

  /** Seeded k-means++ init + Lloyd iterations over an in-memory sample —
    * the coarse-quantizer fit for [[ivfTopK]]. Deliberately DRIVER-LOCAL:
    * the sample is bounded by construction (reservoir-capped, ≤ a few MB),
    * and fitting a 16×64 sketch model is microseconds of flops; a
    * distributed fit of the same sample pays ~12 job barriers (k-means‖
    * init + one per Lloyd pass), which measured as HALF of s3's wall-clock
    * at sf0.1. Fit the model where the data is registry-sized; keep
    * sampling and assignment distributed. Empty clusters keep their
    * previous center (deterministic).
    */
  private[graft] def lloydFit(
      points: Array[Array[Double]],
      k: Int,
      iters: Int,
      seed: Long): Array[Array[Double]] = {
    require(points.nonEmpty, "empty training sample")
    val n = points.length
    val dim = points(0).length
    val rnd = new scala.util.Random(seed)
    def sq(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0
      var i = 0
      while (i < dim) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }
    val kk = math.min(k, n)
    val centers = new Array[Array[Double]](kk)
    centers(0) = points(rnd.nextInt(n)).clone()
    // k-means++: next center drawn ∝ squared distance to the nearest chosen
    val minD = Array.fill(n)(Double.MaxValue)
    var c = 1
    while (c < kk) {
      var i = 0
      while (i < n) {
        val d = sq(points(i), centers(c - 1))
        if (d < minD(i)) minD(i) = d
        i += 1
      }
      val total = minD.sum
      var pick = n - 1
      if (total > 0) {
        var target = rnd.nextDouble() * total
        var j = 0
        var found = false
        while (j < n && !found) {
          target -= minD(j)
          if (target <= 0) { pick = j; found = true }
          j += 1
        }
      }
      centers(c) = points(pick).clone()
      c += 1
    }
    var it = 0
    while (it < iters) {
      val sums = Array.ofDim[Double](kk, dim)
      val counts = new Array[Long](kk)
      var i = 0
      while (i < n) {
        var best = 0
        var bestD = Double.MaxValue
        var cc = 0
        while (cc < kk) {
          val d = sq(points(i), centers(cc))
          if (d < bestD) { bestD = d; best = cc }
          cc += 1
        }
        counts(best) += 1
        var j = 0
        while (j < dim) { sums(best)(j) += points(i)(j); j += 1 }
        i += 1
      }
      var cc = 0
      while (cc < kk) {
        if (counts(cc) > 0) {
          var j = 0
          while (j < dim) { centers(cc)(j) = sums(cc)(j) / counts(cc); j += 1 }
        }
        cc += 1
      }
      it += 1
    }
    centers
  }

  /** A built IVF index: the literal centroid matrix (plan-time constant)
    * plus the cell-assigned corpus relation `(neighbor_id, cand_emb,
    * cell)`. The assignment IS the materializable artifact: an ingest
    * pipeline writes it (e.g. parquet partitioned/bucketed by `cell`) and
    * every later search reads the landed index instead of re-assigning the
    * corpus — [[ivfSearch]] accepts the relation in either form.
    */
  final case class IvfIndex(centroids: Seq[Seq[Double]], assigned: DataFrame)

  /** Build the IVF index: fit the coarse quantizer driver-locally on a
    * bounded reservoir sample ([[lloydFit]]) and assign every corpus
    * vector to its nearest cell with a pure codegen'd expression — one
    * whole-stage pass, no model UDF, no extra job.
    */
  def ivfIndex(
      embeddings: DataFrame,
      nlist: Int = 16,
      maxTrainRows: Long = 4096L): IvfIndex = {
    import org.apache.spark.sql.graft.{GraftBridge, PqCell}
    val sample = graft.Tables
      .reservoirSample(embeddings.select(col("embedding")), maxTrainRows, seedSalt = 1009L)
      .collect()
      .map(_.getSeq[Float](0).toArray.map(_.toDouble))
    val centroids: Seq[Seq[Double]] =
      lloydFit(sample, nlist, iters = 8, seed = 42L).map(_.toSeq).toSeq
    // assignment through the native kernel (same fold order, same strict-<
    // tie-break as the struct-sort formulation — bit-identical cells): one
    // codegen call per row against the centroid matrix as a reference
    // object, so the plan stays a few nodes at ANY nlist. The HOF
    // struct-array formulation this replaces built an O(nlist)-node tree
    // per reference that Catalyst re-analyzed per action and evaluated
    // interpreted — at corpus-proportional nlist ([[Dedup.ivfNlist]]) that
    // dominated wall-clock (measured 44x scale-up on d27 before the swap).
    IvfIndex(
      centroids,
      embeddings.select(
        col("vec_id").as("neighbor_id"), col("embedding").as("cand_emb"),
        GraftBridge.column(PqCell(
          GraftBridge.expression(col("embedding")),
          centroids.map(_.toArray).toArray)).as("cell")))
  }

  /** Search a built (possibly landed-and-reloaded) index: probes explode to
    * their `nprobe` nearest cells against the literal centroids, equi-join
    * the assigned corpus on cell id, score with the codegen'd cosine, keep
    * per-probe top-k. The corpus side never shuffles its vectors.
    */
  def ivfSearch(
      index: IvfIndex,
      probes: DataFrame,
      k: Int = 5,
      nprobe: Int = 4): DataFrame = {
    import org.apache.spark.sql.graft.{GraftBridge, NearestCells}
    // same ascending-(distance, id) cell list as the struct-sort
    // formulation, via the native kernel (see [[ivfIndex]]'s plan-size note)
    val p = probes
      .select(col("vec_id").as("probe_id"), col("embedding").as("probe_emb"),
        explode(GraftBridge.column(NearestCells(
          GraftBridge.expression(col("embedding")),
          index.centroids.map(_.toArray).toArray, nprobe))).as("cell"))
    val scored = index.assigned
      .join(broadcast(p), Seq("cell"))
      .filter(col("neighbor_id") =!= col("probe_id"))
      .select(col("probe_id"), col("neighbor_id"),
        GraftFunctions.cosine_sim(col("probe_emb"), col("cand_emb")).as("cosine"))
      .distinct()
    val w = Window.partitionBy(col("probe_id")).orderBy(col("cosine").desc, col("neighbor_id"))
    scored
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
  }

  /** IVF (inverted-file) ANN: k-means partitions the corpus into `nlist`
    * cells; probes score only vectors in their `nprobe` nearest cells.
    * The coarse quantizer trains on a bounded reservoir sample
    * ([[graft.Tables.reservoirSample]]: uniform per split, no count(), no
    * shuffle, deterministic) collected to the driver — a documented
    * registry-sized collect — and fits driver-locally ([[lloydFit]]).
    * Both corpus cell assignment and probe cell probing are then pure
    * codegen'd expressions against the LITERAL centroid matrix: one
    * whole-stage-codegen pass over the corpus, no model UDF, no extra job.
    * At 100 TB the cell column is what an ingest pipeline materializes as
    * the index; the search itself is an equi-join on cell id, exactly like
    * the LSH path but with data-adaptive buckets.
    */
  def ivfTopK(
      embeddings: DataFrame,
      probes: DataFrame,
      k: Int = 5,
      nlist: Int = 16,
      nprobe: Int = 4,
      maxTrainRows: Long = 4096L): DataFrame =
    ivfSearch(ivfIndex(embeddings, nlist, maxTrainRows), probes, k, nprobe)

  /** A product-quantized IVF index (IVF-PQ): the memory-bounded form of
    * [[IvfIndex]]. Instead of carrying full-width embeddings through the
    * cell join, each corpus vector stores only
    *   - its coarse cell id,
    *   - `m` sub-codes of `log2(ksub)` bits each, PACKED into one long
    *     (the per-subspace codebook entry nearest to the vector's residual
    *     from its cell centroid), and
    *   - the reconstruction norm (one double, precomputed at index time so
    *     search never rebuilds the vector).
    * Index row ≈ 8 (id) + 4 (cell) + 8 (codes) + 8 (norm) bytes vs
    * dims·4 for raw float32 — the compression that makes a 100 TB corpus
    * searchable from executor memory. Codebooks are SHARED across cells
    * and trained on residuals (the classic shared-codebook IVF-PQ layout),
    * so the literal codebook matrices are plan-time constants exactly like
    * the centroid matrix.
    */
  final case class IvfPqIndex(
      centroids: Array[Array[Double]],
      codebooks: Array[Array[Array[Double]]],
      encoded: DataFrame)

  private def sqDistLocal(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
    s
  }

  private def nearestLocal(centers: Array[Array[Double]], x: Array[Double]): Int = {
    var best = 0
    var bestD = Double.MaxValue
    var c = 0
    while (c < centers.length) {
      val d = sqDistLocal(centers(c), x)
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  /** Build the IVF-PQ index. The coarse quantizer and the `m` per-subspace
    * codebooks all fit driver-locally on the same bounded reservoir sample
    * ([[lloydFit]] — registry-sized collect, microseconds of flops); the
    * corpus pass is then ONE whole-stage-codegen projection: cell
    * assignment, residual, per-subspace argmin against the literal
    * codebooks, bit-pack, reconstruction norm. No model UDF, no extra job,
    * no shuffle — at 100 TB this is the scan-bound ingest step that
    * materializes the index.
    *
    * @param m    number of subspaces (must divide the dimensionality)
    * @param ksub codebook entries per subspace (≤ 16 so codes pack into
    *             4 bits each; m·4 must fit in 64 bits)
    * @param metaCols metadata columns copied into the index rows (still
    *                  scalar-only) — the payload a FILTERED vector search
    *                  predicates on, pushed down into the landed index
    *                  scan exactly like any parquet filter
    */
  def ivfPqIndex(
      embeddings: DataFrame,
      nlist: Int = 16,
      m: Int = 16,
      ksub: Int = 16,
      maxTrainRows: Long = 4096L,
      metaCols: Seq[String] = Nil): IvfPqIndex = {
    require(ksub <= 16, "ksub > 16 would not pack into 4-bit codes")
    require(m * 4 <= 64, "packed codes must fit in one long")
    val sample = graft.Tables
      .reservoirSample(embeddings.select(col("embedding")), maxTrainRows, seedSalt = 1009L)
      .collect()
      .map(_.getSeq[Float](0).toArray.map(_.toDouble))
    val dims = sample(0).length
    require(dims % m == 0, s"m=$m must divide dims=$dims")
    val dsub = dims / m
    val centersArr = lloydFit(sample, nlist, iters = 8, seed = 42L)
    // residuals of the SAME sample train the shared sub-codebooks
    val residuals = sample.map { x =>
      val c = centersArr(nearestLocal(centersArr, x))
      Array.tabulate(dims)(i => x(i) - c(i))
    }
    val codebooksArr = Array.tabulate(m) { mm =>
      val subPoints = residuals.map(r => java.util.Arrays.copyOfRange(r, mm * dsub, (mm + 1) * dsub))
      lloydFit(subPoints, ksub, iters = 8, seed = 4242L + mm)
    }

    // --- one codegen'd corpus projection: cell → residual → codes → norm.
    // The model matrices ride into the generated code as reference objects
    // (PqCell / PqEncode kernels) — a few plan nodes total, vs the
    // thousands a higher-order-function formulation costs Catalyst PER
    // ACTION in analysis alone.
    import org.apache.spark.sql.graft.{GraftBridge, PqCell, PqEncode}
    def c2e(c: Column) = GraftBridge.expression(c)
    val model = IvfPqIndex(centersArr, codebooksArr, embeddings.limit(0))
    model.copy(encoded = ivfPqEncodeWith(model, embeddings, metaCols))
  }

  /** Encode vectors with an EXISTING index's FROZEN model — the FAISS
    * `add()` ingest shape: a nightly delta batch appends to a landed index
    * without refitting or rereading the corpus, and (spec-proved) encodes
    * to exactly the rows a from-scratch build with the same model would
    * produce. One whole-stage-codegen projection, no shuffle.
    */
  def ivfPqEncodeWith(
      index: IvfPqIndex,
      embeddings: DataFrame,
      metaCols: Seq[String] = Nil): DataFrame = {
    import org.apache.spark.sql.graft.{GraftBridge, PqCell, PqEncode}
    def c2e(c: Column) = GraftBridge.expression(c)
    embeddings
      .select(
        Seq(col("vec_id").as("neighbor_id"), col("embedding"),
          GraftBridge.column(PqCell(c2e(col("embedding")), index.centroids)).as("cell")) ++
          metaCols.map(col): _*)
      .withColumn("_enc",
        GraftBridge.column(
          PqEncode(c2e(col("embedding")), c2e(col("cell")), index.centroids, index.codebooks)))
      .select(
        Seq(col("neighbor_id"), col("cell"),
          col("_enc.code").as("code"), col("_enc.recon_norm").as("recon_norm")) ++
          metaCols.map(col): _*)
  }

  /** Search a built (possibly landed-and-reloaded) IVF-PQ index by
    * asymmetric distance: the probe stays full-precision, the candidate is
    * its quantized reconstruction `centroid(cell) + Σ codebook_m[code_m]`.
    * cosine(q, recon) = (q·centroid + Σ_m q_m·codebook_m[code_m]) /
    * (‖q‖·‖recon‖) — the numerator's first term is computed once per
    * (probe, probed cell) on the tiny broadcast side, the per-subspace
    * terms are codegen'd dot products against the LITERAL codebook
    * matrices with the 4-bit code extracted by shift/mask, and ‖recon‖
    * was precomputed at index time. The corpus side ships only
    * (id, cell, packed code, norm) — never a vector.
    */
  def ivfPqSearch(
      index: IvfPqIndex,
      probes: DataFrame,
      k: Int = 5,
      nprobe: Int = 8): DataFrame = {
    import org.apache.spark.sql.graft.{DotCentroid, GraftBridge, NearestCells, PqAdcDot, VecNorm}
    def c2e(c: Column) = GraftBridge.expression(c)
    val p = probes
      .select(col("vec_id").as("probe_id"), col("embedding").as("probe_emb"),
        explode(GraftBridge.column(
          NearestCells(c2e(col("embedding")), index.centroids, nprobe))).as("cell"))
      .withColumn("qdotc",
        GraftBridge.column(DotCentroid(c2e(col("probe_emb")), c2e(col("cell")), index.centroids)))
      .withColumn("probe_norm", GraftBridge.column(VecNorm(c2e(col("probe_emb")))))
    val adcDot = GraftBridge.column(
      PqAdcDot(c2e(col("probe_emb")), c2e(col("code")), index.codebooks))
    val scored = index.encoded
      .join(broadcast(p), Seq("cell"))
      .filter(col("neighbor_id") =!= col("probe_id"))
      .select(col("probe_id"), col("neighbor_id"),
        // zero-norm guard: NaN sorts above every double descending, so an
        // unguarded zero vector would win every top-k — pin to -1 instead
        when(col("probe_norm") * col("recon_norm") === 0.0, lit(-1.0))
          .otherwise((col("qdotc") + adcDot) / (col("probe_norm") * col("recon_norm")))
          .as("cosine_adc"))
    val w = Window.partitionBy(col("probe_id")).orderBy(col("cosine_adc").desc, col("neighbor_id"))
    scored
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
  }

  def ivfPqTopK(
      embeddings: DataFrame,
      probes: DataFrame,
      k: Int = 5,
      nlist: Int = 16,
      m: Int = 16,
      ksub: Int = 16,
      nprobe: Int = 8,
      maxTrainRows: Long = 4096L): DataFrame =
    ivfPqSearch(ivfPqIndex(embeddings, nlist, m, ksub, maxTrainRows), probes, k, nprobe)

  /** The standard IVF-PQ refine stage (what FAISS calls `IndexRefineFlat`):
    * the quantized ADC pass produces a `shortlist`-sized candidate set per
    * probe from the compact index alone; only those |probes|·shortlist
    * candidates are re-scored at full precision against the corpus. The
    * re-score is an equi-join on vector id with the TINY shortlist
    * broadcast — at 100 TB that is a point-lookup pattern against a
    * bucketed/sorted corpus, not a scan-and-rank: the expensive exact
    * cosine runs on thousands of rows, not billions. Any true neighbor the
    * ADC shortlist captured lands in the exact top-k, so refined recall ==
    * ADC shortlist recall (spec-measured 0.78 at the defaults vs 0.38
    * ADC-only).
    */
  def ivfPqRefine(
      index: IvfPqIndex,
      embeddings: DataFrame,
      probes: DataFrame,
      k: Int = 5,
      nprobe: Int = 8,
      shortlist: Int = 50): DataFrame = {
    val short = ivfPqSearch(index, probes, k = shortlist, nprobe = nprobe)
      .select(col("probe_id"), col("neighbor_id"))
    val p = probes.select(col("vec_id").as("probe_id"), col("embedding").as("probe_emb"))
    val cand = embeddings.select(
      col("vec_id").as("neighbor_id"), col("embedding").as("cand_emb"))
    val scored = cand
      .join(broadcast(short.join(p, Seq("probe_id"))), Seq("neighbor_id"))
      .select(col("probe_id"), col("neighbor_id"),
        GraftFunctions.cosine_sim(col("probe_emb"), col("cand_emb")).as("cosine"))
    val w = Window.partitionBy(col("probe_id")).orderBy(col("cosine").desc, col("neighbor_id"))
    scored
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
  }

  /** Hybrid retrieval — lexical BM25 and vector cosine rankings fused by
    * reciprocal-rank fusion (Cormack et al., SIGIR 2009): each candidate
    * scores Σ 1/(k + rank) over the lists it appears in, with k = 60 the
    * standard damping constant. This is the production RAG retrieval shape:
    * two independent top-k probes (inverted-index BM25, vector ANN), then a
    * rank-only fusion that needs no score calibration between the two
    * systems.
    *
    * Scale shape: fusion touches ONLY the two top-k lists (candidate-count
    * sized, broadcast-joinable), so the expensive parts keep their own
    * scale paths — BM25 is the on-the-fly posting-list probe
    * ([[TextAnalysis.bm25Search]]) and the vector side swaps to the IVF-PQ
    * index probe at corpus scale ([[ivfPqTopK]]; the exact scorer here
    * keeps the operator oracle-checkable). Ranks, not scores, cross the
    * fusion boundary, so rrf is a sum of two exact rationals — rounded to
    * 6 dp it is engine-portable.
    */
  def hybridRrf(
      docs: DataFrame,
      embeddings: DataFrame,
      queryTerms: Seq[String],
      probeVecId: Long,
      rrfK: Int = 60,
      topK: Int = 10): DataFrame = {
    val lex = TextAnalysis.bm25Search(docs, queryTerms, topK = 20)
      .withColumn(
        "lex_rank",
        row_number().over(Window.orderBy(col("score").desc, col("doc_id"))).cast("long"))
      .select(col("doc_id").as("id"), col("lex_rank"))
    val vec = bruteForceTopK(
        embeddings, embeddings.filter(col("vec_id") === probeVecId), k = 20)
      .select(col("neighbor_id").as("id"), col("rnk").as("vec_rank"))
    lex.join(vec, Seq("id"), "full_outer")
      .withColumn(
        "rrf",
        round(
          coalesce(lit(1.0) / (lit(rrfK) + col("lex_rank")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(rrfK) + col("vec_rank")), lit(0.0)),
          6))
      .orderBy(col("rrf").desc, col("id"))
      .limit(topK)
      .select(col("id"), col("rrf"), col("lex_rank"), col("vec_rank"))
  }

  /** Hard-negative mining for contrastive training: for each probe, the k
    * most-similar corpus vectors with a DIFFERENT label — the negatives
    * that actually move a contrastive loss (random negatives are too easy;
    * same-label items are positives). Same scale shape as
    * [[bruteForceTopK]]: probes broadcast with their labels, the corpus
    * never shuffles its vectors, one top-k window per probe. At 100 TB the
    * candidate side drops in an LSH/IVF pre-filter exactly like [[lshTopK]]
    * — the label predicate composes with any of them.
    */
  def hardNegatives(
      embeddings: DataFrame,
      probes: DataFrame,
      k: Int = 5): DataFrame = {
    val cand = embeddings.select(
      col("vec_id").as("neighbor_id"), col("embedding").as("cand_emb"),
      col("label").as("cand_label"))
    val p = probes.select(
      col("vec_id").as("probe_id"), col("embedding").as("probe_emb"),
      col("label").as("probe_label"))
    val scored = cand
      .join(broadcast(p), col("cand_label") =!= col("probe_label"))
      .select(
        col("probe_id"), col("probe_label"), col("neighbor_id"), col("cand_label"),
        GraftFunctions.cosine_sim(col("probe_emb"), col("cand_emb")).as("cosine"))
    val w = Window.partitionBy(col("probe_id")).orderBy(col("cosine").desc, col("neighbor_id"))
    scored
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
  }

  /** Symmetric int8 quantization of an embedding column — the storage /
    * serving compression step of an embedding pipeline (4× smaller than
    * float32, dot products stay SIMD-friendly). Per-vector scale =
    * max|x|/127; q_i = clamp(round(x_i/scale), ±127). Everything is one
    * codegen'd row-local map over the scan — no shuffle, no UDF, no state —
    * so at 100 TB the operator is scan-bound. Emits the quantized vector
    * (CSV string — keeps the driver's column-hash comparison scalar), the
    * scale, and the exact mean absolute reconstruction error (per-dim
    * errors are decimal-cast before the fold so the sum is
    * order-independent and engine-portable). All-zero vectors quantize to
    * all-zero with scale 0.
    */
  def quantizeInt8(embeddings: DataFrame): DataFrame = {
    val scale = array_max(transform(col("embedding"), x => abs(x))).cast("double") / lit(127.0)
    // q as DOUBLE inside the transforms (rounded, so integral-exact); the
    // emitted CSV casts to int
    def q(x: Column): Column =
      when(col("scale") === 0.0, lit(0.0))
        .otherwise(least(lit(127.0), greatest(lit(-127.0), round(x.cast("double") / col("scale")))))
    embeddings
      .withColumn("scale", scale)
      .select(
        col("vec_id"),
        col("scale"),
        array_join(transform(col("embedding"), x => q(x).cast("int")), ",").as("q_csv"),
        (aggregate(
          transform(col("embedding"),
            x => abs(x.cast("double") - q(x) * col("scale")).cast("decimal(18,12)")),
          lit(BigDecimal(0)).cast("decimal(20,12)"),
          // decimal + widens precision; cast back so the accumulator type
          // stays stable across the fold (exact: scale is unchanged and the
          // 8 integer digits can't overflow on dim-bounded sums)
          (acc, e) => (acc + e).cast("decimal(20,12)")).cast("double") /
          size(col("embedding")))
          .as("mean_abs_err"))
  }

  /** Per-label embedding centroids: element-wise mean via posexplode +
    * two-level aggregation. The explode keeps the shuffle narrow
    * ((label, dim, sum) triples, combinable map-side) and the decimal sum
    * keeps each dimension's mean independent of row order — the reduction
    * an IVF coarse-quantizer retrain or class-prototype computation needs.
    */
  def labelCentroids(embeddings: DataFrame): DataFrame =
    embeddings
      .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "x")))
      .groupBy(col("label"), col("dim"))
      .agg(
        count(lit(1)).as("n"),
        // tie-free 9-dp quantization: floor(x·1e9 + 0.5) is the same IEEE
        // op sequence on every engine, so even an element landing exactly
        // on a rounding tie quantizes identically (a double→decimal cast
        // does NOT guarantee that: Spark rounds HALF_UP, DuckDB to-even —
        // one tied element per ~40k cells diverged at sf0.1). The long sum
        // is exact; the final double division is correctly rounded.
        ((sum(floor(col("x").cast("double") * lit(1e9) + lit(0.5)).cast("long"))
          .cast("double") / lit(1e9)) / count(lit(1))).as("mean"))

  /** Banded LSH ANN: the signature is split into `bands` keys of
    * `planes/bands` bits; a candidate is scored iff it shares at least one
    * band key with the probe (classic OR-amplification — recall grows with
    * bands, candidate count stays ~n·bands/2^(planes/bands) per probe).
    */
  def lshTopK(
      embeddings: DataFrame,
      probes: DataFrame,
      k: Int = 5,
      planes: Int = 16,
      bands: Int = 4): DataFrame = {
    require(planes % bands == 0, "bands must divide planes")
    val bits = planes / bands
    val mask = (1L << bits) - 1
    def banded(idCol: String, embCol: String, df: DataFrame): DataFrame =
      df.select(
          col("vec_id").as(idCol),
          col("embedding").as(embCol),
          rhpSignature(col("embedding"), planes).as("sig"))
        .select(
          col(idCol), col(embCol),
          explode(array((0 until bands).map { b =>
            struct(lit(b).as("band"), shiftright(col("sig"), b * bits).bitwiseAND(lit(mask)).as("key"))
          }: _*)).as("bk"))
        .select(col(idCol), col(embCol), col("bk.band"), col("bk.key"))
    val cand = banded("neighbor_id", "cand_emb", embeddings)
    val p = banded("probe_id", "probe_emb", probes)
    val scored = cand
      .join(broadcast(p), Seq("band", "key"))
      .filter(col("neighbor_id") =!= col("probe_id"))
      .select(col("probe_id"), col("neighbor_id"),
        GraftFunctions.cosine_sim(col("probe_emb"), col("cand_emb")).as("cosine"))
      .distinct()
    val w = Window.partitionBy(col("probe_id")).orderBy(col("cosine").desc, col("neighbor_id"))
    scored
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
  }
}
