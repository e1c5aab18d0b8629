package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions

/** End-to-end training-data curation: the LLM-pipeline operators composed
  * the way a corpus build actually runs them — quality gate → exact dedup →
  * per-source corpus statistics. Each stage is one of the already-verified
  * operators; the composition stays a single declarative plan (Catalyst
  * fuses the quality filter into the scan side of the dedup aggregation).
  */
object Curate {

  /** Deterministic seeded k-per-group downsampling: priority = portable
    * 60-bit hash of (seed, doc_id), keep the k lowest per group. Unlike
    * `rand()`-based sampling this is reproducible across engines, runs and
    * partitionings — the property a training-data pipeline needs for
    * auditable corpus subsets. Map-side combinable via per-group top-k.
    */
  def samplePerGroup(
      docs: DataFrame,
      groupCol: String = "source",
      k: Int = 5,
      seed: String = "graft"): DataFrame = {
    val priority = GraftFunctions.md5_prefix60(
      concat(lit(seed), lit(":"), col("doc_id").cast("string")))
    val w = Window.partitionBy(col(groupCol)).orderBy(col("priority"), col("doc_id"))
    docs
      .withColumn("priority", priority)
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col(groupCol), col("doc_id"), col("priority"), col("rnk"))
  }

  /** Deterministic mixture sampling — the "data mixture" step of a corpus
    * build: draw a subset whose source composition follows target weights.
    * Per listed source s the quota is `round(kTotal · w_s)` documents,
    * chosen by the same portable hash priority as [[samplePerGroup]] (so
    * the draw is reproducible across engines, runs and partitionings);
    * unlisted sources are excluded. The weights map is plan-time constant
    * (a broadcast dimension at scale); one window shuffle by source.
    */
  def mixtureSample(
      docs: DataFrame,
      weights: Map[String, Double],
      kTotal: Int,
      groupCol: String = "source",
      seed: String = "graft"): DataFrame = {
    val quotas: Map[String, Long] =
      weights.map { case (s, wt) => s -> math.max(0L, math.round(kTotal * wt)) }
    val priority = GraftFunctions.md5_prefix60(
      concat(lit(seed), lit(":"), col("doc_id").cast("string")))
    val w = Window.partitionBy(col(groupCol)).orderBy(col("priority"), col("doc_id"))
    docs
      .withColumn("quota", element_at(typedLit(quotas), col(groupCol)))
      .filter(col("quota").isNotNull)
      .withColumn("priority", priority)
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= col("quota"))
      .select(col(groupCol), col("doc_id"), col("priority"), col("rnk"), col("quota"))
  }

  /** Greedy next-fit sequence packing — the step after chunking in a
    * training-data pipeline: chunks are packed into fixed token-budget
    * sequences so short pieces don't waste model context as padding.
    * Packing is inherently order-sequential, so the group (`groupCol`) is
    * the parallel unit: within each group chunks are walked in
    * (doc_id, chunk_id) order and a chunk opens a new pack when it doesn't
    * fit the current fill (a chunk alone larger than the budget gets its
    * own pack). Emits one row per pack with chunk/token totals.
    *
    * Scale: per-group state is the chunk list (sorted for determinism) —
    * at 100 TB the group key is a (source, shard) pair so no single group
    * is unbounded; across groups this is one shuffle + embarrassingly
    * parallel folds. Deterministic for a given input, independent of
    * partitioning — hence oracle-checkable against a sequential SQL mirror.
    */
  def packSequences(
      chunks: DataFrame,
      budget: Long = 120,
      groupCol: String = "source"): DataFrame = {
    val spark = chunks.sparkSession
    import spark.implicits._
    val ds = chunks
      .select(
        col(groupCol).cast("string").as("g"),
        col("doc_id"), col("chunk_id"), col("n_chunk_tokens"))
      .as[(String, Long, Long, Long)]
    ds.groupByKey(_._1)
      .flatMapGroups { (g, it) =>
        val sorted = it.toSeq.sortBy(t => (t._2, t._3))
        var pack = 0L
        var fill = 0L
        var nChunks = 0L
        var first = true
        val out = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long, Long)]
        sorted.foreach { case (_, _, _, tok) =>
          if (first || fill + tok <= budget) {
            fill += tok
            nChunks += 1
            first = false
          } else {
            out += ((g, pack, nChunks, fill))
            pack += 1
            fill = tok
            nChunks = 1
          }
        }
        if (!first) out += ((g, pack, nChunks, fill))
        out.iterator
      }
      .toDF(groupCol, "pack_id", "n_chunks", "total_tokens")
  }

  /** Deterministic weighted k-per-group sampling with the
    * Efraimidis–Spirakis key: u = (hash+1)/2^60 ∈ (0,1] from the portable
    * 60-bit hash of (seed, doc_id); priority = -ln(u)/w with w = token
    * count; keep the k LOWEST per group. This is the exponential-clocks
    * formulation of E-S (equivalent to keep-k-largest on u^(1/w)), so
    * inclusion probabilities follow the documented weighted-sampling
    * semantics exactly — P(a outranks b) = w_a/(w_a+w_b) — and the draw is
    * reproducible across engines, runs and partitionings.
    *
    * The emitted columns exclude the raw priority: `ln` is the one step
    * where engines may legitimately differ in the last ulp, which would
    * break bit-exact output comparison. (For equal weights a last-ulp
    * difference cannot reorder distinct hashes; across differing weights
    * two priorities can in principle land arbitrarily close, so rank ties
    * across engines are merely measure-zero for random 60-bit hashes, not
    * impossible.)
    */
  def weightedSamplePerGroup(
      docs: DataFrame,
      groupCol: String = "source",
      k: Int = 5,
      seed: String = "graft"): DataFrame = {
    val nWords = size(TextAnalysis.tokens(col("text"))).cast("long")
    val hash = GraftFunctions.md5_prefix60(
      concat(lit(seed), lit(":"), col("doc_id").cast("string")))
    val w = Window.partitionBy(col(groupCol)).orderBy(col("priority"), col("doc_id"))
    docs
      .withColumn("n_words", nWords)
      .withColumn(
        "priority",
        // weight floor of 1 keeps empty docs defined (and avoids engine-
        // dependent NULL ordering in the rank window)
        -log((hash.cast("double") + lit(1.0)) / lit(1152921504606846976.0)) /
          greatest(col("n_words"), lit(1L)).cast("double"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col(groupCol), col("doc_id"), col("n_words"), col("rnk"))
  }

  /** Token-budget mixture sampling — [[mixtureSample]]'s token-weighted
    * sibling: real mixtures are specified in TOKENS, not document counts
    * (a source of long documents hits its share with far fewer docs).
    * Per listed source, documents are taken in portable-hash priority
    * order while the running token total stays within the source's
    * budget; unlisted sources are excluded. Exact-integer cumulative sum
    * ⇒ deterministic and engine-portable. One window shuffle by source
    * (the running sum shares the rank window's partitioning).
    */
  def tokenBudgetSample(
      docs: DataFrame,
      budgets: Map[String, Long],
      groupCol: String = "source",
      seed: String = "graft",
      tokenCount: Column = size(TextAnalysis.tokens(col("text"))).cast("long")): DataFrame = {
    val nWords = tokenCount.cast("long")
    val priority = GraftFunctions.md5_prefix60(
      concat(lit(seed), lit(":"), col("doc_id").cast("string")))
    val w = Window.partitionBy(col(groupCol)).orderBy(col("priority"), col("doc_id"))
    docs
      .withColumn("budget", element_at(typedLit(budgets), col(groupCol)))
      .filter(col("budget").isNotNull)
      .withColumn("n_words", nWords)
      .withColumn("priority", priority)
      .withColumn("cum_tokens",
        sum(col("n_words")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .filter(col("cum_tokens") <= col("budget"))
      .select(col(groupCol), col("doc_id"), col("n_words"), col("cum_tokens"), col("budget"))
  }

  /** Epoch-based mixture upsampling — the repeat-factor step of a training
    * mix: each source is taken for a (possibly fractional) number of
    * epochs, so every document is emitted `floor(e)` times plus one more
    * with probability `frac(e)`, decided by the portable 60-bit hash —
    * the realized mixture is deterministic, partition-invariant, and
    * reproducible across engines. The fan-out is the epoch factor (a plan
    * constant per source) via one codegen'd sequence explode; no shuffle,
    * no state. Sources not in the map are dropped (epoch 0).
    */
  def epochUpsample(
      docs: DataFrame,
      epochs: Map[String, Double],
      groupCol: String = "source",
      seed: String = "epoch"): DataFrame = {
    require(epochs.values.forall(_ >= 0), "epoch factors must be >= 0")
    val eCol = epochs.foldLeft(lit(0.0)) { case (acc, (k, v)) =>
      when(col(groupCol) === k, lit(v)).otherwise(acc)
    }
    val u = GraftFunctions.md5_prefix60(
      concat(lit(seed), lit(":"), col("doc_id").cast("string")))
      .cast("double") / lit(1152921504606846976.0) // 2^60
    val nCopies = (floor(eCol) +
      when(u < eCol - floor(eCol), lit(1L)).otherwise(lit(0L))).cast("int")
    docs
      .select(col(groupCol), col("doc_id"), nCopies.as("_n"))
      .filter(col("_n") > 0)
      .select(col(groupCol), col("doc_id"),
        explode(sequence(lit(0), col("_n") - 1)).as("copy_idx"))
      .withColumn("copy_idx", col("copy_idx").cast("long"))
  }

  /** Deterministic stratified train/val/test split — every evaluation
    * pipeline's first step. Within each stratum (`groupCol`) documents are
    * ranked by the portable hash priority (so membership is reproducible
    * across engines, runs and partitionings — re-running the corpus build
    * never migrates a doc between splits unless the stratum itself grows)
    * and assigned by rank position: the first `ceil(trainFrac·n)` are
    * train, the next `ceil(valFrac·n)` val, the rest test. Rank-based
    * assignment makes the split proportions EXACT per stratum, unlike
    * bucket-mod hashing which is only stratified in expectation.
    *
    * Shape at 100 TB: one shuffle by stratum; the rank and the stratum
    * count are two window functions over the same partitioning (one
    * exchange). Strata are provenance buckets (source, shard) — no single
    * stratum is corpus-sized.
    */
  def stratifiedSplit(
      docs: DataFrame,
      groupCol: String = "source",
      trainFrac: Double = 0.8,
      valFrac: Double = 0.1,
      seed: String = "graft-split"): DataFrame = {
    require(trainFrac >= 0 && valFrac >= 0 && trainFrac + valFrac <= 1.0,
      "need trainFrac + valFrac <= 1")
    val priority = GraftFunctions.md5_prefix60(
      concat(lit(seed), lit(":"), col("doc_id").cast("string")))
    val w = Window.partitionBy(col(groupCol)).orderBy(col("priority"), col("doc_id"))
    val wAll = Window.partitionBy(col(groupCol))
    docs
      .withColumn("priority", priority)
      .withColumn("rnk", row_number().over(w).cast("long"))
      .withColumn("n_in_stratum", count(lit(1)).over(wAll))
      .withColumn(
        "split",
        when(col("rnk") <= ceil(col("n_in_stratum") * lit(trainFrac)), lit("train"))
          .when(col("rnk") <= ceil(col("n_in_stratum") * lit(trainFrac)) +
            ceil(col("n_in_stratum") * lit(valFrac)), lit("val"))
          .otherwise(lit("test")))
      .select(col(groupCol), col("doc_id"), col("rnk"), col("n_in_stratum"), col("split"))
  }

  /** Corpus snapshot diff — the versioning step between two builds of the
    * same corpus: which documents were added, removed, or changed (by
    * content hash) since the last snapshot. One full-outer join on the
    * document key with an md5 content compare; emits only the differing
    * rows. Scale: both sides shuffle once on the key (bucketing both
    * snapshots by doc_id makes it exchange-free); the hash comparison
    * ships 16-byte digests, never document bodies.
    */
  def snapshotDiff(
      oldSnap: DataFrame,
      newSnap: DataFrame,
      keyCol: String = "doc_id"): DataFrame = {
    def hashed(df: DataFrame, h: String) = df.select(
      col(keyCol).as("key"), md5(to_binary(col("text"), lit("utf-8"))).as(h))
    hashed(oldSnap, "old_hash")
      .join(hashed(newSnap, "new_hash"), Seq("key"), "full_outer")
      .withColumn(
        "change",
        when(col("old_hash").isNull, lit("added"))
          .when(col("new_hash").isNull, lit("removed"))
          .when(col("old_hash") =!= col("new_hash"), lit("changed")))
      .filter(col("change").isNotNull)
      .select(col("key").as(keyCol), col("change"))
  }

  /** k-anonymity suppression — the privacy-audit transform beside PII
    * redaction (TextAnalysis.piiRedact scrubs free text; this guards the
    * STRUCTURED quasi-identifiers): every row whose quasi-identifier
    * combination is shared by fewer than k rows gets those columns masked
    * to `*`, so no released equivalence class is smaller than k. Emits the
    * class size and a suppression flag per row, making the output both the
    * release table and the risk report.
    *
    * One shuffle: class sizes are a window count over the quasi-identifier
    * partitioning and the mask is a row-local projection of that count —
    * no join-back, no second scan. Skewed classes (huge common
    * combinations) are exactly the safe ones; the risky classes are tiny
    * by definition, so the partitioning cannot hot-spot on what matters.
    */
  def kAnonymitySuppress(
      df: DataFrame,
      qiCols: Seq[String],
      k: Long,
      idCol: String = "doc_id"): DataFrame = {
    val w = Window.partitionBy(qiCols.map(col): _*)
    df.withColumn("class_size", count(lit(1)).over(w))
      .select(
        col(idCol) +:
          qiCols.map(c =>
            when(col("class_size") >= k, col(c).cast("string")).otherwise(lit("*")).as(c)) ++:
          Seq(
            col("class_size"),
            (col("class_size") < k).cast("long").as("suppressed")): _*)
  }

  /** Differentially-private release of per-group count and sum (the
    * Laplace mechanism, Dwork et al. 2006): each group's true count gets
    * Laplace(1/ε) noise and its contribution-bounded sum (values clamped
    * to [0, clamp] — the bounded-sensitivity step of the recipe) gets
    * Laplace(clamp/ε). Noise is SEEDED, not sampled: the Laplace draw is
    * the inverse CDF −b·sgn(u)·ln(1−2|u|) applied to a uniform u derived
    * from the portable 60-bit hash of (seed, group, stat), so a release is
    * reproducible and auditable while remaining a true Laplace variate
    * over seed choice.
    *
    * PRIVACY PRECONDITION — the seed is the secret. The mechanism is
    * differentially private ONLY if `seed` is never published: anyone who
    * knows the seed can recompute and subtract the noise exactly. There
    * is deliberately NO default seed — a caller must supply one, and a
    * caller who publishes it (as the oracle test does, by necessity) gets
    * *seeded-reproducible noise injection*, not DP.
    *
    * Engine portability (the d22 discipline): u = (h mod 2²⁰ + ½)/2²⁰ − ½
    * is exact-dyadic with 1−2|u| ∈ [2⁻²⁰, 1], both engines take ln of the
    * IDENTICAL double, the ln is quantized to the 1e-6 grid via
    * floor(x·1e6 + 0.5), and b = 1/ε is the same IEEE division on both
    * sides — every remaining step is exact-rounded arithmetic on
    * identical inputs, so the noisy release is oracle-checkable
    * bit-for-bit.
    *
    * Scale: one map-side-combinable grouped aggregation (decimal sums);
    * the noise projection is row-local on the group-cardinality-bounded
    * result — the corpus is scanned once and never shuffled beyond the
    * one partial-agg exchange.
    */
  def dpRelease(
      df: DataFrame,
      groupCol: String = "event_type",
      valueCol: String = "value",
      epsilon: Double = 0.25,
      clamp: Double = 100.0,
      seed: String): DataFrame = {
    val b = 1.0 / epsilon
    val M = 1L << 20
    def u(tag: String): Column =
      (pmod(
        GraftFunctions.md5_prefix60(
          concat_ws("|", lit(seed), col(groupCol), lit(tag))),
        lit(M)).cast("double") + lit(0.5)) / lit(M.toDouble) - lit(0.5)
    def lap(uc: Column, scale: Double): Column =
      lit(-scale) * signum(uc) *
        (floor(log(lit(1.0) - lit(2.0) * abs(uc)) * lit(1e6) + lit(0.5)) / lit(1e6))
    val clamped = least(greatest(col(valueCol), lit(0.0)), lit(clamp))
      .cast("decimal(18,2)")
    df.groupBy(col(groupCol))
      .agg(
        count(lit(1)).cast("double").as("n_true"),
        sum(clamped).cast("double").as("sum_true"))
      .select(
        col(groupCol),
        (col("n_true") + lap(u("n"), b)).as("n_noisy"),
        (col("sum_true") + lap(u("s"), clamp * b)).as("sum_noisy"))
  }

  /** MERGE INTO emulation over immutable columnar storage — the CDC apply
    * step a lakehouse table format runs on every ingest batch, expressed as
    * plain relational algebra so it works on raw parquet (this container
    * has no Delta/Iceberg; the SEMANTICS are what matter): a changeset of
    * (key, op ∈ {I,U,D}, payload) rows merges into a base snapshot as
    * WHEN MATCHED AND op='U' THEN UPDATE / AND op='D' THEN DELETE /
    * WHEN NOT MATCHED AND op='I' THEN INSERT (matched inserts and unmatched
    * updates/deletes are no-ops, per standard MERGE).
    *
    * Scale shape: a CDC batch is small relative to the snapshot, so the
    * snapshot NEVER shuffles — the update/delete pass is one map-side
    * outer join against the broadcast changeset, and insert-key existence
    * is resolved by a broadcast SEMI join over the snapshot's pruned key
    * column (a plain left-anti would force the snapshot to the build side;
    * instead the semi join emits the ≤|changeset| matched keys, which
    * broadcast back into the anti join). Zero shuffle exchanges end to end
    * (plan-spec'd). Writing the result back partitioned-by-key-range makes
    * the next merge's rewrite proportional to touched partitions, not the
    * snapshot.
    */
  def mergeUpsert(base: DataFrame, changes: DataFrame, keyCol: String): DataFrame = {
    val valueCols = base.columns.filterNot(_ == keyCol).toSeq
    val chg = changes.select(
      Seq(col(keyCol).as("_k"), col("op").as("_op")) ++
        valueCols.map(c => col(c).as("_c_" + c)): _*)
    val kept = base
      .join(broadcast(chg), base(keyCol) === col("_k"), "left_outer")
      .filter(col("_op").isNull || col("_op") =!= "D")
      .select(col(keyCol) +: valueCols.map(c =>
        when(col("_op") === "U", col("_c_" + c)).otherwise(col(c)).as(c)): _*)
    val insRows = chg.filter(col("_op") === "I")
    val matchedKeys = base.select(col(keyCol).as("_mk"))
      .join(broadcast(insRows.select(col("_k"))), col("_mk") === col("_k"), "left_semi")
    val inserts = insRows
      .join(broadcast(matchedKeys), col("_k") === col("_mk"), "left_anti")
      .select(col("_k").as(keyCol) +: valueCols.map(c => col("_c_" + c).as(c)): _*)
    kept.unionByName(inserts)
  }

  /** SCD Type-2 apply — the warehouse history-maintenance sibling of
    * [[mergeUpsert]] (which keeps only the latest state) and
    * [[snapshotDiff]] (which only reports): fold a new full snapshot into
    * a versioned dimension history at time `ts`. Unchanged current rows
    * stay open; changed or vanished keys get their current version CLOSED
    * (`valid_to = ts`, `is_current = 0`); changed and brand-new keys open
    * a NEW current version (`valid_from = ts`, open-ended). Already-closed
    * history passes through untouched.
    *
    * Scale shape: ONE full-outer join of the current slice against the
    * snapshot on the key (both sides shuffle once on the key they'd be
    * bucketed by in a real deployment), consumed exactly ONCE — each
    * joined row expands to its 0/1/2 output rows via an inline
    * struct-array explode instead of three filtered re-reads of the join,
    * so neither input is scanned per output branch. Change detection
    * compares md5 digests of the canonicalized attributes, computed
    * map-side under the join. The closed-history union is scan-only
    * (no shuffle).
    */
  def scd2Apply(
      history: DataFrame,
      snapshot: DataFrame,
      keyCol: String,
      ts: Long): DataFrame = {
    val attrs = snapshot.columns.filterNot(_ == keyCol).toSeq
    def rowHash(cols: Seq[org.apache.spark.sql.Column]) =
      // \u0001 separator + \u0000 null sentinel keep adjacent attributes
      // and null-vs-empty from colliding in the digest
      md5(to_binary(
        concat_ws("\u0001", cols.map(c => coalesce(c.cast("string"), lit("\u0000"))): _*),
        lit("utf-8")))
    val current = history.filter(col("is_current") === 1L)
    val closed = history.filter(col("is_current") === 0L)
    val snapKeyed = snapshot.select(
      col(keyCol).as("_nk") +: attrs.map(c => col(c).as("_n_" + c)): _*)
    val j = current
      .withColumn("_oh", rowHash(attrs.map(col)))
      .join(
        snapKeyed.withColumn("_nh", rowHash(attrs.map(c => col("_n_" + c)))),
        col(keyCol) === col("_nk"), "full_outer")
    val same = col("_oh") === col("_nh")
    def outRow(
        key: org.apache.spark.sql.Column,
        attr: String => org.apache.spark.sql.Column,
        from: org.apache.spark.sql.Column,
        to: org.apache.spark.sql.Column,
        cur: org.apache.spark.sql.Column) =
      struct(
        key.as(keyCol) +: attrs.map(c => attr(c).as(c)) ++: Seq(
          from.as("valid_from"), to.as("valid_to"), cur.as("is_current")): _*)
    val oldBranch = when(
      col(keyCol).isNotNull,
      outRow(
        col(keyCol), c => col(c), col("valid_from"),
        when(col("_nk").isNotNull && same, col("valid_to")).otherwise(lit(ts)),
        when(col("_nk").isNotNull && same, lit(1L)).otherwise(lit(0L))))
    val newBranch = when(
      col("_nk").isNotNull && (col(keyCol).isNull || !same),
      outRow(
        col("_nk"), c => col("_n_" + c), lit(ts),
        lit(null).cast("long"), lit(1L)))
    val applied = j
      .select(explode(filter(array(oldBranch, newBranch), r => r.isNotNull)).as("_r"))
      .select(col("_r.*"))
    closed.unionByName(applied)
  }

  /** The p1 admission GATE as a transform: quality-score every document,
    * keep those at or above `minQuality`, then exact-dedup survivors (one
    * representative per identical text, min doc_id) — the same one-scan /
    * window-min shape as [[corpusStats]], emitting the gated corpus
    * instead of its rollup. First stage of [[fullCurate]].
    */
  def qualityGate(docs: DataFrame, minQuality: Double = 0.5): DataFrame = {
    val kept = TextAnalysis.qualityScore(docs, keep = Seq("source", "text"))
      .filter(col("quality") >= minQuality)
      .withColumn("_h", md5(to_binary(col("text"), lit("utf-8"))))
    val byHash = Window.partitionBy(col("_h"))
    kept
      .withColumn("_keep", min(col("doc_id")).over(byHash))
      .filter(col("doc_id") === col("_keep"))
      .select("doc_id", "source", "text")
  }

  /** INCREMENTAL corpus curation (p10) — the continuous-ingest form of
    * the gate+dedup front of [[fullCurate]]: one BATCH of raw documents
    * is [[qualityGate]]d (heuristic floor + in-batch exact dedup), then
    * deduped against the LANDED corpus and appended as an O(batch)
    * [[graft.sources.Versioned.appendCommit]]. The cross-batch dedup
    * never scans the landed corpus: the batch's content hashes probe the
    * landing's per-file BLOOM indexes ([[graft.sources.Versioned
    * .pointRead]]), so only files that might hold a duplicate are read —
    * at 100 TB a batch consults a handful of files, not the table. The
    * probe list is driver-held and O(batch) (the applyCdc contract);
    * document payloads never leave the cluster. First-batch-wins
    * semantics: a hash landed by an earlier batch wins over any later
    * arrival (within a batch, lowest doc_id wins — qualityGate's rule).
    * Returns the committed version, or -1 when the batch added nothing.
    */
  def curateBatchCommit(
      root: String,
      batch: DataFrame,
      minQuality: Double = 0.5): Long = {
    import graft.sources.Versioned
    val spark = batch.sparkSession
    val gated = qualityGate(batch, minQuality)
      .withColumn("_h", md5(to_binary(col("text"), lit("utf-8"))))
    val v = Versioned.latestVersion(root)
    if (v < 0)
      return if (gated.isEmpty) -1L
      else Versioned.appendCommit(gated, root, bloomCols = Seq("_h"))
    // ONE driver round trip decides both "which hashes are new" and
    // "is the batch empty": the batch's distinct hashes collect once
    // (O(batch), the applyCdc contract), the landing's hits collect once
    // (bounded by the probe list), and the survivors' hash set is then
    // driver-held — so the emptiness check costs nothing and the commit's
    // write re-derives the gated batch exactly once (it previously ran
    // three times: probes, isEmpty, write). The anti-join becomes a
    // broadcast semi-join against the driver-held new-hash list.
    val probes = gated.select(col("_h")).distinct()
      .collect().map(_.getString(0)).toSeq.sorted
    if (probes.isEmpty) return -1L
    val existing = Versioned.pointRead(spark, root, v, "_h", probes)
      .select(col("_h")).distinct()
      .collect().map(_.getString(0)).toSet
    val newHashes = probes.filterNot(existing)
    if (newHashes.isEmpty) return -1L
    import spark.implicits._
    val keep = broadcast(newHashes.toDF("_h"))
    Versioned.appendCommit(
      gated.join(keep, Seq("_h"), "left_semi"), root, bloomCols = Seq("_h"))
  }

  /** The composed end-to-end corpus build (p8): every stage is an
    * individually-verified operator, and THIS is the production shape —
    * one pipeline from raw documents to packed training sequences:
    *
    *   1. [[qualityGate]] — heuristic quality floor + exact dedup;
    *   2. [[Dedup.stripDuplicatePassages]] — C4-style exact-substring
    *      strip over the gated corpus;
    *   3. [[Dedup.semDedup]] — semantic dedup over the stripped corpus's
    *      embeddings (docs without an embedding row cannot be compared
    *      and leave the pipeline here, by design);
    *   4. [[dsirBudgetSample]] — importance-ordered per-source token
    *      budgets over the CLEANED text;
    *   5. [[TextAnalysis.chunkWindows]] + [[packSequences]] — fixed
    *      training sequences from the selected documents.
    *
    * Scan discipline at 100 TB: the gated and stripped corpora are landed
    * once ([[graft.Tables.materializeStage]] — the between-stage landing a
    * production pipeline makes durable via
    * [[graft.sources.Versioned.appendCommit]]) because three-plus
    * downstream consumers each re-derive them otherwise; the semantic
    * survivor ID set is registry-narrow and memoized the same way. The
    * raw documents parquet is scanned EXACTLY ONCE in the whole composed
    * plan (PlanSpec-pinned) — each stage's own shuffles are bounded as
    * documented on the stage operators.
    */
  def fullCurate(
      docs: DataFrame,
      embeddings: DataFrame,
      minQuality: Double = 0.5,
      budgets: Map[String, Long] = Map(
        "src0" -> 3000L, "src1" -> 2000L, "src2" -> 1000L, "src3" -> 500L),
      targetSource: String = "src0"): DataFrame = {
    val gated = graft.Tables.materializeStage(qualityGate(docs, minQuality))
    val curated = graft.Tables.materializeStage(
      Dedup.stripDuplicatePassages(gated)
        .join(gated.select(col("doc_id"), col("source")), Seq("doc_id"))
        .select(col("doc_id"), col("source"), col("clean_text").as("text")))
    val semIds = graft.Tables.materializeSmall(
      Dedup.semDedup(
          embeddings.join(
            curated.select(col("doc_id").as("vec_id")), Seq("vec_id")))
        .select(col("vec_id").as("doc_id")))
    val kept = curated.join(semIds, Seq("doc_id"))
    val selected = dsirBudgetSample(kept, budgets, targetSource)
      .select(col("doc_id"))
    val pickedChunks = TextAnalysis.chunkWindows(kept.join(selected, Seq("doc_id")))
      .join(kept.select(col("doc_id"), col("source")), Seq("doc_id"))
    packSequences(pickedChunks)
  }

  /** @param minQuality quality-score gate (see TextAnalysis.qualityScore) */
  def corpusStats(docs: DataFrame, minQuality: Double = 0.5): DataFrame = {
    // ONE corpus pass: quality columns are computed alongside the retained
    // metadata (qualityScore keeps source/text through its projection — no
    // docs⋈docs self-join), and exact dedup is a window-min over the
    // content hash instead of a groupBy + join-back. The former shape read
    // the corpus FOUR times in the shuffle regime (column pruning gave each
    // kept instance a different ReadSchema, so ReuseExchange couldn't
    // dedupe the subtrees); this one scans once and shuffles twice (by
    // hash, then the map-side-combinable source rollup).
    val kept = TextAnalysis.qualityScore(docs, keep = Seq("source", "text"))
      .filter(col("quality") >= minQuality)
      .withColumn("_h", md5(to_binary(col("text"), lit("utf-8"))))
      .select("doc_id", "source", "n_words", "quality", "_h") // narrow the exchange
    val byHash = Window.partitionBy(col("_h"))
    kept
      .withColumn("_keep", min(col("doc_id")).over(byHash))
      .filter(col("doc_id") === col("_keep"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_words")).as("n_tokens"),
        (sum(col("quality").cast("decimal(18,12)")).cast("double") / count(lit(1)))
          .as("avg_quality"))
      .orderBy(col("source"))
  }

  /** The per-doc DSIR scoring relation `(doc_id, source, n_tokens,
    * dsir_score)` — the shared machinery behind [[dsirSample]] (top-k)
    * and [[dsirBudgetSample]] (budget-bounded selection).
    */
  def dsirScores(
      docs: DataFrame,
      targetSource: String = "src0",
      buckets: Int = 4096): DataFrame = {
    val toks = graft.Tables.widen(docs)
      .select(col("doc_id"), col("source"),
        explode(TextAnalysis.tokens(col("text"))).as("w"))
      .select(col("doc_id"), col("source"),
        pmod(GraftFunctions.md5_prefix60(col("w")), lit(buckets.toLong)).as("bkt"))
    // bucket model: raw + target counts in ONE pass over the token stream
    val model = graft.Tables.materializeSmall(
      toks.groupBy("bkt").agg(
        count(lit(1)).as("nr"),
        sum(when(col("source") === targetSource, 1L).otherwise(0L)).as("nt")))
    // totals fall out of the model itself — no third corpus scan
    val totals = model.agg(sum("nr").as("dr"), sum("nt").as("dt"))
    val ratio =
      ((col("nt") + 1).cast("double") * (col("dr") + buckets).cast("double")) /
        ((col("nr") + 1).cast("double") * (col("dt") + buckets).cast("double"))
    toks
      .join(broadcast(model), Seq("bkt"))
      .crossJoin(broadcast(totals))
      .withColumn("_v", floor(log(ratio) * lit(1e6) + lit(0.5)).cast("long"))
      .groupBy(col("doc_id"), col("source"))
      .agg(
        count(lit(1)).as("n_tokens"),
        (sum(col("_v")).cast("double") / lit(1e6)).as("dsir_score"))
  }

  /** DSIR-style importance resampling (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling"): score every raw doc
    * by how target-domain-like its hashed n-gram features are, keep the
    * top `k`. Feature = word unigram hashed into `buckets` via the
    * portable md5 hash; bucket importance = Laplace-smoothed
    * log((ct+1)·(Dr+B) / ((cr+1)·(Dt+B))) with ct/cr the target/raw bucket
    * counts and Dt/Dr the totals; doc score = sum over its tokens.
    *
    * Scale: the bucket model is `buckets` rows — materialized once
    * (bucket-bounded) and broadcast; the corpus token stream is recomputed
    * for the scoring pass rather than cached (the t8 two-scan shape: one
    * model-build scan, one scoring scan, both map-side-combinable aggs).
    *
    * Portability: every count product is an exactly-representable double,
    * so both engines take ln of IDENTICAL inputs; the per-bucket log is
    * quantized to an exact integer via floor(x·1e6 + 0.5) (a ≤1-ulp
    * cross-engine ln difference cannot move it off its grid cell, and the
    * one common exact value — ln(1) = 0 — quantizes identically), and doc
    * scores are exact LONG sums of those integers: order-independent,
    * oracle-checkable bit-for-bit.
    */
  def dsirSample(
      docs: DataFrame,
      targetSource: String = "src0",
      buckets: Int = 4096,
      k: Int = 100): DataFrame =
    // global top-k as TakeOrdered (heap per partition, k rows to the
    // driver stage) — a rank WINDOW here would single-partition-sort the
    // whole corpus; the k survivors rank in a trivially small window
    dsirScores(docs, targetSource, buckets)
      .orderBy(col("dsir_score").desc, col("doc_id"))
      .limit(k)
      .withColumn("rnk",
        row_number()
          .over(Window.orderBy(col("dsir_score").desc, col("doc_id")))
          .cast("long"))
      .select("doc_id", "n_tokens", "dsir_score", "rnk")

  /** DSIR × token budget — how a real corpus build composes the two: per
    * source, take documents in DESCENDING importance order while the
    * running token total stays within that source's budget (importance
    * decides WHICH docs make the cut, the budget decides HOW MANY tokens
    * each source contributes to the mix). Same shape as
    * [[tokenBudgetSample]] with the hash priority replaced by
    * [[dsirScores]]: the one new shuffle is the per-source cumulative-sum
    * window (rank and running sum share its partitioning — no
    * corpus-wide rank anywhere, and no source is corpus-sized). Scores
    * are the exact quantized-ln sums, so selection is deterministic and
    * engine-portable; ties break on doc_id.
    */
  def dsirBudgetSample(
      docs: DataFrame,
      budgets: Map[String, Long],
      targetSource: String = "src0",
      buckets: Int = 4096): DataFrame = {
    val w = Window.partitionBy(col("source")).orderBy(col("dsir_score").desc, col("doc_id"))
    dsirScores(docs, targetSource, buckets)
      .withColumn("budget", element_at(typedLit(budgets), col("source")))
      .filter(col("budget").isNotNull)
      .withColumn("cum_tokens",
        sum(col("n_tokens")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .filter(col("cum_tokens") <= col("budget"))
      .select(col("source"), col("doc_id"), col("n_tokens"), col("dsir_score"),
        col("cum_tokens"), col("budget"))
  }
}
