package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions

/** Deduplication operators for LLM-training-data pipelines.
  *
  * Scale design: every variant avoids the O(n²) cross join — exact dedup is
  * one hash aggregation; near-dup goes shingle-explode → equi-join (bounded
  * by shared-shingle pairs) or MinHash-LSH bucket join (bounded by band
  * collisions). The only pairwise work ever done is verification of
  * already-bucketed candidates.
  */
object Dedup {

  /** Exact-substring dedup as a TRANSFORM (the C4/CCNet curation step):
    * strip every word `n`-gram passage that appears in ≥ `minDocs`
    * documents from each document's text, and report how much was cut.
    * [[TextAnalysis.minePassages]] finds the repeated passages; this
    * operator applies them.
    *
    * Three corpus scans, matching the deployment shape: (1) build the
    * duplicate-passage relation with exactly t13's two-level aggregation
    * (per-(passage, doc) collapse map-side, then the per-passage doc
    * count) — its output is duplication-bounded, so it's materialized once
    * ([[graft.Tables.materializeSmall]]) instead of re-derived per
    * consumer; (2) re-gram each document and equi-join the matched passage
    * STARTS against that index, folding them into a per-doc
    * covered-position set — the relation that shuffles is
    * duplication-bounded, not token-bounded; (3) rebuild each document's
    * text from its uncovered tokens, a row-local codegen projection after
    * joining the (affected-docs-sized) covered sets back on the doc key.
    * Nothing is ever all-pairs; the passage join is an equi-join on the
    * passage string exactly like the shingle joins.
    *
    * Output: (doc_id, n_dup_spans, n_tokens_removed, clean_text),
    * deterministic (covered sets are sorted, token order preserved), so it
    * oracle-checks bit-exactly.
    */
  def stripDuplicatePassages(
      docs: DataFrame,
      n: Int = 8,
      minDocs: Int = 2): DataFrame =
    stripWithIndex(docs, graft.Tables.materializeSmall(dupPassageIndex(docs, n, minDocs)), n)

  /** Positioned word `n`-grams: one row per gram start (pos is 1-based). */
  private def passageGrams(docs: DataFrame, n: Int): DataFrame = {
    val nTok = size(col("_ws"))
    graft.Tables.widen(docs)
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("_ws"))
      .select(
        col("doc_id"),
        explode(
          when(nTok >= n,
            transform(
              sequence(lit(1), nTok - lit(n - 1)),
              i => struct(i.as("pos"), array_join(slice(col("_ws"), i, lit(n)), " ").as("passage"))))
            .otherwise(array().cast("array<struct<pos:int,passage:string>>"))).as("g"))
      .select(col("doc_id"), col("g.pos").as("pos"), col("g.passage").as("passage"))
  }

  /** The duplicate-passage INDEX half of [[stripDuplicatePassages]]:
    * passages appearing in ≥ `minDocs` documents, via exactly t13's
    * two-level aggregation (collapse per (passage, doc) first so the
    * per-passage count runs on an already-small relation). The output is
    * duplication-bounded — this is what an ingest pipeline lands once and
    * every later strip (batch or streaming) reads.
    */
  def dupPassageIndex(
      docs: DataFrame,
      n: Int = 8,
      minDocs: Int = 2): DataFrame =
    passageGrams(docs, n)
      .groupBy(col("passage"), col("doc_id")).agg(count(lit(1)).as("_n"))
      .groupBy(col("passage")).agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= minDocs)
      .select(col("passage"))

  /** The APPLY half: strip a (possibly landed-and-reloaded) duplicate-
    * passage index from a document relation. Works unchanged on a
    * streaming micro-batch inside `foreachBatch` (the reference's
    * per-batch `endOfSet()` shape) — ingest-time curation against the
    * landed index, spec'd for row-for-row batch parity.
    */
  def stripWithIndex(
      docs: DataFrame,
      dup: DataFrame,
      n: Int = 8): DataFrame = {
    val nTok = size(col("_ws"))
    val toks = graft.Tables.widen(docs)
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("_ws"))
    val matched = passageGrams(docs, n).join(dup, Seq("passage"))
    val cov = matched
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_dup_spans"),
        // collect_list order is partition-dependent; distinct + sort
        // normalizes the covered set deterministically
        array_sort(array_distinct(flatten(
          collect_list(sequence(col("pos"), col("pos") + lit(n - 1)))))).as("_cov"))
    toks
      .join(cov, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"),
        when(col("_cov").isNull, lit(0L))
          .otherwise(size(col("_cov")).cast("long")).as("n_tokens_removed"),
        when(nTok === 0, lit(""))
          .otherwise(
            array_join(
              transform(
                filter(
                  zip_with(col("_ws"), sequence(lit(1), nTok),
                    (t, p) => struct(t.as("t"), p.as("p"))),
                  s => not(array_contains(
                    coalesce(col("_cov"), array().cast("array<int>")), s.getField("p")))),
                _.getField("t")),
              " ")).as("clean_text"))
      .orderBy(col("doc_id"))
  }

  /** Distinct word 3-gram shingles per document, keyed by the portable
    * 60-bit md5 hash of the shingle text: (doc_id, s: long). Every consumer
    * only tests shingle equality, so the joins and shuffles carry 8-byte
    * longs instead of ~30-byte strings; the DuckDB oracle mirrors the same
    * hash, so even an (astronomically unlikely) collision cannot produce a
    * compare mismatch.
    */
  def shingles(docs: DataFrame, n: Int = 3): DataFrame = {
    val ws = TextAnalysis.tokens(col("text"))
    graft.Tables.widen(docs)
      .select(col("doc_id"), ws.as("ws"))
      .select(
        col("doc_id"),
        explode(
          array_distinct(
            when(size(col("ws")) >= n,
              transform(
                sequence(lit(1), size(col("ws")) - (n - 1)),
                i => concat_ws(" ", (0 until n).map(k => element_at(col("ws"), i + k)): _*)))
              .otherwise(array()))).as("s0"))
      .select(col("doc_id"), GraftFunctions.md5_prefix60(col("s0")).as("s"))
  }

  /** Exact dedup by content hash: one map-side-combinable aggregation. */
  def exact(docs: DataFrame): DataFrame =
    docs
      .groupBy(md5(to_binary(col("text"), lit("utf-8"))).as("content_hash"))
      .agg(
        min(col("doc_id")).as("keep_id"),
        count(lit(1)).as("n_copies"))

  /** Exact dedup after text normalization (lowercase, collapse whitespace,
    * trim) — catches trivial near-dups (case/spacing variants) with the
    * same one-aggregation cost as [[exact]]; the standard cheap pass run
    * before any shingle-based method.
    */
  def exactNormalized(docs: DataFrame): DataFrame = {
    val normalized = lower(regexp_replace(trim(col("text")), "\\s+", " "))
    docs
      .groupBy(md5(to_binary(normalized, lit("utf-8"))).as("norm_hash"))
      .agg(
        min(col("doc_id")).as("keep_id"),
        count(lit(1)).as("n_copies"))
  }

  /** Incremental exact dedup: which delta-batch docs are genuinely new
    * against an already-landed corpus. The corpus side reduces to its
    * distinct hash set (one agg), the delta anti-joins against it, then
    * first-occurrence-wins within the delta — the shape of a daily-ingest
    * dedup pass, where corpus hashes are a materialized (bucketable) table
    * instead of a recomputation.
    */
  def incrementalDedup(existing: DataFrame, delta: DataFrame): DataFrame = {
    val hashOf = md5(to_binary(col("text"), lit("utf-8")))
    val corpusHashes = existing.select(hashOf.as("content_hash")).distinct()
    delta.select(col("doc_id"), hashOf.as("content_hash"))
      .join(corpusHashes, Seq("content_hash"), "left_anti")
      .groupBy(col("content_hash"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_in_delta"))
      .select(col("doc_id"), col("content_hash"), col("n_in_delta"))
  }

  /** Shared-shingle pair counts: (doc_a < doc_b, common). */
  private def pairCommonCounts(sh: DataFrame): DataFrame = {
    val a = sh.as("a")
    val b = sh.as("b")
    a.join(b, col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("common"))
  }

  private def withJaccard(pairs: DataFrame, counts: DataFrame): DataFrame = {
    val ca = counts.select(col("doc_id").as("doc_a"), col("n").as("n_a"))
    val cb = counts.select(col("doc_id").as("doc_b"), col("n").as("n_b"))
    pairs
      .join(ca, "doc_a")
      .join(cb, "doc_b")
      .withColumn(
        "jaccard",
        col("common").cast("double") / (col("n_a") + col("n_b") - col("common")))
  }

  /** Exact n-gram Jaccard near-dup pairs ≥ threshold.
    *
    * At 100 TB the amplifier is hot shingles (stop-phrase skew); AQE's skew
    * join handles moderate cases, and a `maxShingleDocs` frequency cap drops
    * degenerate shingles entirely (a shingle shared by thousands of docs
    * carries no dedup signal but dominates the join).
    */
  def ngramJaccard(
      docs: DataFrame,
      threshold: Double = 0.5,
      maxShingleDocs: Option[Int] = None): DataFrame = {
    // No caching: the self-join's two sides shuffle by the same key over
    // identical subplans, so the physical plan computes the explode once and
    // ReuseExchange feeds the second side from the first side's shuffle.
    // Per-doc counts don't need the exploded relation at all — the distinct
    // shingle count is row-local (size of the distinct-shingle array).
    val shAll = shingles(docs)
    val (sh, counts) = maxShingleDocs match {
      case Some(cap) =>
        // capped: computing the hot-shingle blacklist costs one shuffle of
        // the shingle relation (the frequency agg — unavoidable, since
        // hotness is a global property), but APPLYING the cap is an
        // anti-join against the blacklist, whose size is bounded by
        // total-occurrences/cap. No broadcast hint: AQE sees the actual
        // blacklist size at runtime and broadcasts the (typically tiny)
        // list, while an adversarial corpus whose blacklist outgrows the
        // broadcast limit degrades to a shuffle join instead of failing.
        // Per-doc counts must count the *surviving* shingles, so they come
        // from the capped relation.
        val hot = shAll.groupBy("s").agg(count(lit(1)).as("_df"))
          .filter(col("_df") > cap).select("s")
        val capped = shAll.join(hot, Seq("s"), "left_anti")
        (capped, capped.groupBy("doc_id").agg(count(lit(1)).as("n")))
      case None =>
        (shAll,
          graft.Tables.widen(docs)
            .select(col("doc_id"), size(shingleArray()).cast("long").as("n")))
    }
    withJaccard(pairCommonCounts(sh), counts)
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "common", "n_a", "n_b", "jaccard")
  }

  /** Distinct word 3-gram shingles as a row-local array column (no explode).
    * The token array is lambda-bound: referenced per shingle position, an
    * inlined tokenizer would re-split the document O(words) times per row.
    */
  private def shingleArray(n: Int = 3): Column =
    GraftFunctions.bound(TextAnalysis.tokens(col("text"))) { ws =>
      array_distinct(
        when(size(ws) >= n,
          transform(
            sequence(lit(1), size(ws) - (n - 1)),
            i => concat_ws(" ", (0 until n).map(k => element_at(ws, i + k)): _*)))
          .otherwise(array()))
    }

  /** (doc_id, band, sig) banded MinHash signatures — the LSH index
    * relation. The whole signature is one codegen'd row-local expression —
    * no k-fold row explosion, no per-(doc, perm) shuffle, no interpreted
    * higher-order lambdas; only downstream bucket joins shuffle. At scale
    * this is the materialized index table an ingest pipeline maintains for
    * the landed corpus.
    */
  private def bandSignatures(docs: DataFrame, numHashes: Int, bands: Int): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val sig = GraftFunctions.minhash_sig(col("_shs"), numHashes)
    val rowsPerBand = numHashes / bands
    graft.Tables.widen(docs)
      .select(col("doc_id"), shingleArray().as("_shs"))
      .select(col("doc_id"), sig.as("_sig"))
      .select(
        col("doc_id"),
        explode(
          transform(
            sequence(lit(0), lit(bands - 1)),
            b => struct(
              b.cast("int").as("band"),
              // identical rendering to the per-(i, mh) string_agg form
              array_join(
                transform(
                  sequence(lit(0), lit(rowsPerBand - 1)),
                  j => concat(
                    (b * rowsPerBand + j).cast("string"), lit(":"),
                    element_at(col("_sig"), (b * rowsPerBand + j + 1).cast("int")).cast("string"))),
                ",").as("sig")))).as("bk"))
      .select(col("doc_id"), col("bk.band"), col("bk.sig"))
  }

  /** MinHash + banded LSH near-dup candidates, verified with exact Jaccard.
    * Permutation hashes are 60-bit md5 prefixes of "i:shingle" — computable
    * identically in DuckDB (`CAST('0x'||substr(md5(..),1,15) AS BIGINT)`).
    *
    * @param numHashes signature length k (perm hashes 0..k-1)
    * @param bands     LSH bands (rows per band = k / bands);
    *                  P(candidate) = 1-(1-j^r)^b
    */
  def minhashLsh(
      docs: DataFrame,
      threshold: Double = 0.5,
      numHashes: Int = 12,
      bands: Int = 3): DataFrame = {
    val sigs = bandSignatures(docs, numHashes, bands)
    val a = sigs.as("a")
    val b = sigs.as("b")
    // materialized (bucket-collision-bounded, tiny next to the corpus) so
    // the signature + band self-join pipeline runs exactly once even though
    // three downstream branches consume the candidate set
    val candidates = graft.Tables.materializeSmall(a
      .join(b,
        col("a.band") === col("b.band") && col("a.sig") === col("b.sig") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct())

    // exact-Jaccard verification: only candidate docs are ever shingle-
    // exploded — the corpus-scale explode the signature path avoids is not
    // reintroduced here. The candidate-doc shingle relation is itself
    // materialized (both pair sides consume it).
    val candIds = candidates.select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id")).distinct()
    val candSh = graft.Tables.materializeSmall(
      shingles(docs.join(broadcast(candIds), Seq("doc_id"), "left_semi")))
    // per-doc distinct-shingle counts fall out of the same candidate-doc
    // shingle relation — only candidate docs ever reach the Jaccard join
    val counts = candSh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val sa = candSh.select(col("doc_id").as("doc_a"), col("s"))
    val sb = candSh.select(col("doc_id").as("doc_b"), col("s"))
    val common = broadcast(broadcast(candidates).join(sa, "doc_a"))
      .join(sb, Seq("doc_b", "s"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("common"))
    withJaccard(common, counts)
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "common", "n_a", "n_b", "jaccard")
  }

  /** Incremental MinHash-LSH near-dup detection: which delta-batch docs are
    * near-duplicates of already-landed corpus docs — the daily-ingest shape
    * of [[minhashLsh]] (its exact sibling is [[incrementalDedup]]). Both
    * sides build the same banded signature relation (at scale the corpus
    * side is a maintained index table, not a recomputation), candidates are
    * the cross-side band-bucket collisions only (no corpus×corpus or
    * delta×delta pairs), and exact-Jaccard verification shingle-explodes
    * candidate docs only. Same hash family as d3, so the DuckDB oracle
    * mirrors it bit-exactly.
    */
  def minhashLshIncremental(
      corpus: DataFrame,
      delta: DataFrame,
      threshold: Double = 0.5,
      numHashes: Int = 12,
      bands: Int = 3): DataFrame = {
    val cs = bandSignatures(corpus, numHashes, bands)
      .select(col("doc_id").as("corpus_id"), col("band"), col("sig"))
    val ds = bandSignatures(delta, numHashes, bands)
      .select(col("doc_id").as("delta_id"), col("band"), col("sig"))
    // collision-bounded, tiny next to the corpus — materialized because the
    // candidate set feeds three downstream branches
    val candidates = graft.Tables.materializeSmall(
      cs.join(ds, Seq("band", "sig"))
        .select(col("corpus_id"), col("delta_id"))
        .distinct())
    val candCorpus = candidates.select(col("corpus_id").as("doc_id")).distinct()
    val candDelta = candidates.select(col("delta_id").as("doc_id")).distinct()
    val shC = graft.Tables.materializeSmall(
      shingles(corpus.join(broadcast(candCorpus), Seq("doc_id"), "left_semi")))
    val shD = graft.Tables.materializeSmall(
      shingles(delta.join(broadcast(candDelta), Seq("doc_id"), "left_semi")))
    val nC = shC.groupBy("doc_id").agg(count(lit(1)).as("n_corpus"))
      .withColumnRenamed("doc_id", "corpus_id")
    val nD = shD.groupBy("doc_id").agg(count(lit(1)).as("n_delta"))
      .withColumnRenamed("doc_id", "delta_id")
    val common = broadcast(
      broadcast(candidates).join(shC.withColumnRenamed("doc_id", "corpus_id"), "corpus_id"))
      .join(shD.withColumnRenamed("doc_id", "delta_id"), Seq("delta_id", "s"))
      .groupBy("corpus_id", "delta_id")
      .agg(count(lit(1)).as("common"))
    common
      .join(nC, "corpus_id")
      .join(nD, "delta_id")
      .withColumn(
        "jaccard",
        col("common").cast("double") / (col("n_corpus") + col("n_delta") - col("common")))
      .filter(col("jaccard") >= threshold)
      .select("corpus_id", "delta_id", "common", "n_corpus", "n_delta", "jaccard")
  }

  /** Benchmark decontamination: corpus documents sharing at least
    * `minCommon` distinct 3-gram shingles with an evaluation-set document —
    * the overlap check a training pipeline runs so benchmark material
    * doesn't leak into the training corpus. Emits one row per contaminated
    * (corpus, benchmark) pair with the containment ratio
    * `common / |benchmark shingles|` (how much of the benchmark doc the
    * corpus doc covers — the directional measure used for decontamination,
    * unlike symmetric Jaccard).
    *
    * Scale shape: the benchmark set is eval-sized (thousands of docs, not
    * corpus-scale), so its shingle relation is broadcast and the corpus
    * side is a single map-side hash join over the shingle stream — the
    * corpus is never shuffled.
    */
  def decontaminate(
      corpus: DataFrame,
      benchmark: DataFrame,
      minCommon: Int = 5): DataFrame = {
    val corpusSh = shingles(corpus)
    val benchSh = shingles(benchmark)
    val nBench = benchSh.groupBy("doc_id").agg(count(lit(1)).as("n_bench"))
      .withColumnRenamed("doc_id", "bench_id")
    val common = corpusSh
      .join(broadcast(benchSh.withColumnRenamed("doc_id", "bench_id")), "s")
      .groupBy(col("doc_id"), col("bench_id"))
      .agg(count(lit(1)).as("common"))
      .filter(col("common") >= minCommon)
    common
      .join(broadcast(nBench), "bench_id")
      .withColumn("containment", col("common").cast("double") / col("n_bench"))
      .select("doc_id", "bench_id", "common", "n_bench", "containment")
  }

  /** Per-benchmark-document contamination report — the measurement sibling
    * of [[decontaminate]] (which flags corpus docs to DROP): for each
    * benchmark document, the fraction of its distinct shingles that appear
    * ANYWHERE in the training corpus, regardless of which corpus document
    * carries them. This is the eval-overlap statistic an n-gram
    * decontamination audit publishes per benchmark item (0 = clean,
    * 1 = fully contained in training data).
    *
    * Scale shape mirrors [[decontaminate]]: the benchmark shingle relation
    * is eval-sized and broadcast; the corpus side streams its shingles
    * through a map-side hash join and is never shuffled or de-duplicated
    * globally — a gram hit by many corpus docs collapses in the
    * `countDistinct` over benchmark grams, not in a corpus-wide distinct.
    */
  def contaminationStats(corpus: DataFrame, benchmark: DataFrame): DataFrame = {
    val corpusSh = shingles(corpus)
    val benchSh = shingles(benchmark).withColumnRenamed("doc_id", "bench_id")
    val nBench = benchSh.groupBy("bench_id").agg(count(lit(1)).as("n_grams"))
    val hit = corpusSh
      .join(broadcast(benchSh), "s")
      .groupBy(col("bench_id"))
      .agg(countDistinct(col("s")).as("n_contaminated"))
    // hit is bench-sized too; it must carry the hint because only the
    // non-preserved side of a left-outer join can be the broadcast build
    nBench
      .join(broadcast(hit), Seq("bench_id"), "left_outer")
      .select(
        col("bench_id"),
        col("n_grams"),
        coalesce(col("n_contaminated"), lit(0L)).as("n_contaminated"),
        round(coalesce(col("n_contaminated"), lit(0L)).cast("double") / col("n_grams"), 6)
          .as("contamination"))
  }

  /** Per-document 60-bit SimHash fingerprint + 15-bit LSH band keys. Pairing
    * = any shared band key then Hamming-distance verification (spec-tested;
    * the per-doc fingerprint is the oracle-checked surface).
    */
  def simhash(docs: DataFrame): DataFrame = {
    val ws = array_distinct(TextAnalysis.tokens(col("text")))
    val fp = GraftFunctions.simhash64(ws)
    docs.select(
      col("doc_id"),
      fp.as("simhash"),
      (fp.bitwiseAND(lit(0x7fffL))).as("b0"),
      (shiftright(fp, 15).bitwiseAND(lit(0x7fffL))).as("b1"),
      (shiftright(fp, 30).bitwiseAND(lit(0x7fffL))).as("b2"),
      (shiftright(fp, 45).bitwiseAND(lit(0x7fffL))).as("b3"))
  }

  /** SimHash near-dup candidate pairs: band-bucket join + Hamming ≤ radius.
    * With 4 bands over 60 bits, any pair within Hamming distance 3 differs
    * in at most 3 bands, so it must match on at least one — candidate
    * recall is exactly 1.0 for radius ≤ 3 (pigeonhole), which is why 3 is
    * the default. No oracle (DuckDB-side would mirror the same LSH; the
    * spec covers pairing semantics).
    */
  def simhashPairs(docs: DataFrame, radius: Int = 3): DataFrame = {
    val s = simhash(docs)
    val bandCols = Seq("b0", "b1", "b2", "b3")
    // no caching: in the shuffle-join regime (the at-scale case) both sides
    // shuffle by (band, key) over identical subplans and ReuseExchange
    // computes the fingerprinting once; when one side is broadcast instead,
    // the input was small enough that the duplicated row-local map is noise
    val exploded = s.select(
      col("doc_id"), col("simhash"),
      explode(array(bandCols.zipWithIndex.map { case (c, i) =>
        struct(lit(i).as("band"), col(c).as("key"))
      }: _*)).as("bk"))
      .select(col("doc_id"), col("simhash"), col("bk.band"), col("bk.key"))
    val a = exploded.as("a")
    val b = exploded.as("b")
    a.join(b,
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(
        col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.simhash").as("sh_a"), col("b.simhash").as("sh_b"))
      .distinct()
      .withColumn("hamming", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))))
      .filter(col("hamming") <= radius)
  }

  /** Driver-local union-find with path compression; survivor (cluster rep)
    * = min doc_id per component.
    */
  private def unionFindLocal(edgeList: Array[(Long, Long)]): Array[(Long, Long)] = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x
      while (parent.getOrElse(c, c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edgeList.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a)
      parent.getOrElseUpdate(b, b)
      val ra = find(a)
      val rb = find(b)
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.toArray.sorted.map(d => d -> find(d))
  }

  /** Resolve near-dup pairs into duplicate clusters: connected components
    * by iterative min-label propagation (Pregel-style — each round every
    * node adopts the minimum label in its neighborhood; converges in
    * O(component diameter) rounds, each one shuffle). Near-dup components
    * are tiny in practice, so the loop is short; the iteration is
    * driver-controlled but all data movement is distributed joins.
    *
    * @param pairs (doc_a, doc_b) near-duplicate pairs (any Dedup variant)
    * @return (doc_id, cluster_rep) for every doc appearing in a pair;
    *         cluster_rep = min doc_id of the component (the survivor)
    */
  def resolveClusters(pairs: DataFrame, maxIters: Int = 20,
      maxLocalEdges: Long = 5000000L): DataFrame = {
    val spark = pairs.sparkSession
    // the pair relation is consumed again on whichever path wins (collect,
    // or both union branches): cache so the (possibly expensive — e.g. a
    // full Jaccard pipeline) upstream runs once
    val p = pairs.select(col("doc_a"), col("doc_b")).persist()
    val pairCount = p.count()

    // Near-dup pair graphs are orders of magnitude smaller than the corpus
    // (a 5M-edge graph is a few MB of longs): below the threshold a
    // driver-local union-find beats rounds of distributed joins outright —
    // and collects the pair relation AS IS (no doubled edge list, no
    // distinct shuffle; union-find is idempotent under duplicates). The
    // distributed Pregel loop below is the path for genuinely huge graphs.
    if (pairCount * 2 <= maxLocalEdges) {
      import spark.implicits._
      val local = unionFindLocal(p.collect().map(r => (r.getLong(0), r.getLong(1))))
      p.unpersist()
      return spark.createDataset(local.toSeq).toDF("doc_id", "cluster_rep")
    }

    val edgesAll = p.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionByName(p.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .persist()
    val edgeCount = edgesAll.count()
    p.unpersist() // edgesAll is materialized; the pair relation can go
    val parts = math.max(1, math.min(
      spark.sparkContext.defaultParallelism, (edgeCount / 100000L).toInt))
    val edges = edgesAll.repartition(parts, col("dst")).persist()
    var labels = edges.select(col("src").as("doc_id")).distinct()
      .withColumn("label", col("doc_id"))
      .persist()
    var converged = false
    var iter = 0
    while (!converged && iter < maxIters) {
      val neighborMin = edges
        .join(labels.withColumnRenamed("doc_id", "dst")
          .withColumnRenamed("label", "n_label"), "dst")
        .groupBy(col("src").as("doc_id"))
        .agg(min(col("n_label")).as("n_label"))
      val propagated = labels
        .join(neighborMin, Seq("doc_id"), "left")
        .select(
          col("doc_id"),
          least(col("label"), coalesce(col("n_label"), col("label"))).as("label"))
      // pointer jumping (path halving): adopt the label of your label —
      // turns O(diameter) convergence into O(log diameter)
      val next = propagated.as("x")
        .join(propagated.select(col("doc_id").as("_rep"), col("label").as("_rep_label")).as("y"),
          col("x.label") === col("_rep"), "left")
        .select(
          col("x.doc_id").as("doc_id"),
          least(col("x.label"), coalesce(col("_rep_label"), col("x.label"))).as("label"))
        .persist()
      val changed = next.join(labels.withColumnRenamed("label", "old"), "doc_id")
        .filter(col("label") =!= col("old")).limit(1).count()
      labels.unpersist()
      labels = next
      converged = changed == 0
      iter += 1
    }
    // materialize the (node-count-bounded) result eagerly so every loop
    // cache can be dropped before returning — nothing stays pinned in the
    // cache manager once the caller discards the returned DataFrame
    val out = graft.Tables.materializeSmall(
      labels.select(col("doc_id"), col("label").as("cluster_rep")))
    edges.unpersist()
    edgesAll.unpersist()
    labels.unpersist()
    out
  }

  /** Dedup impact report — per source: how many documents are entangled in
    * near-dup clusters and how many the min-id keep policy would drop,
    * with the drop ratio. The before/after accounting a curation run
    * reports; the cluster relation is pair-bounded so the left join
    * decorates the corpus scan without a second corpus pass of work.
    */
  def dedupReport(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val clusters = resolveClusters(pairs)
    docs.select(col("doc_id"), col("source"))
      .join(clusters, Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("cluster_rep").isNotNull.cast("long")).as("n_dup_involved"),
        sum((col("cluster_rep").isNotNull && col("cluster_rep") =!= col("doc_id"))
          .cast("long")).as("n_dropped"))
      .withColumn("dup_ratio", col("n_dropped").cast("double") / col("n_docs"))
      .orderBy(col("source"))
  }

  /** Edit-distance verification of SimHash candidates — the fine-check a
    * fuzzy-dedup pipeline runs AFTER the cheap LSH recall stage: candidate
    * pairs within Hamming radius are confirmed by Levenshtein distance on
    * a bounded text prefix (the O(prefix²) cost is per CANDIDATE, never
    * per corpus pair, and the prefix bound keeps it constant). The prefix
    * projections join the pair relation by doc key — only `prefixChars`
    * characters per side ever move, not document bodies.
    */
  def fuzzyVerifyPairs(docs: DataFrame, prefixChars: Int = 80,
      maxDist: Int = 20, radius: Int = 3): DataFrame = {
    // candidate-bounded (the LSH output, corpus-tiny): materialized so the
    // prefix joins can't re-trigger the two-sided fingerprint pipeline
    val cand = graft.Tables.materializeSmall(simhashPairs(docs, radius))
    // explicit partition counts: the rows are small but the per-row DP is
    // not, and AQE's size-based coalescing would otherwise collapse these
    // exchanges to one partition and run the Levenshtein pass serially —
    // the classic cheap-rows/expensive-expression trap
    val p = docs.sparkSession.sparkContext.defaultParallelism
    val pa = docs.select(col("doc_id").as("doc_a"),
      substring(col("text"), 1, prefixChars).as("_pa")).repartition(p, col("doc_a"))
    val pb = docs.select(col("doc_id").as("doc_b"),
      substring(col("text"), 1, prefixChars).as("_pb")).repartition(p, col("doc_b"))
    cand.repartition(p, col("doc_a"))
      .join(pa, "doc_a")
      .join(pb, "doc_b")
      // length pre-filter: |len(a) − len(b)| > k already proves
      // dist > k (every edit changes length by ≤ 1), so those pairs
      // drop BEFORE the DP evaluates — the same kept set (the banded
      // levenshtein would return −1 for them), one integer subtract
      // earlier in the join's output path. Null prefixes drop under
      // both spellings (null comparison ≡ null edit_dist).
      .filter(abs(length(col("_pa")) - length(col("_pb"))) <= maxDist)
      // threshold-bounded DP (Spark 3.5+ three-arg levenshtein): O(n·k)
      // band instead of the O(n²) full matrix, early-exit when the band
      // proves dist > maxDist (returns -1). Kept rows carry the identical
      // exact distance, so the output relation is unchanged.
      .withColumn("edit_dist",
        levenshtein(col("_pa"), col("_pb"), maxDist))
      .filter(col("edit_dist") >= 0)
      .select(col("doc_a"), col("doc_b"), col("hamming"), col("edit_dist"))
  }

  /** Cluster canonicalization — the decision step after [[resolveClusters]]:
    * per near-dup cluster keep the BEST document (longest, doc-id
    * tie-break), not the arbitrary min-id representative — the policy a
    * real curation pipeline wants (drop the truncated/boilerplate copies,
    * keep the fullest). The cluster relation is pair-bounded (corpus-tiny),
    * so the quality join and both windows run on it, never on the corpus;
    * one exchange by cluster key shared by the rank and member-count
    * windows.
    */
  def canonicalizeClusters(docs: DataFrame, pairs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val clusters = resolveClusters(pairs)
    val w = Window.partitionBy(col("cluster_rep"))
      .orderBy(col("n_chars").desc, col("doc_id"))
    clusters
      .join(docs.select(col("doc_id"), col("n_chars")), "doc_id")
      .withColumn("_rnk", row_number().over(w))
      .withColumn("n_members", count(lit(1)).over(Window.partitionBy(col("cluster_rep"))))
      .filter(col("_rnk") === 1)
      .select(
        col("cluster_rep"), col("doc_id").as("keep_id"),
        col("n_chars").as("keep_chars"), col("n_members"))
      .orderBy(col("cluster_rep"))
  }

  /** Embedding-cosine near-dup pairs ≥ threshold, blocked by a coarse
    * partition column so the self-join is an equi-join (at 100 TB the block
    * key would be an IVF/cluster assignment; here the `label` column).
    */
  def embeddingNearDup(
      embeddings: DataFrame,
      blockCol: String = "label",
      threshold: Double = 0.35): DataFrame = {
    val a = embeddings.as("a")
    val b = embeddings.as("b")
    a.join(b,
        col(s"a.$blockCol") === col(s"b.$blockCol") && col("a.vec_id") < col("b.vec_id"))
      .select(
        col("a.vec_id").as("vec_a"),
        col("b.vec_id").as("vec_b"),
        col(s"a.$blockCol").as("block"),
        GraftFunctions.cosine_sim(col("a.embedding"), col("b.embedding")).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** Incremental semantic dedup — [[semDedup]]'s delta-ingest sibling (the
    * d10/d12 incrementality shape for the embedding family): admit only
    * delta vectors that are (a) not within `threshold` of ANY vector in
    * the landed kept registry — a blocked equi-join + left-anti, never
    * all-pairs, with the landed side a maintained relation exactly like
    * d10's hash set — and (b) not a semantic duplicate of a lower-id
    * delta survivor (internal pairs → min-label clusters, all on the
    * delta-bounded relation). Output: the admitted delta rows.
    */
  def semDedupIncremental(
      landedKept: DataFrame,
      delta: DataFrame,
      blockCol: String = "label",
      threshold: Double = 0.35): DataFrame = {
    val l = landedKept.select(
      col("vec_id").as("l_id"), col("embedding").as("l_emb"), col(blockCol).as("block"))
    val d = delta.select(col("vec_id"), col("embedding"), col(blockCol).as("block"))
    val dominated = d.join(l, Seq("block"))
      .filter(GraftFunctions.cosine_sim(col("embedding"), col("l_emb")) >= threshold)
      .select(col("vec_id")).distinct()
    val surviving = d.join(dominated, Seq("vec_id"), "left_anti")
    val pairs = surviving.as("a")
      .join(surviving.as("b"),
        col("a.block") === col("b.block") && col("a.vec_id") < col("b.vec_id"))
      .filter(GraftFunctions.cosine_sim(col("a.embedding"), col("b.embedding")) >= threshold)
      .select(col("a.vec_id").as("doc_a"), col("b.vec_id").as("doc_b"))
    val clusters = resolveClusters(pairs)
    surviving
      .join(clusters.withColumnRenamed("doc_id", "vec_id"), Seq("vec_id"), "left")
      .filter(col("cluster_rep").isNull || col("cluster_rep") === col("vec_id"))
      .select(col("vec_id"), col("block").as(blockCol))
      .orderBy(col("vec_id"))
  }

  /** Semantic dedup (the SemDeDup shape, Abbas et al. 2023 "SemDeDup:
    * Data-efficient learning at web-scale through semantic
    * deduplication"): embedding near-dup pairs → connected components →
    * keep ONE vector per semantic cluster (the min-id representative),
    * emitting the kept corpus with each survivor's merge weight (cluster
    * size, 1 for untouched vectors) — the weight a loss-reweighting or
    * epoch-sampling step consumes downstream.
    *
    * Pure composition: [[embeddingNearDup]] supplies the blocked pair
    * relation (never all-pairs), [[resolveClusters]] the O(diameter)
    * min-label propagation; the only new work — survivor filter and
    * cluster sizes — runs on the pair-bounded cluster relation, so the
    * corpus-scale cost is exactly d5's.
    */
  def semDedup(
      embeddings: DataFrame,
      blockCol: String = "label",
      threshold: Double = 0.35): DataFrame = {
    val pairs = embeddingNearDup(embeddings, blockCol, threshold)
      .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"))
    clusterSurvivors(embeddings, pairs, blockCol)
  }

  /** The shared SemDeDup tail: near-dup pairs → min-label clusters → keep
    * the min-id representative per cluster, each survivor weighted by its
    * cluster size (1 for untouched vectors). Weight is CONSERVED: the
    * survivors' `n_merged` sums to the corpus row count exactly.
    */
  private def clusterSurvivors(
      corpus: DataFrame, pairs: DataFrame, metaCol: String): DataFrame = {
    val clusters = resolveClusters(pairs) // (doc_id, cluster_rep)
    val sizes = clusters.groupBy(col("cluster_rep")).agg(count(lit(1)).as("n_merged"))
    corpus
      .join(clusters.withColumnRenamed("doc_id", "vec_id"), Seq("vec_id"), "left")
      .filter(col("cluster_rep").isNull || col("cluster_rep") === col("vec_id"))
      .join(sizes.withColumnRenamed("cluster_rep", "vec_id"), Seq("vec_id"), "left")
      .select(
        col("vec_id"), col(metaCol),
        coalesce(col("n_merged"), lit(1L)).as("n_merged"))
      .orderBy(col("vec_id"))
  }

  /** `nlist` for [[semDedupIvf]]: grows linearly with the corpus so the
    * expected cell size stays at `targetCell` REGARDLESS of the data's own
    * block/label structure — the property that makes the within-cell
    * self-join linear in corpus size by construction. (The d5/d25
    * exact-blocked forms are linear only while the block COLUMN's
    * cardinality scales with the data; this variant carries its own
    * guarantee.) Floor of 8 so tiny corpora still exercise the cell join;
    * cap of 65536 bounds the literal centroid matrix the codegen
    * assignment compiles against (at 64 dims that is ~32 MB of plan
    * constants — past that an ingest pipeline would land the assignment
    * as a column and this fit would shard, cf. [[Similarity.ivfIndex]]'s
    * landed-index note).
    */
  private[graft] def ivfNlist(n: Long, targetCell: Int): Int =
    math.max(8L, math.min(65536L, n / targetCell + 1L)).toInt

  /** SemDeDup at corpus scale — the paper's own two-phase shape (Abbas et
    * al. 2023, arXiv:2303.09540: k-means the embedding space FIRST, then
    * dedup within clusters): the coarse k-means cell IS the block key, with
    * `nlist` ∝ corpus size ([[ivfNlist]]) so cell sizes stay bounded at
    * `targetCell` and the within-cell pairwise join is linear in the
    * corpus by construction. [[semDedup]]/[[embeddingNearDup]] stay the
    * EXACT blocked forms (oracle-checked bit-exactly, linear only while
    * the block column's cardinality scales); this is the form a 100 TB
    * deployment runs, at the usual approximate-blocking price — pairs
    * whose endpoints land in different cells are not examined, exactly
    * the pairs the paper's own clustering also skips.
    *
    * Reuses [[Similarity.ivfIndex]] wholesale: a bounded reservoir sample,
    * a deterministic driver-local Lloyd fit (seeded — two runs of this
    * operator are byte-identical), and the cell assignment as one
    * whole-stage-codegen pass against the literal centroid matrix. One
    * count() job sizes `nlist`; an ingest pipeline that has already landed
    * the assignment (the IvfIndex note) skips both.
    *
    * Output matches [[semDedup]]'s shape with `cell` as the block column:
    * (vec_id, cell, n_merged), min-id survivor per semantic cluster,
    * weight conserved (Σ n_merged = corpus rows).
    */
  def semDedupIvf(
      embeddings: DataFrame,
      targetCell: Int = 256,
      threshold: Double = 0.35,
      maxTrainRows: Long = 4096L): DataFrame = {
    val nlist = ivfNlist(embeddings.count(), targetCell)
    val assigned = Similarity.ivfIndex(embeddings, nlist, maxTrainRows).assigned
      .select(
        col("neighbor_id").as("vec_id"), col("cand_emb").as("embedding"), col("cell"))
    val pairs = assigned.as("a")
      .join(assigned.as("b"),
        col("a.cell") === col("b.cell") && col("a.vec_id") < col("b.vec_id"))
      .filter(
        GraftFunctions.cosine_sim(col("a.embedding"), col("b.embedding")) >= threshold)
      .select(col("a.vec_id").as("doc_a"), col("b.vec_id").as("doc_b"))
    clusterSurvivors(assigned, pairs, "cell")
  }
}
