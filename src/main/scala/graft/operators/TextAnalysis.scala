package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions

/** Text-analysis operators for LLM-training-data pipelines, all pure
  * codegen'd column expressions (no UDFs) over the `documents` table.
  */
object TextAnalysis {

  /** Whitespace tokens, empties dropped (portable with
    * `list_filter(string_split_regex(...))`).
    */
  def tokens(text: Column): Column =
    filter(split(trim(text), "\\s+"), t => t =!= lit(""))

  /** BPE-ish lexer pattern: letter runs, digit runs, single punctuation.
    * ASCII-only so the Java and RE2 regex dialects agree.
    */
  val BpeIshPattern = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"

  /** Token counting: whitespace words, BPE-ish tokens, characters. */
  def tokenCounts(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      size(tokens(col("text"))).cast("long").as("n_words"),
      regexp_count(col("text"), lit(BpeIshPattern)).cast("long").as("n_bpeish"),
      char_length(col("text")).cast("long").as("n_chars_actual"))

  /** Language-marker stopword lists (tiny n-gram-profile stand-in; the
    * point is the distributed scoring shape, not linguistic accuracy).
    */
  val Markers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "a", "in"),
    "es" -> Seq("el", "la", "de", "que", "los", "y"),
    "fr" -> Seq("le", "et", "les", "des", "un", "une"),
    "de" -> Seq("der", "und", "die", "das", "ein", "nicht"))

  private def markerCount(ws: Column, markers: Seq[String]): Column = {
    val arr = array(markers.map(lit): _*)
    size(filter(ws, t => array_contains(arr, t))).cast("long")
  }

  /** Heuristic language ID: argmax over marker-hit counts with a fixed
    * priority order (en > es > fr > de), 'und' when all are zero.
    */
  def langId(docs: DataFrame): DataFrame = {
    val ws = tokens(col("text"))
    val withCounts = docs.select(
      col("doc_id") +: Markers.map { case (lang, ms) =>
        markerCount(ws, ms).as(s"n_$lang")
      }: _*)
    val Seq(en, es, fr, de) = Markers.map { case (l, _) => col(s"n_$l") }
    withCounts.withColumn(
      "lang_pred",
      when(en + es + fr + de === 0, lit("und"))
        .when(en >= es && en >= fr && en >= de, lit("en"))
        .when(es >= fr && es >= de, lit("es"))
        .when(fr >= de, lit("fr"))
        .otherwise(lit("de")))
  }

  /** Stopwords used by the quality score (the `en` marker list). */
  val Stopwords: Seq[String] = Markers.head._2

  /** Document quality scoring: length, punctuation ratio and stopword ratio
    * folded into a deterministic [0,1] score. Every term is a single
    * IEEE-deterministic expression so the oracle matches bit-for-bit.
    */
  def qualityScore(docs: DataFrame, keep: Seq[String] = Nil): DataFrame = {
    val ws = tokens(col("text"))
    docs
      .select(
        (col("doc_id") +: keep.map(col)) ++ Seq(
          char_length(col("text")).cast("long").as("n_chars_actual"),
          size(ws).cast("long").as("n_words"),
          size(array_distinct(ws)).cast("long").as("n_distinct_words"),
          regexp_count(col("text"), lit("[^A-Za-z0-9\\s]")).cast("long").as("n_punct"),
          markerCount(ws, Stopwords).as("n_stop")): _*)
      .withColumn("rep_ratio",
        col("n_distinct_words").cast("double") / nullif(col("n_words"), lit(0L)))
      .withColumn("punct_ratio",
        col("n_punct").cast("double") / nullif(col("n_chars_actual"), lit(0L)))
      .withColumn("stop_ratio",
        col("n_stop").cast("double") / nullif(col("n_words"), lit(0L)))
      .withColumn(
        "quality",
        least(col("n_words").cast("double") / lit(50.0), lit(1.0)) * lit(0.5)
          + (lit(1.0) - col("punct_ratio")) * lit(0.3)
          + least(col("stop_ratio") * lit(5.0), lit(1.0)) * lit(0.2))
  }

  /** Model-based quality scoring — the distillation shape production
    * pipelines use: expensive labels (here the [[qualityScore]] heuristic
    * thresholded at `labelCutoff`; in production an LLM judge or human
    * ratings) train a cheap logistic-regression classifier over O(1)
    * row-local features, and the CLASSIFIER scores the full corpus. The
    * split of costs is the point at 100 TB: training touches only a
    * bounded sample (MLlib on `maxTrainRows` rows), while scoring is the
    * fitted coefficients embedded as plan literals — a pure codegen
    * sigmoid over the feature columns, no MLlib evaluation path, no UDF,
    * no shuffle.
    *
    * Emits per doc: the features, the heuristic label, the model
    * probability and the model prediction (at 0.5). No portable oracle
    * (coefficients are solver output); spec asserts model/heuristic
    * agreement and probability sanity.
    */
  def qualityModel(
      docs: DataFrame,
      labelCutoff: Double = 0.5,
      maxTrainRows: Long = 20000L): DataFrame = {
    import org.apache.spark.ml.classification.LogisticRegression
    import org.apache.spark.ml.functions.array_to_vector
    val scored = qualityScore(docs).select(
      col("doc_id"), col("n_words"), col("rep_ratio"),
      col("punct_ratio"), col("stop_ratio"),
      // zero-word docs have a null quality — label them bad (0.0) rather
      // than null, which MLlib's fit rejects outright
      (coalesce(col("quality"), lit(0.0)) >= labelCutoff).cast("double").as("label"))
    // features kept finite: empty docs have null ratios → 0
    val featCols = Seq(
      least(col("n_words").cast("double") / lit(50.0), lit(1.0)),
      coalesce(col("rep_ratio"), lit(0.0)),
      coalesce(col("punct_ratio"), lit(0.0)),
      coalesce(col("stop_ratio"), lit(0.0)))
    val featured = scored.withColumn("features", array_to_vector(array(featCols: _*)))
    // bounded training sample, shared with the IVF trainer
    // ([[graft.Tables.reservoirSample]]): no count(), no shuffle, uniform
    // across each split
    val train = graft.Tables.reservoirSample(featured, maxTrainRows, seedSalt = 2003L)
    val model = new LogisticRegression()
      .setMaxIter(50).setRegParam(0.01)
      .setFeaturesCol("features").setLabelCol("label")
      .fit(train)
    // scoring: coefficients as plan literals → codegen'd sigmoid
    val w = model.coefficients.toArray
    val z = featCols.zip(w).map { case (c, wi) => c * lit(wi) }
      .reduce(_ + _) + lit(model.intercept)
    scored
      .withColumn("prob_good", lit(1.0) / (lit(1.0) + exp(-z)))
      .withColumn("model_pred", (col("prob_good") >= 0.5).cast("int"))
      .select(
        col("doc_id"), col("label").cast("int").as("heuristic_label"),
        col("prob_good"), col("model_pred"))
  }

  /** Fixed-size overlapping token-window chunking — how a training pipeline
    * splits long documents into model-context-sized sequences. Each
    * document's token array becomes `1 + ceil(max(0, n - chunk)/step)`
    * chunks of up to `chunkTokens` tokens, consecutive chunks sharing
    * `overlap` tokens (step = chunk - overlap). One output row per CHUNK,
    * not per token — the explode factor is n/step, so at 100 TB the output
    * stays a small multiple of the corpus and the whole operator is one
    * codegen'd map (sequence + slice + array_join), no shuffle, no UDF.
    * Empty documents produce no chunks.
    */
  def chunkWindows(
      docs: DataFrame,
      chunkTokens: Int = 50,
      overlap: Int = 10): DataFrame = {
    require(overlap >= 0 && overlap < chunkTokens, "need 0 <= overlap < chunkTokens")
    val step = chunkTokens - overlap
    val n = size(col("_ws"))
    val nChunks =
      (lit(1) + floor((greatest(n - lit(chunkTokens), lit(0)) + lit(step - 1)) / lit(step)))
        .cast("int")
    docs
      .select(col("doc_id"), tokens(col("text")).as("_ws"))
      .select(
        col("doc_id"),
        posexplode(
          when(n > 0,
            transform(
              sequence(lit(0), nChunks - 1),
              k => slice(col("_ws"), k * step + lit(1), lit(chunkTokens))))
            .otherwise(array().cast("array<array<string>>"))).as(Seq("chunk_id", "_chunk")))
      .select(
        col("doc_id"),
        col("chunk_id").cast("long").as("chunk_id"),
        size(col("_chunk")).cast("long").as("n_chunk_tokens"),
        array_join(col("_chunk"), " ").as("chunk_text"))
  }

  /** Cross-corpus repeated-passage mining — the discovery pass of exact
    * substring deduplication: every word-level `n`-gram passage shared by
    * at least `minDocs` documents, with its document and occurrence
    * counts. Unlike [[repetitionSignals]] (within-doc) or
    * [[graft.operators.Dedup.ngramJaccard]] (pairwise doc similarity),
    * this surfaces the passages themselves — the boilerplate a cleaning
    * pass would strip. One codegen'd explode (fan-out = tokens per doc,
    * same cost class as a shingle pass) into one two-level aggregate:
    * per-(gram, doc) counts partial-agg map-side, then the per-gram
    * rollup runs on the already-collapsed relation. The ≥ `minDocs`
    * filter drops the long unique tail before the final top-k, which
    * plans as TakeOrdered — no global sort of the gram space.
    */
  def minePassages(
      docs: DataFrame,
      n: Int = 8,
      minDocs: Int = 2,
      topK: Int = 50): DataFrame = {
    val nTok = size(col("_ws"))
    val grams = docs
      .select(col("doc_id"), tokens(col("text")).as("_ws"))
      .select(
        col("doc_id"),
        explode(
          when(nTok >= n,
            transform(
              sequence(lit(1), nTok - lit(n - 1)),
              i => array_join(slice(col("_ws"), i, lit(n)), " ")))
            .otherwise(array().cast("array<string>"))).as("passage"))
    grams
      .groupBy(col("passage"), col("doc_id"))
      .agg(count(lit(1)).as("_n_in_doc"))
      .groupBy(col("passage"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("_n_in_doc")).as("n_occurrences"))
      .filter(col("n_docs") >= minDocs)
      .orderBy(col("n_occurrences").desc, col("n_docs").desc, col("passage"))
      .limit(topK)
  }

  /** Language-ID evaluation — the heuristic's confusion summary against
    * the corpus' gold labels: per gold language, document count, correct
    * predictions, and accuracy. The eval every classifier-backed filter
    * needs before it gates a corpus; exact-integer ratio, one join on the
    * doc key + one tiny aggregate.
    */
  def langIdEval(docs: DataFrame): DataFrame =
    langId(docs).select(col("doc_id"), col("lang_pred"))
      .join(docs.select(col("doc_id"), col("lang")), "doc_id")
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum((col("lang_pred") === col("lang")).cast("long")).as("n_correct"))
      .withColumn("accuracy", col("n_correct").cast("double") / col("n_docs"))
      .orderBy(col("lang"))

  /** BM25 keyword search — rank documents against a bag-of-terms query
    * with the Okapi BM25 scoring function (Lucene's +1 idf smoothing, so
    * idf is never negative). The corpus-scale work is one codegen'd
    * filter-explode restricted to the query terms BEFORE the shuffle, so
    * only (doc, query-term) hits move — the shuffled relation is
    * hit-bounded, not token-bounded. Document frequencies and the corpus
    * stats (N, avgdl) are tiny aggregates of that same relation,
    * broadcast back. Per-document term contributions are decimal-cast
    * before the final sum so the score is independent of term order; the
    * top-k plans as TakeOrdered. At 100 TB the tf relation is the
    * inverted-index posting list for the query — the operator IS the
    * index probe, built on the fly. The posting list is materialized once
    * ([[graft.Tables.materializeSmall]], hit-bounded) so document
    * frequencies derive from it instead of re-scanning the corpus; the
    * only other corpus pass is the (n_docs, avgdl) stats aggregate, which
    * reads a single projected column (and at real scale is catalog
    * metadata, computed once per corpus, not per query).
    */
  def bm25Search(
      docs: DataFrame,
      queryTerms: Seq[String],
      k1: Double = 1.2,
      b: Double = 0.75,
      topK: Int = 20): DataFrame = {
    require(queryTerms.nonEmpty, "need at least one query term")
    val toks = docs.select(
      col("doc_id"),
      size(tokens(col("text"))).cast("double").as("dl"),
      tokens(col("text")).as("_ws"))
    val stats = toks.agg(
      count(lit(1)).cast("double").as("n_docs"),
      (sum(col("dl").cast("decimal(18,2)")).cast("double") / count(lit(1))).as("avgdl"))
    val qlit = array(queryTerms.map(lit): _*)
    val tf = graft.Tables.materializeSmall(toks
      .select(col("doc_id"), col("dl"),
        explode(filter(col("_ws"), t => array_contains(qlit, t))).as("term"))
      .groupBy(col("doc_id"), col("dl"), col("term"))
      .agg(count(lit(1)).cast("double").as("tf")))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).cast("double").as("df"))
    tf.join(broadcast(df), "term")
      .join(broadcast(stats))
      .withColumn("_idf",
        log((col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1.0)))
      .withColumn("_contrib",
        (col("_idf") * (col("tf") * lit(k1 + 1.0)) /
          (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl"))))
          .cast("decimal(18,10)"))
      .groupBy(col("doc_id"))
      .agg(
        round(sum(col("_contrib")).cast("double"), 6).as("score"),
        count(lit(1)).as("n_terms"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(topK)
  }

  /** TF-IDF keyword extraction — per document, the `topK` terms that most
    * distinguish it from the corpus (term frequency × inverse document
    * frequency). Complements [[bm25Search]] (query → docs) with the
    * docs → terms direction a corpus-exploration or tagging pass needs.
    * ONE token explode feeds everything: per-(doc, term) counts, then the
    * per-term document frequency as a window count over that SAME
    * relation (tf rows are unique per (doc, term), so the term-partition
    * count IS df) — no second corpus scan, no vocabulary join. The only
    * other pass is the one-row n_docs aggregate (single-column scan;
    * catalog metadata at real scale). Scores are rounded to 6 dp before
    * ranking so the per-doc top-k (WindowGroupLimit-pruned) is
    * engine-portable.
    */
  def tfidfKeywords(docs: DataFrame, topK: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val nDocs = docs.agg(count(lit(1)).cast("double").as("n_docs"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("score").desc, col("term"))
    tf.withColumn("df", count(lit(1)).over(Window.partitionBy(col("term"))).cast("double"))
      .join(broadcast(nDocs))
      .withColumn("score",
        round(col("tf").cast("double") * log(col("n_docs") / col("df")), 6))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= topK)
      .select(col("doc_id"), col("term"), col("tf"), col("score"), col("rnk"))
  }

  /** Within-document repetition signals — the Gopher/C4-style quality rule
    * that catches boilerplate and degenerate generations: the share of the
    * document's n-grams taken by its single most frequent bigram / trigram,
    * plus the duplicate-word ratio. A document dominated by one phrase
    * scores near 1.0 and gets flagged.
    *
    * Shape at 100 TB: explode n-grams → one partial-aggregable count per
    * (doc, gram) → per-doc max/sum (both map-side combinable, keyed by
    * doc_id so the two aggregations share one shuffle). No window over the
    * corpus, no per-doc O(words²) lambda — the naive row-local formulation
    * (count each gram by scanning the array per element) is quadratic in
    * document length. Documents too short for an n-gram keep a null share
    * (left join back to the corpus).
    */
  def repetitionStats(
      docs: DataFrame,
      flagShare: Double = 0.2): DataFrame = {
    val ws = col("ws")
    // both gram sizes from ONE explode pass (tagged structs), so the corpus
    // is scanned once for the shares instead of once per n
    def grams(n: Int): Column =
      when(size(ws) >= n,
        transform(
          sequence(lit(1), size(ws) - (n - 1)),
          i => struct(
            lit(n).as("n"),
            concat_ws(" ", (0 until n).map(j => element_at(ws, i + j)): _*).as("gram"))))
        .otherwise(array().cast("array<struct<n:int,gram:string>>"))
    val shares = graft.Tables.widen(docs)
      .select(col("doc_id"), tokens(col("text")).as("ws"))
      .select(col("doc_id"), explode(concat(grams(2), grams(3))).as("g"))
      .select(col("doc_id"), col("g.n").as("n"), col("g.gram").as("gram"))
      .groupBy(col("doc_id"), col("n"), col("gram"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("doc_id"), col("n"))
      .agg((max(col("cnt")).cast("double") / sum(col("cnt")).cast("double")).as("share"))
      .groupBy(col("doc_id"))
      .agg(
        max(when(col("n") === 2, col("share"))).as("top_bigram_share"),
        max(when(col("n") === 3, col("share"))).as("top_trigram_share"))
    val base = docs.select(
      col("doc_id"),
      size(tokens(col("text"))).cast("long").as("n_words"),
      size(array_distinct(tokens(col("text")))).cast("long").as("n_distinct_words"))
    base
      .join(shares, Seq("doc_id"), "left")
      .select(
        col("doc_id"), col("n_words"),
        (lit(1.0) - col("n_distinct_words").cast("double") /
          nullif(col("n_words"), lit(0L)).cast("double")).as("dup_word_ratio"),
        col("top_bigram_share"), col("top_trigram_share"),
        (coalesce(col("top_bigram_share"), lit(0.0)) > flagShare ||
          coalesce(col("top_trigram_share"), lit(0.0)) > flagShare)
          .cast("int").as("repetitive"))
  }

  /** Rolling polynomial document fingerprint via the codegen'd
    * [[graft.functions.PolyFingerprint]] expression.
    */
  def fingerprint(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      GraftFunctions.poly_fingerprint(col("text")).as("fp"),
      char_length(col("text")).cast("long").as("n_chars_actual"))

  /** PII patterns, ASCII-only so the Java and RE2 dialects agree; bounded
    * quantifiers, no backtracking hazards. */
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z][A-Za-z]+"
  val PhonePattern = "[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}"
  val Ipv4Pattern = "[0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}"

  /** PII detection + redaction: per-doc match counts and the redacted text,
    * all pure codegen'd regexp expressions (the standard pre-training
    * privacy pass — emails, phone-shaped numbers, IPv4 literals).
    */
  def piiRedact(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      regexp_count(col("text"), lit(EmailPattern)).cast("long").as("n_emails"),
      regexp_count(col("text"), lit(PhonePattern)).cast("long").as("n_phones"),
      regexp_count(col("text"), lit(Ipv4Pattern)).cast("long").as("n_ips"),
      regexp_replace(
        regexp_replace(
          regexp_replace(col("text"), lit(EmailPattern), lit("<EMAIL>")),
          lit(PhonePattern), lit("<PHONE>")),
        lit(Ipv4Pattern), lit("<IP>")).as("redacted"))

  /** Corpus-level top-k word bigrams: shingle-explode → one hash
    * aggregation → deterministic global top-k (count desc, bigram asc).
    * The global top-k is a TakeOrdered over the (small) distinct-bigram
    * aggregate, not a full sort of the corpus.
    */
  def topBigrams(docs: DataFrame, k: Int = 20): DataFrame = {
    // materialize the token array behind a projection boundary first:
    // element_at(tokens(text), i) inside the transform lambda would re-split
    // the whole document per element (O(words²) per doc)
    val ws = col("ws")
    graft.Tables.widen(docs)
      .select(tokens(col("text")).as("ws"))
      .select(
        explode(
          when(size(ws) >= 2,
            transform(
              sequence(lit(1), size(ws) - 1),
              i => concat_ws(" ", element_at(ws, i), element_at(ws, i + 1))))
            .otherwise(array())).as("bigram"))
      .groupBy(col("bigram"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("bigram"))
      .limit(k)
  }

  /** Corpus bigram language-model scoring: the model is the corpus's own
    * bigram conditional frequencies P(w2|w1) = n(w1 w2)/n(w1 ·); each doc is
    * scored by its mean bigram probability — the in-domain fluency signal a
    * training pipeline uses to rank candidate documents. The model tables
    * are broadcast (at 100 TB: pruned to top-M bigrams first); the exact
    * decimal sum keeps the mean order-independent.
    */
  def lmScore(docs: DataFrame): DataFrame = {
    val ws = col("ws")
    val bg = graft.Tables.widen(docs)
      .select(col("doc_id"), tokens(col("text")).as("ws"))
      .select(
        col("doc_id"),
        explode(
          when(size(ws) >= 2,
            transform(
              sequence(lit(1), size(ws) - 1),
              i => struct(
                element_at(ws, i).as("w1"),
                element_at(ws, i + 1).as("w2"))))
            .otherwise(array())).as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
    // Only the MODEL is materialized (distinct-bigram-bounded — it gets
    // broadcast below, so it must be small); the corpus-scale bigram stream
    // is recomputed per pass (a row-local tokenize+explode over the scan)
    // rather than cached. n(w1 ·) falls out of the model itself, so the
    // corpus is read exactly twice: once to build the model, once to score.
    val model = graft.Tables.materializeSmall(
      bg.groupBy("w1", "w2").agg(count(lit(1)).as("n12")))
    val starts = model.groupBy("w1").agg(sum(col("n12")).as("n1"))
    bg
      .join(broadcast(model), Seq("w1", "w2"))
      .join(broadcast(starts), Seq("w1"))
      .withColumn("p", col("n12").cast("double") / col("n1").cast("double"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_bigrams"),
        (sum(col("p").cast("decimal(18,12)")).cast("double") / count(lit(1)))
          .as("avg_p"))
  }

  /** Per-source vocabulary statistics: doc/token/char totals and corpus-level
    * distinct-word counts — the corpus profile a training-data pipeline
    * reports per provenance bucket. Distinct words per source = explode +
    * two-level aggregation (partial-agg friendly, no collect).
    */
  def vocabStats(docs: DataFrame): DataFrame = {
    val ws = tokens(col("text"))
    val perDoc = docs.select(
      col("source"),
      size(ws).cast("long").as("n_words"),
      char_length(col("text")).cast("long").as("n_chars"))
    val totals = perDoc
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_words")).as("n_tokens"),
        sum(col("n_chars")).as("n_chars_total"))
    val vocab = docs
      .select(col("source"), explode(array_distinct(ws)).as("wd"))
      .groupBy(col("source"))
      .agg(count_distinct(col("wd")).as("n_vocab"))
    totals
      .join(vocab, "source")
      .withColumn(
        "type_token_ratio",
        col("n_vocab").cast("double") / nullif(col("n_tokens"), lit(0L)).cast("double"))
      .orderBy(col("source"))
  }

  /** Quality-classifier calibration — the PR curve of the cheap heuristic
    * score ([[qualityScore]] `quality`) against the Gopher-rules gate
    * ([[gopherRules]] `keep`) as gold: for each threshold τ in {0, 1/steps,
    * …, 1}, the confusion counts and precision/recall of "keep iff
    * quality ≥ τ". This is the threshold-sweep every production quality
    * gate runs before it prunes a corpus — pick τ from the curve, not by
    * feel. Two row-local corpus projections joined on the doc key, then a
    * (steps+1)-way literal explode into a map-side-combinable grouped
    * count — the shuffle carries (τ, partial counts), never documents.
    * Exact-integer counts and engine-identical doubles (both scores are
    * already oracle-mirrored bit-exactly) make the whole curve
    * hash-checkable.
    */
  def qualityPrCurve(docs: DataFrame, steps: Int = 20): DataFrame = {
    val taus = (0 to steps).map(i => i.toDouble / steps)
    val joined = qualityScore(docs).select(col("doc_id"), col("quality"))
      .join(gopherRules(docs).select(col("doc_id"), col("keep")), "doc_id")
    joined
      .select(col("quality"), col("keep"), explode(typedLit(taus)).as("tau"))
      .groupBy(col("tau"))
      .agg(
        sum(when(col("quality") >= col("tau") && col("keep") === 1L, 1L).otherwise(0L)).as("tp"),
        sum(when(col("quality") >= col("tau") && col("keep") === 0L, 1L).otherwise(0L)).as("fp"),
        sum(when(col("quality") < col("tau") && col("keep") === 1L, 1L).otherwise(0L)).as("fn"),
        sum(when(col("quality") < col("tau") && col("keep") === 0L, 1L).otherwise(0L)).as("tn"))
      // "prec"/"rec", not "precision"/"recall": PRECISION is a type keyword
      // in the oracle dialect
      .withColumn("prec",
        col("tp").cast("double") / nullif((col("tp") + col("fp")).cast("double"), lit(0.0)))
      .withColumn("rec",
        col("tp").cast("double") / nullif((col("tp") + col("fn")).cast("double"), lit(0.0)))
      .orderBy(col("tau"))
  }

  /** Per-source quality funnel over the [[gopherRules]] signals: how many
    * documents each rule rejects, per corpus source — the curation report
    * that tells you WHICH source is dying on WHICH rule before you spend a
    * full pipeline run on it. One scan, one tiny shuffle (grouping
    * cardinality = number of sources; partial aggregation collapses it
    * map-side, so the exchange carries a handful of rows per partition no
    * matter the corpus size). Null signals (e.g. mean_word_len of an empty
    * doc) count as failures via the coalesce(…, false) discipline, matching
    * the keep flag's conjunction exactly — spec'd so n_pass plus the
    * per-rule failure columns reconcile.
    */
  def qualityFunnel(docs: DataFrame): DataFrame = {
    def fails(ok: Column) = sum(when(!coalesce(ok, lit(false)), 1L).otherwise(0L))
    gopherRules(docs, keep = Seq("source"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("keep")).as("n_pass"),
        fails(col("n_words").between(50L, 100000L)).as("n_fail_words"),
        fails(col("mean_word_len").between(3.0, 10.0)).as("n_fail_wordlen"),
        fails(col("symbol_ratio") < 0.1).as("n_fail_symbol"),
        fails(col("alpha_ratio") > 0.8).as("n_fail_alpha"),
        fails(col("n_stop_distinct") >= 2L).as("n_fail_stop"))
      .withColumn("pass_rate", col("n_pass").cast("double") / col("n_docs").cast("double"))
  }

  /** Gopher-style quality-rule flags (the word-level subset of the Gopher
    * paper's repetition/format filters — this corpus is single-line, so the
    * per-line rules degenerate): word-count bounds, mean-word-length
    * bounds, symbol-word ratio ('#' or '...'), alpha-word ratio, and a
    * distinct-stopword floor, folded into one keep flag. Pure row-local
    * array expressions; all ratios are exact-integer divisions evaluated
    * in IEEE doubles so the oracle matches bit-for-bit.
    */
  def gopherRules(docs: DataFrame, keep: Seq[String] = Nil): DataFrame = {
    val ws = tokens(col("text"))
    val stopArr = array(Stopwords.map(lit): _*)
    val metrics = Seq(
      size(ws).cast("long").as("n_words"),
      aggregate(
        transform(ws, w => char_length(w).cast("long")), lit(0L), (a, b) => a + b)
        .as("sum_word_len"),
      size(filter(ws, w => w.rlike("[A-Za-z]"))).cast("long").as("n_alpha_words"),
      size(filter(ws, w => w.contains("#") || w.contains("...")))
        .cast("long").as("n_symbol_words"),
      size(array_distinct(filter(ws, w => array_contains(stopArr, w))))
        .cast("long").as("n_stop_distinct"))
    docs
      .select((col("doc_id") +: keep.map(col)) ++ metrics: _*)
      .withColumn("mean_word_len",
        col("sum_word_len").cast("double") / nullif(col("n_words"), lit(0L)))
      .withColumn("alpha_ratio",
        col("n_alpha_words").cast("double") / nullif(col("n_words"), lit(0L)))
      .withColumn("symbol_ratio",
        col("n_symbol_words").cast("double") / nullif(col("n_words"), lit(0L)))
      .withColumn(
        "keep",
        (col("n_words").between(50L, 100000L) &&
          col("mean_word_len").between(3.0, 10.0) &&
          col("symbol_ratio") < 0.1 &&
          col("alpha_ratio") > 0.8 &&
          col("n_stop_distinct") >= 2).cast("long"))
  }

  /** Per-source token-distribution DRIFT against the pooled corpus —
    * `KL(P_source ‖ Q_corpus)` over hashed token buckets with add-one
    * smoothing: the mixture monitor that says WHICH source's language
    * shifted before a budget recomputation ships it (the report sibling
    * of d22's importance weights — same bucket model, aggregated to one
    * number per source instead of one weight per document). A source
    * distributed exactly like the corpus scores 0 (per-bucket ratio is
    * exactly 1, and ln 1 = 0 quantizes to an exact 0).
    *
    * Scale shape: ONE corpus token scan into (source, bucket) counts —
    * map-side combinable, the shuffled relation is (sources × buckets)-
    * bounded; the global bucket model and totals derive from that
    * relation (no second scan); the KL sum runs on the tiny dense
    * (source × bucket) grid (every bucket contributes — smoothing makes
    * absent buckets carry probability too), built by a bounded sequence
    * explode, never a driver loop.
    *
    * Portability (the d22 quantized-ln discipline): each ln input is a
    * ratio of exact integer products (exact doubles while counts×counts
    * stay under 2⁵³ — at larger scale, pre-divide per factor), the
    * per-bucket log quantizes to the 1e-6 grid, each P·ln term quantizes
    * to an exact LONG on the 1e-9 grid (P is bucket-probability-sized, so
    * the finer grid keeps three significant digits at B = 4096), and the
    * per-source KL is the exact long sum — order-independent, oracle-
    * checkable bit-for-bit.
    */
  def distributionDrift(docs: DataFrame, buckets: Int = 4096): DataFrame = {
    val b = graft.Tables.widen(docs)
      .select(col("source"), explode(tokens(col("text"))).as("w"))
      .select(col("source"),
        pmod(GraftFunctions.md5_prefix60(col("w")), lit(buckets.toLong)).as("bkt"))
    val perSrc = graft.Tables.materializeSmall(
      b.groupBy(col("source"), col("bkt")).agg(count(lit(1)).as("c_sb")))
    val global = perSrc.groupBy(col("bkt")).agg(sum(col("c_sb")).as("c_b"))
    val srcTot = perSrc.groupBy(col("source")).agg(sum(col("c_sb")).as("n_s"))
    val tot = global.agg(sum(col("c_b")).as("n"))
    val grid = srcTot.select(
      col("source"), col("n_s"),
      explode(sequence(lit(0L), lit(buckets - 1L))).as("bkt"))
    val bd = lit(buckets.toDouble)
    val p = (col("c_sb") + 1).cast("double") / (col("n_s").cast("double") + bd)
    val ratio =
      ((col("c_sb") + 1).cast("double") * (col("n").cast("double") + bd)) /
        ((col("n_s").cast("double") + bd) * (col("c_b") + 1).cast("double"))
    val lnq = floor(log(ratio) * lit(1e6) + lit(0.5)) / lit(1e6)
    grid
      .join(perSrc, Seq("source", "bkt"), "left")
      .join(broadcast(global), Seq("bkt"), "left")
      .na.fill(0L, Seq("c_sb", "c_b"))
      .crossJoin(broadcast(tot))
      .withColumn("_tq", floor(p * lnq * lit(1e9) + lit(0.5)).cast("long"))
      .groupBy(col("source"))
      .agg(
        any_value(col("n_s")).as("n_tokens"),
        (sum(col("_tq")).cast("double") / lit(1e9)).as("kl_vs_corpus"))
      .orderBy(col("source"))
  }
}
