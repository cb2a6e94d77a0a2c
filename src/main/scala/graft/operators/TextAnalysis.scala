package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for a large-scale training-data pipeline,
  * over the `documents` table (doc_id, text, lang, source, n_chars).
  *
  * All operators are single-pass narrow transforms (no shuffle except
  * the final presentation sort) built from codegen'd Catalyst
  * expressions — at 100 TB each is a map over the scan with columns
  * pruned to (doc_id, text[, lang, n_chars]).
  */
object TextAnalysis {

  private def toks: Column = split(col("text"), " ")

  /** Token counting: whitespace tokens, distinct tokens, mean token
    * length derived exactly from integer counts (n_chars minus the
    * n_tokens-1 separators, over n_tokens).
    *
    * Determinism note (applies to every double in this file): values
    * are emitted UNrounded. Both engines evaluate the identical
    * left-associative IEEE-754 expression over the same integers, so
    * the doubles are bit-identical; `round()` would *add* cross-engine
    * risk (each engine rounds doubles differently near ties). */
  def tokenStats(docs: DataFrame): DataFrame =
    graft.operators.Dedup.orderedSpread(docs, "doc_id").select(
      col("doc_id"),
      size(toks).cast("long").as("n_tokens"),
      size(array_distinct(toks)).cast("long").as("n_distinct_tokens"),
      ((col("n_chars") - size(toks) + lit(1)).cast("double") / size(toks))
        .as("avg_token_len"))

  /** Quality scoring: length score (saturating at 400 chars),
    * stopword ratio, vocabulary-diversity ratio, and a weighted
    * composite — the usual cheap pre-filter signals used before
    * admitting a document to a training corpus. */
  def qualityScore(docs: DataFrame): DataFrame = {
    val n    = size(toks)
    val stop = size(filter(toks, t => t.isin("the", "a")))
    val dist = size(array_distinct(toks))
    val lenScore      = least(col("n_chars").cast("double") / 400.0, lit(1.0).cast("double"))
    val stopRatio     = stop.cast("double") / n
    val distinctRatio = dist.cast("double") / n
    graft.operators.Dedup.orderedSpread(docs, "doc_id").select(
      col("doc_id"),
      lenScore.as("len_score"),
      stopRatio.as("stopword_ratio"),
      distinctRatio.as("distinct_ratio"),
      qualityCol.as("quality")) // identical expression tree as the raw Column form
  }

  /** Occurrences of a character bigram, via length delta after
    * removing it (non-overlapping, left-to-right — same semantics in
    * every engine). Exact integer-derived double. */
  private def bigramCount(bg: String): Column =
    (length(col("text")) - length(expr(s"replace(text, '$bg', '')"))) / 2

  private def scoreEn: Column = bigramCount("th") + bigramCount("he")
  private def scoreDe: Column = bigramCount("er") + bigramCount("in")
  private def scoreFr: Column = bigramCount("le") + bigramCount("ta")
  private def predictedLangCol: Column =
    when(scoreEn >= scoreDe && scoreEn >= scoreFr, "en")
      .when(scoreDe >= scoreFr, "de")
      .otherwise("fr")

  /** "Predicted language is English" as a raw predicate Column (the
    * [[langId]] argmax with en winning ties) — reusable inside
    * single-pass flag aggregations like the corpus funnel. */
  def isEnglishCol: Column = scoreEn >= scoreDe && scoreEn >= scoreFr

  /** The [[qualityScore]] composite as a raw Column. */
  def qualityCol: Column = {
    val n    = size(toks)
    val stop = size(filter(toks, t => t.isin("the", "a")))
    val dist = size(array_distinct(toks))
    val lenScore = least(col("n_chars").cast("double") / 400.0, lit(1.0).cast("double"))
    lenScore * 0.4 + (lit(1.0).cast("double") - stop.cast("double") / n) * 0.3 +
      dist.cast("double") / n * 0.3
  }

  /** Language-ID n-gram heuristic: score three character-bigram
    * profiles and take the argmax (fixed tie-break order en > de >
    * fr). A real pipeline would use a trained model; the *shape* —
    * one narrow projection per doc, no shuffle — is the point. */
  def langId(docs: DataFrame): DataFrame =
    graft.operators.Dedup.orderedSpread(docs, "doc_id").select(
      col("doc_id"), col("lang"),
      scoreEn.as("score_en"), scoreDe.as("score_de"), scoreFr.as("score_fr"),
      predictedLangCol.as("predicted_lang"))

  /** Classifier EVALUATION for [[langId]]: the labeled-vs-predicted
    * confusion matrix with per-true-language recall shares — the table
    * that says where the heuristic fails (which languages bleed into
    * which), the check run before trusting any language gate at
    * corpus scale. One hash aggregate over the scoring projection; the
    * share window runs over the |langs|² aggregated matrix. */
  def langIdConfusion(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // scores projected directly (NOT via langId, whose orderedSpread
    // range-shuffle + sort would be discarded by the aggregate anyway)
    docs.select(col("lang"), predictedLangCol.as("predicted_lang"))
      .groupBy("lang", "predicted_lang")
      .agg(count(lit(1)).as("n"))
      .withColumn("recall_share", col("n").cast("double") /
        sum(col("n")).over(Window.partitionBy("lang")).cast("double"))
      .orderBy("lang", "predicted_lang")
  }

  /** Gopher-style repetition signals: the most frequent token's share
    * of all tokens, the fraction of tokens that repeat an earlier one,
    * and the most frequent word-bigram's share — the standard cheap
    * boilerplate/spam filters applied before admitting a document to a
    * training corpus (cf. Rae et al. 2021 §A1.1's repetition cuts).
    *
    * Shape: one narrow projection per document — no shuffle, columns
    * pruned to (doc_id, text). The per-doc mode is computed by sorting
    * the token array and folding ONE `aggregate` pass that tracks the
    * longest run of equal adjacent elements — O(n log n) per doc (the
    * naive max-over-distinct-of-filter-counts form is O(u·n) and
    * measured 50× slower on realistic documents). Pure per-row CPU with
    * zero exchange: at 100 TB the alternative (explode + two-level
    * aggregate) shuffles every token; this shuffles nothing.
    *
    * Word bigrams come from aligned `slice`s zipped together — NOT
    * `sequence(1, n-1)`, which DESCENDS for n = 1 in Spark instead of
    * yielding the empty range. */
  def repetitionStats(docs: DataFrame): DataFrame = {
    // longest run of equal adjacent elements in a sorted array = count
    // of the most frequent element; empty array folds to 0
    def maxRun(sorted: Column): Column = aggregate(
      sorted,
      struct(lit(0).as("best"), lit(0).as("run"), lit(null).cast("bigint").as("prev")),
      (acc, x) => {
        val run = when(acc("prev") <=> x, acc("run") + 1).otherwise(lit(1))
        struct(greatest(acc("best"), run).as("best"), run.as("run"), x.as("prev"))
      },
      acc => acc("best"))
    // mode-share only needs element IDENTITY, not the strings — work
    // in xxhash64 space so the O(n log n) sort and the adjacent-run
    // fold compare 8-byte longs instead of variable-length UTF8
    // (measured ~2.5× on this operator; same counts modulo 64-bit
    // collisions within one document, ~n²/2⁶⁵)
    val toksH = transform(toks, t => xxhash64(t))
    val n = size(toks)
    val topTok = maxRun(array_sort(toksH))
    val bigrams = zip_with(
      slice(toksH, lit(1), n - 1),
      slice(toksH, lit(2), n - 1),
      (a, b) => xxhash64(a, b))
    val topBg = maxRun(array_sort(bigrams))
    val topTokFrac = topTok.cast("double") / n
    val topBgFrac  = topBg.cast("double") / greatest(n - 1, lit(1))
    // SORT-FIRST (Dedup.orderedSpread): the O(n log n)-per-doc array
    // work runs once, in parallel, after the explicit range exchange
    graft.operators.Dedup.orderedSpread(docs, "doc_id").select(
      col("doc_id"),
      topTokFrac.as("top_token_frac"),
      ((n - size(array_distinct(toksH))).cast("double") / n).as("dup_token_frac"),
      topBgFrac.as("top_bigram_frac"),
      (topTokFrac >= 0.125 || topBgFrac >= 0.05).as("repetitive"))
  }

  /** BM25 full-text retrieval over the corpus for a fixed bag of
    * query terms: per-document score = Σ_t idf(t) · tf·(k1+1) /
    * (tf + k1·(1 − b + b·dl/avgdl)), top-k by score.
    *
    * Two deliberate determinism choices (this is an ORACLE-paired
    * ranking, not just a demo):
    *  - idf is the RATIONAL Robertson form (N − df + 0.5)/(df + 0.5)
    *    with no logarithm — `ln` is libm-implementation-defined in its
    *    last bits and would hash-differ across engines; the rational
    *    form is a monotone idf surrogate built from IEEE-exact ops.
    *  - the per-term partial scores are summed in FIXED left-to-right
    *    query-term order via one conditional aggregate per term (not
    *    a float `sum()` whose addition order follows partitioning).
    *
    * Scale shape: one explode filtered TO THE QUERY TERMS at the map
    * side (the shuffle carries only matching (doc, term) rows — for
    * selective queries that is a sliver of the corpus), a broadcast
    * 1-row stats frame for N/avgdl, and a per-term df aggregate of
    * |terms| rows. Nothing corpus-sized is ever joined or windowed. */
  def bm25TopK(docs: DataFrame, queryTerms: Seq[String], k: Int = 20,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    // dedupe (a repeated query term must not double-count) and refer
    // to terms by POSITION in derived column names — raw user strings
    // as column names break analysis on dots/backticks/duplicates
    val terms = queryTerms.distinct
    require(terms.nonEmpty, "need at least one query term")
    val lens = docs.select(col("doc_id"), size(toks).cast("long").as("dl"))
    // corpus stats: one tiny aggregate, broadcast into the projection
    val stats = lens.agg(count(lit(1)).as("n_docs"),
      (sum(col("dl")).cast("double") / count(lit(1)).cast("double")).as("avgdl"))
    // matching postings only: filter BEFORE the shuffle
    val postings = docs
      .select(col("doc_id"), size(toks).cast("long").as("dl"),
        explode(toks).as("term"))
      .filter(col("term").isin(terms: _*))
      .groupBy(col("doc_id"), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfs = postings.groupBy("term")
      .agg(count(lit(1)).as("df")) // postings are one row per (doc, term)
    val scored = postings
      .join(broadcast(dfs), Seq("term"))
      .crossJoin(broadcast(stats))
      .withColumn("idf",
        (col("n_docs").cast("double") - col("df").cast("double") + lit(0.5)) /
          (col("df").cast("double") + lit(0.5)))
      .withColumn("part",
        col("idf") * (col("tf").cast("double") * lit(k1 + 1.0)) /
          (col("tf").cast("double") +
            lit(k1) * (lit(1.0 - b) + lit(b) * col("dl").cast("double") / col("avgdl"))))
    // fixed-order summation: one conditional max per query term, then
    // a left-associative chain in the terms' given order
    def partOf(t: String, i: Int): Column =
      coalesce(max(when(col("term") === t, col("part"))), lit(0.0)).as(s"part_$i")
    val perTerm = scored.groupBy("doc_id")
      .agg(partOf(terms.head, 0),
        terms.tail.zipWithIndex.map { case (t, i) => partOf(t, i + 1) }: _*)
    val score = terms.indices.map(i => col(s"part_$i")).reduceLeft(_ + _)
    perTerm
      .withColumn("score", score)
      .filter(col("score") > 0.0)
      .select(col("doc_id"), col("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  /** Count-min-sketch heavy hitters, CONTRACT-checked: the exact
    * top-k tokens (the ground truth a sketch-only pipeline can't see)
    * annotated with a boolean asserting the CMS estimate respected its
    * ε-guarantee (`exact ≤ estimate ≤ exact + ε·total`, held w.p.
    * ≥ confidence). The oracle emits the exact counts + literal TRUE,
    * so the row hash-matches iff the sketch bound held — the same
    * pattern as the HLL and approx-percentile contracts.
    *
    * Scale shape: the sketch is the point — a fixed ε×δ-sized
    * mergeable state aggregated in one pass with no per-token shuffle;
    * at 100 TB the exact aggregate disappears and the sketch alone
    * answers "is this token hot" in O(1) per probe. The k probed
    * tokens are looked up driver-side (k rows, same budget class as
    * IVF's k centroids). Fixed seed keeps the estimate deterministic;
    * CMS merges are exact sums, so the estimate is also independent
    * of partitioning. */
  def cmsHeavyHitters(docs: DataFrame, k: Int = 10, eps: Double = 0.001,
      confidence: Double = 0.99, seed: Int = 42): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val tokens = docs.select(explode(toks).as("token"))
    val exact = tokens.groupBy("token").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token")).limit(k).collect()
    val cms = tokens.stat.countMinSketch(col("token"), eps, confidence, seed)
    val slack = math.ceil(eps * cms.totalCount()).toLong
    val rows = exact.toSeq.map { r =>
      val t = r.getString(0); val n = r.getLong(1)
      val est = cms.estimateCount(t)
      (t, n, est >= n && est <= n + slack)
    }
    spark.createDataset(rows).toDF("token", "n", "within_bound")
      .orderBy(col("n").desc, col("token"))
  }

  /** Corpus vocabulary statistics: top-k tokens by total frequency
    * with document frequency (the IDF building block). One explode →
    * one hash aggregate with map-side combine; at 100 TB the shuffle
    * carries (token, partial counts), never documents. */
  def vocabTop(docs: DataFrame, k: Int = 20): DataFrame =
    docs.select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .groupBy("token")
      .agg(count(lit(1)).as("n"), countDistinct(col("doc_id")).as("n_docs"))
      .orderBy(col("n").desc, col("token"))
      .limit(k)

  /** BPE-style pre-tokenization counts: alpha runs, digit runs, and
    * other non-space symbols — the regex pre-split every BPE/GPT-ish
    * tokenizer applies before merges, so these counts are the cheap
    * upper bound on subword token counts used for corpus budgeting.
    *
    * Native path: one byte pass per document
    * ([[graft.functions.TokenRunStatsExpr]]) instead of three regex
    * engines materializing every match just to count them — the counts
    * are the whole contract, so the match arrays the regex form
    * allocates are pure overhead (sf1: 2.5 s → see SCALE_r08).
    * [[regexTokenStatsRegex]] keeps the regex formulation as the
    * value-identity witness (spec-enforced) and the naive floor. */
  def regexTokenStats(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.GraftSqlBridge
    val st = GraftSqlBridge.column(
      graft.functions.TokenRunStatsExpr(GraftSqlBridge.expression(col("text")))).as("_rs")
    docs.select(col("doc_id"), st)
      .select(col("doc_id"), col("_rs.n_alpha_runs"), col("_rs.n_digit_runs"),
        col("_rs.n_pieces"))
      .orderBy("doc_id")
  }

  /** The regex formulation of [[regexTokenStats]] — three
    * `regexp_extract_all` passes, kept as the independent
    * value-identity twin (mirrors the DuckDB oracle SQL verbatim) and
    * the measured naive floor for the native expression. */
  def regexTokenStatsRegex(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      size(expr("regexp_extract_all(text, '[a-z]+', 0)")).cast("long").as("n_alpha_runs"),
      size(expr("regexp_extract_all(text, '[0-9]+', 0)")).cast("long").as("n_digit_runs"),
      size(expr("regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)")).cast("long")
        .as("n_pieces"))
      .orderBy("doc_id")

  /** Sliding-window chunking: each document becomes overlapping
    * `chunkSize`-token chunks starting every `stride` tokens — the
    * standard context-window packing step between a raw corpus and a
    * tokenized training set (stride < chunkSize gives the overlap that
    * preserves cross-boundary context). A document shorter than one
    * window yields exactly one (possibly short) chunk; the final chunk
    * may be short rather than re-reading earlier tokens (no right-
    * alignment), so every token appears in ceil(chunkSize/stride)
    * chunks at most and chunk provenance is a pure function of
    * (doc_id, chunk_id).
    *
    * Scale shape: per-row array ops only (split → sequence →
    * posexplode → slice) — embarrassingly parallel, no shuffle except
    * the output ordering; output size is bounded at
    * ~(chunkSize/stride)× the corpus, set by the caller. */
  def chunk(docs: DataFrame, chunkSize: Int = 64, stride: Int = 48): DataFrame = {
    require(stride > 0 && chunkSize >= stride,
      s"need 0 < stride <= chunkSize, got stride=$stride chunkSize=$chunkSize")
    val n = size(col("toks")).cast("long")
    // starts: 0, stride, ... — one chunk for short docs, else enough
    // that the last window reaches the end: ceil((n-size)/stride)+1
    val nChunks = when(n <= chunkSize, lit(1L))
      .otherwise(ceil((n - chunkSize).cast("double") / stride).cast("long") + 1L)
    // SORT-FIRST (Dedup.orderedSpread): explode emits chunk_id
    // ascending per doc, so the (doc_id, chunk_id) ordering holds
    // globally without a post-explosion sort of the chunk TEXT
    graft.operators.Dedup.orderedSpread(
        docs.select(col("doc_id"), toks.as("toks")), "doc_id")
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(0L), nChunks - 1L)).as("chunk_id"))
      .select(col("doc_id"), col("chunk_id"),
        slice(col("toks"), (col("chunk_id") * stride + 1).cast("int"), lit(chunkSize))
          .as("chunk_toks"))
      .select(col("doc_id"), col("chunk_id"),
        size(col("chunk_toks")).cast("long").as("n_chunk_tokens"),
        array_join(col("chunk_toks"), " ").as("chunk_text"))
  }

  /** Document fingerprinting: full-text hash, prefix hash (first 8
    * tokens), and a winnowing-style rolling fingerprint = the
    * lexicographic minimum of the hashes of all character 5-grams.
    * The min-of-hashes form needs no numeric hash — portable and
    * deterministic everywhere. */
  def fingerprints(docs: DataFrame): DataFrame = {
    // native rolling-min fingerprint (graft.functions.WinnowMinExpr):
    // same value as array_min(transform(sequence(...), i ->
    // md5(substr(text, i, 5)))) without materializing the gram array
    val winnow = {
      import org.apache.spark.sql.GraftSqlBridge
      GraftSqlBridge.column(graft.functions.WinnowMinExpr(
        GraftSqlBridge.expression(col("text")), 5))
    }
    // SORT-FIRST (Dedup.orderedSpread): the rolling-hash stage runs
    // once, in parallel, after an explicit range exchange — projecting
    // before a sort would evaluate it twice (sampling pass + real
    // pass) and shuffle the fingerprint columns, while a plain
    // orderBy-first would let AQE coalesce the CPU-heavy stage to one
    // task
    graft.operators.Dedup.orderedSpread(docs, "doc_id").select(
      col("doc_id"),
      md5(col("text")).as("fp_full"),
      md5(array_join(slice(toks, 1, 8), " ")).as("fp_prefix"),
      winnow.as("fp_winnow"))
  }

  /** The [[gopherRules]] conjunction as a raw Column over `text` —
    * for single-scan composites ([[graft.queries]]' corpus-health
    * dashboard) that need the flag without the full rule table. */
  def gopherPassCol: Column = {
    val (n, meanLen, nStop, fracAlpha) = gopherParts
    (n >= 50L && n <= 100000L) && (meanLen >= 3.0 && meanLen <= 10.0) &&
      (nStop >= 2L) && (fracAlpha >= 0.8)
  }

  private def gopherParts: (Column, Column, Column, Column) = {
    val n       = size(toks).cast("long")
    val meanLen = (length(col("text")).cast("double") - (n - lit(1L)).cast("double")) /
      n.cast("double")
    val nStop   = size(filter(toks, t => t.isin("the", "a"))).cast("long")
    val nAlpha  = size(filter(toks, t => t.rlike("^[a-z]+$"))).cast("long")
    (n, meanLen, nStop, nAlpha.cast("double") / n.cast("double"))
  }

  /** Gopher-style rule battery (Rae et al. 2021, §A1.1 — the public
    * heuristics later adopted by Dolma/RefinedWeb): per document, the
    * lexical statistics and the pass/fail flag of each published rule
    * that is computable from plain text — word count in [50, 100000],
    * mean word length in [3, 10], ≥ 2 stop words, ≥ 80% alphabetic
    * words — plus the conjunction a curation pipeline actually
    * filters on ([[gopherPassCol]]). Flags are emitted (not filtered)
    * so the pass RATE is inspectable per source/language before
    * committing to a cut.
    *
    * Scale shape: one narrow codegen'd projection, columns pruned to
    * (doc_id, text), evaluated once after the ordered-spread exchange.
    * mean_word_len derives exactly from integer counts (chars minus
    * the n−1 single-space separators, over n); doubles are
    * division-only → bit-identical cross-engine. */
  def gopherRules(docs: DataFrame): DataFrame = {
    val (n, meanLen, nStop, fracAlpha) = gopherParts
    val passWords = n >= 50L && n <= 100000L
    val passLen   = meanLen >= 3.0 && meanLen <= 10.0
    val passStop  = nStop >= 2L
    val passAlpha = fracAlpha >= 0.8
    // SORT-FIRST (Dedup.orderedSpread): the per-token regex filter
    // runs once, in parallel, after the explicit range exchange
    graft.operators.Dedup.orderedSpread(docs, "doc_id").select(
      col("doc_id"),
      n.as("n_words"),
      meanLen.as("mean_word_len"),
      nStop.as("n_stop"),
      fracAlpha.as("frac_alpha"),
      passWords.as("pass_words"),
      passLen.as("pass_mean_len"),
      passStop.as("pass_stop"),
      passAlpha.as("pass_alpha"),
      (passWords && passLen && passStop && passAlpha).as("pass_all"))
  }

  /** Per-document token-RARITY statistics against the corpus's own
    * document frequencies — the log-free self-perplexity surrogate: a
    * document whose tokens are mostly corpus-rare is gibberish or
    * highly specialized; one whose tokens are all ubiquitous is
    * boilerplate. Per doc: number of token occurrences, the SUM of
    * each occurrence's document frequency (exact integer — so
    * mean_df = sum_df / n is one division, no float accumulation),
    * and the rarest token's df.
    *
    * Scale shape: same postings/df skeleton as [[tfidfTopK]] — one
    * explode + (doc, term) aggregate, a skew-safe df aggregate of the
    * postings, an AQE-decided join back on term, and a final per-doc
    * aggregate. Nothing is windowed over raw input. */
  def rarityStats(docs: DataFrame): DataFrame =
    rarityPostings(docs, n = 1)
      .groupBy("doc_id").agg(
        sum(col("tf")).as("n_tokens"),
        sum(col("tf") * col("df")).as("sum_df"),
        min(col("df")).as("min_df"))
      .select(col("doc_id"), col("n_tokens"), col("sum_df"), col("min_df"),
        (col("sum_df").cast("double") / col("n_tokens").cast("double"))
          .as("mean_df"))
      .orderBy("doc_id")

  /** The shared rarity skeleton: per-document gram-hash frequencies
    * computed IN-ROW by the native
    * [[graft.functions.HashedNgramFreqsExpr]] (term frequency is a
    * per-document property — the explode + (doc, term) aggregate this
    * replaces paid a full shuffle of every posting for it), df as one
    * aggregate over the exploded hashes alone, AQE-decided join back
    * on the 8-byte hash. Neither rarity operator ever EMITS a term —
    * only per-doc integer stats — so longs replace strings in every
    * exchange; counting is by hash exactly like the groupBy-on-hash
    * form it replaces (same collision caveat as
    * [[graft.operators.Dedup.withHashedShingles]]). */
  private def rarityPostings(docs: DataFrame, n: Int): DataFrame = {
    import org.apache.spark.sql.GraftSqlBridge
    val perDoc = graft.operators.OpCaches.shared("ta.ngramFreqs")(
      graft.operators.Dedup.spread(docs)
        .select(col("doc_id"), GraftSqlBridge.column(
          graft.functions.HashedNgramFreqsExpr(
            GraftSqlBridge.expression(col("text")), n)).as("tfs")))
    val postings = perDoc.select(col("doc_id"), explode(col("tfs")).as("p"))
      .select(col("doc_id"), col("p.gram_h").as("term"), col("p.tf").as("tf"))
    val dfs = perDoc.select(explode(col("tfs.gram_h")).as("term"))
      .groupBy("term").agg(count(lit(1)).as("df"))
    postings.join(dfs, Seq("term"))
  }

  /** [[rarityPostings]]' posting stream WITHOUT the per-doc frequency
    * cache or the df join — the raw (doc_id, term, tf) rows the
    * scratch-grouped [[bigramRarity]] path filters by term domain
    * (the cache is posting-scale, which is exactly what that path
    * exists to avoid materializing). */
  private def rarityPostingsStream(docs: DataFrame, n: Int): DataFrame = {
    import org.apache.spark.sql.GraftSqlBridge
    graft.operators.Dedup.spread(docs)
      .select(col("doc_id"), GraftSqlBridge.column(
        graft.functions.HashedNgramFreqsExpr(
          GraftSqlBridge.expression(col("text")), n)).as("tfs"))
      .select(col("doc_id"), explode(col("tfs")).as("p"))
      .select(col("doc_id"), col("p.gram_h").as("term"), col("p.tf").as("tf"))
  }

  /** Bigram-level corpus rarity per document — the sibling of
    * [[rarityStats]] one n-gram order up. Unigram df saturates fast
    * (every doc shares "the"); bigram df separates formulaic
    * boilerplate (high mean_df) from genuinely novel phrasing
    * (high uniq_frac = share of bigram OCCURRENCES whose bigram
    * appears in no other doc's postings) — the standard cheap
    * surrogate for "is this document contributing new text to the
    * corpus". All stats are exact integers plus one final division
    * (log-free, like every rarity/idf surrogate in this file, so the
    * cross-engine hash can't drift on libm).
    *
    * Scale shape: identical skeleton to [[rarityStats]] — explode →
    * (doc, bigram) hash aggregate (map-side combine absorbs repeated
    * bigrams before the shuffle), df = second aggregate of the
    * postings (skew-safe for viral bigrams), AQE-decided join back on
    * the bigram key, final per-doc aggregate. The bigram vocabulary is
    * larger than the unigram one, which RAISES the value of partial
    * aggregation and changes nothing structurally. Bigram hashing AND
    * per-doc counting happen in-row
    * ([[graft.functions.HashedNgramFreqsExpr]] via [[rarityPostings]])
    * — no term ever leaves the operator, and the (doc, bigram)
    * aggregate's shuffle of every occurrence is gone. */
  def bigramRarity(docs: DataFrame): DataFrame = {
    // Scratch dispatch (r10 sf1000 hazard class): unlike the unigram
    // sibling — whose df table is vocabulary-bounded, broadcasts, and
    // never shuffles the postings — the BIGRAM vocabulary grows with
    // the corpus, so the df join back shuffles full posting volume and
    // the packed per-doc frequency cache is itself posting-scale. Past
    // the budget, process the bigram domain in sequential pmod groups
    // (df exact within a group — a bigram's postings never cross
    // groups), fold each group to per-doc integer partials, and merge:
    // sums ADD across groups, min_df is a min of group minima. Gate
    // SFs keep the untouched cached single pass.
    val groups = graft.operators.Dedup.vocabGroupCount(docs, n = 2, stageFactor = 2.5)
    val perDoc =
      if (groups == 1)
        rarityPostings(docs, n = 2)
          .groupBy("doc_id").agg(
            sum(col("tf")).as("n_bigrams"),
            sum(col("tf") * col("df")).as("sum_df"),
            min(col("df")).as("min_df"),
            sum(when(col("df") === 1L, col("tf")).otherwise(0L)).as("n_uniq"))
      else graft.operators.ScratchGuard.union(docs.sparkSession, groups) { grp =>
        val p = grp.pinned(grp.slice(rarityPostingsStream(docs, n = 2), "term"))
        val dfsG = p.groupBy("term").agg(count(lit(1)).as("df"))
        // this group's per-doc partials only
        p.join(dfsG, Seq("term"))
          .groupBy("doc_id").agg(
            sum(col("tf")).as("n_bigrams"),
            sum(col("tf") * col("df")).as("sum_df"),
            min(col("df")).as("min_df"),
            sum(when(col("df") === 1L, col("tf")).otherwise(0L)).as("n_uniq"))
      }
        .groupBy("doc_id").agg(
          sum(col("n_bigrams")).as("n_bigrams"),
          sum(col("sum_df")).as("sum_df"),
          min(col("min_df")).as("min_df"),
          sum(col("n_uniq")).as("n_uniq"))
    perDoc
      .select(col("doc_id"), col("n_bigrams"), col("sum_df"), col("min_df"),
        (col("sum_df").cast("double") / col("n_bigrams").cast("double"))
          .as("mean_df"),
        (col("n_uniq").cast("double") / col("n_bigrams").cast("double"))
          .as("uniq_frac"))
      .orderBy("doc_id")
  }

  /** Per-document top-k TF-IDF keyword extraction. idf is the
    * RATIONAL Robertson surrogate (N − df + 0.5)/(df + 0.5) — the
    * same log-free monotone form [[bm25TopK]] uses, because `ln` is
    * libm-implementation-defined in its last bits and would
    * hash-differ across engines; score = tf · idf from IEEE-exact
    * ops only.
    *
    * Scale shape: term frequency is a PER-DOCUMENT property, so it is
    * computed in-row by the native [[graft.functions.TermFreqsExpr]]
    * (one byte pass per document, true-byte-equality counting) — the
    * explode + (doc, term) hash aggregate this replaces paid a full
    * shuffle of every posting to establish a fact that never needed
    * an exchange. Document frequency is one aggregate over the
    * exploded `term_h` hashes alone (8-byte keys, map-side combine
    * absorbs hot terms; term strings never reach this exchange). The
    * df side joins back on term_h — vocabulary-sized, so it is NOT
    * hint-broadcast: AQE broadcasts it when it measures small, and
    * shuffles when a 100 TB vocabulary doesn't. The per-doc top-k is
    * a bounded-heap aggregate ([[graft.functions.TopKByScoreAgg]]):
    * map-side partial aggregation cuts each partition to ≤ k entries
    * per doc BEFORE the doc_id exchange and nothing ever sorts the
    * posting stream — the window/WindowGroupLimit form this replaces
    * still map-side-sorted every posting (r8 stage attribution
    * measured that sort as the query's 2.4 s floor at sf1); kept as
    * [[tfidfTopKWindow]] for the value-identity spec. */
  def tfidfTopK(docs: DataFrame, k: Int = 5): DataFrame = {
    import org.apache.spark.sql.GraftSqlBridge
    def topk = GraftSqlBridge.column(graft.functions.TopKByScoreAgg(
        GraftSqlBridge.expression(col("score")),
        GraftSqlBridge.expression(col("term")),
        GraftSqlBridge.expression(col("tf")),
        GraftSqlBridge.expression(col("df")), k).toAggregateExpression())
    // Scratch dispatch (r10 sf1000 hazard class, same as bigramRarity):
    // the df join back carries term STRINGS at posting volume, and the
    // per-doc tf-array cache is posting-scale. Past the budget the term
    // domain is processed in sequential pmod groups: df is exact within
    // a group, and groups FOLD into one running per-doc top-k heap.
    // The fold, not a union-then-merge: the first grouped cut
    // checkpointed every group's per-doc top-k and merged at the end —
    // and the sf1000 probe ENOSPC'd on exactly that accumulation
    // (docs hold only ~terms/G terms per group, so "≤ k per doc per
    // group" cut nothing and the checkpoints re-materialized ~the full
    // posting volume). The running merge keeps at most TWO bounded
    // frames alive (current merge + the one being built, each ≤ k rows
    // per doc), freeing the previous round the moment the new one is
    // materialized — the same deterministic-release rule as the CC
    // loop. Exact, not approximate: term domains are disjoint, and a
    // term outside the running top-k after round g is dominated by k
    // terms that are in it — with the heap's deterministic keep
    // preference (score desc, term asc) the fold's fixpoint is the
    // single-pass row set bit-for-bit. Gate SFs keep the untouched
    // cached single pass.
    // bytesPerPosting 96: the protected df join back carries term
    // STRINGS at posting volume — roughly a word plus UTF8String
    // framing on top of the 48 B hashed model (overcounting only
    // lowers the grouped-path threshold; the fold is exact)
    val groups = graft.operators.Dedup.vocabGroupCount(docs, n = 1,
      stageFactor = 2.5, bytesPerPosting = 96L)
    val top =
      if (groups == 1) tfidfScored(docs).groupBy("doc_id").agg(topk.as("top"))
      else {
        val nDocs = docs.agg(count(lit(1)).as("n_docs"))
        graft.operators.ScratchGuard.fold(docs.sparkSession, groups) { grp =>
          val p = grp.pinned(grp.slice(termPostingsStream(docs), "term_h"))
          val dfsG = p.groupBy("term_h").agg(count(lit(1)).as("df"))
          p.join(dfsG, Seq("term_h"))
            .crossJoin(broadcast(nDocs))
            .withColumn("score", col("tf").cast("double") *
              ((col("n_docs").cast("double") - col("df").cast("double") + lit(0.5)) /
                (col("df").cast("double") + lit(0.5))))
            .select(col("doc_id"), col("score"), col("term"), col("tf"), col("df"))
        } { (running, scoredG) =>
          val candidates = running.fold(scoredG)(
            _.select(col("doc_id"), explode(col("top")).as("t"))
              .select(col("doc_id"), col("t.score").as("score"),
                col("t.term").as("term"), col("t.tf").as("tf"), col("t.df").as("df"))
              .unionByName(scoredG))
          candidates.groupBy("doc_id").agg(topk.as("top")) // the running ≤ k-per-doc heap
        }
      }
    top
      .select(col("doc_id"), explode(col("top")).as("t"))
      .select(col("doc_id"), col("t.term").as("term"), col("t.tf").as("tf"),
        col("t.df").as("df"), col("t.score").as("score"))
      .orderBy(col("doc_id"), col("score").desc, col("term"))
  }

  /** The window/row_number form of [[tfidfTopK]] — value-identical
    * (same keep-preference: score desc, term asc), kept as the spec
    * twin and the measured NAIVE baseline the heap aggregate beat. */
  def tfidfTopKWindow(docs: DataFrame, k: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("doc_id").orderBy(col("score").desc, col("term"))
    tfidfScored(docs).withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
      .select(col("doc_id"), col("term"), col("tf"), col("df"), col("score"))
      .orderBy(col("doc_id"), col("score").desc, col("term"))
  }

  /** The raw (doc_id, term_h, term, tf) posting stream WITHOUT the
    * per-doc array cache — what [[tfidfTopK]]'s scratch-grouped path
    * filters by term domain (the cache is posting-scale at the sizes
    * that path exists for). */
  private def termPostingsStream(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.GraftSqlBridge
    graft.operators.Dedup.spread(docs)
      .select(col("doc_id"), GraftSqlBridge.column(
        graft.functions.TermFreqsExpr(GraftSqlBridge.expression(col("text")))).as("tfs"))
      .select(col("doc_id"), explode(col("tfs")).as("p"))
      .select(col("doc_id"), col("p.term_h").as("term_h"),
        col("p.term").as("term"), col("p.tf").as("tf"))
  }

  /** Shared scoring core of the two top-k forms: in-row term
    * frequencies, one df aggregate over hashed terms, AQE-decided
    * join back, Robertson-rational score. */
  private def tfidfScored(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.GraftSqlBridge
    // per-doc tf arrays feed two branches (the score join and the df
    // aggregate); cached so the tokenize+count pass runs once even
    // when AQE re-planning defeats ReuseExchange — and the cached
    // form is one compact array row per document, not a postings row
    // per (doc, term).
    val perDoc = graft.operators.OpCaches.shared("ta.termFreqs")(
      graft.operators.Dedup.spread(docs)
        .select(col("doc_id"), GraftSqlBridge.column(
          graft.functions.TermFreqsExpr(GraftSqlBridge.expression(col("text")))).as("tfs")))
    val postings = perDoc
      .select(col("doc_id"), explode(col("tfs")).as("p"))
      .select(col("doc_id"), col("p.term_h").as("term_h"),
        col("p.term").as("term"), col("p.tf").as("tf"))
    val dfs = perDoc.select(explode(col("tfs.term_h")).as("term_h"))
      .groupBy("term_h").agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    postings.join(dfs, Seq("term_h"))
      .crossJoin(broadcast(nDocs))
      .withColumn("score", col("tf").cast("double") *
        ((col("n_docs").cast("double") - col("df").cast("double") + lit(0.5)) /
          (col("df").cast("double") + lit(0.5))))
  }
}
