package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Document-deduplication operators for a large-scale training-data
  * pipeline, over the `documents` table (doc_id, text, ...).
  *
  * Scale design (the reason each operator is shaped the way it is):
  *
  *  - [[exact]] is one hash-aggregate — map-side partial combine, one
  *    shuffle on the content hash, no joins.
  *  - [[jaccardPairs]] NEVER enumerates all O(n²) pairs: it builds an
  *    inverted shingle index and self-joins it, so only pairs that
  *    actually share a shingle are materialized. The shuffle key is
  *    the shingle, and with natural text the posting lists are short;
  *    a document-frequency cap on hot shingles is the standard lever
  *    if a corpus has stop-shingles.
  *  - [[minhashLsh]] is the sub-quadratic path: fixed-size signatures
  *    (k md5-min-hashes, computed in one narrow pass), banded into
  *    buckets; only bucket-mates become candidates, and only
  *    candidates fetch shingle sets for exact Jaccard verification.
  *  - [[simhashPairs]] blocks by 8-bit signature chunks (pigeonhole:
  *    hamming ≤ 3 over 4 chunks ⇒ at least one chunk equal), so the
  *    join fan-out is bounded by bucket size, not corpus size.
  *
  * Oracle-parity rules: all hashing is md5 hex strings (identical
  * across engines, lexicographically min-able); doubles are built from
  * identical left-associative expressions; every output has a unique
  * (doc_a, doc_b) or fp ordering.
  */
object Dedup {

  /** Small-file scans arrive as 1–2 partitions; the hashing stages are
    * CPU-bound per row, so spread them across every core first. (At
    * 100 TB the scan itself yields thousands of splits and this is a
    * no-op-sized rebalance; on a laptop-sized file it is the
    * difference between 1 and 32 busy cores.) */
  private[graft] def spread(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join, Repartition,
      RepartitionByExpression, Window => LWindow}
    // Widen only plans with NO shuffle boundary yet (a raw narrow scan
    // arrives as 1-2 partitions for a small file; after any shuffle the
    // partitioning is already spark.sql.shuffle.partitions ≈ cores).
    // Inspect the LOGICAL plan — touching df.rdd would force AQE to
    // materialize upstream stages eagerly and the query would then
    // re-execute them.
    val hasShuffle = df.queryExecution.analyzed.collectFirst {
      case _: Aggregate | _: Join | _: LWindow | _: Repartition |
           _: RepartitionByExpression => true
    }.getOrElse(false)
    if (hasShuffle) df
    else df.repartition(df.sparkSession.sparkContext.defaultParallelism)
  }

  /** SORT-FIRST parallel spread for expensive narrow projections that
    * must emit in `key` order: range-partition on the key with an
    * EXPLICIT partition count and sort within partitions — globally
    * ordered (range partitions are ordered, rows sorted inside), and
    * the projection stacked on top runs exactly once, in parallel.
    *
    * Why not `orderBy(key)` under the projection: the range sampler
    * would be fine (it samples the cheap input), but AQE's
    * size-based partition coalescing sees a few KB of shuffle output
    * and collapses the CPU-heavy stage to ONE task (measured 2.5× on
    * the winnowing fingerprints). An explicit numPartitions is exempt
    * from coalescing. Why not project-then-orderBy: the sampling pass
    * executes the exchange input — the expensive projection — twice,
    * and the shuffle then carries the projected copies. */
  private[graft] def orderedSpread(df: DataFrame, keys: String*): DataFrame = {
    val n = df.sparkSession.sparkContext.defaultParallelism
    df.repartitionByRange(n, keys.map(col): _*)
      .sortWithinPartitions(keys.head, keys.tail: _*)
  }

  /** Tokens plus DISTINCT word n-gram shingles (the shingle *set*). */
  def withShingles(docs: DataFrame, n: Int): DataFrame =
    spread(docs).withColumn("toks", split(col("text"), " "))
      .withColumn("shingles", array_distinct(expr(
        s"transform(sequence(1, greatest(size(toks) - ${n - 1}, 1)), " +
          s"i -> array_join(slice(toks, i, $n), ' '))")))

  /** [[withShingles]] in HASHED space: the distinct shingle set as
    * xxhash64 longs. Everything downstream of the inverted index —
    * shuffle bytes, join-key compares, aggregate keys — pays 8 bytes
    * per shingle instead of a 20-40 byte string; at 100 TB the
    * inverted index IS the dominant shuffle, so this is the cheapest
    * multiplier in the file. Set identity is preserved modulo 64-bit
    * collisions (~n²/2⁶⁵ within a doc — immaterial; the string path
    * remains for minhash, whose md5 signatures the oracle mirrors).
    * One extra collision sensitivity in the CAPPED path: [[hotShingles]]
    * counts document frequency in this hashed space, so a cross-corpus
    * collision merges two shingles' df counts and could flip cap
    * membership at the exact `df == cap` boundary — visible to a
    * string-space oracle even though pair results elsewhere are
    * collision-tolerant. Probability is corpus-pairs/2⁶⁵ (immaterial
    * below ~10¹² distinct shingles); derive the hot list from string
    * shingles before hashing if exact boundary parity is required.
    *
    * Implementation: the native [[graft.functions.HashedShinglesExpr]]
    * — value-identical to the HOF chain
    * `array_distinct(transform(sequence(..), i ->
    * xxhash64(array_join(slice(toks, i, n), ' '))))` but one
    * allocation-free pass over the raw bytes (HOF lambdas are
    * interpreted per element; the chain measured ~2.6× slower at sf1,
    * and shingling is the CPU-dominant stage of every inverted-index
    * operator). */
  def withHashedShingles(docs: DataFrame, n: Int): DataFrame =
    spread(docs).withColumn("shingles", hashedNgrams(col("text"), n))

  /** [[graft.functions.HashedShinglesExpr]] as a Column: the distinct
    * (set) form when `distinct`, the positional/tf form otherwise —
    * shared by every operator that shingles into hashed space. */
  private[graft] def hashedNgrams(text: Column, n: Int,
      distinct: Boolean = true): Column =
    org.apache.spark.sql.GraftSqlBridge.column(
      graft.functions.HashedShinglesExpr(
        org.apache.spark.sql.GraftSqlBridge.expression(text), n, distinct))

  /** Exact dedup: one group per distinct content hash with the kept
    * representative (min doc_id) and the copy count. */
  def exact(docs: DataFrame): DataFrame =
    docs.groupBy(md5(col("text")).as("fp"))
      .agg(min(col("doc_id")).as("keep_doc_id"),
        count(lit(1)).as("n_copies"))
      .orderBy(col("fp"))

  /** Per-source exact-duplication scorecard: how much of each
    * crawl/provider's contribution is copies of content whose keeper
    * (global min doc_id per content hash) lives elsewhere — the table
    * that decides which upstream source to throttle or re-crawl.
    *
    * A doc counts as a duplicate iff it is not its fp-group's keeper;
    * the keeper's own source gets credit for the one kept copy.
    * `chars_dup` = characters that deduplication would delete from
    * this source (all copies share the text, so the group's n_chars
    * multiplies the dropped count).
    *
    * Scale shape: ONE pass over the text — a hash aggregate on
    * (fp, source) with map-side combine — then the global keeper as a
    * `min() over (partition by fp)` window on that unique-content-
    * sized table (a group spans at most |sources| rows, so the window
    * key can never be hot). The aggregate-then-rejoin formulation
    * reads cleaner but plans as TWO full corpus scans (Catalyst does
    * not share the un-materialized aggregate across a self-join) —
    * at 100 TB the second text+md5 pass is the whole cost, so the
    * window form wins. Final per-source rollup is |sources|-sized. */
  def dedupStatsBySource(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val g = docs.groupBy(md5(col("text")).as("fp"), col("source"))
      .agg(count(lit(1)).as("n"), min(col("doc_id")).as("src_min"),
        min(col("n_chars")).as("n_chars"))
    val withKeeper = g.withColumn("keeper",
      min(col("src_min")).over(Window.partitionBy("fp")))
    val dupN = col("n") - when(col("src_min") === col("keeper"), 1L).otherwise(0L)
    withKeeper
      .groupBy("source").agg(
        sum(col("n")).as("n_docs"),
        sum(dupN).as("n_dup_docs"),
        sum(dupN * col("n_chars")).as("chars_dup"))
      .select(col("source"), col("n_docs"), col("n_dup_docs"),
        (col("n_dup_docs").cast("double") / col("n_docs").cast("double"))
          .as("dup_rate"),
        col("chars_dup"))
      .orderBy("source")
  }

  /** Exact n-gram Jaccard near-dup pairs via an inverted shingle
    * index: explode → self-join on shingle → pair-count = |A∩B| →
    * |A∪B| from per-doc set sizes. */
  /** @param maxDocFreq the hot-shingle lever: drop shingles appearing
    *   in more than this many documents from the inverted index before
    *   the self-join. A shingle shared by f docs contributes f² pair
    *   rows — one viral boilerplate phrase at corpus scale turns the
    *   join quadratic. Capping trades a bounded recall loss (pairs
    *   connected ONLY through ubiquitous shingles — which are the
    *   least-discriminative evidence anyway) for a hard bound on join
    *   fan-out. None (default) = exact, matches the DuckDB oracle. */
  def jaccardPairs(docs: DataFrame, n: Int = 3, threshold: Double = 0.5,
      maxDocFreq: Option[Long] = None): DataFrame =
    jaccardPairsRaw(docs, n, threshold, maxDocFreq).orderBy("doc_a", "doc_b")

  /** [[jaccardPairs]] WITHOUT the presentation sort — for composite
    * consumers ([[clusters]], [[keepList]]) whose next step is a join
    * or aggregate: the final orderBy is a full range-partition
    * exchange+sort of the pair set that such consumers immediately
    * destroy. */
  private[graft] def jaccardPairsRaw(docs: DataFrame, n: Int = 3,
      threshold: Double = 0.5, maxDocFreq: Option[Long] = None): DataFrame = {
    val (common, sizes) = pairCounts(docs, n, maxDocFreq)
    common
      .join(sizes.toDF("doc_a", "n_a"), "doc_a")
      .join(sizes.toDF("doc_b", "n_b"), "doc_b")
      .withColumn("jaccard",
        col("n_common").cast("double") / (col("n_a") + col("n_b") - col("n_common")))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "n_common", "jaccard")
  }

  /** The ONE copy of the pair-count machinery every set-similarity
    * operator rides (jaccard, containment): cached hashed-shingle
    * sets, the f²-bounded inverted-index self-join, the per-pair
    * intersection count, and the per-doc set sizes — so a fix to the
    * index (hashing, capping, join shape) reaches every consumer.
    * Returns (common(doc_a, doc_b, n_common), sizes(doc_id, n_sh)).
    *
    * The shingle-set table feeds three plan branches (sizes, inverted
    * index, and nothing else recomputes it) — cache the one pass
    * (tracked: OpCaches.releaseAll() drops it after the caller's
    * action). HASHED shingle space: the f² self-join compares/
    * shuffles longs, not n-gram strings. */
  private def pairCounts(docs: DataFrame, n: Int,
      maxDocFreq: Option[Long]): (DataFrame, DataFrame) = {
    val sh = hashedShingleTable(docs, n)
    val invAll = sh.select(col("doc_id"), explode(col("shingles")).as("shingle"))
    // when capped, similarity is computed IN the capped shingle space —
    // sizes must come from the filtered index or it would be
    // systematically underestimated
    val (inv, sizes) = maxDocFreq match {
      case None =>
        (invAll, sh.select(col("doc_id"), size(col("shingles")).cast("long").as("n_sh")))
      case Some(cap) =>
        val hot = invAll.groupBy("shingle").agg(count(lit(1)).as("df"))
          .filter(col("df") > cap).select("shingle")
        val filtered = OpCaches.shared("dd.cappedIndex")(
          invAll.join(broadcast(hot), Seq("shingle"), "left_anti"))
        (filtered, filtered.groupBy("doc_id").agg(count(lit(1)).as("n_sh")))
    }
    // The candidate-pair count table is the expensive product of this
    // machinery (the f²-bounded self-join + pair aggregate) and is
    // THRESHOLD-INDEPENDENT: every jaccard/containment/histogram/
    // cluster/keep-list consumer over the same corpus derives from the
    // identical (doc_a, doc_b, n_common) rows and only differs in the
    // division and filter applied after. A report pass re-ran this
    // join once per consumer (8+ of the bench rows); sharing it gives
    // the once-per-snapshot shape — value-neutral (sameResult-guarded)
    // and bounded (the pair set is near-dup-rate-sized, ~1.1M rows /
    // ~27 MB at sf0.1, released by releaseAll in isolated mode).
    val common = OpCaches.shared("dd.pairCommon")(
      inv.as("a").join(inv.as("b"),
          col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .agg(count(lit(1)).as("n_common")))
    (common, sizes)
  }

  /** MinHash + banded LSH near-dup detection, with exact-Jaccard
    * verification of the candidates.
    *
    * Signature: minhash_i = min over shingles of md5("i|" + shingle)
    * (md5 hex min ≡ a random permutation min, portable everywhere).
    * Bands of r = numHashes/bands rows; band key = md5 of the joined
    * band rows. Docs sharing any band bucket become candidate pairs;
    * candidates are verified with exact Jaccard ≥ threshold. */
  def minhashLsh(docs: DataFrame, n: Int = 3, numHashes: Int = 12,
      bands: Int = 4, threshold: Double = 0.5): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    val r = numHashes / bands
    // Scratch dispatch (r10, sf1000 probe ENOSPC): the corpus-wide
    // STRING-shingle cache below (reused by the signature pass and
    // twice by candidate verification) is itself posting-scale — at
    // 50M docs it alone overran scratch before any join ran. Past the
    // budget the operator goes cache-LEAN: signatures stream straight
    // off the shingle expression, and verification recomputes shingle
    // sets ONLY for candidate docs (semi-join — candidates are rare by
    // construction, that's the point of LSH), trading one extra
    // tokenize pass over the candidates for never materializing the
    // corpus's shingle strings. Gate SFs keep the cached plan.
    // bytesPerPosting 128: the protected artifact is the STRING
    // shingle cache — an n-word shingle is ~n·(avg word + 1) UTF-8
    // bytes plus array/UTF8String framing, well past the 48 B hashed
    // model (overcounting here only moves the lean cutoff earlier;
    // lean is correct at every scale, just slower when small)
    val lean = vocabGroupCount(docs, n, stageFactor = 3.0,
      bytesPerPosting = 128L) > 1
    def shPlan = withShingles(docs, n).select(col("doc_id"), col("shingles"))
    val shCached = if (lean) None else Some(OpCaches.shared("dd.stringShingles")(shPlan))
    // all k minhashes in one native pass over the shingle set
    // (graft.functions.MinHashesExpr) — same values as k separate
    // array_min(transform(..., md5)) projections
    val mh = {
      import org.apache.spark.sql.GraftSqlBridge
      GraftSqlBridge.column(graft.functions.MinHashesExpr(
        GraftSqlBridge.expression(col("shingles")), numHashes))
    }
    val sig = shCached.getOrElse(shPlan).select(col("doc_id"), mh.as("mh"))
      .select(col("doc_id") +: (0 until numHashes).map(i => col("mh")(i).as(s"mh$i")): _*)
    val bandStructs = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        md5(concat_ws("|", (b * r until (b + 1) * r).map(i => col(s"mh$i")): _*)).as("bkey"))
    }
    val buckets0 = sig.select(col("doc_id"), explode(array(bandStructs: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.bkey").as("bkey"))
    // the band table is the LSH index artifact both sides of the
    // candidate self-join consume — uncached, each side re-evaluates
    // the k-md5-per-shingle signature pass (the plan's two
    // graft_minhashes nodes were exactly that: the row's dominant
    // cost, paid twice per action). Same once-per-snapshot shape as
    // [[Similarity.topkLsh]]'s `sim.lshBuckets` core; lean mode keeps
    // the streaming plan (the signature table is O(docs·k) strings —
    // small — but lean exists to pin nothing corpus-shaped).
    val buckets = if (lean) buckets0 else OpCaches.shared("dd.lshBands")(buckets0)
    val cand0 = buckets.as("a").join(buckets.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    // lean mode: pin the (small) candidate set so the verification
    // side's `needed` semi-join doesn't re-run the whole bucket join
    val cand =
      if (lean) OpCaches.trackCheckpoint(cand0.localCheckpoint()) else cand0
    // lean mode: shVerify feeds BOTH sides of the verification join —
    // uncheckpointed, the needed-distinct, the corpus semi-join, and
    // the candidate re-shingle would each execute twice per action.
    // It is candidate-bounded (same rationale as checkpointing cand),
    // so pin it once; OpCaches releases the blocks post-consumption.
    val shVerify = shCached.getOrElse {
      val needed = cand.select(col("doc_a").as("doc_id"))
        .unionByName(cand.select(col("doc_b").as("doc_id"))).distinct()
      OpCaches.trackCheckpoint(
        withShingles(docs.join(needed, Seq("doc_id"), "left_semi"), n)
          .select(col("doc_id"), col("shingles"))
          .localCheckpoint())
    }
    cand
      .join(shVerify.toDF("doc_a", "sh_a"), "doc_a")
      .join(shVerify.toDF("doc_b", "sh_b"), "doc_b")
      .withColumn("n_common",
        size(expr("filter(sh_a, x -> array_contains(sh_b, x))")).cast("long"))
      .withColumn("jaccard",
        col("n_common").cast("double") /
          (size(col("sh_a")) + size(col("sh_b")) - col("n_common")))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
      .orderBy("doc_a", "doc_b")
  }

  /** Cross-document duplicated-SPAN structure per document: the
    * positional refinement of [[dupNgramRate]]. Where the rate says
    * "35% of this doc's grams occur elsewhere", the span stats say
    * whether that duplication is one long copied block (a quote, a
    * template, a mirrored article — the spans Lee et al. 2022 cut) or
    * scattered single grams (idiom-level noise): `max_run` = the
    * longest run of CONSECUTIVE positions whose gram appears in ≥ 2
    * documents, `n_dup_grams` = flagged positions (occurrence-
    * weighted, unlike the rate's distinct-shingle count). Within-doc
    * repetition is deliberately out of scope ([[TextAnalysis
    * .repetitionStats]] owns it): the shared-set df counts distinct
    * docs.
    *
    * Scale shape: positional grams explode once (hashed, 8-byte keys);
    * the shared set is the same df-aggregate as the rate; the
    * gaps-and-islands pass (pos − row_number) runs per doc_id — a
    * fine-grained partition key, so no hot partitions — and only
    * FLAGGED positions enter it. */
  def dupSpans(docs: DataFrame, n: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // positional (non-distinct) native n-gram hashes: posexplode gives
    // (pos, gram) identical to the HOF transform array, minus its
    // per-element interpreted lambda cost
    def posGramsPlan = spread(docs).select(col("doc_id"),
      posexplode(hashedNgrams(col("text"), n, distinct = false))
        .as(Seq("pos", "shingle")))
    // Scratch dispatch (r10, sf1000 probe ENOSPC — see
    // [[ScratchGuard]]): like dupNgramRate this runs the df
    // membership aggregate AND the semi-join back over posting volume,
    // plus the cached posting table — stageFactor 2.5. Past the budget
    // the shingle domain is processed in sequential pmod groups: a
    // gram's instances land wholly in one group, so the ≥2-docs
    // membership is EXACT per group, and the flagged (doc_id, pos)
    // sets are DISJOINT across groups (each position's gram lives in
    // exactly one group) — their union is the single-pass flag set.
    // Flagged positions are PACKED per doc inside each group
    // (collect_list of 4-byte positions — the first grouped cut
    // checkpointed raw (doc_id, pos) rows and the sf1000 probe
    // ENOSPC'd on exactly that accumulation: flag volume is near
    // posting scale on the scaled corpus, and 16 B/flag of raw
    // checkpoint blocks plus the window exchange put two
    // posting-scale artifacts on scratch at once). The per-doc runs
    // then come from ONE hash aggregate merging each doc's ≤G packed
    // lists and an array fold — no global window: a run can span two
    // vocab groups (consecutive positions, grams in different
    // groups), so runs are computed per doc AFTER the union, over
    // arrays bounded by the doc's own gram count.
    // distinct = false: this operator's protected stream is the
    // POSITIONAL posexplode above — on the self-repetitive corpora it
    // targets, instances can far exceed the distinct-gram count the
    // default dispatch sizes against
    val groups = vocabGroupCount(docs, n, stageFactor = 2.5, distinct = false)
    val runs =
      if (groups == 1) {
        val posGrams = OpCaches.shared("dd.posGrams")(posGramsPlan)
        // "≥2 distinct docs" ⟺ min(doc_id) ≠ max(doc_id): ONE map-side-
        // combining aggregate on shingle, instead of a (doc_id, shingle)
        // distinct shuffle FOLLOWED by a df shuffle — the distinct was the
        // single biggest exchange in this operator at sf1
        val shared = posGrams.groupBy("shingle")
          .agg(min(col("doc_id")).as("d_min"), max(col("doc_id")).as("d_max"))
          .filter(col("d_min") =!= col("d_max")).select("shingle")
        val w = Window.partitionBy("doc_id").orderBy("pos")
        posGrams.join(shared, Seq("shingle"), "left_semi")
          .withColumn("grp", col("pos") - row_number().over(w))
          .groupBy("doc_id", "grp").agg(count(lit(1)).as("run"))
          .groupBy("doc_id").agg(max(col("run")).as("max_run"),
            sum(col("run")).as("n_dup_grams"))
      } else {
        // flags pack as sorted DELTA-VARINT binaries
        // (graft.functions.PackedPos): flagged positions are dense
        // (duplicated text flags consecutive positions → gaps of 1),
        // so ~1 byte/position against the raw array's 4 — the r11
        // sf1000 probe peaked at 85% disk on the raw accumulation.
        // Finished groups FOLD PAIRWISE into one running per-doc
        // packed stream (PackedPos.merge is associative): the
        // retained checkpoint between groups is O(docs) rows — one
        // binary per doc — not the O(docs·G) per-(doc,group) rows of
        // the r12 union-at-the-end shape, whose per-row overhead grew
        // linearly in G and killed the sf2000 budget-halving probe at
        // 78% disk. Both fold sides are hash-partitioned by doc_id
        // (the groupBy / the checkpointed previous fold), so the
        // full-outer merge joins without re-shuffling the
        // accumulator.
        val bridge = org.apache.spark.sql.GraftSqlBridge
        val acc = ScratchGuard.fold(docs.sparkSession, groups) { grp =>
          val pgG = grp.pinned(grp.slice(posGramsPlan, "shingle"))
          val sharedG = pgG.groupBy("shingle")
            .agg(min(col("doc_id")).as("d_min"), max(col("doc_id")).as("d_max"))
            .filter(col("d_min") =!= col("d_max")).select("shingle")
          pgG.join(sharedG, Seq("shingle"), "left_semi")
            .groupBy("doc_id").agg(collect_list(col("pos")).as("raw_pos"))
            .select(col("doc_id"), bridge.column(
              graft.functions.PackedPosExpr(
                bridge.expression(col("raw_pos")))).as("g_pos"))
        } {
          case (None, grpPacked) => grpPacked.withColumnRenamed("g_pos", "flag_pos")
          case (Some(acc), grpPacked) =>
            acc.join(grpPacked, Seq("doc_id"), "full_outer")
              .select(col("doc_id"), bridge.column(
                graft.functions.PackedMergeExpr(
                  bridge.expression(col("flag_pos")),
                  bridge.expression(col("g_pos")))).as("flag_pos"))
        }
        // gaps-and-islands fold over the doc's full flag stream
        // (PackedRunStats over the single folded binary) —
        // value-identical to flattening, sorting and folding the raw
        // positions, without materializing them.
        acc.select(col("doc_id"), bridge.column(
            graft.functions.PackedRunStatsExpr(
              bridge.expression(array(col("flag_pos"))))).as("st"))
          .select(col("doc_id"), col("st.max_run").as("max_run"),
            col("st.n_dup_grams").as("n_dup_grams"))
      }
    docs.select(col("doc_id"),
        greatest(size(split(col("text"), " ")) - (n - 1), lit(1))
          .cast("long").as("n_grams"))
      .join(runs, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("n_dup_grams"), lit(0L)).as("n_dup_grams"),
        coalesce(col("max_run"), lit(0L)).as("max_run"))
      .orderBy("doc_id")
  }

  /** MinHash ESTIMATOR-QUALITY contract: over the exact near-dup pair
    * set (jaccard ≥ threshold), compare the signature-agreement
    * estimate Ĵ = |{i : mhᵃᵢ = mhᵇᵢ}| / k against the exact Jaccard
    * and assert the mean absolute error clears `maxMeanAbsErr`. This
    * pins the sketch the LSH path PRUNES with — [[minhashLsh]]'s
    * banding math (collision p = 1 − (1 − Ĵʳ)ᵇ) is only sound if Ĵ is
    * an unbiased estimator in practice, and a broken hash family or
    * band-key bug shows up here as estimator bias long before it is
    * visible as missing pairs downstream. E[|Ĵ−J|] ≈ √(J(1−J)/k)
    * ≈ 0.07 at k = 24 near J = 0.5; the 0.2 bound is ~3σ clear.
    *
    * Scale shape: the contract runs on the SURVIVOR pair set (tiny by
    * construction), joining two signature columns per pair — AQE
    * broadcasts the k·8-byte signatures; the shingle machinery is the
    * already-bounded [[jaccardPairs]] index path. */
  def minhashEstQuality(docs: DataFrame, n: Int = 3, numHashes: Int = 24,
      threshold: Double = 0.5, maxMeanAbsErr: Double = 0.2): DataFrame = {
    import org.apache.spark.sql.GraftSqlBridge
    val mh = GraftSqlBridge.column(graft.functions.MinHashesExpr(
      GraftSqlBridge.expression(col("shingles")), numHashes))
    // ride the SAME string-shingle core as minhashLsh (identical plan
    // → one tokenize+shingle pass per snapshot serves both rows), with
    // minhashLsh's scratch dispatch: past the budget the corpus-wide
    // string-shingle cache is itself the ENOSPC artifact, so stream it
    // uncached exactly as the lean LSH path does
    val estLean = vocabGroupCount(docs, n, stageFactor = 3.0,
      bytesPerPosting = 128L) > 1
    def estShPlan = withShingles(docs, n).select(col("doc_id"), col("shingles"))
    val sh = if (estLean) estShPlan
      else OpCaches.shared("dd.stringShingles")(estShPlan)
    // the 24-hash signature table joins BOTH pair sides below —
    // uncached it evaluates the md5-per-shingle signature pass twice
    // per action (same double-eval the lsh band table had)
    val sig0 = sh.select(col("doc_id"), mh.as("mh"))
    val sig = if (estLean) sig0 else OpCaches.shared("dd.minhashSig")(sig0)
    val pairs = jaccardPairs(docs, n, threshold)
    pairs
      .join(sig.toDF("doc_a", "mh_a"), "doc_a")
      .join(sig.toDF("doc_b", "mh_b"), "doc_b")
      .withColumn("est",
        expr("size(filter(zip_with(mh_a, mh_b, (x, y) -> x = y), b -> b))")
          .cast("double") / numHashes.toDouble)
      .agg(count(lit(1)).as("n_pairs"),
        // vacuously true on an empty survivor set (avg over zero rows
        // is NULL; the oracle emits (0, TRUE) for that corpus)
        coalesce(avg(abs(col("est") - col("jaccard"))) <= maxMeanAbsErr,
          lit(true)).as("mean_err_ok"))
  }

  /** Persistable inverted shingle index: (shingle, doc_id, n_sh) —
    * the artifact incremental dedup joins deltas against. At scale
    * this is written bucketed by shingle so delta joins co-locate.
    * `shingle` is the xxhash64 of the n-gram ([[withHashedShingles]]):
    * an 8-byte bucket/join key, and the persisted artifact is ~3-4×
    * smaller than the string form. */
  def shingleIndex(docs: DataFrame, n: Int = 3): DataFrame =
    shingleIndexFrom(withHashedShingles(docs, n))

  /** [[shingleIndex]] over an already-shingled (doc_id, shingles)
    * table — lets callers derive several index slices (delta/corpus
    * splits) from ONE shared shingle pass instead of re-tokenizing
    * per slice (per-doc shingling commutes with doc_id filters). */
  def shingleIndexFrom(sh: DataFrame): DataFrame =
    sh.select(col("doc_id"), size(col("shingles")).cast("long").as("n_sh"),
        explode(col("shingles")).as("shingle"))
      .select("shingle", "doc_id", "n_sh")

  /** The snapshot-shared hashed-shingle table (the "dd.hashedShingles"
    * core every set-similarity operator rides), exposed for composite
    * callers that slice it (incremental delta probes). */
  def hashedShingleTable(docs: DataFrame, n: Int = 3): DataFrame =
    OpCaches.shared("dd.hashedShingles")(
      withHashedShingles(docs, n).select(col("doc_id"), col("shingles")))

  /** Cross-SOURCE near-duplication matrix: the [[jaccardPairs]] pair
    * set rolled up by (source, source) — which crawl/provider pairs
    * are feeding each other's content. Off-diagonal rows are the
    * cross-source contamination a mixture designer must know about
    * (double-counting between "independent" sources silently skews
    * mixture weights); the diagonal is within-source duplication,
    * already priced per source by [[dedupBySource]]. The pair is
    * normalized by source NAME (`least`/`greatest`), so (src1, src2)
    * and (src2, src1) fold into one row. min/max jaccard are
    * order-free aggregates (a double mean would be summation-order-
    * dependent across engines).
    *
    * Scale shape: all O(n²)-shaped work lives inside the bounded
    * inverted-index pass of [[jaccardPairsRaw]]; this adds two
    * equi-joins of the (tiny, near-dup-rate-bounded) pair set against
    * the narrow (doc_id, source) projection — AQE broadcasts the pair
    * side — and a |sources|²-keyed aggregate that partial-combines
    * map-side. */
  def sourceOverlap(docs: DataFrame, n: Int = 3,
      threshold: Double = 0.5, maxDocFreq: Option[Long] = None): DataFrame = {
    val src = docs.select(col("doc_id"), col("source"))
    jaccardPairsRaw(docs, n, threshold, maxDocFreq)
      .join(src.toDF("doc_a", "src_of_a"), "doc_a")
      .join(src.toDF("doc_b", "src_of_b"), "doc_b")
      .groupBy(least(col("src_of_a"), col("src_of_b")).as("src_a"),
        greatest(col("src_of_a"), col("src_of_b")).as("src_b"))
      .agg(count(lit(1)).as("n_pairs"),
        min(col("jaccard")).as("min_jaccard"),
        max(col("jaccard")).as("max_jaccard"))
      .orderBy("src_a", "src_b")
  }

  /** Shingle document-frequency histogram — the table that SETS the
    * `maxDocFreq` cap the production jaccard/containment paths take:
    * how many shingles occur in exactly df documents. A heavy tail
    * here (boilerplate, viral phrases) is the f² fan-out the cap
    * exists to bound; a corpus whose histogram dies at df ≤ 3 doesn't
    * need one. Same [[withHashedShingles]] space the index joins in,
    * so the histogram prices exactly the joins that will run.
    *
    * Scale shape: one explode + two hash aggregates (shingle, then
    * ~|log df| distinct dfs), both partial-combining — strictly
    * cheaper than any pair operator it tunes. */
  def shingleDfHistogram(docs: DataFrame, n: Int = 3): DataFrame =
    vocabGroupedAgg(docs, n)(inv => inv
        .groupBy("shingle").agg(count(lit(1)).as("df"))
        .groupBy("df").agg(count(lit(1)).as("n_shingles")))
      // re-combine across domain groups (each folds ITS shingles into
      // a histogram; dfs are exact per group, so summing the buckets
      // is the full-domain histogram). Idempotent over a single group.
      .groupBy("df").agg(sum("n_shingles").as("n_shingles"))
      .orderBy("df")

  /** Asymmetric CONTAINMENT pairs: |A∩B| / min(|A|, |B|) — the
    * subset-copy detector symmetric Jaccard is blind to. A short doc
    * quoted whole inside a much longer one scores J =
    * |A|/(|B|) → 0 as the host grows, but containment stays 1.0;
    * dedup pipelines that only threshold Jaccard keep every
    * quote-expansion and boilerplate-wrapped copy. Emits both
    * directional containments (of A in B and of B in A); the filter is
    * on the max — i.e. "the smaller side is mostly inside the
    * larger".
    *
    * Scale shape: identical to [[jaccardPairsRaw]] — it rides the
    * SAME [[pairCounts]] machinery (shared, not duplicated: an index
    * fix reaches both), and the containment division replaces the
    * union division. No new shuffle, no new scan; the same
    * `maxDocFreq` hot-shingle cap applies. */
  def containmentPairs(docs: DataFrame, n: Int = 3,
      minContainment: Double = 0.8,
      maxDocFreq: Option[Long] = None): DataFrame = {
    val (common, sizes) = pairCounts(docs, n, maxDocFreq)
    common
      .join(sizes.toDF("doc_a", "n_a"), "doc_a")
      .join(sizes.toDF("doc_b", "n_b"), "doc_b")
      .withColumn("cont_a", col("n_common").cast("double") / col("n_a"))
      .withColumn("cont_b", col("n_common").cast("double") / col("n_b"))
      .filter(greatest(col("cont_a"), col("cont_b")) >= minContainment)
      .select("doc_a", "doc_b", "n_common", "cont_a", "cont_b")
      .orderBy("doc_a", "doc_b")
  }

  /** Jaccard-band histogram over the candidate pair set — the TEXT
    * twin of [[graft.operators.Similarity.cosineHistogram]]: one
    * inverted-index pass prices every candidate dedup threshold ≥ `lo`
    * (how many pairs would each cutoff merge?) without re-running the
    * pair machinery per candidate setting. Band edges are computed
    * from the identical literal expression on both engines, so the
    * IEEE-double binning is bit-reproducible.
    *
    * Scale shape: exactly [[jaccardPairsRaw]] (the f²-bounded index
    * self-join) plus a ⌈(1−lo)/step⌉-key hash aggregate — the pair
    * set is never sorted or materialized beyond the aggregate's
    * partial states. */
  def jaccardHistogram(docs: DataFrame, n: Int = 3, lo: Double = 0.2,
      step: Double = 0.1): DataFrame = {
    // the -1e-9 guards FP quotients that land one ulp ABOVE the true
    // integer (e.g. (1.0-0.7)/0.1 = 3.0000000000000004): a naive ceil
    // would mint a spurious band entirely outside [lo, 1.0] and strand
    // the jaccard=1.0 pairs there
    val nBands = math.ceil((1.0 - lo) / step - 1e-9).toInt
    val band = least(floor((col("jaccard") - lo) / step).cast("int"),
      lit(nBands - 1))
    jaccardPairsRaw(docs, n, threshold = lo)
      .select(band.as("band"))
      .groupBy("band").agg(count(lit(1)).as("n_pairs"))
      .select(col("band"),
        (lit(lo) + col("band").cast("double") * step).as("band_lo"),
        (lit(lo) + (col("band") + 1).cast("double") * step).as("band_hi"),
        col("n_pairs"))
      .orderBy("band")
  }

  /** Incremental near-dup detection: jaccard pairs between a DELTA of
    * new documents and an existing [[shingleIndex]], plus pairs within
    * the delta — without ever recomputing corpus×corpus. The daily
    * ingest shape: cost is O(delta shingles ⋈ index), not O(n²).
    * Emitted pairs are (indexed_doc or lower new id, higher new id). */
  def deltaPairs(newDocs: DataFrame, index: DataFrame, n: Int = 3,
      threshold: Double = 0.5): DataFrame =
    deltaPairsFromIndex(shingleIndex(newDocs, n), index, threshold)

  /** [[deltaPairs]] over an already-computed delta shingle index —
    * callers that also need the delta's shingles for other work (e.g.
    * the streaming dedup sink folding kept shingles into the corpus
    * index) compute/cache it once and pass it here, instead of paying
    * the tokenize+shingle pass twice. */
  def deltaPairsFromIndex(newIdx: DataFrame, index: DataFrame,
      threshold: Double): DataFrame =
    deltaPairsFromParts(newIdx, Seq(index), threshold)

  /** The hot-shingle set of a corpus at document frequency > `cap` —
    * the BOUNDED metadata an index publisher stores alongside a
    * capped [[shingleIndex]] (by construction at most
    * |corpus shingles|/cap rows, broadcastable), so that every later
    * delta batch can shingle its own side into the IDENTICAL capped
    * space. This is the delta twin of [[jaccardPairs]]' `maxDocFreq`
    * lever: a shingle shared by f corpus docs costs f join rows per
    * delta occurrence — one viral boilerplate phrase at 100 TB turns
    * the daily probe quadratic, and dropping it trades the
    * least-discriminative evidence for a hard fan-out bound. */
  def hotShingles(docs: DataFrame, n: Int = 3, cap: Long = 1000L): DataFrame =
    vocabGroupedAgg(docs, n)(inv => inv
      .groupBy("shingle").agg(count(lit(1)).as("df"))
      .filter(col("df") > cap).select("shingle"))

  /** Scratch-budgeted VOCABULARY aggregation (r10, caught by the
    * sf1000 decade probe): a posting-stream `groupBy(shingle)`
    * shuffles one row per shingle instance, and map-side combine
    * cannot compress a corpus whose vocabulary grows with the data
    * (df stays ~constant, so a map task's postings are mostly
    * distinct keys) — at 50M docs the single-exchange aggregate wrote
    * ~86 GB of shuffle scratch and died ENOSPC. Same failure class as
    * the r9 LSH exchange (SCALE_r09 §2), same recipe: when the
    * estimated shuffle volume exceeds the scratch budget
    * (`graft.vocab.scratchBudgetBytes`, else 40% of usable scratch),
    * the shingle DOMAIN is split into pmod(hash-space, G) groups
    * processed SEQUENTIALLY — a shingle's postings land wholly in its
    * own group, so every per-shingle aggregate is EXACT within its
    * group and the union over groups is the full-domain result (the
    * domain partition is a disjoint cover; nothing crosses groups).
    * [[ScratchGuard.union]] runs the groups: each group's (small —
    * df-filtered or histogram-folded) result is localCheckpoint'd and
    * the group's shuffle files are reclaimed before the next group
    * starts; peak scratch is one
    * group's volume, wall is the same shuffle total serialized plus
    * G-1 extra input scans (columnar, the cheap part). Callers whose
    * per-group aggregate folds the vocabulary (histograms) re-combine
    * AFTER the union; the combine is idempotent so the single-group
    * plan stays correct.
    *
    * The grouped path is EAGER at construction (the cosinePairsLsh
    * doctrine: a dispatch on data size cannot live inside a static
    * plan); the single-group path — every corpus whose posting volume
    * fits the budget, including all gate SFs — returns the untouched
    * lazy plan. The exact instance count costs one columnar scan,
    * gated behind the optimizer's size estimate so small corpora
    * never pay it. */
  private[graft] def vocabGroupedAgg(docs: DataFrame, n: Int,
      stageFactor: Double = 1.0)(
      aggOne: DataFrame => DataFrame): DataFrame = {
    def inv = withHashedShingles(docs, n)
      .select(col("doc_id"), explode(col("shingles")).as("shingle"))
    val groups = vocabGroupCount(docs, n, stageFactor)
    if (groups == 1) aggOne(inv)
    else ScratchGuard.union(docs.sparkSession, groups)(grp => aggOne(grp.slice(inv, "shingle")))
  }

  /** The driver-side measurements behind the [[vocabGroupCount]]
    * dispatch, memoized per report pass ([[OpCaches.memo]], keyed by
    * the input plan and file versions plus n and distinct). Both facts
    * are pure functions of the data: the optimizer's size estimate
    * (~0.1 s of driver-side analysis/optimization per call; the r10
    * bench charged it to every dispatching operator on every run) and
    * the exact posting-instance count (a full columnar scan). Outside a
    * pass they are measured per call. Each is measured lazily, on its
    * first read. */
  private final class DispatchFacts(statsSmallThunk: => Boolean,
      instancesThunk: => Long) {
    lazy val statsSmall: Boolean = statsSmallThunk
    lazy val instances: Long = instancesThunk
  }

  private def dispatchFacts(docs: DataFrame, n: Int,
      distinct: Boolean): DispatchFacts =
    OpCaches.memo(s"dd.dispatch:$n:$distinct", docs)(new DispatchFacts(
      docs.queryExecution.optimizedPlan.stats.sizeInBytes < BigInt(1L << 30),
      Option(docs.select(
          sum(size(hashedNgrams(col("text"), n, distinct)))).head().get(0))
        .map(_.asInstanceOf[Long]).getOrElse(0L)))

  /** The [[vocabGroupedAgg]] dispatch as its own decision: how many
    * domain groups the posting volume needs under the scratch budget
    * (1 = single untouched pass). `stageFactor` scales the estimate
    * for callers whose per-group job runs MORE than one
    * posting-volume exchange before its shuffle files can be
    * collected (e.g. aggregate + semi-join back). `distinct = false`
    * counts POSITIONAL gram instances — callers protecting a
    * non-distinct stream ([[dupSpans]]' posexplode) must not size
    * against the distinct-set count, which on exactly the heavily
    * self-repetitive corpora those callers target can undercount the
    * real posting volume by the within-doc repetition factor.
    * `bytesPerPosting` raises the 48 B hashed-posting model for
    * callers whose protected artifact carries term/shingle STRINGS
    * (tfidf's df join, minhash's shingle cache). */
  private[graft] def vocabGroupCount(docs: DataFrame, n: Int,
      stageFactor: Double = 1.0, distinct: Boolean = true,
      bytesPerPosting: Long = 48L): Int = {
    val spark = docs.sparkSession
    val confBudget = ScratchGuard.vocabBudgetConf(spark)
    val facts = dispatchFacts(docs, n, distinct)
    // Stats gate, FIXED 1 GB: inputs whose optimizer size estimate is
    // under a gigabyte never pay the exact instance count (every gate
    // SF skips it). The gate must NOT scale with the budget: the
    // optimizer's estimate is compressed-columnar bytes with default
    // per-type string sizes, and the posting stream explodes ~2 orders
    // of magnitude past it — the first cut gated at budget/4 and the
    // sf1000 probe sailed straight through into the ungrouped ENOSPC
    // it was built to prevent (same failing stage as the unfixed run).
    if (confBudget.isEmpty && facts.statsSmall) return 1
    val budget = ScratchGuard.vocabBudget(spark)
    // default 48 B: 8B key + 8B partial + framing, DOUBLED — a map
    // task's sort spill and its final shuffle file coexist on scratch
    // at the stage boundary
    val needed = math.max(1L,
      (math.ceil(facts.instances * bytesPerPosting * stageFactor).toLong
        + budget - 1) / budget)
    // group-count ceiling (`graft.vocab.maxGroups`, default 64): each
    // group costs one extra input scan, so an unbounded count turns a
    // degenerate budget into an O(G·corpus) crawl. But a SILENT clamp
    // re-opens the ENOSPC this dispatch exists to prevent — past the
    // ceiling each group's volume exceeds the budget again — so the
    // clamp warns loudly with the sizing it would have needed: the
    // operator still runs (each group is ceiling-fold smaller than the
    // single pass), and the operator of a corpus that big raises the
    // ceiling or the budget explicitly.
    val maxGroups = spark.conf.getOption("graft.vocab.maxGroups")
      .flatMap(_.toLongOption).getOrElse(64L)
    if (needed > maxGroups)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"vocabGroupCount: posting volume (${facts.instances} instances, " +
          s"~${needed}x the ${budget}B scratch budget) needs $needed domain " +
          s"groups but graft.vocab.maxGroups caps it at $maxGroups — each " +
          s"group may still exceed the budget; raise graft.vocab.maxGroups " +
          s"or graft.vocab.scratchBudgetBytes for this corpus")
    // Int clamp too: with the conf ceiling raised past Int.MaxValue
    // (the spec sets Long.MaxValue) and needed > 2^31, a bare .toInt
    // wraps to garbage/negative — empty-range crash or silent
    // undersizing
    math.min(Int.MaxValue.toLong, math.min(maxGroups, needed)).toInt
  }

  /** [[shingleIndex]] in a capped shingle space: the `hot` set is
    * dropped BEFORE sizes are taken, so `n_sh` (and therefore every
    * jaccard computed against this index) is consistent within the
    * capped space — the same sizes-after-filter rule
    * [[jaccardPairs]]' capped path applies. `hot` broadcasts (it is
    * df-bounded by construction). */
  def shingleIndexCapped(docs: DataFrame, n: Int, hot: DataFrame): DataFrame = {
    val inv = withHashedShingles(docs, n)
      .select(col("doc_id"), explode(col("shingles")).as("shingle"))
      .join(broadcast(hot), Seq("shingle"), "left_anti")
    val sizes = inv.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    inv.join(sizes, "doc_id").select("shingle", "doc_id", "n_sh")
  }

  /** [[deltaPairs]] with the hot-shingle cap: the corpus `index` must
    * have been built via [[shingleIndexCapped]] with the SAME `hot`
    * set (both sides live in one capped space, or the jaccard
    * denominators disagree). Pairs connected ONLY through dropped
    * ubiquitous shingles are the bounded recall loss. */
  def deltaPairsCapped(newDocs: DataFrame, index: DataFrame,
      hot: DataFrame, n: Int = 3, threshold: Double = 0.5): DataFrame =
    deltaPairsFromIndex(shingleIndexCapped(newDocs, n, hot), index, threshold)

  /** The capped incremental probe BOOTSTRAPPED in one corpus scan —
    * for the cold-start job that has no published index yet and must
    * derive the hot set, the capped corpus index, AND the delta probe
    * from the same raw documents. Composing [[hotShingles]] +
    * [[shingleIndexCapped]]×2 + [[deltaPairsCapped]] tokenizes and
    * shingles the corpus ~2.2× (once for the df pass, once per side's
    * index) — and shingling is the CPU-dominant stage. Here the
    * exploded (doc_id, shingle) set is computed ONCE and cached; the
    * hot set, the capped sizes, and both probe sides all derive from
    * that one pass, exactly mirroring the oracle's CTE structure.
    * Steady-state production should still publish the capped index +
    * hot list once per corpus era ([[DedupStream]] does); this is the
    * bootstrap/backfill shape, not a replacement for persistence.
    * Results are identical to the composed form (same capped space,
    * same sizes-after-filter rule). */
  def deltaPairsCappedOneScan(all: DataFrame, isDelta: Column, n: Int = 3,
      cap: Long = 1000L, threshold: Double = 0.5): DataFrame = {
    val inv0 = OpCaches.shared("dd.oneScanInv")(withHashedShingles(all, n)
      .select(col("doc_id"), explode(col("shingles")).as("shingle")))
    val hot = inv0.groupBy("shingle").agg(count(lit(1)).as("df"))
      .filter(col("df") > cap).select("shingle")
    // hot is df-bounded (≤ |shingles|/cap rows) → broadcast anti-join
    val inv = inv0.join(broadcast(hot), Seq("shingle"), "left_anti")
    val sizes = inv.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    // the capped index feeds three plan branches (corpus side + the
    // delta side's two uses in the probe) — cache it so the sizes
    // shuffle and the anti-join run once
    val idx = OpCaches.shared("dd.oneScanIdx")(
      inv.join(sizes, "doc_id").select("shingle", "doc_id", "n_sh"))
    deltaPairsFromIndex(idx.filter(isDelta), idx.filter(!isDelta), threshold)
  }

  /** [[deltaPairsFromIndex]] with the corpus index supplied in PARTS
    * (e.g. a bucketed base snapshot plus plain delta dirs). The corpus
    * join distributes over the union — each part joins the delta
    * separately and only the JOIN OUTPUTS (pair rows, delta-bounded)
    * are unioned — because a pre-join union would erase the base's
    * bucketed outputPartitioning and force the 100 TB side through an
    * Exchange every batch. Semantically identical to joining the
    * unioned index: the parts are disjoint row sets, so the unioned
    * join rows are exactly the join rows of the union. */
  def deltaPairsFromParts(newIdx: DataFrame, indexParts: Seq[DataFrame],
      threshold: Double): DataFrame = {
    val (vsCorpus, within) = deltaPairSides(newIdx, indexParts, threshold)
    vsCorpus.unionByName(within)
      // normalize to the (min, max) pair contract every dedup consumer
      // assumes — a corpus id can be larger than a delta id
      .select(least(col("doc_a"), col("doc_b")).as("doc_a"),
        greatest(col("doc_a"), col("doc_b")).as("doc_b"), col("jaccard"))
      .orderBy("doc_a", "doc_b")
  }

  /** The two halves of [[deltaPairsFromParts]], each filtered at
    * `threshold` but neither normalized nor sorted, as
    * (doc_a, doc_b, jaccard): delta vs corpus with `doc_a` the indexed
    * doc and `doc_b` the delta doc, and delta vs delta with
    * `doc_a < doc_b`. The streaming dedup decision needs to know which
    * side of a pair is the indexed one. */
  private[graft] def deltaPairSides(newIdx: DataFrame,
      indexParts: Seq[DataFrame], threshold: Double): (DataFrame, DataFrame) = {
    require(indexParts.nonEmpty, "need at least one index part")
    def atThreshold(counts: DataFrame): DataFrame = counts
      .withColumn("jaccard",
        col("n_common").cast("double") / (col("n_a") + col("n_b") - col("n_common")))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
    // delta vs corpus: every match is a (corpus a, new b) pair
    val joined = indexParts.map { part =>
      part.as("a")
        .join(newIdx.as("b"), col("a.shingle") === col("b.shingle"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          col("a.n_sh").as("n_a"), col("b.n_sh").as("n_b"))
    }.reduce(_ unionByName _)
    val vsCorpus = joined
      .groupBy(col("doc_a"), col("doc_b"), col("n_a"), col("n_b"))
      .agg(count(lit(1)).as("n_common"))
    // delta vs delta: standard a < b inverted-index join
    val within = newIdx.as("a")
      .join(newIdx.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.n_sh").as("n_a"), col("b.n_sh").as("n_b"))
      .agg(count(lit(1)).as("n_common"))
    (atThreshold(vsCorpus), atThreshold(within))
  }

  /** The dedup END PRODUCT: doc_ids that survive exact dedup (keep the
    * min doc_id per content hash) followed by near-dup dedup (keep the
    * cluster representative = min doc_id of each jaccard-connected
    * component). This is the "which rows enter the training corpus"
    * answer a pipeline actually consumes. */
  def keepList(docs: DataFrame, n: Int = 3, threshold: Double = 0.5): DataFrame =
    keepListRaw(docs, n, threshold).orderBy("doc_id")

  /** [[keepList]] without the presentation sort — for pipeline
    * composites that immediately join the keep-list (corpus funnel,
    * training manifest): they re-shuffle by doc_id anyway. */
  private[graft] def keepListRaw(docs: DataFrame, n: Int = 3,
      threshold: Double = 0.5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(md5(col("text")))
    val exactKept = docs
      .withColumn("keep_id", min(col("doc_id")).over(w))
      .filter(col("doc_id") === col("keep_id"))
      .drop("keep_id")
    val labels = clusters(jaccardPairsRaw(exactKept, n, threshold))
    val drops = labels.filter(col("doc_id") =!= col("cluster")).select("doc_id")
    exactKept.select("doc_id")
      .join(drops, Seq("doc_id"), "left_anti")
  }

  /** Per-document duplicate-text rate, the corpus-health metric of
    * Lee et al. 2022 ("Deduplicating Training Data Makes Language
    * Models Better") at word-n-gram granularity: for each document,
    * the share of its distinct n-gram shingles that also occur in at
    * least one OTHER document. A doc with rate 1.0 is pure boilerplate
    * / near-copy; the corpus-level distribution of this rate is what
    * decides how aggressive the dedup pass must be.
    *
    * Scale shape: the inverted index is built once in HASHED shingle
    * space (8-byte keys); document frequency is a hash aggregate with
    * map-side combine (hot boilerplate shingles collapse before the
    * shuffle), and the ≥2-doc shingle set flows into a LEFT SEMI join
    * back against the index — AQE's skew-join splits a viral
    * shingle's probe partition, which a window-count over the index
    * could not. No pair enumeration anywhere: cost is O(index), not
    * O(pairs). */
  def dupNgramRate(docs: DataFrame, n: Int = 3): DataFrame =
    dupNgramRateRaw(docs, n).orderBy("doc_id")

  /** [[dupNgramRate]] without the presentation sort — for composite
    * consumers (the corpus-health dashboard) that aggregate the
    * per-doc rows immediately. */
  private[graft] def dupNgramRateRaw(docs: DataFrame, n: Int = 3): DataFrame = {
    // Scratch dispatch (r10, sf1000 probe ENOSPC — see
    // [[ScratchGuard]]): this operator runs TWO posting-volume
    // exchanges back to back (the df aggregate, then the semi-join of
    // the postings against the shared list) plus the cached shingle
    // table, so its stageFactor is 2.5. Past the budget the shingle
    // domain is processed in sequential groups: within a group the
    // df>=2 list and the per-doc dup-instance counts are EXACT (a
    // shingle's postings never cross groups), and per-doc counts SUM
    // across groups. The grouped path skips the whole-corpus shingle
    // cache (the cache itself is posting-sized — it was part of the
    // ENOSPC) and instead caches each group's (1/G) posting slice for
    // its two consumers, dropping it before the next group.
    val groups = vocabGroupCount(docs, n, stageFactor = 2.5)
    if (groups == 1) {
      // the shingle-set table feeds the index AND the per-doc sizes —
      // cache the tokenize+shingle pass (released by OpCaches.releaseAll)
      val sh = hashedShingleTable(docs, n)
      val inv = sh.select(col("doc_id"), explode(col("shingles")).as("shingle"))
      val shared = inv.groupBy("shingle").agg(count(lit(1)).as("df"))
        .filter(col("df") >= 2L).select("shingle")
      val dup = inv.join(shared, Seq("shingle"), "left_semi")
        .groupBy("doc_id").agg(count(lit(1)).as("n_dup"))
      // per-DOC result (one row per document — tiny at any sf) shared
      // across the three dashboard consumers (dd_dup_ngram_rate,
      // tp_corpus_health, tp_source_health): the df aggregate + semi
      // join behind it is posting-volume work that a report pass
      // computes once per snapshot, not once per report
      return OpCaches.shared("dd.dupRate")(
        sh.select(col("doc_id"), size(col("shingles")).cast("long").as("n_sh"))
          .join(dup, Seq("doc_id"), "left")
          .select(col("doc_id"), col("n_sh"),
            coalesce(col("n_dup"), lit(0L)).as("n_dup"),
            (coalesce(col("n_dup"), lit(0L)).cast("double") / col("n_sh").cast("double"))
              .as("dup_rate")))
    }
    def inv = withHashedShingles(docs, n)
      .select(col("doc_id"), explode(col("shingles")).as("shingle"))
    val dup = ScratchGuard.union(docs.sparkSession, groups) { grp =>
      val invG = grp.pinned(grp.slice(inv, "shingle"))
      val sharedG = invG.groupBy("shingle").agg(count(lit(1)).as("df"))
        .filter(col("df") >= 2L).select("shingle")
      // per-doc partials for THIS group
      invG.join(sharedG, Seq("shingle"), "left_semi")
        .groupBy("doc_id").agg(count(lit(1)).as("n_dup"))
    }.groupBy("doc_id").agg(sum("n_dup").as("n_dup"))
    withHashedShingles(docs, n)
      .select(col("doc_id"), size(col("shingles")).cast("long").as("n_sh"))
      .join(dup, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_sh"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup"),
        (coalesce(col("n_dup"), lit(0L)).cast("double") / col("n_sh").cast("double"))
          .as("dup_rate"))
  }

  /** Near-dup cluster assembly: connected components over a pair list
    * (doc_a < doc_b), labeling every member with the cluster's minimum
    * doc_id — the step that turns pairwise similarity into dedup
    * groups ("keep min, drop the rest").
    *
    * SIZE-ADAPTIVE, same answer on both paths:
    *  - edge count ≤ `maxDriverEdges` (default 2M ≈ 32 MB of longs,
    *    one direction collected — two orders under a default driver
    *    heap): union-find on the driver in one pass. Launching
    *    multi-round shuffle fleets to label few edges is pure
    *    scheduler overhead (measured: ~1.4 s for 256 edges vs ~0.1 s
    *    here; at sf1's 1.1M-edge phash graph the distributed loop
    *    cost ~6.5 s where the collect+union-find costs ~1 s). The
    *    budget is a bounded parameter, NOT proportional to corpus
    *    size; callers at 100 TB with dense pair graphs exceed it and
    *    take the distributed path automatically (the sf10 decade's
    *    113M-edge graph does).
    *  - otherwise: iterative min-label propagation (the simple form of
    *    large/small-star) with path halving. Round 1 is folded into
    *    the init aggregate (min over the closed neighborhood needs no
    *    join). Near-dup clusters have tiny diameters, so rounds ≈ 2-4;
    *    each round is one join + one aggregate on (edge) — at 100 TB
    *    this is the standard CC-on-Spark shape, and the driver only
    *    sees one scalar (the label sum) per round. */
  def clusters(pairs: DataFrame, maxRounds: Int = 20,
      maxDriverEdges: Long = MaxDriverEdges): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    // clusters LABELS ITS INPUT DURING CONSTRUCTION (checkpoint + count
    // + collect), so OpCaches.shared on the returned frame could not
    // dedupe the work across the report rows that re-derive the same
    // pair set (clusters, cluster-stats, keep-list, funnel, manifest):
    // the driver labels (≤ 2·maxDriverEdges by construction) are
    // memoized per report pass instead; the distributed path's frame is
    // never stored
    OpCaches.memo(s"dd.clusters:$maxDriverEdges", pairs)(
        labelled(pairs, maxRounds, maxDriverEdges),
        keep = (_: Either[DataFrame, Seq[(Long, Long)]]).isRight)
      .fold(identity, spark.createDataset(_).toDF("doc_id", "cluster"))
  }

  /** [[clusters]]' labelling: the driver union-find's (doc_id, cluster)
    * pairs, or the frame the distributed path built. */
  private def labelled(pairs: DataFrame, maxRounds: Int,
      maxDriverEdges: Long): Either[DataFrame, Seq[(Long, Long)]] = {
    // localCheckpoint (not cache): iterative self-referencing lineage
    // grows exponentially without truncation — per-round checkpointing
    // is the standard shape for CC/PageRank-style loops (on a cluster:
    // reliable checkpoint dir instead of local blocks).
    // Symmetrize with ONE explode, not union(fwd, reversed(fwd)): the
    // two union branches each re-execute the (often expensive) pairs
    // plan — the sf10 decade probe measured clusters-over-jaccard at
    // 2× the pairs cost from exactly this double scan. explode emits
    // both directions from a single pass of the input.
    val edges = pairs.select(explode(array(
        struct(col("doc_a").as("v"), col("doc_b").as("u")),
        struct(col("doc_b").as("v"), col("doc_a").as("u")))).as("e"))
      .select(col("e.v").as("v"), col("e.u").as("u"))
      .localCheckpoint()
    // edges holds both directions; the budget is in INPUT pairs
    val nPairs = edges.count() / 2
    // only the collect or the loop below reads the edge blocks, never
    // the returned labelling: free them as soon as that reader is done
    def freeEdges(): Unit = org.apache.spark.sql.GraftSqlBridge.unpersistCheckpoint(edges)
    if (nPairs == 0) { // empty labeling with the INPUT's id type preserved
      freeEdges()
      return Left(pairs.select(col("doc_a").as("doc_id"), col("doc_a").as("cluster")).limit(0))
    }
    // the driver codepath decodes ids as Long — any other id type
    // (string fingerprints, int ids) stays on the distributed loop,
    // which is type-agnostic (least/min/join only)
    val longIds = edges.schema.fields.forall(
      _.dataType == org.apache.spark.sql.types.LongType)
    // collect ONE direction only (v <= u keeps self-loop vertices)
    if (longIds && nPairs <= maxDriverEdges) {
      val oneWay = edges.filter(col("v") <= col("u")).collect()
      freeEdges()
      return Right(unionFind(oneWay.map(r => (r.getLong(0), r.getLong(1)))))
    }
    // round 1 as a single aggregate: min over the closed neighborhood
    // is min(v, min(u)) straight off the edge list — no join needed
    var labels = edges.groupBy(col("v"))
      .agg(least(col("v"), min(col("u"))).as("label")).localCheckpoint()
    // Convergence check, type-dispatched:
    //  - NUMERIC ids: labels only ever decrease ⇒ the label sum
    //    strictly decreases iff any label changed — one aggregate per
    //    round (decimal: no overflow at any scale; coalesce to 0 so
    //    an empty frame converges instead of NPE-ing);
    //  - other id types (string fingerprints): sums don't exist, so
    //    probe for any row whose label differs from the previous round
    //    (a join on the checkpointed label frames, LIMIT 1).
    val numericIds =
      edges.schema("v").dataType.isInstanceOf[org.apache.spark.sql.types.NumericType]
    def labelSum(df: org.apache.spark.sql.DataFrame): java.math.BigDecimal =
      df.agg(coalesce(sum(col("label").cast("decimal(38,0)")),
        lit(0).cast("decimal(38,0)"))).collect().head.getDecimal(0)
    def anyChanged(prev: org.apache.spark.sql.DataFrame,
        next: org.apache.spark.sql.DataFrame): Boolean =
      next.join(prev.withColumnRenamed("label", "_prev"), "v")
        .filter(col("label") =!= col("_prev")).limit(1).count() > 0
    var prevSum = if (numericIds) labelSum(labels) else null
    var round = 0
    var changed = 1L
    while (changed > 0 && round < maxRounds) {
      val neighborMin = edges
        .join(labels.withColumnRenamed("v", "u"), "u")
        .groupBy("v").agg(min(col("label")).as("nmin"))
      val stepped = labels.join(neighborMin, Seq("v"), "left")
        .select(col("v"), least(col("label"), coalesce(col("nmin"), col("label"))).as("label"))
      // path halving: jump to the label's own label — turns
      // diameter-many rounds into O(log diameter)
      val next = stepped
        .join(stepped.select(col("v").as("label"), col("label").as("ll")), Seq("label"), "left")
        .select(col("v"), least(col("label"), coalesce(col("ll"), col("label"))).as("label"))
        .localCheckpoint()
      if (numericIds) {
        val s = labelSum(next)
        changed = if (s.compareTo(prevSum) < 0) 1L else 0L
        prevSum = s
      } else changed = if (anyChanged(labels, next)) 1L else 0L
      // r10, caught by the 1e8-edge synthetic probe: every round
      // checkpoints a full label frame, and the PRIOR rounds' blocks
      // (memory-first storage) accumulated to a Java-heap OOM by
      // ~round 10 at 1e8 nodes — GC + ContextCleaner reclaim them too
      // slowly under an active loop. The previous round is dead the
      // moment the convergence check above has read it: free its
      // blocks deterministically, and hand the round's shuffle files
      // to the cleaner.
      org.apache.spark.sql.GraftSqlBridge.unpersistCheckpoint(labels)
      labels = next
      round += 1
      System.gc()
    }
    freeEdges()
    Left(labels.select(col("v").as("doc_id"), col("label").as("cluster"))
      .orderBy("doc_id"))
  }

  /** [[clusters]]' default driver budget: the most edges labelled by
    * [[unionFind]] on the driver (2M ≈ 32 MB of longs). */
  private[graft] val MaxDriverEdges = 2000000L

  /** Driver union-find over an edge list: path compression, and
    * union-by-min keeps the root of every tree at its minimum id, so
    * the final root of a component IS its min-id cluster label.
    * Returns (vertex, label) for every vertex, sorted by vertex. One
    * direction per edge suffices (union-find is symmetric). */
  private[graft] def unionFind(edges: Iterable[(Long, Long)]): Seq[(Long, Long)] = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    parent.keys.toSeq.sorted.map(v => (v, find(v)))
  }

  /** 32-bit SimHash per document: bit j is the sign of the per-token
    * vote sum, where token t votes +1 on bit j iff hex nibble j of
    * md5(t) is ≥ '8' (its high bit), else −1. sign ≥ 0 ⇔
    * 2·(count of +1 votes) ≥ n_tokens — integer-only, portable. */
  def withSimhash(docs: DataFrame): DataFrame =
    spread(docs).withColumn("toks", split(col("text"), " "))
      .withColumn("tokmd5", expr("transform(toks, t -> md5(t))"))
      .withColumn("simhash", {
        import org.apache.spark.sql.GraftSqlBridge
        // native one-pass expression (graft.functions.SimHashExpr);
        // semantically identical to 32 filter()+substring passes but
        // ~10× cheaper — see the expression's scaladoc
        GraftSqlBridge.column(graft.functions.SimHashExpr(
          GraftSqlBridge.expression(col("tokmd5"))))
      })

  /** Per-doc SimHash signatures (the reusable corpus artifact) — the
    * SAME shared core [[simhashPairs]] joins on (identical plan →
    * identical key), so one md5-per-token signature pass per snapshot
    * serves both the signature table and the pair report; values are
    * per-doc deterministic and the presentation sort pins the same
    * doc_id output order the previous sort-first form produced. */
  def simhash(docs: DataFrame): DataFrame =
    OpCaches.shared("dd.simhash")(
        withSimhash(docs).select(col("doc_id"), col("simhash")))
      .orderBy("doc_id")

  /** SimHash near-dup pairs with hamming ≤ maxHamming (≤ 3), blocked
    * by the four 8-bit signature chunks: any pair within hamming 3
    * must agree on at least one chunk, so only chunk-bucket-mates are
    * ever compared. */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3): DataFrame = {
    require(maxHamming <= 3, "4-chunk blocking only guarantees recall for hamming <= 3")
    // the signature table joins itself — one computation, two consumers
    val s = OpCaches.shared("dd.simhash")(
      withSimhash(docs).select(col("doc_id"), col("simhash")))
    val chunks = s.select(col("doc_id"), col("simhash"),
      explode(array((0 until 4).map(c =>
        struct(lit(c).as("chunk"),
          expr(s"shiftright(simhash, ${8 * c}) & 255").as("cval"))): _*)).as("ck"))
      .select(col("doc_id"), col("simhash"),
        col("ck.chunk").as("chunk"), col("ck.cval").as("cval"))
    chunks.as("a").join(chunks.as("b"),
        col("a.chunk") === col("b.chunk") && col("a.cval") === col("b.cval") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        expr("bit_count(a.simhash ^ b.simhash)").cast("int").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
      .orderBy("doc_a", "doc_b")
  }
}
