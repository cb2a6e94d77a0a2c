package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.fs.DeltaDirs
import graft.operators.Dedup

/** Continuous near-duplicate deduplication: the streaming form of the
  * batch keep-list (Dedup.keepList), for the 100 TB/day ingest shape
  * where re-running corpus×corpus dedup per day is impossible.
  *
  * Per micro-batch of new documents:
  *  1. load the shingle index of all PREVIOUSLY KEPT docs = compacted
  *     base snapshot ∪ per-batch delta directories (see "index layout");
  *  2. ONE action collects only batch-bounded rows: each new doc that
  *     pairs with a corpus doc outside the batch (once, however many
  *     corpus copies it has), the within-batch pairs, and the batch ids
  *     the index already holds. The pairs come from
  *     [[Dedup.deltaPairSides]] over ONE cached shingle pass, cost
  *     O(delta ⋈ index); the held ids from a semi-join of each index
  *     part's doc_id against the broadcast batch ids, never a distinct
  *     over the whole index;
  *  3. decide on the driver: a new doc is DROPPED if it pairs with any
  *     already-kept corpus doc, or if it isn't the min-id survivor of
  *     its within-batch near-dup cluster (a union-find over the
  *     within-batch pairs) — unless the index already holds it
  *     (kept-wins: decisions are append-only, a published keep is
  *     never revoked);
  *  4. append (doc_id, kept, batch_id) decisions to the output: the
  *     batch left-joined to the broadcast drop list;
  *  5. append the KEPT docs' shingles as `delta-<batchId>`, compacting
  *     all deltas into the base snapshot every `compactEvery` batches.
  *
  * Index layout — per-batch cost must be O(batch), not O(corpus):
  * a full base rewrite per batch would grow without bound, so deltas
  * append and only the periodic compaction touches the whole index.
  * The index is a [[graft.fs.DeltaDirs]] store (`DeltaDirs.dedup`): the
  * compaction watermark (last batch id folded into the base) is
  * published ATOMICALLY with the base snapshot, loads ignore delta
  * dirs ≤ the watermark OF THE BASE THEY READ, and each delta is
  * staged and renamed into place, so no crash point can double-count,
  * lose, or half-read shingles.
  *
  * Crash-replay semantics: a replayed batch whose `delta-<batchId>`
  * already exists (or is already compacted) writes no delta — the
  * published one holds the same kept shingles — and recomputes
  * decisions that are IDENTICAL even against the already-updated
  * index: self-pairs (a replayed kept doc matching its own published
  * shingles) are filtered, and a doc already in the kept corpus is
  * never flipped to dropped. Folded deltas are deleted one compaction
  * later (the store's retirement rule). The decisions parquet
  * itself is at-least-once on replay — downstream consumers dedupe on
  * (doc_id, batch_id), the standard contract for foreachBatch file
  * appends. Exact duplicates across batches are covered by near-dup
  * pairing (identical text ⇒ jaccard 1.0 ≥ threshold).
  */
object DedupStream {

  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))

  val indexSchema: StructType = StructType(Seq(
    StructField("shingle", LongType), StructField("doc_id", LongType),
    StructField("n_sh", LongType)))

  /** Unbounded stream of (doc_id, text) rows from parquet drops.
    * `readOptions` pass through to the file source (e.g.
    * maxFilesPerTrigger to bound per-batch work). */
  def readDocs(spark: SparkSession, stagingDir: String,
      readOptions: Map[String, String] = Map.empty): DataFrame =
    spark.readStream.options(readOptions).schema(docSchema).parquet(stagingDir)

  // ------------------------------------------------- index store (base+delta)

  /** The batch id through which deltas are folded into the CURRENT
    * base snapshot (corrupt meta fails loudly — a silent -1 would
    * double-count folded deltas). Testing/introspection only; the
    * load path reads the watermark from its OWN resolved snapshot. */
  private[streaming] def compactedThrough(stateRoot: String): Long =
    DeltaDirs.dedup(stateRoot).compactedThrough

  /** Deterministic fingerprint of the capped shingle space: the
    * hot-shingle drop list reduced to `count:bitxor:bitxor(xxhash64)`
    * — the third field xors the RE-HASHED shingles (order-free, so any
    * partitioning of the same set agrees; and it breaks the count+xor
    * degeneracy where two distinct equal-size sets xor to the same raw
    * value — e.g. {a,b} vs {a^b^c, c}, which the plain pair collides
    * on but an independent second mix does not, short of an engineered
    * simultaneous 128-bit collision). `"uncapped"` when no
    * cap is in force. Published in the base snapshot meta at every
    * compaction and asserted at stream start — a base built in one
    * shingle space must never be probed or extended in another (mixed
    * capped/uncapped `n_sh` silently skews every jaccard denominator).
    *
    * Compatibility caveat: bases compacted BEFORE the marker existed
    * carry no `cap` entry and read back as legacy-uncapped. A legacy
    * base that was in fact built WITH a cap therefore passes the guard
    * when resumed with `hot = None` — the guard cannot detect it;
    * such bases must be rebuilt (or re-compacted once under the
    * current code, which stamps the marker). Bases stamped with the
    * older `count:xor` two-field form fail the equality check against
    * the three-field form and surface as a loud mismatch, which is
    * the safe direction. */
  private[streaming] def capFingerprint(hot: Option[DataFrame]): String =
    hot match {
      case None => "uncapped"
      case Some(h) =>
        val row = h.agg(count(lit(1)).as("n"),
          expr("bit_xor(shingle)").as("x"),
          expr("bit_xor(xxhash64(shingle))").as("s")).head()
        val n = row.getLong(0)
        val x = if (row.isNullAt(1)) 0L else row.getLong(1)
        val s = if (row.isNullAt(2)) 0L else row.getLong(2)
        s"$n:$x:$s"
    }

  /** Assert the persisted base (if any) was built in the SAME capped
    * shingle space as the cap now being supplied. A base with no
    * marker is legacy-uncapped: compatible only with `hot = None`.
    * Reads the [[graft.fs.IndexManifest]] row — the refusal quotes the
    * exact base entry a `--manifest` listing would show. */
  private[streaming] def requireCapCompatible(stateRoot: String,
      fingerprint: String): Unit =
    graft.fs.IndexManifest.liveBase(
        graft.fs.IndexManifest.dedup(stateRoot), "base")
      .foreach { e =>
        val stored = e.meta.getOrElse("cap", "uncapped")
        if (stored != fingerprint)
          throw new IllegalStateException(
            s"shingle-space mismatch at $stateRoot: base snapshot cap marker " +
              s"'$stored' != supplied '$fingerprint' (manifest row: " +
              s"kind=${e.kind} component=${e.component} path=${e.path} " +
              s"watermark=${e.watermark}) — a base built in one capped " +
              "space cannot be probed/extended in another; rebuild " +
              "the index or supply the matching hotShingles set")
      }

  /** Fail loudly on a pre-hashed-shingle (string-keyed) base: the
    * index format changed from `shingle: string` to `shingle: long`
    * (xxhash64), and force-reading old parquet through the new schema
    * would either throw deep in a batch or — worse — null-coerce the
    * join key and silently keep every duplicate. Checked once per
    * stream start: every base the stream itself publishes is current. */
  private def requireCurrentFormat(spark: SparkSession, stateRoot: String): Unit =
    graft.fs.IndexManifest.liveBase(
        graft.fs.IndexManifest.dedup(stateRoot), "base")
      .foreach { e =>
        val files = Option(new java.io.File(e.path).listFiles())
          .getOrElse(Array.empty).filter(_.getName.endsWith(".parquet"))
        // cheap footer sniff via a throwaway schema inference on ONE file
        files.headOption.foreach { f =>
          val dt = spark.read.parquet(f.getPath).schema
            .find(_.name == "shingle").map(_.dataType)
          if (dt.contains(StringType))
            throw new IllegalStateException(
              s"shingle index at ${e.path} uses the old string-keyed format; " +
                "rebuild the index (hashed int64 shingles) before resuming")
        }
      }

  /** The kept-corpus shingle index in PARTS — head is the compacted
    * base snapshot (bucketed, so the per-batch delta⋈base join never
    * shuffles the corpus side), tail is the live delta dirs; both from
    * one resolution of the base pointer ([[graft.fs.DeltaDirs.parts]]). */
  private[streaming] def loadIndexParts(spark: SparkSession,
      stateRoot: String): Seq[DataFrame] =
    DeltaDirs.dedup(stateRoot).parts(spark, _ => indexSchema)._1

  /** The whole index as one frame (parts unioned) — for consumers that
    * don't join (counts, probes). Joins should use the
    * parts form; a pre-join union erases the base's bucketing. */
  private[streaming] def loadIndex(spark: SparkSession, stateRoot: String): DataFrame =
    loadIndexParts(spark, stateRoot).reduce(_ unionByName _)

  // ------------------------------------------------------------ per-batch step

  /** One micro-batch's keep/drop decisions against the current index
    * (exposed for testing; [[continuousDedup]] drives it). Returns
    * (decisions(doc_id, kept), keptShingleRows, cleanup). The decision
    * itself is made by one action inside this call; both frames read
    * the batch's two caches (its deduplicated docs and their shingles)
    * — call cleanup() after consuming both to drop them (foreachBatch
    * runs unboundedly; leaked cache blocks accumulate). */
  private[streaming] def decideBatch(batch: DataFrame, index: DataFrame,
      n: Int, threshold: Double,
      hotShingles: Option[DataFrame] = None): (DataFrame, DataFrame, () => Unit) =
    decideBatchParts(batch, Seq(index), n, threshold, hotShingles)

  /** [[decideBatch]] with the index in parts (bucketed base + deltas) —
    * the corpus join runs per part (Dedup.deltaPairsFromParts) so the
    * base side's bucketing is not erased by a pre-join union.
    *
    * `hotShingles`: the optional df-capped shingle drop list
    * ([[Dedup.hotShingles]], published once per corpus era). Every
    * batch shingles into the capped space, and because the published
    * index is built from THESE batch rows, base + deltas + probe all
    * stay in one consistent capped space automatically — the streaming
    * twin of [[Dedup.deltaPairsCapped]], bounding a viral shingle's
    * per-batch join fan-out. */
  private[streaming] def decideBatchParts(batch: DataFrame, indexParts: Seq[DataFrame],
      n: Int, threshold: Double,
      hotShingles: Option[DataFrame] = None): (DataFrame, DataFrame, () => Unit) = {
    val spark = batch.sparkSession
    import spark.implicits._
    // cached: the drop-list collect AND the decisions write read it
    val newDocs = batch.select(col("doc_id"), col("text"))
      .filter(col("doc_id").isNotNull) // a null id can't be deduplicated or keyed
      // deterministic pick when a batch carries the same doc_id with
      // different text (dropDuplicates picks an arbitrary row — a crash
      // replay could pick a DIFFERENT one and break the "replay
      // decisions are identical" contract): keep the max text
      .groupBy("doc_id").agg(max(col("text")).as("text"))
      .cache()
    // ONE tokenize+shingle pass feeds both the pair join and the kept-
    // shingle fold-in (capped-space when a hot list is published);
    // cached: the drop-list collect AND the kept-shingle append read it
    val newIdx = hotShingles
      .map(h => Dedup.shingleIndexCapped(newDocs, n, h))
      .getOrElse(Dedup.shingleIndex(newDocs, n))
      .cache()
    val cleanup = () => { newDocs.unpersist(); newIdx.unpersist(); () }
    val drops =
      try batchDrops(newDocs, newIdx, indexParts, threshold)
      catch { case e: Throwable => cleanup(); throw e }
    val dropList = broadcast(drops.toSeq.toDF("doc_id"))
    val decisions = newDocs
      .join(dropList.withColumn("_drop", lit(true)), Seq("doc_id"), "left")
      .select(col("doc_id"), col("_drop").isNull.as("kept"))
    val keptShingles = newIdx.join(dropList, Seq("doc_id"), "left_anti")
      .select("shingle", "doc_id", "n_sh")
    (decisions, keptShingles, cleanup)
  }

  // row kinds of the drop-list collect
  private val Hit = 0     // a: a batch doc pairing with a corpus doc outside the batch
  private val Edge = 1    // (a, b): a within-batch pair
  private val Indexed = 2 // a: a batch doc already in the index

  /** The batch's drop list, decided on the driver from ONE action whose
    * rows are all batch-bounded: one [[Hit]] row per new doc that pairs
    * with a corpus doc outside the batch (a doc with 1,000 corpus
    * near-copies still yields one row), the within-batch [[Edge]]s
    * (new–new pairs, plus corpus pairs whose corpus doc is itself a
    * batch doc), and the batch ids already [[Indexed]] — a semi-join of
    * each part's `doc_id` against the broadcast batch ids, never a
    * distinct over the whole index. Drops = hits ∪ the non-min members
    * of the within-batch clusters, minus the indexed ids (kept-wins: a
    * doc already in the kept corpus, i.e. a replay of a published
    * batch, is never flipped to dropped).
    *
    * The collect is capped at [[Dedup.MaxDriverEdges]] rows, the
    * driver budget of [[Dedup.clusters]]; a batch over it is labelled
    * by the distributed path of [[Dedup.clusters]] instead, and only
    * its batch-bounded id lists come back. */
  private def batchDrops(newDocs: DataFrame, newIdx: DataFrame,
      indexParts: Seq[DataFrame], threshold: Double): Set[Long] = {
    // the SMALL, bounded batch id set is broadcast (broadcasting the
    // ever-growing corpus id set would eventually exceed any limit)
    val ids = broadcast(newDocs.select(col("doc_id").as("_id")))
    val (vsCorpus, within) = Dedup.deltaPairSides(newIdx, indexParts, threshold)
    val outside = col("_id").isNull // the pair's corpus doc is not a batch doc
    val corpusRows = vsCorpus
      // replay guard: after a successful index publish, a replayed kept
      // doc matches its OWN corpus entry at jaccard 1.0 — not a dup
      .filter(col("doc_a") =!= col("doc_b"))
      .join(ids, col("doc_a") === col("_id"), "left")
      .select(when(outside, Hit).otherwise(Edge).as("kind"),
        when(outside, col("doc_b")).otherwise(least(col("doc_a"), col("doc_b"))).as("a"),
        when(outside, col("doc_b")).otherwise(greatest(col("doc_a"), col("doc_b"))).as("b"))
    val indexedRows = indexParts
      .map(_.select("doc_id").join(ids, col("doc_id") === col("_id"), "left_semi"))
      .reduce(_ unionByName _)
      .select(lit(Indexed).as("kind"), col("doc_id").as("a"), col("doc_id").as("b"))
    val rows = corpusRows
      .unionByName(within.select(lit(Edge).as("kind"), col("doc_a").as("a"),
        col("doc_b").as("b")))
      .unionByName(indexedRows)
      .distinct()
    val got = rows.limit(Dedup.MaxDriverEdges.toInt + 1).collect()
    def ofKind(rs: Array[Row], k: Int): Array[Long] =
      rs.filter(_.getInt(0) == k).map(_.getLong(1))
    val (idRows, clusterDrops) =
      if (got.length <= Dedup.MaxDriverEdges) {
        val edges = got.filter(_.getInt(0) == Edge).map(r => (r.getLong(1), r.getLong(2)))
        (got, Dedup.unionFind(edges).collect { case (v, root) if v != root => v })
      } else ( // over the driver budget (a batch of ~1M docs or a dense one)
        rows.filter(col("kind") =!= Edge).collect(),
        Dedup.clusters(rows.filter(col("kind") === Edge)
            .select(col("a").as("doc_a"), col("b").as("doc_b")))
          .filter(col("doc_id") =!= col("cluster")).select("doc_id")
          .collect().map(_.getLong(0)).toSeq)
    (ofKind(idRows, Hit).toSet ++ clusterDrops) -- ofKind(idRows, Indexed)
  }

  /** Production COLD START: publish the compacted bucketed base
    * directly from a raw already-kept corpus, so the very first
    * streaming batch probes a bucketed snapshot instead of paying the
    * one-scan bootstrap cache per batch ([[Dedup
    * .deltaPairsCappedOneScan]]'s shape is for the ad-hoc batch job;
    * a STREAM against a big corpus derives the index once, here).
    * The base carries watermark -1 (no deltas folded) and the cap
    * fingerprint of `hotShingles`, so [[continuousDedup]]'s
    * compatibility guard accepts exactly the same capped space it
    * was built in. One posting-volume shuffle (the bucket write);
    * afterwards every batch bucket-joins the base without shuffling
    * the corpus side — the O(delta) per-batch contract. */
  def bootstrapBase(spark: SparkSession, keptDocs: DataFrame, stateRoot: String,
      n: Int = 3, numBuckets: Int = 16,
      hotShingles: Option[DataFrame] = None): Unit = {
    val idx = hotShingles match {
      case Some(hot) => Dedup.shingleIndexCapped(keptDocs, n, hot)
      case None => Dedup.shingleIndex(keptDocs, n)
    }
    DeltaDirs.dedup(stateRoot).rebuild(idx.dropDuplicates("shingle", "doc_id"),
      bucketCol = "shingle", numBuckets = numBuckets,
      meta = Map("cap" -> capFingerprint(hotShingles)))
  }

  /** Start continuously deduplicating a document stream. Decisions
    * land as parquet appends in `outDir`; the kept-corpus shingle
    * index lives under `stateRoot` as base snapshot + per-batch deltas,
    * compacted every `compactEvery` batches. Compaction publishes the
    * base BUCKETED by shingle into `numBuckets` buckets, so the
    * dominant per-batch cost — delta ⋈ base — never shuffles the
    * corpus side (on a cluster, size numBuckets to executors × cores;
    * re-bucketing happens only at compaction, which already rewrites
    * the base).
    *
    * A state root is resumed only with its OWN checkpoint: batch ids
    * key the deltas, so with a fresh checkpoint (ids restarting at 0)
    * every batch id at or below the state's compaction watermark, or
    * equal to a live delta's, is taken as a replay — its decisions
    * are written, but the docs it keeps are never indexed, and later
    * batches do not dedup against them. Start a new state root with a
    * new checkpoint. */
  def continuousDedup(spark: SparkSession, stagingDir: String, stateRoot: String,
      outDir: String, checkpointDir: String, n: Int = 3, threshold: Double = 0.5,
      trigger: Trigger = Trigger.AvailableNow(), compactEvery: Long = 16L,
      numBuckets: Int = 16, readOptions: Map[String, String] = Map.empty,
      hotShingles: Option[DataFrame] = None): StreamingQuery = {
    // once per stream start: the existing base (if any) must be in the
    // current format and the supplied cap's shingle space; the
    // fingerprint also stamps every compaction below
    requireCurrentFormat(spark, stateRoot)
    val capMark = capFingerprint(hotShingles)
    requireCapCompatible(stateRoot, capMark)
    val store = DeltaDirs.dedup(stateRoot)
    readDocs(spark, stagingDir, readOptions).writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val s = batch.sparkSession
        val (decisions, keptShingles, cleanup) =
          decideBatchParts(batch, loadIndexParts(s, stateRoot), n, threshold, hotShingles)
        try {
          decisions.withColumn("batch_id", lit(batchId))
            .write.mode("append").parquet(outDir)
          // O(batch) per-batch write; a replay finds its delta and skips it
          store.append(keptShingles, Some(batchId))
          if (compactEvery > 0 && batchId % compactEvery == compactEvery - 1)
            // periodic O(corpus) fold of the live deltas into the base
            store.compact(s, _ => indexSchema, bucketCol = "shingle", Some(numBuckets),
              meta = _ => Map("cap" -> capMark),
              fold = _.dropDuplicates("shingle", "doc_id"))
        } finally cleanup()
      }
      .start()
  }
}
