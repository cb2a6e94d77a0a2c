package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.Jsons.{quote => q}
import graft.Probes.{dirBytes, emit, r2, timed}
import graft.operators.Dedup

/** Decade-scale run of the STREAMING dedup twin — the §3a honest
  * boundary: the production answer to the one-scan capped bootstrap is
  * the persisted bucketed base, asserted for rounds but never executed
  * at the 50M-doc decade. This probe runs it for real on a ScaleUp
  * directory:
  *
  *  1. split docs by id: base corpus (kept, already deduped by
  *     assumption) vs a delta series (the daily-ingest stream);
  *  2. derive the hot-shingle cap from the base and
  *     [[DedupStream.bootstrapBase]] the capped BUCKETED index —
  *     the cold-start path, one posting-volume shuffle;
  *  3. stream the delta series (one parquet file per micro-batch,
  *     `maxFilesPerTrigger=1`) through [[DedupStream.continuousDedup]]
  *     with mid-stream compaction;
  *  4. verify: recompute the FIRST and LAST batches' decisions with
  *     the batch twin ([[DedupStream.decideBatchParts]] against a
  *     recomputed index of exactly the docs that were kept at that
  *     point) — the sets must match row-for-row;
  *  5. emit one JSON line per phase (wall, scratch high-water, state
  *     size, per-batch decision counts).
  *
  * Usage: runMain graft.streaming.StreamDecadeProbe <dataDir> <workDir>
  *   [nBatches] — e.g. target/sf1000 target/streams/sdp 5
  */
object StreamDecadeProbe {
  def main(args: Array[String]): Unit = {
    val dataDir = args.headOption.getOrElse("target/sf1000")
    // absolute: Spark's saveAsTable(path=...) resolves a RELATIVE path
    // against the warehouse dir, java.nio against the CWD — the
    // bucketed publish and its _snapmeta must agree on one location
    val workDir = new java.io.File(args.lift(1).getOrElse("target/streams/sdp"))
      .getAbsolutePath
    val nBatches = args.lift(2).map(_.toInt).getOrElse(5)
    val spark = graft.GraftSession.local("graft-stream-decade-probe")

    val staging = s"$workDir/staging"
    val stateRoot = s"$workDir/state"
    val outDir = s"$workDir/decisions"
    val ckpt = s"$workDir/ckpt"
    graft.fs.SnapshotDir.deleteRecursively(java.nio.file.Paths.get(workDir))

    val peakScratch = graft.Probes.scratchPeak(spark)

    val docs = spark.read.parquet(s"$dataDir/documents.parquet")
      .select("doc_id", "text")
    // base = kept corpus (ids ≡ 1,2,3 mod 10), deltas = ids ≡ 0 mod 10,
    // batched by replica stripe — same replica's near-dups span both
    // sides (ScaleUp vocabularies are per-replica disjoint, so pairs
    // only ever form within a replica; the %10 split cuts across it)
    // GRAFT_SDP_BASE_MODS: how many of the ten id-residue stripes form
    // the base corpus (scratch sizing: each stripe ≈ corpus/10 of
    // posting volume through the bootstrap publish's two exchanges)
    val nBaseMods = sys.env.getOrElse("GRAFT_SDP_BASE_MODS", "3").toInt
    val baseDocs = docs.filter(col("doc_id") % 10 >= 1 && col("doc_id") % 10 <= nBaseMods)
    val deltaDocs = docs.filter(col("doc_id") % 10 === 0)
      .withColumn("batch", expr(s"pmod(doc_id div 10, $nBatches)"))
    val nBase = baseDocs.count()
    val nDelta = deltaDocs.count()
    emit("phase" -> q("split"), "n_base" -> nBase.toString,
      "n_delta" -> nDelta.toString, "n_batches" -> nBatches.toString)

    // hot cap from the base corpus (df > 1000): the published drop
    // list every batch shingles into
    val (hot, tHot) = timed {
      val h = Dedup.hotShingles(baseDocs, n = 3, cap = 1000L).localCheckpoint()
      h.count()
      h
    }
    graft.operators.OpCaches.releaseAll()
    emit("phase" -> q("hot_set"), "wall_sec" -> r2(tHot),
      "n_hot" -> hot.count().toString,
      "scratch_peak_gb" -> r2(peakScratch() / 1e9))

    // cold-start: capped bucketed base, ONE posting-volume shuffle
    val (_, tBoot) = timed {
      DedupStream.bootstrapBase(spark, baseDocs, stateRoot,
        n = 3, numBuckets = 32, hotShingles = Some(hot))
    }
    graft.operators.OpCaches.releaseAll()
    emit("phase" -> q("bootstrap_base"), "wall_sec" -> r2(tBoot),
      "base_gb" -> r2(dirBytes(stateRoot) / 1e9),
      "scratch_peak_gb" -> r2(peakScratch() / 1e9))

    // delta series, the daily-ingest shape: stage one drop, run the
    // stream to AvailableNow, repeat — the shared checkpoint carries
    // batch ids forward, and compaction fires mid-series so the fold
    // runs at full index size
    var tStream = 0.0
    (0 until nBatches).foreach { b =>
      val (_, tStage) = timed {
        deltaDocs.filter(col("batch") === b).select("doc_id", "text")
          .coalesce(1).write.mode("append").parquet(staging)
      }
      val (_, tRun) = timed {
        val query = DedupStream.continuousDedup(spark, staging, stateRoot,
          outDir, ckpt, n = 3, threshold = 0.5,
          trigger = Trigger.AvailableNow(), compactEvery = 3L, numBuckets = 32,
          hotShingles = Some(hot))
        query.awaitTermination()
      }
      tStream += tRun
      graft.operators.OpCaches.releaseAll()
      emit("phase" -> q("ingest"), "drop" -> b.toString,
        "stage_sec" -> r2(tStage), "run_sec" -> r2(tRun),
        "state_gb" -> r2(dirBytes(stateRoot) / 1e9),
        "scratch_peak_gb" -> r2(peakScratch() / 1e9))
    }
    val decisions = spark.read.parquet(outDir)
    val perBatch = decisions.groupBy("batch_id")
      .agg(count(lit(1)).as("n"), sum(when(col("kept"), 1L).otherwise(0L)).as("kept"))
      .orderBy("batch_id").collect()
    perBatch.foreach { r =>
      emit("phase" -> q("batch"), "batch_id" -> r.getLong(0).toString,
        "n_docs" -> r.getLong(1).toString, "kept" -> r.getLong(2).toString)
    }
    emit("phase" -> q("stream"), "wall_sec" -> r2(tStream),
      "state_gb" -> r2(dirBytes(stateRoot) / 1e9),
      graft.fs.DeltaDirs.WatermarkKey -> DedupStream.compactedThrough(stateRoot).toString,
      "scratch_peak_gb" -> r2(peakScratch() / 1e9))

    // ---- batch-twin verification ----------------------------------
    // recompute a batch's decisions against an index of exactly the
    // docs kept when it ran, and diff against the stream's output
    def verifyBatch(batchId: Long): Unit = {
      // the stream's file→batch order is not ours to assume: take the
      // batch's doc set from its own decisions and join back for text
      val batchDocs = docs.join(
        decisions.filter(col("batch_id") === batchId).select("doc_id"),
        Seq("doc_id"), "left_semi")
      val keptBefore = decisions
        .filter(col("batch_id") < batchId && col("kept"))
        .select("doc_id")
      val corpusDocs = baseDocs.unionByName(
        docs.join(keptBefore, Seq("doc_id"), "left_semi"))
      val idx = Dedup.shingleIndexCapped(corpusDocs, n = 3, hot)
      val (twin, _, cleanup) = DedupStream.decideBatchParts(
        batchDocs, Seq(idx), n = 3, threshold = 0.5, Some(hot))
      try {
        val streamed = decisions.filter(col("batch_id") === batchId)
          .select("doc_id", "kept")
        val onlyTwin = twin.select("doc_id", "kept").except(streamed).count()
        val onlyStream = streamed.except(twin.select("doc_id", "kept")).count()
        emit("phase" -> q("verify"), "batch_id" -> batchId.toString,
          "twin_only" -> onlyTwin.toString, "stream_only" -> onlyStream.toString,
          "ok" -> (onlyTwin == 0 && onlyStream == 0).toString)
        if (onlyTwin != 0 || onlyStream != 0)
          throw new IllegalStateException(
            s"batch $batchId twin mismatch: $onlyTwin/$onlyStream")
      } finally cleanup()
      graft.operators.OpCaches.releaseAll()
    }
    val batchIds = perBatch.map(_.getLong(0))
    verifyBatch(batchIds.min)
    verifyBatch(batchIds.max)

    emit("phase" -> q("done"), "scratch_peak_gb" -> r2(peakScratch() / 1e9))
    spark.stop()
  }
}
