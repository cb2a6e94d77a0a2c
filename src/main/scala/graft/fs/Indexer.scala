package graft.fs

import java.nio.file.{Files, LinkOption, Paths}
import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Result summary for an indexing run (reference's printed summary +
  * optimization stats, /root/reference/file_indexer/indexer.py:504-529). */
case class IndexRunStats(
    scanned: Long,
    inserted: Long,
    updated: Long,
    unchanged: Long,
    checksummed: Long,
    hashErrors: Long = 0L)

/** Result summary for cleanup (reference's return dict,
  * /root/reference/file_indexer/indexer.py:1028-1291). */
case class CleanupStats(
    totalChecked: Long,
    deletedFiles: Long,
    deletedDirectories: Long)

/** The maintenance / DML pipelines (SURVEY.md §2 G1–G5), re-expressed
  * as distributed dataflow over the snapshot store:
  *
  *  - the reference's batch-of-1000 paging (indexer.py:450-529)
  *    disappears — Spark partitions ARE the batches;
  *  - its keyset cursors (indexer.py:1078-1101) disappear — executors
  *    stream the whole table;
  *  - its ProcessPoolExecutor (indexer.py:355-394) disappears — tasks
  *    are the pool;
  *  - what is PRESERVED is every application-level algorithmic
  *    optimization (SURVEY.md §4): the size-collision prefilter before
  *    hashing, (mtime, size) checksum reuse, directory-first deletion
  *    detection, and bulk existence probing (which in Spark is simply
  *    the diff join).
  *
  * Each step publishes in one pass and counts in one aggregate; a count
  * of what was published is read back from the snapshot just written
  * (single-writer store: it is this step's output, row for row). The
  * caching rule: cache a frame only when it holds live-filesystem reads
  * (scan, hashes, existence checks) that two actions must see alike.
  * Never cache a loaded snapshot — it is immutable, so a re-read agrees.
  */
object Indexer {

  private def now(): Timestamp = new Timestamp(System.currentTimeMillis())

  /** Run `body` over `df` cached, and unpersist it however `body` ends:
    * a failed count or publish must not leave the frame pinned in a
    * long-lived session (`Cli --serve`, the soak mains). */
  private def cached[T](df: DataFrame)(body: DataFrame => T): T = {
    df.cache()
    try body(df) finally df.unpersist()
  }

  /** G5 — full traditional indexing: scan, hash everything eligible,
    * publish. The hash-error count is then exactly the NULLs the
    * snapshot stores (the reference's permission-error counter,
    * indexer.py:41-48). */
  def fullIndex(spark: SparkSession, directory: String, indexRoot: String,
      maxChecksumSize: Long = 104857600L): IndexRunStats = {
    val scanned = FsScan.scanDF(spark, directory)
    IndexStore.publish(ChecksumStage.withChecksums(spark, scanned, maxChecksumSize)
      .withColumn("indexed_at", lit(now())), indexRoot)
    IndexStore.writeMeta(indexRoot, Map(
      "root_path" -> directory, "indexed" -> now().toString))
    val Row(n: Long, nHashed: Long, nErr: Long) = IndexStore.load(spark, indexRoot)
      .agg(count(lit(1)), count(col("checksum")), ChecksumStage.hashErrorCount(maxChecksumSize))
      .head()
    IndexRunStats(n, n, 0, 0, nHashed, nErr)
  }

  /** G3 — incremental re-index with change detection: full-outer diff
    * of the fresh scan against the existing snapshot on the
    * (path, filename) key; unchanged (mtime, size) rows REUSE the
    * stored checksum (the reference's checksum_reuses optimization,
    * indexer.py:294-309); changed/new rows are re-hashed.
    *
    * This one join replaces the reference's per-batch bulk existence
    * probe (B8, indexer.py:228-266) — Spark's join IS the bulk probe.
    * Deleted-on-disk rows are retained (cleanup is a separate pipeline,
    * matching the reference). */
  def incrementalIndex(spark: SparkSession, directory: String, indexRoot: String,
      maxChecksumSize: Long = 104857600L): IndexRunStats = {
    val scanned = FsScan.scanDF(spark, directory)
    val existing = IndexStore.load(spark, indexRoot)
      .select(col("path"), col("filename"),
        col("checksum").as("old_checksum"),
        col("modification_datetime").as("old_mtime"),
        col("file_size").as("old_size"),
        col("indexed_at").as("old_indexed_at"))

    cached(scanned.join(existing, Seq("path", "filename"), "full_outer")) { joined =>
      val unchanged = col("old_mtime").isNotNull &&
        col("modification_datetime") === col("old_mtime") &&
        col("file_size") === col("old_size")
      val deletedOnDisk = col("file_size").isNull // in index, not in scan

      val Row(nUnchanged: Long, nNew: Long, nChanged: Long) = joined.agg(
        count(when(unchanged, lit(1))),
        count(when(col("old_indexed_at").isNull && col("file_size").isNotNull, lit(1))),
        count(when(!deletedOnDisk && col("old_indexed_at").isNotNull && !unchanged, lit(1))))
        .head()

      val keepOld = joined.filter(deletedOnDisk || unchanged)
        .select(col("path"), col("filename"),
          col("old_checksum").as("checksum"),
          coalesce(col("old_mtime"), col("modification_datetime")).as("modification_datetime"),
          coalesce(col("old_size"), col("file_size")).as("file_size"),
          col("old_indexed_at").as("indexed_at"))
      val needHash = joined.filter(!deletedOnDisk && !unchanged)
        .select(col("path"), col("filename"), col("modification_datetime"), col("file_size"))
      cached(ChecksumStage.withChecksums(spark, needHash, maxChecksumSize)
          .withColumn("indexed_at", lit(now()))
          .select("path", "filename", "checksum", "modification_datetime", "file_size",
            "indexed_at")) { hashed =>
        val nErr = ChecksumStage.hashErrors(hashed, maxChecksumSize)
        IndexStore.publish(keepOld.unionByName(hashed), indexRoot)
        IndexRunStats(nUnchanged + nNew + nChanged, nNew, nChanged, nUnchanged,
          nNew + nChanged, hashErrors = nErr)
      }
    }
  }

  /** G4 phase 1 — index everything with checksums forced off (the
    * reference's max_checksum_size = -1 sentinel, indexer.py:1452-1476). */
  def phase1NoChecksums(spark: SparkSession, directory: String, indexRoot: String): IndexRunStats =
    fullIndex(spark, directory, indexRoot, maxChecksumSize = -1L).copy(checksummed = 0)

  /** G4 phase 2 — hash ONLY files whose size collides with another
    * file's AND that lack a checksum (the reference's headline ~95%
    * hash-reduction optimization, indexer.py:1487-1559 +
    * README.md:209-213). Expressed as: size-collision aggregate →
    * broadcast semi join → expensive hash map only on survivors. */
  def phase2SizeCollisions(spark: SparkSession, indexRoot: String,
      maxChecksumSize: Long = 104857600L, skipEmpty: Boolean = true): (Long, Long) = {
    val index = IndexStore.load(spark, indexRoot)
    val base = if (skipEmpty) index.filter(col("file_size") > 0L) else index
    val collidingSizes = base.groupBy("file_size")
      .agg(count(lit(1)).as("n"),
        sum(when(col("checksum").isNull, 1).otherwise(0)).as("nulls"))
      .filter(col("n") > 1 && col("nulls") > 0)
      .select("file_size")
    val needs = base.filter(col("checksum").isNull)
      .join(broadcast(collidingSizes), Seq("file_size"), "left_semi")
      .select("path", "filename", "modification_datetime", "file_size")
    // counts the rows that actually GOT a checksum (a cap can exclude
    // some survivors; it feeds the CLI's hash-reduction stat) and this
    // phase's hash errors
    cached(ChecksumStage.withChecksums(spark, needs, maxChecksumSize)
        .withColumn("indexed_at", lit(now()))
        .select("path", "filename", "checksum", "modification_datetime", "file_size",
          "indexed_at")) { hashed =>
      val Row(nHashed: Long, nErr: Long) =
        hashed.agg(count(col("checksum")), ChecksumStage.hashErrorCount(maxChecksumSize)).head()
      // Join-back update: hashed rows replace their originals (A9 upsert).
      IndexStore.publish(index.unionByName(hashed), indexRoot)
      (nHashed, nErr)
    }
  }

  /** G4 — two-phase indexing orchestrator (indexer.py:1646-1691).
    * Returns (run stats, files hashed in phase 2); the run's
    * hashErrors are phase 2's (phase 1 hashes nothing by design). */
  def twoPhaseIndex(spark: SparkSession, directory: String, indexRoot: String,
      maxChecksumSize: Long = 104857600L): (IndexRunStats, Long) = {
    val p1 = phase1NoChecksums(spark, directory, indexRoot)
    val (nHashed, nErr) = phase2SizeCollisions(spark, indexRoot, maxChecksumSize)
    (p1.copy(hashErrors = nErr), nHashed)
  }

  /** G1 — cleanup deleted files, preserving the reference's
    * directory-first I/O optimization (indexer.py:1129-1205 +
    * README.md:227-241): each DISTINCT directory is existence-checked
    * exactly once (a dead directory kills all child rows with no
    * per-file stat); only files in live directories get a per-file
    * existence check. The final delete is an anti join (SURVEY.md C4).
    *
    * The reference's hierarchical parent-pruning (skip dirs under dead
    * parents, indexer.py:1789-1815) is subsumed: a child of a dead
    * parent fails its own single directory check — still one FS call
    * per distinct directory, never one per file. */
  def cleanupDeletedFiles(spark: SparkSession, indexRoot: String): CleanupStats = {
    import spark.implicits._
    val index = IndexStore.load(spark, indexRoot)
    val total = index.count()

    // Phase 1: one existence check per distinct directory, executor-side.
    cached(index.select("path").distinct().as[String]
        .map(p => (p, Files.isDirectory(Paths.get(p), LinkOption.NOFOLLOW_LINKS)))
        .toDF("path", "dir_alive")) { dirStatus =>
      val deadDirs = dirStatus.filter(!col("dir_alive")).count()

      // Phase 2: per-file existence check only for files in live directories.
      // No broadcast() hint: the live-directory set is corpus-proportional
      // (hundreds of millions of dirs at 100 TB) — a forced broadcast OOMs
      // the driver exactly when the operator matters most. AQE picks
      // broadcast on its own whenever the set is actually small; the
      // semi-join is correct under either strategy.
      val inLive = index.join(dirStatus.filter(col("dir_alive")).select("path"),
        Seq("path"), "left_semi")
      val liveFiles = inLive.select("path", "filename").as[(String, String)]
        .mapPartitions(_.filter { case (p, f) =>
          try Files.exists(Paths.get(p, f), LinkOption.NOFOLLOW_LINKS)
          catch { case _: Exception => true } // permission error ⇒ keep row
        })
        .toDF("path", "filename")

      IndexStore.publish(index.join(liveFiles, Seq("path", "filename"), "left_semi"), indexRoot)
      CleanupStats(total, total - IndexStore.load(spark, indexRoot).count(), deadDirs)
    }
  }

  /** G2 — cleanup rows whose directory vanished (indexer.py:1293-1420):
    * distinct paths → one existence check each → anti join. */
  def cleanupEmptyDirectories(spark: SparkSession, indexRoot: String): CleanupStats = {
    import spark.implicits._
    val index = IndexStore.load(spark, indexRoot)
    val total = index.count()
    cached(index.select("path").distinct().as[String]
        .mapPartitions(_.filter { p =>
          try !Files.isDirectory(Paths.get(p), LinkOption.NOFOLLOW_LINKS)
          catch { case _: Exception => false }
        }).toDF("path")) { dead =>
      val nDead = dead.count()
      // unhinted for the same reason as cleanupDeletedFiles' semi-join:
      // the dead-dir set is unbounded in the worst case (a detached mount
      // kills every directory at once) — AQE broadcasts when it's small
      IndexStore.publish(index.join(dead, Seq("path"), "left_anti"), indexRoot)
      CleanupStats(total, total - IndexStore.load(spark, indexRoot).count(), nDead)
    }
  }
}
