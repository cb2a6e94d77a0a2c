package graft.fs

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}

/** The schema-agnostic manifest-pointer snapshot protocol shared by
  * every persistent state directory in the engine (the file index —
  * [[IndexStore]] — and the base of every [[DeltaDirs]] store): data is
  * written to an immutable `<root>/snap-<nonce>/`, then the single
  * `<root>/CURRENT` pointer file is replaced with one ATOMIC_MOVE.
  * Readers resolve CURRENT → directory, so they always see either the
  * old or the new complete snapshot. Single-WRITER by contract;
  * readers are always safe. The superseded snapshot is RETIRED into a
  * grace-window ledger rather than deleted at the flip, so a reader
  * that resolved the old pointer finishes against intact files (see
  * the retention block below); crash-orphaned snapshots that existed
  * before a publish began are swept after its pointer flip (anything
  * created later belongs to an overlapping publish and is never
  * touched).
  */
object SnapshotDir {

  private def pointerFile(root: String) = Paths.get(s"$root/CURRENT")

  // ------------------------------------------- retired-snapshot grace
  // A publish RETIRES the previous snapshot instead of deleting it: the
  // name goes into the `<root>/.retired` ledger with its retirement
  // time, and the files stay on disk until EITHER the grace window
  // elapses OR more than `maxRetained` snapshots are pending (oldest
  // deleted first) WHILE the root filesystem is past `capPressurePct`
  // used. The cap deferring to grace under normal disk is deliberate:
  // an already-built DataFrame (a serving layer holding a resolved
  // frame across requests) survives a BURST of >maxRetained publishes
  // for the full grace window — the one-retry stale-read guard in
  // AnnIndex/IvfIndex only covers construction-time resolution, so a
  // cap that beat grace unconditionally could reap a frame's base
  // mid-collect with no retry (r12 advice). Under genuine disk
  // pressure the cap wins — availability of the WRITER (not ENOSPC)
  // beats an in-flight reader's grace. An in-flight reader that
  // resolved the old pointer moments before a flip (the ANN serving
  // soak's compaction race) finishes against intact files instead of
  // erroring; debris is bounded by grace-window-per-publish-rate under
  // normal disk and by maxRetained under pressure, swept by each
  // subsequent publish's GC. Knobs are JVM system properties
  // (SnapshotDir is session-free code; suites run sequentially in the
  // test JVM).

  private[fs] def retainGraceMs: Long =
    sys.props.get("graft.snap.retainGraceMs").flatMap(_.toLongOption).getOrElse(120000L)
  private[fs] def maxRetained: Int =
    sys.props.get("graft.snap.maxRetained").flatMap(_.toIntOption).getOrElse(2)
  // used% at/above which the maxRetained cap overrides the grace
  // window; 0 = cap always binds (pre-r13 semantics), >100 = never
  private[fs] def capPressurePct: Int =
    sys.props.get("graft.snap.capPressurePct").flatMap(_.toIntOption).getOrElse(75)

  /** df-style used fraction (used/(used+avail)) of the fs holding
    * `root` — matches the figure the probes record; usable/total would
    * overstate on thin-provisioned roots. Unreadable → 100 (treat an
    * unprobeable disk as pressured: degrade toward deletion, not
    * toward unbounded debris). */
  private def usedPct(root: String): Int = {
    val f = new java.io.File(root)
    val used = f.getTotalSpace - f.getFreeSpace
    val denom = used + f.getUsableSpace
    if (denom <= 0) 100 else (used * 100 / denom).toInt
  }

  private def ledgerFile(root: String) = Paths.get(s"$root/.retired")

  /** The retired-snapshot ledger: (snapName, retiredAtMillis), oldest
    * first. Junk lines are skipped per-entry (a corrupt ledger must
    * degrade to "retire sooner", never to a crash or a leak). */
  private[fs] def retiredLedger(root: String): Seq[(String, Long)] = {
    val p = ledgerFile(root)
    if (!Files.exists(p)) Seq.empty
    else Files.readAllLines(p).toArray(Array.empty[String]).toSeq
      .flatMap { line =>
        val i = line.lastIndexOf('=')
        if (i <= 0) None
        else line.substring(i + 1).toLongOption.map(t => line.substring(0, i) -> t)
      }.sortBy(_._2)
  }

  private def writeLedger(root: String, entries: Seq[(String, Long)]): Unit = {
    val tmp = Paths.get(s"$root/.retired-tmp-${System.nanoTime()}")
    Files.writeString(tmp,
      entries.map { case (n, t) => s"$n=$t" }.mkString("\n"))
    Files.move(tmp, ledgerFile(root),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  /** Delete retired snapshots past the grace window or beyond the
    * retained-count cap (oldest first), and self-heal ledger entries
    * whose directory is already gone. Runs inside every publish;
    * callable directly for explicit maintenance. */
  private[graft] def gcRetired(root: String,
      now: Long = System.currentTimeMillis()): Unit = {
    val entries = retiredLedger(root)
    if (entries.isEmpty) return
    // the count cap binds only under disk pressure (see the retention
    // block above); within grace and under normal disk, a publish
    // burst must not reap a reader's resolved base
    val capBinds =
      entries.length > maxRetained && usedPct(root) >= capPressurePct
    val cut = entries.length - maxRetained
    // inclusive: grace 0 must mean delete-at-flip even when GC runs in
    // the retirement's own millisecond (it no longer rides the cap,
    // which defers to grace under normal disk)
    val (drop, keep) = entries.zipWithIndex.partition { case ((name, t), i) =>
      (now - t) >= retainGraceMs || (capBinds && i < cut) ||
        !Files.exists(Paths.get(s"$root/$name"))
    }
    drop.foreach { case ((name, _), _) =>
      // per-entry guard: an undeletable dir is dropped from the ledger
      // anyway — the next publish's orphan sweep retries it
      try deleteRecursively(Paths.get(s"$root/$name"))
      catch { case scala.util.control.NonFatal(_) => () }
    }
    writeLedger(root, keep.map(_._1))
  }

  /** True iff `t`'s cause chain is a missing-file error — the signature
    * of a read whose resolved snapshot was retired past its grace
    * window (or of a resolve that straddled a GC). */
  def isStaleSnapshotRead(t: Throwable): Boolean = {
    var c: Throwable = t
    var depth = 0
    while (c != null && depth < 16) {
      c match {
        case _: java.io.FileNotFoundException => return true
        case _: java.nio.file.NoSuchFileException => return true
        case _ =>
          // Spark wraps scan-time file loss in SparkException / analysis
          // errors whose message names the missing path
          val m = c.getMessage
          if (m != null && (m.contains("FileNotFoundException") ||
              m.contains("PATH_NOT_FOUND") || m.contains("does not exist")))
            return true
      }
      c = c.getCause; depth += 1
    }
    false
  }

  // process-lifetime count of stale-read retries that FIRED — a retry
  // that silently masks rising churn (doubling probe latency during
  // compaction flips) must be visible in soak artifacts, not only in
  // failure counts
  private val staleRetriesFired = new java.util.concurrent.atomic.AtomicLong(0)
  def staleRetryCount: Long = staleRetriesFired.get()

  /** Run `body` — which must RE-RESOLVE the snapshot pointer on each
    * attempt — retrying ONCE iff the failure looks like a retired-
    * snapshot read. The one-retry bound keeps a genuinely missing root
    * loud (the second failure propagates). Fired retries are counted
    * in [[staleRetryCount]]. */
  def retryingStaleRead[T](body: => T): T =
    try body
    catch {
      case scala.util.control.NonFatal(e) if isStaleSnapshotRead(e) =>
        staleRetriesFired.incrementAndGet()
        body
    }

  /** Resolve the published snapshot directory, if any. */
  def currentDir(root: String): Option[String] = {
    val p = pointerFile(root)
    if (!Files.exists(p)) None
    else Some(s"$root/${Files.readString(p).trim}")
  }

  def exists(root: String): Boolean =
    currentDir(root).exists(d => Files.exists(Paths.get(d)))

  /** Load the published snapshot; empty DF with `schema` when none
    * has been published yet. A published snapshot reads with the
    * schema it was written with (see [[readPlain]]), never with
    * `schema`, so its column types are the writer's. */
  def load(spark: SparkSession, root: String, schema: StructType): DataFrame =
    currentDir(root).filter(d => Files.exists(Paths.get(d))) match {
      case Some(d) => readPlain(spark, d)
      case None =>
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    }

  /** The schema [[publish]] wrote, recorded as JSON inside the snap dir
    * (underscore-prefixed, so parquet readers skip it; apart from
    * `_snapmeta`, so the meta map and [[IndexManifest]] are unchanged). */
  private[fs] val SchemaFile = "_schema"

  /** The schema recorded in `snapDir`, if the snapshot has one
    * (snapshots written before the record existed do not). */
  private[fs] def recordedSchema(snapDir: String): Option[StructType] = {
    val p = Paths.get(s"$snapDir/$SchemaFile")
    if (!Files.exists(p)) None
    else Some(DataType.fromJson(Files.readString(p)).asInstanceOf[StructType])
  }

  /** Plain parquet read of a resolved snap dir. With a recorded schema
    * the read skips parquet schema inference, a footer-reading Spark
    * job per load; without one it infers, so older snapshots stay
    * readable. */
  private def readPlain(spark: SparkSession, snapDir: String): DataFrame =
    recordedSchema(snapDir) match {
      case Some(s) => spark.read.schema(s).parquet(snapDir)
      case None => spark.read.parquet(snapDir)
    }

  /** Metadata published ATOMICALLY with a snapshot (it lives inside
    * the snap dir, so the pointer flip switches data and meta as one
    * unit — e.g. the streaming dedup compaction watermark, which must
    * never be observed ahead of or behind the base it describes).
    * An ABSENT meta file → empty map (a snapshot legitimately without
    * meta); an UNREADABLE one throws — meta guards correctness
    * decisions, and state corruption must fail loudly rather than
    * silently degrade. The file is underscore-prefixed so parquet
    * readers treat it as hidden.
    *
    * Readers that also load the snapshot's DATA must resolve the
    * pointer ONCE ([[currentDir]]) and pass the resolved dir to
    * [[metaAt]] — re-resolving for the meta can pair one snapshot's
    * data with a successor's meta if a publish lands in between. */
  def loadMeta(root: String): Map[String, String] =
    currentDir(root).map(metaAt).getOrElse(Map.empty)

  /** [[loadMeta]] for an already-resolved snapshot directory. */
  def metaAt(snapDir: String): Map[String, String] = {
    val p = Paths.get(s"$snapDir/_snapmeta")
    if (!Files.exists(p)) Map.empty
    else Files.readAllLines(p).toArray(Array.empty[String]).toSeq
      .filter(_.contains('=')).map { line =>
        val i = line.indexOf('=')
        line.substring(0, i) -> line.substring(i + 1)
      }.toMap
  }

  /** Snapshot-meta keys recording a bucketed layout (see
    * [[publishBucketed]]); [[readAt]] re-exposes such snapshots through
    * the catalog so joins on the bucket column skip the Exchange. */
  private[fs] val BucketColKey = "bucket_col"
  private[fs] val BucketNKey = "bucket_n"

  /** Publish `df` as the new snapshot: parquet to snap-<nonce>, atomic
    * pointer flip, then grace-ledger retirement of the previous
    * snapshot and best-effort sweep of pre-existing crash orphans.
    * `meta` and the written schema ([[recordedSchema]]) go inside the
    * snap dir BEFORE the flip (see [[loadMeta]]). */
  def publish(df: DataFrame, root: String, meta: Map[String, String] = Map.empty): Unit =
    publishWith(root, meta) { dir =>
      df.write.mode("overwrite").parquet(dir)
      Files.writeString(Paths.get(s"$dir/$SchemaFile"), df.schema.json)
    }

  /** Publish `df` hash-bucketed (+ sorted) on `bucketCol`. Spark's
    * bucketing is TABLE metadata, not file metadata, so the snapshot is
    * written through the catalog — an external table at the snap dir
    * whose entry is dropped right after the write (external drop keeps
    * files); the bucket spec is recorded in the snapshot meta and
    * [[readAt]] re-registers a reader table over whichever snapshot the
    * pointer resolves to. Equi-joins against the bucket column then see
    * HashPartitioning on the snapshot side and DON'T shuffle it — the
    * co-located-join layout for a 100 TB corpus index that a small
    * delta joins every batch. */
  def publishBucketed(df: DataFrame, root: String, bucketCol: String,
      numBuckets: Int, meta: Map[String, String] = Map.empty): Unit = {
    val spark = df.sparkSession
    publishWith(root,
      meta ++ Map(BucketColKey -> bucketCol, BucketNKey -> numBuckets.toString)) { dir =>
      val tmp = s"graft_snap_pub_${System.nanoTime()}"
      df.write.mode("overwrite")
        .bucketBy(numBuckets, bucketCol).sortBy(bucketCol)
        .option("path", dir).saveAsTable(tmp)
      spark.sql(s"DROP TABLE `$tmp`") // external table: the files stay
    }
    dropStaleReaderTables(spark)
  }

  /** Read an already-RESOLVED snapshot dir, honoring a bucketed layout
    * when its meta declares one: the data is exposed through a catalog
    * table (deterministically named per snapshot, created once) so the
    * bucketing survives into query plans. Plain snapshots read as
    * plain parquet with their recorded schema (see [[readPlain]]);
    * `schema` declares the bucketed reader table's columns only. */
  def readAt(spark: SparkSession, dir: String, schema: StructType): DataFrame = {
    val meta = metaAt(dir)
    (meta.get(BucketColKey), meta.get(BucketNKey).flatMap(_.toIntOption)) match {
      case (Some(bcol), Some(n)) =>
        val snapName = Paths.get(dir).getFileName.toString
        val tableName =
          s"graft_snap_${snapName.filter(_.isDigit)}_${Integer.toHexString(dir.hashCode)}"
        if (!spark.catalog.tableExists(tableName)) {
          val cols = schema.fields
            .map(f => s"`${f.name}` ${f.dataType.sql}").mkString(", ")
          // IF NOT EXISTS: two concurrent loads of the same snapshot may
          // both miss the tableExists fast path — idempotent create
          spark.sql(
            s"""CREATE TABLE IF NOT EXISTS `$tableName` ($cols) USING PARQUET
               |CLUSTERED BY (`$bcol`) SORTED BY (`$bcol`) INTO $n BUCKETS
               |LOCATION '$dir'""".stripMargin)
        }
        spark.table(tableName)
      case _ => readPlain(spark, dir)
    }
  }

  /** Drop reader tables whose snapshot dir has been retired (the table
    * entry is metadata only — external, so dropping never touches
    * data). Best-effort hygiene so long-running sessions don't
    * accumulate dead catalog entries. */
  private def dropStaleReaderTables(spark: SparkSession): Unit =
    try {
      spark.catalog.listTables().collect()
        .filter(_.name.startsWith("graft_snap_"))
        .filterNot(_.name.startsWith("graft_snap_pub_"))
        .foreach { t =>
          val loc = try {
            spark.sql(s"DESCRIBE TABLE EXTENDED `${t.name}`").collect()
              .find(_.getString(0) == "Location").map(_.getString(1))
          } catch { case scala.util.control.NonFatal(_) => None }
          // only a LOCAL location can be probed with java.nio — a
          // cluster URI (hdfs://, s3a://) would always look absent and
          // we'd drop the LIVE reader table right after every publish.
          // Non-local stale entries are harmless metadata; they are
          // rewritten when their snapshot name is reused (never) and
          // invisible otherwise.
          val gone = loc.exists { l =>
            val scheme = try new java.net.URI(l).getScheme
              catch { case _: Exception => null }
            (scheme == null || scheme == "file") &&
              !Files.exists(Paths.get(l.stripPrefix("file:")))
          }
          if (gone) spark.sql(s"DROP TABLE IF EXISTS `${t.name}`")
        }
    } catch { case scala.util.control.NonFatal(_) => () }

  /** The publish orchestration shared by the plain and bucketed forms:
    * freeze orphan candidates, run `write` into the new snap dir, meta,
    * pointer flip, best-effort sweep. */
  private def publishWith(root: String, meta: Map[String, String])
      (write: String => Unit): Unit = {
    Files.createDirectories(Paths.get(root))
    val prev = currentDir(root)
    // crash-orphan candidates are frozen NOW, before this publish
    // writes anything — see the class doc for why this makes the sweep
    // safe against an overlapping publish
    val preExisting: Set[String] = {
      val out = scala.collection.mutable.Set.empty[String]
      try {
        val ds = Files.newDirectoryStream(Paths.get(root))
        try ds.forEach { p =>
          val n = p.getFileName.toString
          if (n.startsWith("snap-") || n.startsWith(".CURRENT-")) out += n
        } finally ds.close()
      } catch { case scala.util.control.NonFatal(_) => () }
      out.toSet
    }
    val snapName = s"snap-${System.nanoTime()}"
    write(s"$root/$snapName")
    if (meta.nonEmpty)
      Files.writeString(Paths.get(s"$root/$snapName/_snapmeta"),
        meta.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString("\n"))
    // single atomic pointer flip — readers never observe a missing
    // snapshot (write the new pointer to a temp file, then rename)
    val tmpPtr = Paths.get(s"$root/.CURRENT-${System.nanoTime()}")
    Files.writeString(tmpPtr, snapName)
    Files.move(tmpPtr, pointerFile(root),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    try {
      // RETIRE the previous snapshot into the grace ledger (files stay
      // for in-flight readers); GC deletes it once the grace window or
      // the retained-count cap says so — see the retention block above
      val prevName = prev.map(d => Paths.get(d).getFileName.toString)
        .filter(n => Files.exists(Paths.get(s"$root/$n")))
      prevName.foreach { n =>
        writeLedger(root,
          retiredLedger(root).filterNot(_._1 == n) :+ (n -> System.currentTimeMillis()))
      }
      gcRetired(root)
      val nowCurrent = currentDir(root).map(d => Paths.get(d).getFileName.toString)
      val keep = Set(snapName) ++ nowCurrent ++ prevName ++
        retiredLedger(root).map(_._1)
      preExisting.filterNot(keep).foreach { n =>
        deleteRecursively(Paths.get(s"$root/$n"))
      }
    } catch { case scala.util.control.NonFatal(_) => () } // best-effort; never
    // fails a publish whose pointer flip already succeeded
  }

  private[graft] def deleteRecursively(p: java.nio.file.Path): Unit = {
    if (Files.isDirectory(p)) {
      val ds = Files.newDirectoryStream(p)
      try ds.forEach(deleteRecursively) finally ds.close()
    }
    Files.deleteIfExists(p)
  }
}
