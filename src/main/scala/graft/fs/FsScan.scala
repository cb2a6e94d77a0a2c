package graft.fs

import java.nio.file.attribute.BasicFileAttributes
import java.nio.file.{Files, LinkOption, Path, Paths}
import java.sql.Timestamp

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.util.LongAccumulator

/** One scanned regular file's metadata (content is never read here).
  * Mirrors the reference's per-file record minus the checksum, which a
  * later stage fills in (/root/reference/file_indexer/indexer.py:283-289). */
case class ScannedFile(
    path: String,
    filename: String,
    modificationDatetime: Timestamp,
    fileSize: Long)

/** Counters matching the reference's session counters
  * (/root/reference/file_indexer/indexer.py:79-87), backed by Spark
  * accumulators so executor-side skips are visible on the driver. */
final class ScanStats(spark: SparkSession) extends Serializable {
  val ignoredSymlinks: LongAccumulator = spark.sparkContext.longAccumulator("ignoredSymlinks")
  val ignoredSpecialFiles: LongAccumulator = spark.sparkContext.longAccumulator("ignoredSpecialFiles")
  val permissionErrors: LongAccumulator = spark.sparkContext.longAccumulator("permissionErrors")
  val skippedFiles: LongAccumulator = spark.sparkContext.longAccumulator("skippedFiles")
}

/** Distributed filesystem scan (reference A1–A4:
  * `scan_directory_generator` /root/reference/file_indexer/indexer.py:184-220
  * and the Go walker file_indexer_go/indexer/indexer.go:57-229).
  *
  * Design for scale: the driver only seeds *directories*; executors walk
  * their assigned subtrees and stat files locally, so a 10^9-file tree
  * never materializes on the driver. Listing one level of top-level
  * subdirectories on the driver gives enough seeds to spread across
  * executors; each seed expands recursively executor-side.
  *
  * Per-file error tolerance is the reference's contract: a permission
  * error never fails the scan, it increments a counter and the file is
  * skipped (indexer.py:41-48, 343-351).
  */
object FsScan {

  /** Should this dirent become an index row? Regular files only —
    * symlinks and special files (pipes, sockets, devices) are counted
    * and skipped, matching `_should_process_file`
    * (/root/reference/file_indexer/indexer.py:112-156). */
  private def classify(p: Path, stats: ScanStats): Option[BasicFileAttributes] = {
    try {
      val attrs = Files.readAttributes(p, classOf[BasicFileAttributes], LinkOption.NOFOLLOW_LINKS)
      if (attrs.isSymbolicLink) { stats.ignoredSymlinks.add(1); None }
      else if (!attrs.isRegularFile) { stats.ignoredSpecialFiles.add(1); None }
      else Some(attrs)
    } catch {
      case _: SecurityException | _: java.nio.file.AccessDeniedException =>
        stats.permissionErrors.add(1); None
      case _: java.io.IOException =>
        stats.permissionErrors.add(1); None
    }
  }

  private def toRecord(p: Path, attrs: BasicFileAttributes): ScannedFile =
    ScannedFile(
      path = Option(p.getParent).map(_.toString).getOrElse(""),
      filename = p.getFileName.toString,
      modificationDatetime = new Timestamp(attrs.lastModifiedTime.toMillis),
      fileSize = attrs.size)

  /** Genuinely LAZY directory walk: one open DirectoryStream at a time,
    * stat-on-demand, per-task memory O(directory stack), never
    * O(files-in-subtree). An eager collect-then-iterate shape would put
    * a whole hot directory (tens of millions of dirents at the 10^9-file
    * scale this scan is designed for) into one task's heap; here a row
    * is produced, handed to Spark's row pipeline, and dropped.
    *
    * Error tolerance matches the reference (indexer.py:41-48): an
    * unopenable directory or a dirent that errors mid-iteration bumps
    * the permission counter and the walk moves on — the remainder of a
    * directory whose underlying stream fails is skipped, exactly like
    * the previous eager form.
    *
    * `recurse=false` is the iterdir mode: subdirectories are not
    * descended, and `countDirs` decides whether they hit the
    * special-files counter (Python iterdir parity) or are silently
    * skipped (os.walk parity — see [[scan]]). */
  private final class DirWalker(root: Path, stats: ScanStats,
      recurse: Boolean, countDirs: Boolean)
      extends Iterator[ScannedFile] with AutoCloseable {
    private val stack = scala.collection.mutable.Stack(root)
    private var stream: java.nio.file.DirectoryStream[Path] = _
    private var entries: java.util.Iterator[Path] = _
    private var nextRec: ScannedFile = _
    // a partially-consumed iterator (limit/take, task failure) would
    // otherwise leak its open DirectoryStream fd — close with the task
    // when running inside one, and expose close() for direct callers
    Option(org.apache.spark.TaskContext.get())
      .foreach(_.addTaskCompletionListener[Unit](_ => close()))
    advance()

    override def close(): Unit = { closeStream(); stack.clear(); nextRec = null }

    private def closeStream(): Unit = {
      if (stream != null) {
        try stream.close() catch { case _: Exception => () }
      }
      stream = null; entries = null
    }

    /** Open directories off the stack until one yields a live stream;
      * false when the stack is exhausted. */
    private def openNext(): Boolean = {
      while (stream == null) {
        if (stack.isEmpty) return false
        val dir = stack.pop()
        try { stream = Files.newDirectoryStream(dir); entries = stream.iterator() }
        catch { case _: Exception => stats.permissionErrors.add(1); closeStream() }
      }
      true
    }

    private def advance(): Unit = {
      nextRec = null
      while (nextRec == null) {
        if (!openNext()) return
        // DirectoryStream iterators throw DirectoryIteratorException on
        // IO errors mid-iteration — count once, drop the rest of this
        // directory (same contract as the previous eager walk)
        val p =
          try { if (entries.hasNext) entries.next() else null }
          catch { case _: Exception =>
            stats.permissionErrors.add(1); closeStream(); null }
        if (p == null) closeStream()
        // Directories descend WITHOUT being classified in recursive mode:
        // the reference's recursive scan feeds os.walk *filenames* to its
        // classifier (indexer.py:207-212), so its special-files counter
        // never includes directories. Never descend through dir symlinks.
        else if (Files.isDirectory(p, LinkOption.NOFOLLOW_LINKS)) {
          if (recurse) stack.push(p)
          else if (countDirs) { classify(p, stats); () }
        } else classify(p, stats) match {
          case Some(attrs) if attrs.isRegularFile => nextRec = toRecord(p, attrs)
          case _ => ()
        }
      }
    }

    override def hasNext: Boolean = nextRec != null
    override def next(): ScannedFile = {
      if (nextRec == null) throw new NoSuchElementException("walk exhausted")
      val r = nextRec
      advance()
      r
    }
  }

  /** Walk one directory subtree iteratively (no recursion-depth limit,
    * memory bounded by the directory stack), yielding regular files. */
  private def walkSubtree(root: String, stats: ScanStats): Iterator[ScannedFile] =
    new DirWalker(Paths.get(root), stats, recurse = true, countDirs = false)

  /** Test seam: the lazy walker with explicit modes. */
  private[fs] def walker(root: String, stats: ScanStats,
      recurse: Boolean, countDirs: Boolean): Iterator[ScannedFile] =
    new DirWalker(Paths.get(root), stats, recurse, countDirs)

  /** List a directory's immediate REAL subdirectories (never through
    * symlinks); empty on permission errors — the walk seeds degrade,
    * they don't fail. */
  private def subdirsOf(dir: String): Seq[String] = {
    val out = ArrayBuffer.empty[String]
    try {
      val ds = Files.newDirectoryStream(Paths.get(dir))
      try ds.forEach { p =>
        if (Files.isDirectory(p, LinkOption.NOFOLLOW_LINKS)) out += p.toString
      } finally ds.close()
    } catch { case _: Exception => () }
    out.toSeq
  }

  /** Seed plan for the distributed walk: (dirs to list non-recursively,
    * subtree roots to walk recursively). Every file is covered exactly
    * once: an expanded directory moves to the list-only set while its
    * children become subtree seeds.
    *
    * MULTI-LEVEL: when one level of subdirectories yields too few
    * seeds (a flat root with one hot subtree would otherwise collapse
    * to a single task), keep expanding level by level — driver cost is
    * directory listings only, bounded by `maxDepth` — until there are
    * at least `targetSeeds` independent work units for the cluster. */
  private[fs] def seedPlan(directoryPath: String, targetSeeds: Int = 64,
      maxDepth: Int = 4): (Seq[String], Seq[String]) = {
    val listOnly = ArrayBuffer(directoryPath)
    var walk: Seq[String] = subdirsOf(directoryPath)
    var depth = 1
    var progress = true
    while (walk.size < targetSeeds && depth < maxDepth && progress) {
      val expanded = walk.map(d => d -> subdirsOf(d))
      progress = expanded.exists(_._2.nonEmpty)
      if (progress) {
        val next = ArrayBuffer.empty[String]
        expanded.foreach { case (d, kids) =>
          if (kids.isEmpty) next += d // childless subtree stays a walk seed
          else { listOnly += d; next ++= kids }
        }
        walk = next.toSeq
      }
      depth += 1
    }
    (listOnly.toSeq, walk)
  }

  /** Recursive scan: Dataset of file metadata for every regular file
    * under `directoryPath`. The root seed itself is walked
    * non-recursively (its subdirs are separate seeds) to avoid double
    * counting. */
  def scan(spark: SparkSession, directoryPath: String, recursive: Boolean = true,
      stats: Option[ScanStats] = None, skipHidden: Boolean = false,
      maxFileSize: Long = 0L): Dataset[ScannedFile] = {
    import spark.implicits._
    val st = stats.getOrElse(new ScanStats(spark))
    val raw =
      if (!recursive) {
        val ss = Seq(directoryPath)
        spark.createDataset(ss).flatMap(d => listOne(d, st, countDirs = true))
      } else {
        val (listDirs, walkDirs) = seedPlan(directoryPath)
        // tag each seed with its mode; directories in the list set must
        // not hit the special-files counter in recursive mode. No shuffle: n <=
        // 2 slices per core, slice k takes seeds k, k+n, ... (siblings split up)
        val ss = (listDirs.map(d => (d, false)) ++ walkDirs.map(d => (d, true))).toVector
        val n = ss.size.min(2 * spark.sparkContext.defaultParallelism)
        spark.createDataset(spark.sparkContext.parallelize(0 until n, n)
            .flatMap(k => (k until ss.size by n).map(ss))).flatMap {
          case (d, true)  => walkSubtree(d, st) // subtree walked executor-side
          case (d, false) => listOne(d, st, countDirs = false)
        }
      }
    // Go-walker parity filters (file_indexer_go/indexer.go:231-257):
    // dotfile skip and a hard indexing size cap (0 = unlimited)
    val afterHidden =
      if (skipHidden) raw.filter(f => !f.filename.startsWith(".")) else raw
    if (maxFileSize > 0) afterHidden.filter(f => f.fileSize <= maxFileSize)
    else afterHidden
  }

  /** [[scan]] with the index table's snake_case column names
    * (path, filename, modification_datetime, file_size) — the
    * canonical shape the checksum stage and store operate on. */
  def scanDF(spark: SparkSession, directoryPath: String, recursive: Boolean = true,
      stats: Option[ScanStats] = None): org.apache.spark.sql.DataFrame =
    scan(spark, directoryPath, recursive, stats).toDF()
      .withColumnRenamed("modificationDatetime", "modification_datetime")
      .withColumnRenamed("fileSize", "file_size")

  /** Non-recursive listing of one directory (reference
    * `Path.iterdir` branch, indexer.py:215-218). `countDirs` = the
    * iterdir parity mode, where a directory DOES bump the special-files
    * counter (is_file is false for it in `_should_process_file`); the
    * recursive scan's root-level listing passes false — os.walk parity,
    * directories are never classified there. Lazy like [[walkSubtree]]:
    * a flat directory with millions of entries streams through the
    * task instead of buffering in it. */
  private def listOne(dir: String, stats: ScanStats,
      countDirs: Boolean): Iterator[ScannedFile] =
    new DirWalker(Paths.get(dir), stats, recurse = false, countDirs = countDirs)
}
