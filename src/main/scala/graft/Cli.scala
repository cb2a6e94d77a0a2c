package graft

import org.apache.spark.sql.SparkSession

import graft.fs.{Indexer, IndexStore, SizeUtils}
import graft.queries.FileQueries
import graft.tables.Tables

/** Command-line surface mirroring the reference CLI
  * (/root/reference/file_indexer/cli.py:45-250 and the Go CLI
  * file_indexer_go/cmd/cli.go):
  *
  * {{{
  * graft.Cli --db DIR --scan DIR [--max-checksum-size 100MB]
  * graft.Cli --db DIR --two-phase DIR
  * graft.Cli --db DIR --incremental DIR
  * graft.Cli --db DIR --find-duplicates
  * graft.Cli --db DIR --search PATTERN
  * graft.Cli --db DIR [--search-filename P] [--search-path P]
  *                    [--search-checksum C] [--search-no-checksum | --search-has-checksum]
  * graft.Cli --db DIR --stats
  * graft.Cli --db DIR --cleanup | --cleanup-empty-dirs
  * graft.Cli --db DIR --sql "SELECT ..."   (files view and graft_* functions registered)
  * graft.Cli --db DIR --manifest [--ann DIR] [--ivf DIR] [--dedup-state DIR]
  * graft.Cli --db DIR --serve [--port 8000]   (HTTP API over the index)
  * }}}
  */
object Cli {
  def main(args: Array[String]): Unit = {
    val opts = parseArgs(args.toList)
    val db = opts.getOrElse("db",
      sys.error("--db <index snapshot dir> is required"))
    val spark = GraftSession.local("graft-cli")
    try run(spark, db, opts) finally spark.stop()
  }

  private[graft] def run(spark: SparkSession, db: String, opts: Map[String, String]): Unit = {
    val maxSize = opts.get("max-checksum-size").map(SizeUtils.parseSize)
      .getOrElse(104857600L)
    if (opts.contains("scan")) {
      val st = Indexer.fullIndex(spark, opts("scan"), db, maxSize)
      println(s"Indexed ${st.scanned} files (${st.checksummed} checksummed)")
    } else if (opts.contains("two-phase")) {
      val (p1, hashed) = Indexer.twoPhaseIndex(spark, opts("two-phase"), db, maxSize)
      val reduction =
        if (p1.scanned == 0) "n/a"
        else f"${100.0 * (p1.scanned - hashed) / p1.scanned}%.1f%%"
      println(s"Phase 1: ${p1.scanned} files indexed; phase 2: $hashed checksummed " +
        s"($reduction hash reduction)")
    } else if (opts.contains("incremental")) {
      val st = Indexer.incrementalIndex(spark, opts("incremental"), db, maxSize)
      println(s"Scanned ${st.scanned}: ${st.inserted} new, ${st.updated} changed, " +
        s"${st.unchanged} unchanged (checksums reused)")
    } else if (opts.contains("find-duplicates")) {
      FileQueries.duplicateGroups(IndexStore.load(spark, db)).show(100, truncate = false)
    } else if (opts.contains("search")) {
      FileQueries.substringSearch(IndexStore.load(spark, db), opts("search"))
        .show(100, truncate = false)
    } else if (Seq("search-filename", "search-path", "search-checksum",
        "search-no-checksum", "search-has-checksum").exists(opts.contains)) {
      // multi-criteria search (reference cli.py:96-110,164-183): all
      // given criteria AND together; --search-no-checksum and
      // --search-has-checksum are boolean flags (no-checksum wins when
      // both are given, matching the reference's if/elif order)
      val hasChecksum =
        if (opts.contains("search-no-checksum")) Some(false)
        else if (opts.contains("search-has-checksum")) Some(true)
        else None
      FileQueries.searchFiles(IndexStore.load(spark, db),
          filenamePattern = opts.get("search-filename"),
          checksum = opts.get("search-checksum"),
          pathPattern = opts.get("search-path"),
          hasChecksum = hasChecksum)
        .show(100, truncate = false)
    } else if (opts.contains("stats")) {
      FileQueries.statsCli(IndexStore.load(spark, db)).show(truncate = false)
    } else if (opts.contains("cleanup")) {
      val st = Indexer.cleanupDeletedFiles(spark, db)
      println(s"Checked ${st.totalChecked}: removed ${st.deletedFiles} files, " +
        s"${st.deletedDirectories} dead directories")
    } else if (opts.contains("cleanup-empty-dirs")) {
      val st = Indexer.cleanupEmptyDirectories(spark, db)
      println(s"Removed ${st.deletedFiles} rows in ${st.deletedDirectories} vanished directories")
    } else if (opts.contains("sql")) {
      IndexStore.load(spark, db).createOrReplaceTempView("files")
      spark.sql(opts("sql")).show(1000, truncate = false)
    } else if (opts.contains("manifest")) {
      // operational view over every persisted index family: --db is the
      // core index root; --ann/--ivf/--dedup-state add their families.
      // One relation answers "anything stale / mid-compaction /
      // cap-mismatched?" — the same rows the runtime guards read.
      val fams = Seq(graft.fs.IndexManifest.core(db)) ++
        opts.get("ann").filter(_.nonEmpty).map(graft.fs.IndexManifest.ann) ++
        opts.get("ivf").filter(_.nonEmpty).map(graft.fs.IndexManifest.ivf) ++
        opts.get("dedup-state").filter(_.nonEmpty).map(graft.fs.IndexManifest.dedup)
      graft.fs.IndexManifest.manifest(spark, fams)
        .drop("meta") // family-specific blob — the tabular columns are the summary
        .orderBy("kind", "component", "entry", "seq")
        .show(1000, truncate = false)
    } else if (opts.contains("serve")) {
      // the reference's FastAPI backend (api_backend main.py:77-100)
      // as a thin HTTP layer over the same index snapshot
      val port = opts.get("port").filter(_.nonEmpty).map(_.toInt).getOrElse(8000)
      val srv = new graft.serve.ApiServer(
        spark, () => IndexStore.load(spark, db), db, port = port).start()
      println(s"Serving http://127.0.0.1:${srv.boundPort} " +
        "(endpoints: /health/ /search/ /duplicates/ /stats/ /stats/visualization)")
      Thread.currentThread.join() // serve until killed
    } else sys.error("no action given — see scaladoc for usage")
  }

  /** `--key value` pairs; bare `--flag` (no value) maps to "". A
    * repeated flag follows CLI convention: the LAST occurrence wins
    * (later bindings from the tail override the earlier one). */
  private[graft] def parseArgs(args: List[String]): Map[String, String] = args match {
    case Nil => Map.empty
    case key :: rest if key.startsWith("--") =>
      val k = key.stripPrefix("--")
      rest match {
        case v :: tail if !v.startsWith("--") => Map(k -> v) ++ parseArgs(tail)
        case _ => Map(k -> "") ++ parseArgs(rest)
      }
    case other :: _ => sys.error(s"unexpected argument: $other")
  }
}
