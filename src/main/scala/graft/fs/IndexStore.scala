package graft.fs

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Persistent index = a parquet snapshot directory with an atomic-swap
  * write protocol (the Spark replacement for the reference's single
  * DuckDB file, /root/reference/file_indexer/indexer.py:71,89-110, and
  * its BEGIN/COMMIT transactions, indexer.py:419-446 → SURVEY.md G6).
  *
  * Write protocol (manifest pointer): data is written to an immutable
  * `<root>/snap-<nonce>/` directory, then the single `<root>/CURRENT`
  * pointer file is replaced with one ATOMIC_MOVE. Readers resolve
  * CURRENT → directory, so they always see either the old or the new
  * complete snapshot — there is never a moment with no published
  * snapshot (a two-rename directory swap would have that window). A
  * crash before the pointer flip leaves an orphan snap dir; the next
  * publish sweeps orphans it observed BEFORE writing its own snapshot
  * (so an overlapping publish's files are never touched — though the
  * store is single-WRITER by contract, like the reference's single
  * DuckDB file; readers are always safe). The same protocol works on
  * any store with atomic
  * single-file replace (POSIX rename, object-store put) — the
  * reference's read-only API connection (api_backend database.py:37-43)
  * maps to reading the last published snapshot.
  *
  * PRIMARY KEY (path, filename) is enforced by construction: every
  * publish dedups with last-writer-wins on `indexed_at`
  * (row_number over (path, filename) — SURVEY.md §1.4).
  */
object IndexStore {

  val schema: StructType = StructType(Seq(
    StructField("path", StringType, nullable = false),
    StructField("filename", StringType, nullable = false),
    StructField("checksum", StringType, nullable = true),
    StructField("modification_datetime", TimestampType, nullable = false),
    StructField("file_size", LongType, nullable = false),
    StructField("indexed_at", TimestampType, nullable = false)))

  def exists(root: String): Boolean = SnapshotDir.exists(root)

  /** Load the published snapshot; empty DF with the index schema when
    * no snapshot exists yet. */
  def load(spark: SparkSession, root: String): DataFrame =
    SnapshotDir.load(spark, root, schema)

  /** Last-writer-wins dedup on the (path, filename) primary key. */
  def dedupLastWins(df: DataFrame): DataFrame = {
    val w = Window.partitionBy("path", "filename").orderBy(col("indexed_at").desc)
    df.withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1).drop("_rn")
  }

  /** Publish a new snapshot atomically (write tmp, swap, clean old).
    *
    * Layout for scale: rows are hash-clustered by `path` and sorted by
    * (path, filename) within each file, so parquet min/max stats make
    * directory-predicate scans (`path = ?`, `path LIKE '/x/%'`) prune
    * whole files, and the PK sort doubles as the B2/B1 result order.
    * `numFiles > 0` pins the file count (cluster deployments size this
    * to executors × cores); 0 keeps the incoming partitioning. */
  def publish(df: DataFrame, root: String, numFiles: Int = 0): Unit = {
    val deduped = dedupLastWins(df)
      .select("path", "filename", "checksum", "modification_datetime", "file_size", "indexed_at")
    val laidOut =
      if (numFiles > 0) deduped.repartition(numFiles, col("path"))
        .sortWithinPartitions("path", "filename")
      else deduped
    // atomic pointer-flip publish + crash-orphan sweep: SnapshotDir
    SnapshotDir.publish(laidOut, root)
  }

  /** Publish as a BUCKETED managed table (hash-bucketed + sorted on
    * the given key). Two tables bucketed the same way equi-join with
    * ZERO shuffle — the co-located-join layout for the hot join keys
    * (checksum for duplicate joins, (path, filename) for diffs) at
    * cluster scale, where re-shuffling the 100 TB fact side per query
    * is the dominant cost. Requires a warehouse-backed session. */
  def publishBucketed(df: DataFrame, tableName: String, bucketCol: String,
      numBuckets: Int = 16): Unit =
    dedupLastWins(df)
      .select("path", "filename", "checksum", "modification_datetime", "file_size", "indexed_at")
      .write.mode("overwrite")
      .bucketBy(numBuckets, bucketCol).sortBy(bucketCol)
      .saveAsTable(tableName)

  /** Upsert rows into the snapshot (reference A8/A9: bulk insert
    * indexer.py:411-448; Go ON CONFLICT DO UPDATE database.go:98-113):
    * union + last-writer-wins + swap. */
  def upsert(spark: SparkSession, root: String, rows: DataFrame): Unit =
    publish(load(spark, root).unionByName(
      rows.select(schema.fieldNames.toIndexedSeq.map(col): _*)), root)

  /** Go-parity `index_metadata` sidecar (file_indexer_go/db/
    * database.go:47-50: root_path + indexed timestamp): a tiny JSON
    * file next to the snapshot, replaced with one ATOMIC_MOVE so a
    * crash mid-write never leaves a torn file for [[readMeta]]. */
  def writeMeta(root: String, meta: Map[String, String]): Unit = {
    Files.createDirectories(Paths.get(root))
    def esc(s: String) = s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    }
    val json = meta.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""${esc(k)}": "${esc(v)}"""" }
      .mkString("{", ", ", "}")
    val tmp = Paths.get(s"$root/.meta-tmp-${System.nanoTime()}")
    Files.writeString(tmp, json)
    Files.move(tmp, Paths.get(s"$root/meta.json"),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  def readMeta(root: String): Map[String, String] = {
    val p = Paths.get(s"$root/meta.json")
    if (!Files.exists(p)) return Map.empty
    val s = Files.readString(p)
    """"((?:[^"\\]|\\.)*)"\s*:\s*"((?:[^"\\]|\\.)*)"""".r
      .findAllMatchIn(s)
      .map(m => unesc(m.group(1)) -> unesc(m.group(2))).toMap
  }

  private def unesc(s: String): String = {
    val out = new StringBuilder
    var i = 0
    while (i < s.length) {
      if (s.charAt(i) == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case '"' => out += '"'; i += 2
          case '\\' => out += '\\'; i += 2
          case 'u' if i + 6 <= s.length =>
            out += Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar; i += 6
          case c => out += c; i += 2
        }
      } else { out += s.charAt(i); i += 1 }
    }
    out.toString
  }

}
