package graft.fs

import java.io.FileInputStream
import java.security.MessageDigest

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming file-content checksum stage (reference H1/H2:
  * `_calculate_checksum_worker` /root/reference/file_indexer/indexer.py:16-48,
  * Go MD5 variant file_indexer_go/indexer/indexer.go:260-283).
  *
  * Deliberately a `mapPartitions`-style stage rather than a Catalyst
  * expression: it does side-effecting file I/O with per-file error
  * capture, and must STREAM content in 64 KB chunks — file bytes never
  * enter the query plan, only the hex digest does. Spark tasks are the
  * reference's process pool (indexer.py:355-394); partition count is
  * the worker count.
  *
  * Size/eligibility semantics (indexer.py:158-175):
  *  - maxChecksumSize > 0: files larger than the cap keep checksum NULL
  *  - maxChecksumSize == 0: no size cap
  *  - maxChecksumSize < 0: hash nothing (two-phase phase-1 sentinel)
  *  - empty files: checksum NULL when skipEmpty (default), "" hashed
  *    normally otherwise is avoided — the reference indexes them with
  *    NULL checksum (indexer.py:158-163)
  *  - permission/OS error: row kept, checksum NULL, counter bumped
  *    (indexer.py:41-48)
  */
object ChecksumStage {
  val ChunkSize = 65536 // 64 KB streaming reads, indexer.py:38

  /** Hash one file's content, streaming; None on any I/O error. */
  def hashFile(absPath: String, algorithm: String = "SHA-256"): Option[String] = {
    try {
      val md = MessageDigest.getInstance(algorithm)
      val in = new FileInputStream(absPath)
      try {
        val buf = new Array[Byte](ChunkSize)
        var n = in.read(buf)
        while (n >= 0) {
          if (n > 0) md.update(buf, 0, n)
          n = in.read(buf)
        }
      } finally in.close()
      Some(md.digest().map("%02x".format(_)).mkString)
    } catch { case _: Exception => None }
  }

  /** The hash-eligibility predicate for a given size cap (see the
    * object doc for the three cap regimes). */
  def eligibleExpr(maxChecksumSize: Long): Column =
    if (maxChecksumSize < 0) lit(false)
    else if (maxChecksumSize == 0) col("file_size") > 0L
    else col("file_size") > 0L && col("file_size") <= maxChecksumSize

  /** Add a `checksum` column to scanned-file rows by hashing content.
    * Input needs (path, filename, file_size); all columns pass through.
    *
    * Hash errors are NOT counted via an accumulator here: accumulator
    * updates inside a transformation are at-least-once (task retries,
    * speculation, and cache-miss recomputation each re-fire the UDF).
    * Count them exactly from the DATA instead — [[hashErrors]] — since
    * an eligible row ends up with a NULL checksum iff hashing failed. */
  def withChecksums(spark: SparkSession, scanned: DataFrame,
      maxChecksumSize: Long = 104857600L, algorithm: String = "SHA-256"): DataFrame = {
    val hashUdf = udf { (dir: String, name: String) =>
      hashFile(java.nio.file.Paths.get(dir, name).toString, algorithm)
    }
    scanned.withColumn("checksum",
      when(eligibleExpr(maxChecksumSize), hashUdf(col("path"), col("filename")))
        .otherwise(lit(null).cast("string")))
  }

  /** Exact hash-error count for a [[withChecksums]] output (the
    * reference's permission-error counter, indexer.py:41-48): rows
    * that were eligible for hashing but came back NULL. Exactly-once
    * PER EVALUATION — it reads the result, not a side channel.
    *
    * Contract: pass the SAME `maxChecksumSize` given to withChecksums
    * (a mismatch misclassifies over-cap rows), and count the data you
    * publish: a cached frame the publish also reads, or the snapshot
    * the publish wrote (as Indexer.fullIndex does). On an uncached plan
    * this re-runs the hash stage, and a file changing between
    * evaluations can shift the count. */
  def hashErrors(hashed: DataFrame, maxChecksumSize: Long = 104857600L): Long =
    hashed.agg(hashErrorCount(maxChecksumSize)).head().getLong(0)

  /** [[hashErrors]] as an aggregate column. */
  def hashErrorCount(maxChecksumSize: Long): Column =
    count(when(eligibleExpr(maxChecksumSize) && col("checksum").isNull, lit(1)))
}
