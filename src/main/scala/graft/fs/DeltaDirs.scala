package graft.fs

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** The one base+delta store behind every incremental index (the
  * streaming dedup shingle index, persisted IVF appends): a bucketed
  * base snapshot under `baseRoot` (a [[SnapshotDir]] root) plus
  * immutable `delta-<seq>` directories under `deltaDir`. The base's
  * `compacted_through` meta watermark, published atomically with it,
  * retires every delta with seq ≤ the watermark. The store owns the
  * whole protocol, so its rules cannot drift between indexes: staged
  * appends ([[append]]), one-resolution reads ([[parts]]), [[compact]],
  * [[rebuild]], and one retirement rule — deltas are deleted one
  * generation late, so a reader that resolved the old base moments
  * before a flip still finds its live deltas. Single writer per store,
  * as for every SnapshotDir root; readers are always safe.
  */
final case class DeltaDirs(baseRoot: String, deltaDir: String) {
  import DeltaDirs._

  private def resolve(): Resolved = {
    val dir = SnapshotDir.currentDir(baseRoot).filter(d => Files.exists(Paths.get(d)))
    val meta = dir.map(SnapshotDir.metaAt).getOrElse(Map.empty[String, String])
    val (retired, live) = list(deltaDir).partition(_._1 <= watermark(meta))
    Resolved(dir, meta, retired, live)
  }

  /** The index in parts — head is the base read through
    * [[SnapshotDir.readAt]] (a bucketed base keeps its partitioning, so
    * joins against it don't shuffle the corpus side; empty when none is
    * published), tail is the live deltas in one parquet read — plus the
    * meta of the base they were resolved against. Data, meta and
    * watermark all come from one resolution: re-resolving could pair
    * an old base with a newer watermark across a compaction's flip.
    * `schema` maps the base meta to the stored schema. */
  def parts(spark: SparkSession, schema: Map[String, String] => StructType)
      : (Seq[DataFrame], Map[String, String]) = {
    val r = resolve()
    (r.frames(spark, schema), r.meta)
  }

  /** The current base's watermark (-1 when none is published). */
  def compactedThrough: Long = watermark(SnapshotDir.loadMeta(baseRoot))

  /** Land `df` as `delta-<seq>`: written to a `delta-tmp-*` staging dir,
    * then renamed into place with one ATOMIC_MOVE. With `seq` given, a
    * seq that already exists or is ≤ the watermark is a replay and
    * writes nothing — exactly-once per id, so `seq` must come from a
    * per-store sequence that is never restarted (ids reused for
    * different data read as replays and are dropped). With `seq` unset
    * the next free seq is taken (at-least-once on a retried append).
    *
    * @return the delta's seq */
  def append(df: DataFrame, seq: Option[Long] = None): Long = {
    val mark = compactedThrough
    val existing = list(deltaDir).map(_._1)
    val chosen = seq.getOrElse((mark +: existing).max + 1L)
    if (seq.isDefined && (chosen <= mark || existing.contains(chosen)))
      return chosen
    val tmp = Paths.get(s"$deltaDir/delta-tmp-${java.util.UUID.randomUUID()}")
    df.write.mode("overwrite").parquet(tmp.toString)
    Files.move(tmp, tmp.resolveSibling(s"delta-$chosen"), StandardCopyOption.ATOMIC_MOVE)
    chosen
  }

  /** Fold the live deltas into a fresh base bucketed on `bucketCol`,
    * publishing the new watermark atomically WITH it: a crash before
    * the pointer flip leaves old base + live deltas, after it the new
    * base retires them. Sweeps first what the previous watermark
    * retired and any orphaned `delta-tmp-*` (no append is in flight
    * under the single-writer contract); the just-folded deltas stay
    * until the next compaction. No live deltas → nothing is published.
    *
    * `meta` maps the old base meta to the new one (the store adds the
    * watermark); `fold` rewrites base ∪ live deltas (e.g. dedup's
    * `dropDuplicates`); `numBuckets` defaults to the base's own. */
  def compact(spark: SparkSession, schema: Map[String, String] => StructType,
      bucketCol: String, numBuckets: Option[Int],
      meta: Map[String, String] => Map[String, String],
      fold: DataFrame => DataFrame = identity): Unit = {
    val r = resolve()
    val orphans = entries(deltaDir)
      .filter(_.getFileName.toString.startsWith("delta-tmp-")).map(_.toString)
    (r.retired.map(_._2) ++ orphans).foreach { p =>
      // per-entry guard: an undeletable retired/orphan dir only costs disk
      try SnapshotDir.deleteRecursively(Paths.get(p))
      catch { case scala.util.control.NonFatal(_) => () }
    }
    if (r.live.isEmpty) return
    val buckets = numBuckets
      .orElse(r.meta.get(SnapshotDir.BucketNKey).map(_.toInt))
      .getOrElse(sys.error(s"snapshot at ${r.dir.getOrElse(baseRoot)} lacks bucket_n meta"))
    SnapshotDir.publishBucketed(fold(r.frames(spark, schema).reduce(_ unionByName _)),
      baseRoot, bucketCol, buckets,
      meta(r.meta) + (WatermarkKey -> r.live.map(_._1).max.toString))
  }

  /** Publish `df` as a full replacement base: it covers the whole
    * index by contract, so its watermark retires every existing delta
    * (they would otherwise resurface as live against the new base);
    * the next [[compact]] sweeps them. A fresh store gets watermark -1. */
  def rebuild(df: DataFrame, bucketCol: String, numBuckets: Int,
      meta: Map[String, String]): Unit = {
    val r = resolve()
    val through = (watermark(r.meta) +: r.live.map(_._1)).max
    SnapshotDir.publishBucketed(df, baseRoot, bucketCol, numBuckets,
      meta + (WatermarkKey -> through.toString))
  }
}

object DeltaDirs {
  private val DeltaName = """delta-(\d+)""".r

  /** The base snapshot resolved ONCE (dir, meta) with the delta dirs
    * split at that snapshot's own watermark into retired and live. */
  private final case class Resolved(dir: Option[String], meta: Map[String, String],
      retired: Seq[(Long, String)], live: Seq[(Long, String)]) {
    def frames(spark: SparkSession, schema: Map[String, String] => StructType)
        : Seq[DataFrame] = {
      val s = schema(meta)
      val base = dir match {
        case Some(d) => SnapshotDir.readAt(spark, d, s)
        case None => spark.createDataFrame(spark.sparkContext.emptyRDD[Row], s)
      }
      if (live.isEmpty) Seq(base)
      else Seq(base, spark.read.schema(s).parquet(live.map(_._2): _*))
    }
  }

  /** The base meta key holding the watermark. */
  val WatermarkKey = "compacted_through"

  /** The persisted IVF index: base and deltas both under `<root>/cells`. */
  def ivf(root: String): DeltaDirs = DeltaDirs(s"$root/cells", s"$root/cells")

  /** The streaming dedup shingle index: base under `<state>/base`,
    * deltas directly under `<state>`. */
  def dedup(stateRoot: String): DeltaDirs = DeltaDirs(s"$stateRoot/base", stateRoot)

  /** All delta dirs directly under `dir` as (seq, path), seq-sorted.
    * Entries that merely RESEMBLE a delta (`delta-tmp-*` staging dirs,
    * digit runs that overflow Long) are skipped per-entry — a junk
    * name can never silently truncate the list — while real IO errors
    * PROPAGATE: swallowing them would return a partial list and
    * silently under-read the index. A MISSING `dir` is the one benign
    * case (no deltas yet) — detected by the open itself, not a
    * pre-check like `Files.isDirectory`, which returns false on
    * permission/transient IO errors and would turn them into exactly
    * the silent empty list this contract forbids. */
  def list(dir: String): Seq[(Long, String)] =
    entries(dir).flatMap { p =>
      p.getFileName.toString match {
        case DeltaName(id) => id.toLongOption.map(_ -> p.toString)
        case _ => None
      }
    }.sortBy(_._1)

  private def entries(dir: String): Seq[java.nio.file.Path] = {
    val ds =
      try Files.newDirectoryStream(Paths.get(dir))
      catch { case _: java.nio.file.NoSuchFileException => return Seq.empty }
    try ds.iterator().asScala.toList finally ds.close()
  }

  /** Paths with seq > `mark` — the deltas a base with watermark `mark`
    * has NOT folded. */
  def live(dir: String, mark: Long): Seq[String] =
    list(dir).collect { case (id, p) if id > mark => p }

  /** The watermark of a resolved base snapshot's meta: the seq through
    * which deltas are folded (-1 = none). The one decoder, so the
    * default can't drift between readers. */
  def watermark(meta: Map[String, String]): Long =
    meta.get(WatermarkKey).map(_.toLong).getOrElse(-1L)
}
