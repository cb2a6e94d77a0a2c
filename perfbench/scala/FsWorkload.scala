package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.fs.{ChecksumStage, FsScan, IndexStore, Indexer, SnapshotDir}

/** `fs_index`: per generated tree, one index cycle — full index →
  * two-phase index → mutate the tree → incremental index → delete one
  * subtree → cleanup. Each Indexer call is one timed step. The tree
  * mutations are untimed and done here, between the steps.
  *
  * A traced run traces every other step: on the first tree the
  * two-phase and cleanup steps, on the second the full and incremental
  * ones. Each step kind then has a traced and an untraced sample, and
  * half of the kinds are traced on the earlier tree, so the drift
  * within the run cancels out of the tracing overhead. After both
  * cycles the full-index layers are called one by one (scan, hash,
  * publish) on the last tree. */
object FsWorkload {

  def run(spark: SparkSession, ctx: Ctx, t0: Long): Map[String, Any] = {
    val spec = Json.obj(ctx.readJson("spec.json"))
    val warm = Json.obj(spec("warm"))
    // warm-up: every step once on a small tree (JIT, codegen, first
    // parquet writer), as a long-lived indexing service pays it once
    val (wr, wi) = (Json.str(warm("root")), Json.str(warm("index")))
    Indexer.fullIndex(spark, wr, wi)
    Indexer.twoPhaseIndex(spark, wr, wi)
    Indexer.incrementalIndex(spark, wr, wi)
    Indexer.cleanupDeletedFiles(spark, wi)
    val setupS = Clock.secondsSince(t0)
    Clock.log("warm-up done")
    Mem.checkpoint()

    val tr = ctx.trace
    val totals = if (ctx.traced) Some(SparkTotals.attach(spark.sparkContext)) else None
    val sparkAcc = scala.collection.mutable.Map.empty[String, Double]
    val ops = Vector.newBuilder[Map[String, Any]]
    val observed = Vector.newBuilder[Map[String, Any]]
    val layer = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val mStart = System.nanoTime()
    val trees = Json.arr(spec("trees")).map(Json.obj)
    val kinds = Seq("full", "two_phase", "incremental", "cleanup")
    trees.zipWithIndex.foreach { case (t, k) =>
      val root = Json.str(t("root")); val idx = Json.str(t("index"))
      def step[T](kind: String, files: T => Long)(body: => T): T = {
        val traced = ctx.traced && (k + kinds.indexOf(kind)) % 2 == 1
        val (r, ms) =
          if (traced) SparkTotals.window(totals.get, sparkAcc)(Clock.timed(tr.span(s"fs.$kind")(body)))
          else Clock.timed(body)
        Clock.log(s"fs $kind ${ms.round} ms")
        ops += Map("kind" -> kind, "ms" -> ms, "files" -> files(r), "traced" -> traced)
        r
      }
      def rows(): Long = IndexStore.load(spark, idx).count()

      val full = step("full", (s: graft.fs.IndexRunStats) => s.scanned)(
        Indexer.fullIndex(spark, root, s"$idx-full"))
      val sample = Json.arr(t("sample")).map(Json.arr(_).map(Json.str))
      val sums = IndexStore.load(spark, s"$idx-full")
        .select(col("path"), col("filename"), col("checksum")).collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getString(2)).toMap
      val fullRows = sums.size.toLong

      val (p1, hashed) = step("two_phase", (r: (graft.fs.IndexRunStats, Long)) => r._1.scanned)(
        Indexer.twoPhaseIndex(spark, root, idx))
      val phase2 = IndexStore.load(spark, idx).filter(col("checksum").isNotNull)
      val sharedHashed = phase2.groupBy("checksum").count().filter(col("count") > 1)
        .agg(coalesce(sum("count"), lit(0L))).head().getLong(0)
      val twoPhaseRows = rows()

      Json.arr(t("moves")).map(Json.arr(_).map(Json.str)).foreach { case Seq(src, dst) =>
        Files.move(Paths.get(src), Paths.get(dst), StandardCopyOption.REPLACE_EXISTING)
      }
      Json.arr(t("deletes")).map(Json.str).foreach(p => Files.delete(Paths.get(p)))

      val incr = step("incremental", (s: graft.fs.IndexRunStats) => s.scanned)(
        Indexer.incrementalIndex(spark, root, idx))
      val incrRows = rows()
      if (ctx.traced) {
        val (n, ms) = Clock.timed(tr.span("fs.load")(rows()))
        layer("load_s") += ms / 1e3
        layer("load_rows") += n.toDouble
      }

      Proc.deleteTree(Json.str(t("subtree")))
      val clean = step("cleanup", (s: graft.fs.CleanupStats) => s.totalChecked)(
        Indexer.cleanupDeletedFiles(spark, idx))
      val cleanRows = rows()

      if (ctx.traced) {
        layer("phase2_hashed") += hashed.toDouble
        layer("phase2_shared") += sharedHashed.toDouble
        layer("incr_rehashed") += incr.checksummed.toDouble
      }
      def st(s: graft.fs.IndexRunStats) = Map[String, Any]("scanned" -> s.scanned,
        "inserted" -> s.inserted, "updated" -> s.updated, "unchanged" -> s.unchanged,
        "checksummed" -> s.checksummed, "hashErrors" -> s.hashErrors)
      observed += Map(
        "full" -> (st(full) + ("rows" -> fullRows)),
        "two_phase" -> (st(p1) ++ Map("hashed" -> hashed, "rows" -> twoPhaseRows,
          "shared_hashed" -> sharedHashed)),
        "incremental" -> (st(incr) + ("rows" -> incrRows)),
        "cleanup" -> Map("totalChecked" -> clean.totalChecked,
          "deletedFiles" -> clean.deletedFiles,
          "deletedDirectories" -> clean.deletedDirectories, "rows" -> cleanRows),
        "sample_sha256" -> sample.map { case Seq(p, f) => sums.getOrElse((p, f), null) })
      Mem.checkpoint()
    }
    val measureS = Clock.secondsSince(mStart)
    if (ctx.traced) {
      val t = trees.last
      val idx = Json.str(t("index"))
      callLayers(spark, ctx, Json.str(t("root")), s"$idx-layers", s"$idx-full", layer)
    }

    val layers: Map[String, Any] =
      if (!ctx.traced) Map.empty
      else Map(
        "fs.scan_s" -> layer("scan_s"), "fs.scan_files" -> layer("scan_files"),
        "fs.hash_s" -> layer("hash_s"), "fs.hash_mb" -> layer("hash_mb"),
        "fs.publish_s" -> layer("publish_s"),
        "fs.snapshot_bytes_per_row" -> layer("snapshot_bytes") / math.max(1.0, layer("snapshot_rows")),
        "fs.snapshot_files" -> layer("snapshot_files"),
        "fs.load_s" -> layer("load_s"),
        "fs.phase2_hashed" -> layer("phase2_hashed"),
        "fs.phase2_yield" -> layer("phase2_shared") / math.max(1.0, layer("phase2_hashed")),
        "fs.incr_rehashed" -> layer("incr_rehashed")) ++ SparkTotals.layers(sparkAcc)
    Map("setup_s" -> setupS, "ops" -> ops.result(), "measure_s" -> measureS,
      "observed" -> Map("trees" -> observed.result()), "layers" -> layers)
  }

  /** The full-index layers called one by one (scan, hash, publish) on
    * the tree as its cycle left it, and the size of the snapshot the
    * cycle's full index published. */
  private def callLayers(spark: SparkSession, ctx: Ctx, root: String, idx: String,
      fullIdx: String, layer: scala.collection.mutable.Map[String, Double]): Unit = {
    val tr = ctx.trace
    tr.span("fs.layers") {
      val scanned = FsScan.scanDF(spark, root).cache()
      val (nScan, scanMs) = Clock.timed(tr.span("fs.scan")(scanned.count()))
      val hashed = ChecksumStage.withChecksums(spark, scanned)
        .withColumn("indexed_at", current_timestamp()).cache()
      val (bytes, hashMs) = Clock.timed(tr.span("fs.hash")(
        hashed.filter(col("checksum").isNotNull).agg(coalesce(sum("file_size"), lit(0L)))
          .head().getLong(0)))
      val (_, pubMs) = Clock.timed(tr.span("fs.publish")(IndexStore.publish(hashed, idx)))
      hashed.unpersist(); scanned.unpersist()
      layer("scan_s") += scanMs / 1e3; layer("scan_files") += nScan.toDouble
      layer("hash_s") += hashMs / 1e3; layer("hash_mb") += bytes / 1048576.0
      layer("publish_s") += pubMs / 1e3
    }
    // the snapshot the full index published: size and file count per row
    SnapshotDir.currentDir(fullIdx).foreach { d =>
      val files = Option(new java.io.File(d).listFiles()).getOrElse(Array.empty)
        .filter(_.getName.endsWith(".parquet"))
      layer("snapshot_files") += files.length.toDouble
      layer("snapshot_bytes") += files.map(_.length).sum.toDouble
      layer("snapshot_rows") += IndexStore.load(spark, fullIdx).count().toDouble
    }
  }
}
