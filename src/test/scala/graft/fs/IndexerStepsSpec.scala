package graft.fs

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, LinkOption, Path, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{ColumnarToRowExec, FileSourceScanExec, InputAdapter,
  ProjectExec, QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkSpec

/** Each `Indexer` step publishes in one pass: its returned counts are
  * the counts of the snapshot it published, it runs a fixed number of
  * SQL actions, and it caches only live-filesystem reads — never a
  * loaded snapshot. The fixture is [[FsPipelineSpec]]'s tree plus one
  * file over the size cap used here. */
class IndexerStepsSpec extends SparkSpec {

  private val Cap = 100L

  private def mkTree(): (Path, String) = {
    val root = Files.createTempDirectory("graft-steps")
    def w(rel: String, content: String): Unit = {
      val p = root.resolve(rel)
      Files.createDirectories(p.getParent)
      Files.write(p, content.getBytes(StandardCharsets.UTF_8))
    }
    w("file1.txt", "duplicate content")
    w("file2.txt", "duplicate content")
    w("unique.log", "unique content here")
    w("empty.dat", "")
    w("sub/nested.txt", "nested content")
    w("sub/deeper/deep.txt", "duplicate content")
    w("big.bin", "x" * 200) // over Cap: indexed, never hashed
    (root, Files.createTempDirectory("graft-steps-index").toString)
  }

  private def snapshot(idx: String): DataFrame = IndexStore.load(spark, idx)

  /** (path, filename) → indexed_at of the published snapshot. */
  private def indexedAt(idx: String): Map[(String, String), java.sql.Timestamp] =
    snapshot(idx).select("path", "filename", "indexed_at").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getTimestamp(2)).toMap

  private def deadDirs(before: DataFrame): Long =
    before.select("path").distinct().collect().map(_.getString(0))
      .count(p => !Files.isDirectory(Paths.get(p), LinkOption.NOFOLLOW_LINKS)).toLong

  /** The query executions `body` ran, in order. Listener events arrive
    * asynchronously but in posting order, so the window is fenced by
    * two marker queries run from the calling thread. */
  private def recorded[T](body: => T): (T, Seq[QueryExecution]) = {
    val marker = java.util.UUID.randomUUID().toString
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val closed = new java.util.concurrent.CountDownLatch(2) // one count per marker
    def isMarker(qe: QueryExecution) = qe.analyzed.toString.contains(marker)
    val l = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
        seen.add(qe)
        if (isMarker(qe)) closed.countDown()
      }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = seen.add(qe)
    }
    def fence(): Unit = spark.range(1).select(lit(marker)).collect()
    spark.listenerManager.register(l)
    try {
      fence()
      val r = body
      fence()
      assert(closed.await(60, java.util.concurrent.TimeUnit.SECONDS), "listener bus stalled")
      import scala.jdk.CollectionConverters._
      val all = seen.asScala.toSeq
      val open = all.indexWhere(isMarker)
      (r, all.slice(open + 1, all.lastIndexWhere(isMarker)))
    } finally spark.listenerManager.unregister(l)
  }

  private def cachedRelations(qes: Seq[QueryExecution]): Seq[InMemoryRelation] =
    qes.flatMap(_.withCachedData.collect { case r: InMemoryRelation => r })

  /** A cached plan that only reads parquet files: a snapshot load. */
  private def bareScan(p: SparkPlan): Boolean =
    p.exists(_.isInstanceOf[FileSourceScanExec]) && !p.exists {
      case _: FileSourceScanExec | _: ColumnarToRowExec | _: ProjectExec |
           _: WholeStageCodegenExec | _: InputAdapter => false
      case _ => true
    }

  private def assertNoSnapshotCached(qes: Seq[QueryExecution]): Unit = {
    val bare = cachedRelations(qes).filter(r => bareScan(r.cacheBuilder.cachedPlan))
    assert(bare.isEmpty, s"a loaded snapshot was cached: ${bare.map(_.cacheBuilder.cachedPlan)}")
  }

  test("fullIndex: one publish, one aggregate, no cache; stats are the snapshot's") {
    val (root, idx) = mkTree()
    val (stats, qes) = recorded(Indexer.fullIndex(spark, root.toString, idx, Cap))
    assert(qes.size == 2, qes.map(_.analyzed.nodeName))
    assert(cachedRelations(qes).isEmpty, "fullIndex executed a plan over a cached frame")
    val snap = snapshot(idx)
    assert(stats == IndexRunStats(snap.count(), snap.count(), 0, 0,
      snap.filter(col("checksum").isNotNull).count(), ChecksumStage.hashErrors(snap, Cap)))
    assert(stats.scanned == 7 && stats.checksummed == 5 && stats.hashErrors == 0)
  }

  test("twoPhaseIndex: four actions, the snapshot never cached; stats are the snapshot's") {
    val (root, idx) = mkTree()
    val ((p1, nHashed), qes) = recorded(Indexer.twoPhaseIndex(spark, root.toString, idx, Cap))
    assert(qes.size == 4, qes.map(_.analyzed.nodeName))
    assertNoSnapshotCached(qes)
    // phase 1 stamps every row at once; phase 2 rewrites the rows it hashed
    val snap = snapshot(idx)
    val phase1At = snap.agg(min("indexed_at")).head().getTimestamp(0)
    val rewritten = snap.filter(col("indexed_at") > lit(phase1At))
    assert(p1 == IndexRunStats(snap.count(), snap.count(), 0, 0, 0,
      ChecksumStage.hashErrors(rewritten, Cap)))
    assert(nHashed == rewritten.filter(col("checksum").isNotNull).count())
    assert(nHashed == 3 && rewritten.count() == 3)
  }

  test("incrementalIndex: three actions; stats match the diff of the two snapshots") {
    val (root, idx) = mkTree()
    Indexer.fullIndex(spark, root.toString, idx, Cap)
    val before = indexedAt(idx)
    Files.write(root.resolve("unique.log"), "changed!".getBytes(StandardCharsets.UTF_8))
    Files.setLastModifiedTime(root.resolve("unique.log"),
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() + 5000))
    Files.write(root.resolve("new.txt"), "brand new".getBytes(StandardCharsets.UTF_8))

    val (stats, qes) = recorded(Indexer.incrementalIndex(spark, root.toString, idx, Cap))
    assert(qes.size == 3, qes.map(_.analyzed.nodeName))
    assertNoSnapshotCached(qes)
    val after = indexedAt(idx)
    val inserted = after.keySet.diff(before.keySet).size.toLong
    val updated = after.count { case (k, t) => before.get(k).exists(_ != t) }.toLong
    val unchanged = after.count { case (k, t) => before.get(k).contains(t) }.toLong
    val rewritten = snapshot(idx).filter(col("indexed_at") > lit(before.values.maxBy(_.getTime)))
    assert(stats == IndexRunStats(after.size.toLong, inserted, updated, unchanged,
      rewritten.count(), ChecksumStage.hashErrors(rewritten, Cap)))
    assert((stats.inserted, stats.updated, stats.unchanged) == ((1L, 1L, 6L)))
  }

  test("cleanupDeletedFiles: four actions, the snapshot never cached; stats are the snapshots'") {
    val (root, idx) = mkTree()
    Indexer.fullIndex(spark, root.toString, idx, Cap)
    Files.delete(root.resolve("file2.txt"))
    Files.delete(root.resolve("sub/deeper/deep.txt"))
    Files.delete(root.resolve("sub/deeper"))
    val (total, dead) = (snapshot(idx).count(), deadDirs(snapshot(idx)))
    val (stats, qes) = recorded(Indexer.cleanupDeletedFiles(spark, idx))
    assert(qes.size == 4, qes.map(_.analyzed.nodeName))
    assertNoSnapshotCached(qes)
    assert(stats == CleanupStats(total, total - snapshot(idx).count(), dead))
    assert(stats == CleanupStats(7, 2, 1))
  }

  test("cleanupEmptyDirectories: four actions, the snapshot never cached; stats are the snapshots'") {
    val (root, idx) = mkTree()
    Indexer.fullIndex(spark, root.toString, idx, Cap)
    Files.delete(root.resolve("sub/deeper/deep.txt"))
    Files.delete(root.resolve("sub/deeper"))
    val (total, dead) = (snapshot(idx).count(), deadDirs(snapshot(idx)))
    val (stats, qes) = recorded(Indexer.cleanupEmptyDirectories(spark, idx))
    assert(qes.size == 4, qes.map(_.analyzed.nodeName))
    assertNoSnapshotCached(qes)
    assert(stats == CleanupStats(total, total - snapshot(idx).count(), dead))
    assert(stats == CleanupStats(7, 1, 1))
  }
}
