package graft.fs

import java.nio.file.{Files, Path}

import graft.SparkSpec
import graft.operators.OpCaches

/** `Indexer` steps cache the live-filesystem reads that their counts
  * and their publish share (fullIndex caches nothing); a publish that
  * throws must still release them, or a long-lived session keeps them
  * pinned. The index root here is a regular file, so every step throws
  * at the index root (whatever the user's file permissions). fullIndex
  * caches nothing, so its case checks that it still leaves nothing. */
class IndexerCacheSpec extends SparkSpec {

  private def tree(): Path = {
    val dir = Files.createTempDirectory("graft-idx-cache-tree")
    Files.createDirectories(dir.resolve("sub"))
    Seq("a.txt" -> "same", "b.txt" -> "same", "sub/c.txt" -> "diff!", "sub/d.txt" -> "")
      .foreach { case (n, body) => Files.writeString(dir.resolve(n), body) }
    dir
  }

  private def assertReleasedAfterFailure(run: (String, String) => Any): Unit = {
    val dir = tree().toString
    val root = Files.createTempFile("graft-idx-cache-root", "").toString
    // start clean: other suites share the session
    OpCaches.releaseAll(); spark.catalog.clearCache()
    intercept[Exception](run(dir, root))
    assert(spark.sharedState.cacheManager.isEmpty, "a failed publish left cached frames")
  }

  test("fullIndex releases its cache when the publish fails") {
    assertReleasedAfterFailure(Indexer.fullIndex(spark, _, _))
  }

  test("incrementalIndex releases its caches when the publish fails") {
    assertReleasedAfterFailure(Indexer.incrementalIndex(spark, _, _))
  }

  test("phase2SizeCollisions releases its caches when the publish fails") {
    assertReleasedAfterFailure((_, root) => Indexer.phase2SizeCollisions(spark, root))
  }

  test("cleanupDeletedFiles releases its caches when the publish fails") {
    assertReleasedAfterFailure((_, root) => Indexer.cleanupDeletedFiles(spark, root))
  }

  test("cleanupEmptyDirectories releases its caches when the publish fails") {
    assertReleasedAfterFailure((_, root) => Indexer.cleanupEmptyDirectories(spark, root))
  }
}
