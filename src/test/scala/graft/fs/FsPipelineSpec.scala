package graft.fs

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.queries.FileQueries

/** Integration tests over a real tmpdir file tree, mirroring the
  * reference's fixture (/root/reference/tests/test_indexer.py:37-55):
  * duplicate pair + unique file + empty file + file in a subdir. */
class FsPipelineSpec extends SparkSpec {

  /** Build the reference-style mini tree; returns (root, indexRoot). */
  private def mkTree(): (Path, Path) = {
    val root = Files.createTempDirectory("graft-fsspec")
    def w(rel: String, content: String): Unit = {
      val p = root.resolve(rel)
      Files.createDirectories(p.getParent)
      Files.write(p, content.getBytes(StandardCharsets.UTF_8))
    }
    w("file1.txt", "duplicate content")
    w("file2.txt", "duplicate content")   // same bytes as file1 → same checksum
    w("unique.log", "unique content here")
    w("empty.dat", "")
    w("sub/nested.txt", "nested content")
    w("sub/deeper/deep.txt", "duplicate content") // third copy, different dir
    val indexRoot = Files.createTempDirectory("graft-index")
    (root, indexRoot)
  }

  test("fullIndex: scans, hashes, publishes; empty file gets NULL checksum") {
    val (root, idx) = mkTree()
    val stats = Indexer.fullIndex(spark, root.toString, idx.toString)
    assert(stats.scanned == 6)
    assert(stats.hashErrors == 0) // every eligible file hashed successfully
    val df = IndexStore.load(spark, idx.toString).cache()
    assert(df.count() == 6)
    // empty file indexed but not hashed (indexer.py:158-163)
    assert(df.filter(col("filename") === "empty.dat" && col("checksum").isNull).count() == 1)
    // identical content → identical checksum across directories
    val dupSums = df.filter(col("filename").isin("file1.txt", "file2.txt", "deep.txt"))
      .select("checksum").distinct().collect()
    assert(dupSums.length == 1 && dupSums.head.getString(0) != null)
    // sha-256 of "duplicate content" is stable
    assert(dupSums.head.getString(0).matches("[0-9a-f]{64}"))
    df.unpersist()
  }

  test("duplicate detection on a freshly built index") {
    val (root, idx) = mkTree()
    Indexer.fullIndex(spark, root.toString, idx.toString)
    val dups = FileQueries.duplicates(IndexStore.load(spark, idx.toString))
    val names = dups.select("filename").collect().map(_.getString(0)).sorted
    assert(names.toSeq == Seq("deep.txt", "file1.txt", "file2.txt"))
    assert(dups.select("group_size").distinct().collect().map(_.getLong(0)).toSeq == Seq(3L))
  }

  test("two-phase: phase 1 hashes nothing; phase 2 hashes only size collisions") {
    val (root, idx) = mkTree()
    val (p1, hashed) = Indexer.twoPhaseIndex(spark, root.toString, idx.toString)
    assert(p1.scanned == 6 && p1.checksummed == 0)
    val df = IndexStore.load(spark, idx.toString).cache()
    // Only the three "duplicate content" files share a size → only they
    // get hashed (the ~95%-reduction prefilter, indexer.py:1487-1559).
    assert(hashed == 3)
    assert(df.filter(col("checksum").isNotNull).count() == 3)
    assert(df.filter(col("filename") === "unique.log" && col("checksum").isNull).count() == 1)
    // and the hashed ones agree
    assert(df.filter(col("checksum").isNotNull).select("checksum").distinct().count() == 1)
    df.unpersist()
  }

  test("two-phase finds the same duplicates as full indexing") {
    val (root, idx1) = mkTree()
    val (root2, idx2) = mkTree()
    Indexer.fullIndex(spark, root.toString, idx1.toString)
    Indexer.twoPhaseIndex(spark, root2.toString, idx2.toString)
    def dupNames(idx: Path) =
      FileQueries.duplicates(IndexStore.load(spark, idx.toString))
        .select("filename").collect().map(_.getString(0)).sorted.toSeq
    assert(dupNames(idx1) == dupNames(idx2))
  }

  test("incremental re-index: unchanged files reuse checksums, changes re-hash") {
    val (root, idx) = mkTree()
    Indexer.fullIndex(spark, root.toString, idx.toString)
    val before = IndexStore.load(spark, idx.toString)
      .select("filename", "checksum", "indexed_at").collect()
      .map(r => r.getString(0) -> (r.getString(1), r.getTimestamp(2))).toMap

    // modify one file, add one file
    Files.write(root.resolve("unique.log"), "changed!".getBytes(StandardCharsets.UTF_8))
    Files.write(root.resolve("new.txt"), "brand new".getBytes(StandardCharsets.UTF_8))
    // make mtime change visible even on coarse-granularity filesystems
    Files.setLastModifiedTime(root.resolve("unique.log"),
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() + 5000))

    val stats = Indexer.incrementalIndex(spark, root.toString, idx.toString)
    assert(stats.inserted == 1, s"inserted=${stats.inserted}")
    assert(stats.updated == 1, s"updated=${stats.updated}")
    assert(stats.unchanged == 5, s"unchanged=${stats.unchanged}")

    val after = IndexStore.load(spark, idx.toString)
    assert(after.count() == 7)
    val afterMap = after.select("filename", "checksum", "indexed_at").collect()
      .map(r => r.getString(0) -> (r.getString(1), r.getTimestamp(2))).toMap
    // unchanged file kept its original indexed_at (checksum reuse, no rewrite)
    assert(afterMap("file1.txt") == before("file1.txt"))
    // changed file got a new checksum
    assert(afterMap("unique.log")._1 != before("unique.log")._1)
    assert(afterMap.contains("new.txt"))
  }

  test("cleanupDeletedFiles: dead directory kills children via one check; live dirs per-file") {
    val (root, idx) = mkTree()
    Indexer.fullIndex(spark, root.toString, idx.toString)
    // delete one file and one whole subtree
    Files.delete(root.resolve("file2.txt"))
    Files.delete(root.resolve("sub/deeper/deep.txt"))
    Files.delete(root.resolve("sub/deeper"))
    val stats = Indexer.cleanupDeletedFiles(spark, idx.toString)
    assert(stats.totalChecked == 6)
    assert(stats.deletedFiles == 2)
    assert(stats.deletedDirectories == 1)
    val left = IndexStore.load(spark, idx.toString).select("filename")
      .collect().map(_.getString(0)).sorted.toSeq
    assert(left == Seq("empty.dat", "file1.txt", "nested.txt", "unique.log"))
  }

  test("cleanupEmptyDirectories removes rows for vanished dirs only") {
    val (root, idx) = mkTree()
    Indexer.fullIndex(spark, root.toString, idx.toString)
    Files.delete(root.resolve("sub/deeper/deep.txt"))
    Files.delete(root.resolve("sub/deeper"))
    val stats = Indexer.cleanupEmptyDirectories(spark, idx.toString)
    assert(stats.deletedDirectories == 1)
    assert(stats.deletedFiles == 1)
    assert(IndexStore.load(spark, idx.toString).count() == 5)
  }

  test("scan skips symlinks; non-recursive lists only the top level") {
    val (root, _) = mkTree()
    Files.createSymbolicLink(root.resolve("link.txt"), root.resolve("file1.txt"))
    val stats = new ScanStats(spark)
    val rec = FsScan.scan(spark, root.toString, recursive = true, Some(stats)).collect()
    assert(rec.length == 6) // symlink excluded
    assert(stats.ignoredSymlinks.value == 1)
    // directories are walked, not classified — the special-files counter
    // means pipes/sockets/devices (reference os.walk feeds only filenames
    // to _should_process_file), so `sub/` and `sub/deeper/` don't inflate it
    assert(stats.ignoredSpecialFiles.value == 0)
    val flat = FsScan.scan(spark, root.toString, recursive = false).collect()
    assert(flat.map(_.filename).sorted.toSeq ==
      Seq("empty.dat", "file1.txt", "file2.txt", "unique.log"))
  }

  test("Go-parity scan filters: skipHidden drops dotfiles, maxFileSize caps indexing") {
    val (root, _) = mkTree()
    Files.write(root.resolve(".hidden"), "secret".getBytes(StandardCharsets.UTF_8))
    val all = FsScan.scan(spark, root.toString).collect()
    assert(all.map(_.filename).contains(".hidden"))
    val noHidden = FsScan.scan(spark, root.toString, skipHidden = true).collect()
    assert(!noHidden.map(_.filename).contains(".hidden"))
    // cap at 15 bytes: only nested.txt (14) and empty.dat (0) survive
    val small = FsScan.scan(spark, root.toString, maxFileSize = 15L).collect()
    assert(small.map(_.filename).sorted.toSeq == Seq(".hidden", "empty.dat", "nested.txt"))
  }

  test("checksum stage: streaming hash matches MessageDigest over whole content") {
    val (root, _) = mkTree()
    val expected = java.security.MessageDigest.getInstance("SHA-256")
      .digest("duplicate content".getBytes(StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString
    assert(ChecksumStage.hashFile(root.resolve("file1.txt").toString).contains(expected))
    // unreadable file → None, not an exception
    assert(ChecksumStage.hashFile(root.resolve("does-not-exist").toString).isEmpty)
  }

  test("size cap semantics: maxChecksumSize caps, 0 = unlimited, <0 = none") {
    val (root, _) = mkTree()
    val scanned = FsScan.scanDF(spark, root.toString)
    def nHashed(cap: Long) =
      ChecksumStage.withChecksums(spark, scanned, cap)
        .filter(col("checksum").isNotNull).count()
    assert(nHashed(-1L) == 0)          // phase-1 sentinel
    assert(nHashed(0L) == 5)           // unlimited: everything but empty
    assert(nHashed(15L) == 1)          // only nested.txt (14 bytes) fits the cap
    assert(nHashed(1000L) == 5)
  }

  test("multi-level seeding spreads a flat root with one hot subtree; no file scanned twice") {
    // root has ONE subdir; all data hides 2 levels down — one-level
    // seeding would collapse this to a single walk task
    val root = Files.createTempDirectory("graft-flat")
    for (i <- 0 until 6; j <- 0 until 3) {
      val d = root.resolve(s"hot/part$i")
      Files.createDirectories(d)
      Files.write(d.resolve(s"f$j.dat"), s"$i-$j".getBytes(StandardCharsets.UTF_8))
    }
    Files.write(root.resolve("hot/top.txt"), "x".getBytes(StandardCharsets.UTF_8))
    val (listDirs, walkDirs) = FsScan.seedPlan(root.toString, targetSeeds = 4)
    assert(walkDirs.size == 6, s"expected the 6 part dirs as walk seeds, got $walkDirs")
    assert(listDirs.map(d => d.substring(d.lastIndexOf('/') + 1)).toSet
      .subsetOf(Set(root.getFileName.toString, "hot")))
    val scanned = FsScan.scan(spark, root.toString).collect()
    assert(scanned.length == 19) // 18 leaf files + hot/top.txt, each exactly once
    assert(scanned.map(f => f.path + "/" + f.filename).distinct.length == 19)
  }

  test("seedPlan depth cap: a chain deeper than maxDepth still covers every file once") {
    val root = Files.createTempDirectory("graft-deep")
    var d = root
    for (i <- 0 until 7) { // depth 7 > default maxDepth 4
      d = d.resolve(s"lvl$i")
      Files.createDirectories(d)
      Files.write(d.resolve(s"f$i.dat"), s"$i".getBytes(StandardCharsets.UTF_8))
    }
    val scanned = FsScan.scan(spark, root.toString).collect()
    assert(scanned.length == 7)
    assert(scanned.map(f => f.path + "/" + f.filename).distinct.length == 7)
  }

  test("recursive scan: seeds interleaved over min(seeds, 2 x cores) partitions, no Exchange") {
    val sc = spark.sparkContext
    for (subdirs <- Seq(3, 3 * sc.defaultParallelism)) {
      val root = Files.createTempDirectory("graft-scanparts")
      for (i <- 0 until subdirs) {
        Files.createDirectories(root.resolve(s"d$i"))
        Files.write(root.resolve(s"d$i/f.dat"), s"$i".getBytes(StandardCharsets.UTF_8))
      }
      val (listDirs, walkDirs) = FsScan.seedPlan(root.toString)
      val seeds = listDirs.size + walkDirs.size
      val n = seeds.min(2 * sc.defaultParallelism)
      val scan = FsScan.scan(spark, root.toString)
      assert(!scan.queryExecution.executedPlan.toString.contains("Exchange"),
        scan.queryExecution.executedPlan.toString)
      assert(scan.rdd.getNumPartitions == n, s"seeds=$seeds")
      // partition k walks seeds k, k+n, ...: adjacent siblings never share a task
      val seedOf = (listDirs ++ walkDirs).zipWithIndex.toMap
      val placed = scan.rdd.mapPartitionsWithIndex((k, it) => it.map(f => (k, f.path))).collect()
      assert(placed.length == subdirs)
      assert(placed.forall { case (k, dir) => seedOf(dir) % n == k }, placed.toSeq)
    }
  }

  test("hashErrors counts eligible-but-unhashable rows exactly, from data") {
    val (root, _) = mkTree()
    val scanned = FsScan.scanDF(spark, root.toString)
    val clean = ChecksumStage.withChecksums(spark, scanned, 0L)
    assert(ChecksumStage.hashErrors(clean, 0L) == 0)
    // a row whose file vanished between scan and hash → NULL despite eligible
    val withGhost = scanned.unionByName(
      scanned.limit(1).withColumn("filename", lit("vanished-after-scan"))
        .withColumn("file_size", lit(10L)))
    val hashed = ChecksumStage.withChecksums(spark, withGhost, 0L)
    assert(ChecksumStage.hashErrors(hashed, 0L) == 1)
    // recomputation does not double-count (the round-1 accumulator bug)
    assert(ChecksumStage.hashErrors(hashed, 0L) == 1)
  }

  test("SnapshotDir meta is atomic with the snapshot: each generation keeps its own") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-snapmeta").toString
    val df1 = Seq((1L, "x")).toDF("id", "v")
    SnapshotDir.publish(df1, root, meta = Map("gen" -> "1", "k" -> "a=b")) // '=' in value
    assert(SnapshotDir.loadMeta(root) == Map("gen" -> "1", "k" -> "a=b"))
    assert(SnapshotDir.load(spark, root, df1.schema).count() == 1)
    SnapshotDir.publish(Seq((1L, "x"), (2L, "y")).toDF("id", "v"), root,
      meta = Map("gen" -> "2"))
    assert(SnapshotDir.loadMeta(root) == Map("gen" -> "2"))
    assert(SnapshotDir.load(spark, root, df1.schema).count() == 2)
    // a publish without meta yields an empty map, not the predecessor's
    SnapshotDir.publish(df1, root)
    assert(SnapshotDir.loadMeta(root).isEmpty)
  }

  test("publish sweeps snapshot dirs orphaned by a crash before the pointer flip") {
    import spark.implicits._
    val idx = Files.createTempDirectory("graft-orphan")
    val t0 = new java.sql.Timestamp(1000000L)
    val df = Seq(("/d", "f.txt", "aaa", t0, 10L, t0)).toDF(
      "path", "filename", "checksum", "modification_datetime", "file_size", "indexed_at")
    // simulate a crashed publish: snapshot written, pointer never flipped
    Files.createDirectories(idx.resolve("snap-000-orphan"))
    Files.write(idx.resolve("snap-000-orphan/part-stale.parquet"), Array[Byte](1, 2))
    Files.write(idx.resolve(".CURRENT-123"), "snap-000-orphan".getBytes)
    IndexStore.publish(df, idx.toString)
    val entries = Files.list(idx).iterator()
    val names = scala.collection.mutable.ArrayBuffer.empty[String]
    while (entries.hasNext) names += entries.next().getFileName.toString
    assert(!names.contains("snap-000-orphan"), names.mkString(","))
    assert(!names.exists(_.startsWith(".CURRENT-")), names.mkString(","))
    assert(names.count(_.startsWith("snap-")) == 1) // only the published one
    assert(IndexStore.load(spark, idx.toString).count() == 1)
  }

  test("scan walker is lazy: files are statted on demand, not at iterator creation") {
    // 1 root file consumed first, then the remaining 25 are DELETED
    // mid-iteration: a lazy walker stats each entry only when pulled,
    // so the deleted ones surface as per-file errors and yield no
    // records; an eager collect-then-iterate walker would have statted
    // all 26 up front and kept returning stale records.
    val root = Files.createTempDirectory("graft-lazywalk")
    ('a' to 'z').foreach(c => Files.write(root.resolve(s"$c.txt"), Array[Byte](1)))
    val stats = new ScanStats(spark)
    val it = FsScan.walker(root.toString, stats, recurse = true, countDirs = false)
    val first = it.next() // exactly one row pulled so far
    ('a' to 'z').map(c => root.resolve(s"$c.txt"))
      .filterNot(_.getFileName.toString == first.filename)
      .foreach(Files.delete)
    val rest = it.toSeq
    // the iterator legitimately holds ONE pre-fetched record (hasNext
    // lookahead); anything beyond that means the walker statted the
    // whole directory eagerly up front
    assert(rest.size <= 1, s"stale records from eager buffering: ${rest.map(_.filename)}")
    assert(stats.permissionErrors.value >= 24L)
  }

  test("walker close() releases the open directory stream mid-iteration") {
    val root = Files.createTempDirectory("graft-walkclose")
    ('a' to 'e').foreach(c => Files.write(root.resolve(s"$c.txt"), Array[Byte](1)))
    val it = FsScan.walker(root.toString, new ScanStats(spark),
      recurse = true, countDirs = false)
    assert(it.hasNext)
    it.asInstanceOf[AutoCloseable].close()
    assert(!it.hasNext) // closed walker yields nothing further
  }

  test("walker iterdir modes: countDirs decides whether a subdir hits the counter") {
    val root = Files.createTempDirectory("graft-iterdir")
    Files.write(root.resolve("f.txt"), Array[Byte](1))
    Files.createDirectories(root.resolve("sub"))
    Files.write(root.resolve("sub/inner.txt"), Array[Byte](1))
    val s1 = new ScanStats(spark)
    val flat = FsScan.walker(root.toString, s1, recurse = false, countDirs = true).toSeq
    assert(flat.map(_.filename) == Seq("f.txt") || flat.map(_.filename).sorted == Seq("f.txt"))
    assert(s1.ignoredSpecialFiles.value == 1L) // the subdir, Python iterdir parity
    val s2 = new ScanStats(spark)
    val walk = FsScan.walker(root.toString, s2, recurse = false, countDirs = false).toSeq
    assert(walk.map(_.filename) == Seq("f.txt"))
    assert(s2.ignoredSpecialFiles.value == 0L) // os.walk parity: dirs never classified
  }

  test("IndexStore.upsert is last-writer-wins on (path, filename)") {
    import spark.implicits._
    val idx = Files.createTempDirectory("graft-upsert")
    val t0 = new java.sql.Timestamp(1000000L)
    val t1 = new java.sql.Timestamp(2000000L)
    val a = Seq(("/d", "f.txt", "aaa", t0, 10L, t0)).toDF(
      "path", "filename", "checksum", "modification_datetime", "file_size", "indexed_at")
    IndexStore.publish(a, idx.toString)
    val b = Seq(("/d", "f.txt", "bbb", t1, 20L, t1)).toDF(
      "path", "filename", "checksum", "modification_datetime", "file_size", "indexed_at")
    IndexStore.upsert(spark, idx.toString, b)
    val rows = IndexStore.load(spark, idx.toString).collect()
    assert(rows.length == 1)
    assert(rows.head.getAs[String]("checksum") == "bbb")
  }
}
