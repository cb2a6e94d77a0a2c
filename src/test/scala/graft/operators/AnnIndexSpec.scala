package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The persisted ANN index must return exactly what the per-query LSH
  * operator computes with the same plane set, and its query plans must
  * read the corpus pre-bucketed (that is its reason to exist). */
class AnnIndexSpec extends SparkSpec {
  import spark.implicits._

  private def emb = (0L until 120L).map { i =>
    (i, Array.tabulate(64)(d => ((i * 37 + d * 11) % 17 - 8).toFloat / 8f))
  }.toDF("vec_id", "embedding")

  test("topk over the persisted index == topkLsh with the same planes") {
    val root = Files.createTempDirectory("graft-annidx").toString
    // same plane family as Similarity.topkLsh's default (4×5, seed 42)
    AnnIndex.build(emb, root, tables = LshPlanes.numTables,
      bits = LshPlanes.bitsPerTable, seed = 42L, numBuckets = 4)

    val queries = emb.filter(col("vec_id") % 20 === 0)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val fromIndex = AnnIndex.topk(spark, root, queries, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val direct = Similarity.topkLsh(emb, queryMod = 20L, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    OpCaches.releaseAll()
    assert(fromIndex == direct, s"index=${fromIndex.size} direct=${direct.size}")
    assert(fromIndex.nonEmpty)
  }

  test("a build outside a pass caches nothing") {
    // each build input feeds one publish; only a shared core is worth caching
    OpCaches.releaseAll(); spark.catalog.clearCache()
    AnnIndex.build(emb, Files.createTempDirectory("graft-annidx-nocache").toString,
      tables = 4, bits = 4, numBuckets = 4)
    assert(spark.sharedState.cacheManager.isEmpty, "the build left cached frames")
  }

  test("queries read the corpus pre-bucketed (no corpus-side Exchange)") {
    import graft.fs.SnapshotDir
    import org.apache.spark.sql.types._
    val root = Files.createTempDirectory("graft-annidx2").toString
    AnnIndex.build(emb, root, tables = 4, bits = 4, numBuckets = 4)
    val queries = emb.filter(col("vec_id") === 0)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val plan = AnnIndex.topk(spark, root, queries, k = 3)
      .queryExecution.executedPlan.toString
    // both corpus artifacts scan as bucketed tables
    assert("Bucketed: true".r.findAllIn(plan).size >= 2, plan)

    // the property by construction, not just by label: joining each
    // bucketed artifact on its bucket column must produce NO Exchange
    // on the corpus side — broadcast probe has zero Exchanges; a
    // shuffle join against `vectors` has exactly one (the probe side)
    val bucketsDir = SnapshotDir.currentDir(s"$root/buckets").get
    val corpusBuckets = SnapshotDir.readAt(spark, bucketsDir, StructType(Seq(
      StructField("vec_id", LongType), StructField("tb", StringType))))
    val probe = broadcast(Seq((0L, "0:0000")).toDF("query_id", "tb"))
      .join(corpusBuckets, Seq("tb"))
    // the query side broadcasts (BroadcastExchange of a handful of keys
    // is the point); what must NOT appear is a shuffle of the corpus
    val probePlan = probe.queryExecution.executedPlan.toString
    assert(!probePlan.contains("Exchange hashpartitioning"), probePlan)
    val vectorsSnap = SnapshotDir.metaAt(bucketsDir)("vectors_snap")
    val vectors = SnapshotDir.readAt(spark, s"$root/vectors/$vectorsSnap",
      StructType(Seq(StructField("vec_id", LongType),
        StructField("v", ArrayType(DoubleType)), StructField("nrm", DoubleType))))
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val fetch = Seq(1L, 2L).toDF("vec_id").join(vectors, Seq("vec_id"))
      val fplan = fetch.queryExecution.executedPlan.toString
      assert("Exchange".r.findAllIn(fplan).size == 1, fplan) // candidate side only
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)

    // rebuild replaces the snapshot atomically; queries keep working
    AnnIndex.build(emb, root, tables = 4, bits = 4, numBuckets = 4)
    assert(AnnIndex.topk(spark, root, queries, k = 3).count() > 0)
  }

  test("torn buckets publish is refused via the manifest row it shows as") {
    val root = java.nio.file.Files.createTempDirectory("graft-ann-torn").toString
    AnnIndex.build(emb, root, tables = 4, bits = 4, numBuckets = 4)
    // tear the buckets pointer: CURRENT names a snapshot dir that's gone
    // (crash between pointer write and a later retention sweep)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$root/buckets/CURRENT"), "snap-999999999999")
    // the manifest view shows exactly one live=false buckets base row...
    val rows = graft.fs.IndexManifest.entries(Seq(graft.fs.IndexManifest.ann(root)))
    val bRow = rows.filter(e => e.component == "buckets" && e.entry == "base")
    assert(bRow.length == 1 && !bRow.head.live)
    // ...and topk refuses with that same row, not a scan error later
    val err = intercept[RuntimeException] {
      AnnIndex.topk(spark, root, emb.limit(2)
        .select(col("vec_id").as("query_id"), col("embedding")), k = 3)
    }
    assert(err.getMessage.contains("no live buckets snapshot"))
    assert(err.getMessage.contains("snap-999999999999"))
  }
}
