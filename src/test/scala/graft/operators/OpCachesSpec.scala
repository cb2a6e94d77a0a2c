package graft.operators

import graft.SparkSpec

/** The cache-hygiene contract: every operator-internal cache() is
  * tracked, and OpCaches.releaseAll() leaves NO persisted RDD behind —
  * a long-lived session (streaming driver, notebook, serving layer)
  * running operators back-to-back must not accumulate dead blocks. */
class OpCachesSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy cat"),
    (3L, "lorem ipsum dolor sit amet consectetur adipiscing elit"),
    (4L, "the quick brown fox jumps over the lazy dog")
  ).toDF("doc_id", "text")

  private def emb = (0L until 60L).map { i =>
    (i, Array.tabulate(64)(d => ((i * 31 + d * 7) % 13 - 6).toFloat))
  }.toDF("vec_id", "embedding")

  test("releaseAll drops every cache the lazy operator builders pin") {
    // make sure we start clean (other suites share the session)
    OpCaches.releaseAll()
    spark.catalog.clearCache()
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)

    // run each cache-holding operator through a terminal action
    Dedup.jaccardPairs(docs, n = 2, threshold = 0.3).count()
    Dedup.jaccardPairs(docs, n = 2, threshold = 0.3, maxDocFreq = Some(2L)).count()
    Dedup.minhashLsh(docs, n = 2, numHashes = 8, bands = 4, threshold = 0.3).count()
    Dedup.simhashPairs(docs).count()
    Similarity.topkLsh(emb, queryMod = 20L, k = 3).count()
    Ivf.topkIvf(emb, queryMod = 20L, k = 3, nCentroids = 4, nProbe = 2).count()

    assert(spark.sparkContext.getPersistentRDDs.nonEmpty) // caches were live
    OpCaches.releaseAll()
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      s"lingering blocks: ${spark.sparkContext.getPersistentRDDs.values.map(_.name)}")
  }

  test("double release and release-after-gc are safe no-ops") {
    Dedup.simhashPairs(docs).count()
    OpCaches.releaseAll()
    OpCaches.releaseAll() // second call: registry empty, nothing to do
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }

  private def withSharing[A](body: => A): A =
    try OpCaches.pass(body)
    finally {
      OpCaches.releaseAll()
      spark.catalog.clearCache()
    }

  test("shared cores survive releaseAll, are reused by identity, and " +
      "closing the pass drops them") {
    OpCaches.releaseAll(); spark.catalog.clearCache()
    try {
      OpCaches.pass {
        val a = OpCaches.shared("spec.core")(docs.select("doc_id"))
        a.count()
        val persisted = spark.sparkContext.getPersistentRDDs.size
        assert(persisted > 0)
        OpCaches.releaseAll() // must NOT drop the shared core
        assert(spark.sparkContext.getPersistentRDDs.size == persisted)
        // semantically identical input → the SAME persisted frame object
        val b = OpCaches.shared("spec.core")(docs.select("doc_id"))
        assert(b eq a)
        // semantically DIFFERENT input under the same key → a new entry,
        // never a wrong substitution
        val c = OpCaches.shared("spec.core")(docs.filter($"doc_id" > 1L).select("doc_id"))
        assert(!(c eq a))
        assert(c.collect().map(_.getLong(0)).sorted.toSeq == Seq(2L, 3L, 4L))
      }
      assert(spark.sparkContext.getPersistentRDDs.isEmpty)
    } finally spark.catalog.clearCache()
  }

  test("sharing is value-neutral: operator results identical with the conf on/off") {
    OpCaches.releaseAll(); spark.catalog.clearCache()
    val isolated = Dedup.jaccardPairs(docs, n = 2, threshold = 0.3).collect().toSeq
    OpCaches.releaseAll(); spark.catalog.clearCache()
    val shared = withSharing {
      // run twice: the second call rides the first call's shared cores
      Dedup.jaccardPairs(docs, n = 2, threshold = 0.3).count()
      Dedup.jaccardPairs(docs, n = 2, threshold = 0.3).collect().toSeq
    }
    assert(shared == isolated)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }

  test("mm.decodedMeta share is value-neutral: mm_resize riding " +
      "mm_metadata's decode core returns the isolated-run rows") {
    val dir = "/root/testdata/sf0.001"
    val meta = graft.SparkEntry.queries("mm_metadata")
    val resize = graft.SparkEntry.queries("mm_resize")
    OpCaches.releaseAll(); spark.catalog.clearCache()
    val isolated = resize(spark, dir).collect().toSeq
    OpCaches.releaseAll(); spark.catalog.clearCache()
    val shared = withSharing {
      meta(spark, dir).count() // pays for the decode core
      val entriesAfterMeta = OpCaches.sharedStats
      val rows = resize(spark, dir).collect().toSeq // must ride it, not re-decode
      // REUSE, not just value-neutrality: if decodeMetadata's plan ever
      // stops canonicalizing to the same core (e.g. the mapPartitions
      // lambda starts capturing a local), every query silently gets its
      // own registry entry — value-correct but the share is gone. The
      // resize pass must add NO new shared entry and degrade nothing.
      assert(OpCaches.sharedStats == entriesAfterMeta,
        s"mm_resize did not ride mm_metadata's decode core: " +
          s"$entriesAfterMeta -> ${OpCaches.sharedStats}")
      rows
    }
    assert(shared == isolated)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }

  test("trackCheckpoint frames are released deterministically by releaseAll") {
    OpCaches.releaseAll(); spark.catalog.clearCache()
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
    val ck = OpCaches.trackCheckpoint(docs.select("doc_id").localCheckpoint())
    assert(ck.count() == 4)
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty) // checkpoint blocks live
    OpCaches.releaseAll()
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      s"lingering checkpoint blocks: ${spark.sparkContext.getPersistentRDDs.values.map(_.name)}")
  }

  test("scratch-grouped operators leave no checkpoint blocks after releaseAll") {
    OpCaches.releaseAll(); spark.catalog.clearCache()
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
    val prev = spark.conf.getOption("graft.vocab.scratchBudgetBytes")
    try {
      spark.conf.set("graft.vocab.scratchBudgetBytes", "1") // force grouping
      Dedup.dupSpans(docs, n = 2).count()
      graft.operators.TextAnalysis.bigramRarity(docs).count()
      graft.operators.TextAnalysis.tfidfTopK(docs, k = 3).count()
    } finally {
      prev.fold(spark.conf.unset("graft.vocab.scratchBudgetBytes"))(
        spark.conf.set("graft.vocab.scratchBudgetBytes", _))
    }
    OpCaches.releaseAll()
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      s"lingering blocks: ${spark.sparkContext.getPersistentRDDs.values.map(_.name)}")
  }

  test("outside a pass, shared() is exactly track(): releaseAll drops it") {
    OpCaches.releaseAll(); spark.catalog.clearCache()
    val a = OpCaches.shared("spec.iso")(docs.select("doc_id"))
    a.count()
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty)
    val b = OpCaches.shared("spec.iso")(docs.select("doc_id"))
    assert(!(b eq a)) // no memoization outside a pass
    OpCaches.releaseAll()
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }
}
