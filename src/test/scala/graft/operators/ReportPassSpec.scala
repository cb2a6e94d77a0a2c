package graft.operators

import java.nio.file.Files

import org.apache.spark.storage.StorageLevel

import graft.{Jobs, SparkSpec}

/** `OpCaches.pass`: what a report pass keeps, for which inputs, and
  * that closing it leaves nothing behind. */
class ReportPassSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Seq((1L, "a b c"), (2L, "d e f")).toDF("doc_id", "text")

  private def clean(): Unit = { OpCaches.releaseAll(); spark.catalog.clearCache() }

  private def ids(df: org.apache.spark.sql.DataFrame): Seq[Long] =
    df.collect().map(_.getLong(0)).sorted.toSeq

  test("a file overwritten in place misses: shared() returns a new frame with the new rows") {
    clean()
    val dir = Files.createTempDirectory("graft-pass-mut").toString
    Seq(1L, 2L).toDF("doc_id").write.mode("overwrite").parquet(dir)
    OpCaches.pass {
      val a = OpCaches.shared("spec.mut")(spark.read.parquet(dir))
      assert(ids(a) == Seq(1L, 2L))
      assert(OpCaches.shared("spec.mut")(spark.read.parquet(dir)) eq a) // unchanged: a hit
      Seq(7L, 8L, 9L).toDF("doc_id").write.mode("overwrite").parquet(dir)
      val b = OpCaches.shared("spec.mut")(spark.read.parquet(dir))
      assert(!(b eq a))
      assert(ids(b) == Seq(7L, 8L, 9L))
      assert(OpCaches.sharedStats == ((2, 0L)))
    }
    clean()
  }

  test("a file overwritten in place misses: Dedup.clusters relabels the new pairs") {
    clean()
    val dir = Files.createTempDirectory("graft-pass-mut-pairs").toString
    def pairs = spark.read.parquet(dir)
    def labels = Dedup.clusters(pairs).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    Seq((1L, 2L), (2L, 3L)).toDF("doc_a", "doc_b").write.mode("overwrite").parquet(dir)
    OpCaches.pass {
      assert(labels == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
      // the same pair files again: the pass's driver labels, no Spark
      // job (the read itself runs one, to infer the parquet schema)
      val again = pairs
      assert(Jobs.counted(spark)(Dedup.clusters(again))._2 == 0)
      Seq((5L, 6L)).toDF("doc_a", "doc_b").write.mode("overwrite").parquet(dir)
      assert(labels == Map(5L -> 5L, 6L -> 5L))
    }
    clean()
  }

  test("closing a pass unpersists every frame and drops every value, also when the body throws") {
    clean()
    // blocks an earlier suite left to the ContextCleaner are not ours
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val emb = (0L until 60L).map { i =>
      (i, Array.tabulate(16)(d => ((i * 31 + d * 7) % 13 - 6).toFloat))
    }.toDF("vec_id", "embedding")
    val boom = intercept[IllegalStateException](OpCaches.pass {
      Dedup.jaccardPairs(docs, n = 2, threshold = 0.3).count()
      Ivf.topkIvf(emb, queryMod = 20L, k = 3, nCentroids = 4, nProbe = 2).count()
      OpCaches.releaseAll() // the per-query caches; the pass's frames stay
      assert((spark.sparkContext.getPersistentRDDs.keySet -- before).nonEmpty)
      assert(OpCaches.sharedStats._1 > 0)
      throw new IllegalStateException("boom")
    })
    assert(boom.getMessage == "boom")
    val lingering = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(lingering.isEmpty, s"lingering blocks: $lingering")
    // the next pass starts empty: no frame and no value carried over
    OpCaches.pass {
      assert(OpCaches.sharedStats == ((0, 0L)))
      var trained = false
      OpCaches.memo("spec.v", docs) { trained = true; 1 }
      assert(trained)
    }
    clean()
  }

  test("a full pass stores nothing new and counts each call it could not store as degraded") {
    clean()
    OpCaches.pass {
      (0 until OpCaches.MaxEntries).foreach(i => OpCaches.memo(s"spec.fill$i", docs)(i))
      val f = OpCaches.shared("spec.full")(docs.select("doc_id"))
      assert(f.storageLevel != StorageLevel.NONE)
      assert(OpCaches.sharedStats == ((0, 1L))) // tracked, not stored
      var runs = 0
      (1 to 2).foreach(_ => OpCaches.memo("spec.full", docs) { runs += 1; runs })
      assert(runs == 2) // computed per call, never stored
      assert(OpCaches.sharedStats == ((0, 3L)))
      // the degraded frame is a per-query cache: releaseAll drops it
      OpCaches.releaseAll()
      assert(f.storageLevel == StorageLevel.NONE)
      // a stored entry still hits
      assert(OpCaches.memo("spec.fill0", docs)(-1) == 0)
    }
    clean()
  }

  test("AnnIndex.build rides only cores a pass already holds and stores none of its own") {
    clean()
    val emb = (0L until 40L).map { i =>
      (i, Array.tabulate(16)(d => ((i * 37 + d * 11) % 17 - 8).toFloat / 8f))
    }.toDF("vec_id", "embedding")
    OpCaches.pass {
      AnnIndex.build(emb, Files.createTempDirectory("graft-pass-ann").toString,
        tables = 4, bits = 4, numBuckets = 4)
      assert(OpCaches.sharedStats == ((0, 0L)))
      assert(spark.sharedState.cacheManager.isEmpty, "the build cached a frame")
    }
    clean()
  }
}
