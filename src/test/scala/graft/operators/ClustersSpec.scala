package graft.operators

import graft.SparkSpec

class ClustersSpec extends SparkSpec {
  import spark.implicits._

  test("clusters: min-label propagation finds connected components") {
    // components: {1,2,3,4} (chain), {7,9}, singleton edges only
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (7L, 9L))
      .toDF("doc_a", "doc_b")
    val c = Dedup.clusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(c == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 7L -> 7L, 9L -> 7L))
  }

  test("clusters: converges on a long chain (diameter > 2 rounds)") {
    val chain = (1L to 30L).sliding(2).map(s => (s.head, s.last)).toSeq
      .toDF("doc_a", "doc_b")
    val c = Dedup.clusters(chain).collect().map(_.getLong(1)).toSet
    assert(c == Set(1L)) // everything collapses to the chain head
  }

  test("driver fast path and distributed loop produce identical labelings") {
    // chain + separate component + reversed-id edges (min is on the 'b' side)
    val pairs = ((1L to 30L).sliding(2).map(s => (s.head, s.last)).toSeq ++
      Seq((40L, 45L), (45L, 41L), (100L, 90L))).toDF("doc_a", "doc_b")
    val fast = Dedup.clusters(pairs).collect() // n=32 edges ≤ budget → driver path
      .map(r => r.getLong(0) -> r.getLong(1)).toSeq
    val dist = Dedup.clusters(pairs, maxDriverEdges = 0L).collect() // force loop
      .map(r => r.getLong(0) -> r.getLong(1)).toSeq
    assert(fast == dist)
    assert(fast.toMap.get(90L).contains(90L)) // min of {90,100}
    assert(fast.toMap.get(41L).contains(40L))
  }

  test("clusters frees its edge checkpoint on both paths") {
    val pairs = ((1L to 30L).sliding(2).map(s => (s.head, s.last)).toSeq ++
      Seq((40L, 45L), (100L, 90L))).toDF("doc_a", "doc_b")
    def leftPinned(body: => Unit): Set[Int] = {
      OpCaches.releaseAll()
      val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
      body
      OpCaches.releaseAll()
      spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
    }
    assert(leftPinned(Dedup.clusters(pairs).collect()).isEmpty)
    // the loop's last label checkpoint backs the returned frame
    assert(leftPinned(Dedup.clusters(pairs, maxDriverEdges = 0L).collect()).size <= 1)
    assert(leftPinned(Dedup.clusters(pairs.limit(0)).collect()).isEmpty)
  }

  test("clusters: empty pair list yields an empty labeling, not an NPE") {
    val none = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    assert(Dedup.clusters(none).collect().isEmpty)
  }

  test("keepList on a corpus with no near-dup pairs keeps every exact-unique doc") {
    val docs = Seq(
      (1L, "alpha beta gamma delta"), (2L, "zz yy xx ww vv uu"),
      (3L, "one two three four five")
    ).toDF("doc_id", "text")
    // threshold 0.99 on disjoint texts → zero jaccard pairs → clusters([])
    val kept = Dedup.keepList(docs, n = 3, threshold = 0.99).collect().map(_.getLong(0))
    assert(kept.toSeq == Seq(1L, 2L, 3L))
  }

  test("non-Long ids (string fingerprints) take the type-agnostic distributed path") {
    val pairs = Seq(("b", "c"), ("a", "b"), ("x", "z"))
      .toDF("doc_a", "doc_b")
    val c = Dedup.clusters(pairs).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(c == Map("a" -> "a", "b" -> "a", "c" -> "a", "x" -> "x", "z" -> "x"))
    // and an empty string-id pair list preserves the string schema
    val empty = Seq.empty[(String, String)].toDF("doc_a", "doc_b")
    val out = Dedup.clusters(empty)
    assert(out.schema("doc_id").dataType == org.apache.spark.sql.types.StringType)
    assert(out.collect().isEmpty)
  }

  test("clusters over jaccard pairs labels exact duplicates together") {
    val docs = Seq(
      (1L, "aa bb cc dd"), (2L, "aa bb cc dd"), (3L, "aa bb cc dd"),
      (4L, "totally different text here"), (5L, "unrelated again stuff")
    ).toDF("doc_id", "text")
    val c = Dedup.clusters(Dedup.jaccardPairs(docs, 3, 0.9)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(c == Map(1L -> 1L, 2L -> 1L, 3L -> 1L)) // 4, 5 have no pairs
  }
}
