package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.Dedup

/** [[DedupStream.decideBatchParts]] against a distributed reference
  * formulation of the same decision, written here from public
  * operators: pairs from [[Dedup.deltaPairsFromParts]], each side
  * tagged against the batch ids, within-batch clusters from
  * [[Dedup.clusters]], and the kept-wins rule as an anti-join against
  * every doc_id of the whole index. */
class DedupDecisionEquivSpec extends SparkSpec {
  import spark.implicits._

  private def reference(batch: DataFrame, parts: Seq[DataFrame], n: Int,
      threshold: Double, hot: Option[DataFrame]): (Set[(Long, Boolean)], Set[(Long, Long, Long)]) = {
    val newDocs = batch.select("doc_id", "text").filter(col("doc_id").isNotNull)
      .groupBy("doc_id").agg(max(col("text")).as("text"))
    val newIds = newDocs.select("doc_id")
    val newIdx = hot.map(h => Dedup.shingleIndexCapped(newDocs, n, h))
      .getOrElse(Dedup.shingleIndex(newDocs, n))
    val tagged = Dedup.deltaPairsFromParts(newIdx, parts, threshold)
      .filter(col("doc_a") =!= col("doc_b")).select("doc_a", "doc_b")
      .join(newIds.toDF("doc_a").withColumn("_a_new", lit(true)), Seq("doc_a"), "left")
      .join(newIds.toDF("doc_b").withColumn("_b_new", lit(true)), Seq("doc_b"), "left")
    val pairedWithCorpus = tagged.filter(col("_a_new").isNull && col("_b_new").isNotNull)
      .select(col("doc_b").as("doc_id"))
      .unionByName(tagged.filter(col("_b_new").isNull && col("_a_new").isNotNull)
        .select(col("doc_a").as("doc_id")))
    val clusterDrops = Dedup.clusters(
        tagged.filter(col("_a_new").isNotNull && col("_b_new").isNotNull)
          .select("doc_a", "doc_b"))
      .filter(col("doc_id") =!= col("cluster")).select("doc_id")
    val drops = pairedWithCorpus.unionByName(clusterDrops).distinct()
      .join(parts.map(_.select("doc_id")).reduce(_ unionByName _).distinct(),
        Seq("doc_id"), "left_anti")
      .withColumn("_drop", lit(true))
    val decisions = newDocs.join(drops, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(!col("_drop"), lit(true)).as("kept"))
    val kept = newIdx.join(decisions.filter(col("kept")).select("doc_id"), "doc_id")
      .select("shingle", "doc_id", "n_sh")
    (decisions.as[(Long, Boolean)].collect().toSet,
      kept.as[(Long, Long, Long)].collect().toSet)
  }

  private def decided(batch: DataFrame, parts: Seq[DataFrame], n: Int,
      threshold: Double, hot: Option[DataFrame]): (Set[(Long, Boolean)], Set[(Long, Long, Long)]) = {
    val (d, k, cleanup) = DedupStream.decideBatchParts(batch, parts, n, threshold, hot)
    try (d.as[(Long, Boolean)].collect().toSet, k.as[(Long, Long, Long)].collect().toSet)
    finally cleanup()
  }

  /** A seeded corpus and batch over a 10-word vocabulary: the batch
    * holds fresh docs, verbatim and one-word-edited copies of corpus
    * docs, verbatim and edited copies of its own docs, replays (a
    * corpus doc under its own id), and one doc_id carried twice with
    * different texts. Corpus ids are odd, batch ids even and drawn
    * from the same range, so either side may hold a pair's larger id. */
  private def scenario(seed: Long): (Seq[(Long, String)], Seq[(Long, String)]) = {
    val rnd = new scala.util.Random(seed)
    val vocab = Vector("aa", "bb", "cc", "dd", "ee", "ff", "gg", "hh", "ii", "jj")
    def fresh(): String = Seq.fill(6 + rnd.nextInt(4))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    def edit(t: String): String = {
      val w = t.split(" ")
      w(w.length - 1) = vocab(rnd.nextInt(vocab.size))
      w.mkString(" ")
    }
    val corpus = (0 until 10).map(i => (10L * i + 5, fresh()))
    val ids = rnd.shuffle((1L to 60L).map(_ * 2)).iterator
    val batch = Seq.newBuilder[(Long, String)]
    (0 until 10).foreach { _ =>
      val text = rnd.nextInt(3) match {
        case 0 => fresh()
        case 1 => corpus(rnd.nextInt(corpus.size))._2
        case _ => edit(corpus(rnd.nextInt(corpus.size))._2)
      }
      batch += ids.next() -> text
      if (rnd.nextInt(3) == 0) // a within-batch copy
        batch += ids.next() -> (if (rnd.nextBoolean()) text else edit(text))
    }
    corpus.take(2 + rnd.nextInt(2)).foreach(batch += _) // replays
    val twice = ids.next()
    batch += twice -> fresh() += twice -> fresh() // one id, two texts: max text wins
    (corpus, batch.result())
  }

  /** The corpus index in two parts (a base and one delta), uncapped or
    * in the capped space of `hot`. */
  private def parts(corpus: Seq[(Long, String)], hot: Option[DataFrame]): Seq[DataFrame] = {
    val (base, delta) = corpus.splitAt(corpus.size / 2)
    Seq(base, delta).map { half =>
      val docs = half.toDF("doc_id", "text")
      hot.map(Dedup.shingleIndexCapped(docs, 3, _)).getOrElse(Dedup.shingleIndex(docs, 3))
    }
  }

  test("decideBatchParts == the distributed formulation over seeded batches, capped and uncapped") {
    for (seed <- 1L to 4L; capped <- Seq(false, true)) {
      val (corpus, batch) = scenario(seed)
      val batchDf = batch.toDF("doc_id", "text")
      val hot = if (!capped) None else Some(Dedup.hotShingles(
        (corpus ++ batch).toDF("doc_id", "text"), n = 3, cap = 2L).cache())
      val ps = parts(corpus, hot)
      val want = reference(batchDf, ps, 3, 0.5, hot)
      val got = decided(batchDf, ps, 3, 0.5, hot)
      hot.foreach(_.unpersist())
      assert(got == want, s"seed $seed capped=$capped")
      // the scenario is not vacuous: both outcomes occur
      assert(want._1.exists(_._2) && want._1.exists(!_._2), s"seed $seed capped=$capped")
    }
  }

  test("a reused doc_id whose indexed text differs stays kept, even when it copies a corpus doc") {
    val corpus = Seq((1L, "aa bb cc dd ee ff"), (5L, "qq rr ss tt uu vv"))
    // 5 is in the index with other text; its batch text copies doc 1
    // (a corpus hit) and doc 6 copies its batch text (a within pair)
    val batch = Seq((5L, "aa bb cc dd ee ff"), (6L, "aa bb cc dd ee ff"), (7L, "kk ll mm nn oo pp"))
      .toDF("doc_id", "text")
    val ps = parts(corpus, None)
    val want = reference(batch, ps, 3, 0.5, None)
    assert(want._1 == Set(5L -> true, 6L -> false, 7L -> true))
    assert(decided(batch, ps, 3, 0.5, None) == want)
  }
}
