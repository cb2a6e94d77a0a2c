package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Every vector top-k entry point ranks by the one [[TopK]] rule: at
  * most k rows per query and never the query itself, `rnk` 1..n with no
  * gaps, rows in (score desc, cand_id asc) order within each query and
  * in (query_id, rnk) order overall, and the output schema each entry
  * point has always had. The corpus repeats every vector, so scores tie
  * and the cand_id tie-break decides. */
class TopKSpec extends SparkSpec {
  import spark.implicits._

  private val K = 5
  private val QueryMod = 10L
  private val Cells = 8

  // ids i, i+24, i+48 and i+72 carry the same vector (and label), and
  // groups j and j+17 repeat too: every query meets tied scores
  private lazy val emb = (0L until 96L).map { i =>
    val j = i % 24
    (i, Array.tabulate(64)(d => ((j * 37 + d * 11) % 17 - 8).toFloat / 8f), (i % 2).toInt)
  }.toDF("vec_id", "embedding", "label")
  private def queries = emb.filter(col("vec_id") % QueryMod === 0)
    .select(col("vec_id").as("query_id"), col("embedding"))

  private def schema(score: String, extra: (String, String)*): Seq[(String, String)] =
    Seq("query_id" -> "bigint") ++ extra ++
      Seq("cand_id" -> "bigint", score -> "double", "rnk" -> "int")

  private def ivfIndex(quantized: Boolean): DataFrame = {
    val root = Files.createTempDirectory("graft-topk-ivf").toString
    IvfIndex.build(emb, root, nCentroids = Cells, numBuckets = 4, quantized = quantized)
    IvfIndex.topk(spark, root, queries, k = K, nProbe = Cells)
  }

  private val entryPoints: Seq[(String, () => DataFrame, Seq[(String, String)])] = Seq(
    ("Similarity.topkBrute", () => Similarity.topkBrute(emb, QueryMod, K), schema("cosine")),
    ("Similarity.topkFiltered", () => Similarity.topkFiltered(emb, QueryMod, K),
      schema("cosine", "label" -> "int")),
    ("Similarity.topkQuantized", () => Similarity.topkQuantized(emb, QueryMod, K),
      schema("qcos")),
    ("Similarity.topkLsh", () => Similarity.topkLsh(emb, QueryMod, K), schema("cosine")),
    ("Ivf.topkIvf", () => Ivf.topkIvf(emb, QueryMod, K, nCentroids = Cells, nProbe = Cells),
      schema("cosine")),
    ("Ivf.topkIvfQuantized",
      () => Ivf.topkIvfQuantized(emb, QueryMod, K, nCentroids = Cells, nProbe = Cells),
      schema("qcos")),
    ("IvfIndex.topk", () => ivfIndex(quantized = false), schema("cosine")),
    ("IvfIndex.topk (sq8 layout)", () => ivfIndex(quantized = true), schema("cosine")),
    ("AnnIndex.topk", { () =>
      val root = Files.createTempDirectory("graft-topk-ann").toString
      AnnIndex.build(emb, root, numBuckets = 4)
      AnnIndex.topk(spark, root, queries, k = K)
    }, schema("cosine")))

  entryPoints.foreach { case (name, run, expected) =>
    test(s"$name: k per query, no self match, rnk 1..n, (score desc, cand_id) order") {
      val out = run()
      assert(out.schema.fields.map(f => f.name -> f.dataType.simpleString).toSeq == expected)
      val score = expected(expected.length - 2)._1
      val rows = out.collect().toSeq.map(r => (r.getAs[Long]("query_id"),
        r.getAs[Long]("cand_id"), r.getAs[Double](score), r.getAs[Int]("rnk")))
      OpCaches.releaseAll()
      assert(rows.map(_._1).distinct.size == 10, rows) // every query answered
      assert(rows.forall(r => r._1 != r._2), "a query matched itself")
      assert(rows.map(r => (r._1, r._4)) == rows.map(r => (r._1, r._4)).sorted,
        "rows not in (query_id, rnk) order")
      rows.groupBy(_._1).foreach { case (q, rs) =>
        assert(rs.size <= K, s"query $q: ${rs.size} rows")
        assert(rs.map(_._4) == (1 to rs.size), s"query $q: rnk ${rs.map(_._4)}")
        rs.sliding(2).foreach {
          case Seq(a, b) => assert(a._3 > b._3 || (a._3 == b._3 && a._2 < b._2),
            s"query $q: $a before $b")
          case _ => ()
        }
      }
      // the corpus's duplicates put tied scores in every ranking
      assert(rows.sliding(2).exists {
        case Seq(a, b) => a._1 == b._1 && a._3 == b._3
        case _ => false
      }, "no tie was ranked")
    }
  }
}
