package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

import graft.functions.VectorOps

/** The one vector top-k ranking rule. Every search and recall operator
  * ([[Similarity]]'s brute, filtered, int8 and LSH scans, [[Ivf]]'s live
  * probes, the persisted [[IvfIndex]] and [[AnnIndex]]) differs only in
  * where its (query_id, cand_id) candidates come from; the score, the
  * per-query order and the output order live here:
  *
  *  - score: [[cosine]], sequential left-fold sums (VectorOps) —
  *    bit-identical to the oracle's generated 64-term expressions;
  *  - order: within each query, score desc, ties to the lower cand_id,
  *    numbered by `row_number` into an int `rnk` (1..k, no gaps);
  *  - output: the best k per query, sorted by (query_id, rnk).
  *
  * The window with its `rnk <= k` filter compiles to WindowGroupLimit
  * (rank pushdown keeps k rows per query before the final sort). */
object TopK {

  /** Cosine of two `array<double>` columns given their L2 norms. */
  def cosine(a: Column, an: Column, b: Column, bn: Column): Column =
    VectorOps.dot(a, b) / (an * bn)

  /** Rows partitioned by `by`, `score` desc, ties to the lower `tie`. */
  def order(score: String, tie: String, by: String*): WindowSpec =
    Window.partitionBy(by.map(col): _*).orderBy(col(score).desc, col(tie))

  /** The best `k` rows of each `by` group of `scored` under [[order]],
    * numbered in an int `rnk` column; unsorted. */
  def best(scored: DataFrame, k: Int, score: String, tie: String, by: String*): DataFrame =
    scored.withColumn("rnk", row_number().over(order(score, tie, by: _*)))
      .filter(col("rnk") <= k)

  /** The top-k of scored (query_id, cand_id, `score`) pairs: [[best]]
    * per query with the cand_id tie-break, sorted by (query_id, rnk). */
  def rank(scored: DataFrame, k: Int, score: String): DataFrame =
    best(scored, k, score, "cand_id", "query_id").orderBy("query_id", "rnk")
}
