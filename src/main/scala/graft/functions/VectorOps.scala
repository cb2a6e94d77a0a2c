package graft.functions

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.functions._

/** Column-level vector math over `array<float>` embedding columns
  * (testdata `embeddings.embedding`, 64-dim).
  *
  * Everything here is built from Catalyst higher-order functions
  * (`transform` / `zip_with` / `aggregate`) — no UDFs — so the
  * expressions stay inside whole-stage codegen and are usable at
  * 100 TB without serialization overhead.
  *
  * Determinism note (load-bearing for the DuckDB-oracle gate): all
  * reductions are SEQUENTIAL left folds over the array. Floating-point
  * addition is not associative; a left fold over the same doubles is
  * bit-identical across engines, whereas a cross-row `sum()` would not
  * be. Floats are cast to double BEFORE any arithmetic (exact).
  */
object VectorOps {

  /** Elementwise cast float → double (exact, deterministic). */
  def toDouble(v: Column): Column = transform(v, x => x.cast("double"))

  /** Dot product of two array<double> columns — a native codegen'd
    * Catalyst expression ([[DotProductExpr]]); same left-fold sum
    * order as the HOF form, ~10× faster in all-pairs joins. */
  def dot(a: Column, b: Column): Column =
    GraftSqlBridge.column(DotProductExpr(
      GraftSqlBridge.expression(a), GraftSqlBridge.expression(b)))

  /** L2 norm of an array<double> column (sqrt of self-dot). */
  def norm(a: Column): Column = sqrt(dot(a, a))
}
