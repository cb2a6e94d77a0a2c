package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // same session recipe as Bench — verify what the bench measures,
    // INCLUDING its one report pass (OpCaches.pass): the oracle compare
    // then proves sharing is value-neutral across the whole query set
    val spark = GraftSession.local("graft-verify")
    new java.io.File(outDir).mkdirs()
    // optional comma-separated allowlist for targeted re-verification
    // (the driver sets nothing and gets the full dump)
    val only = sys.env.get("SPARK_GRAFT_VERIFY_FILTER")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    // Complete-by-construction: EVERY registered query gets an output
    // directory. A failed query writes a one-row `__error__` parquet so
    // the driver's compare reports a visible red row (schema mismatch)
    // instead of silently dropping the query from the report — round 3
    // lost 12 rows that way and the summary still read green.
    val failures = scala.collection.mutable.ListBuffer.empty[(String, String)]
    graft.operators.OpCaches.pass(SparkEntry.queries
      .filter(kv => only.forall(_.contains(kv._1)))
      .foreach { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        // operator-internal caches don't accumulate across queries
        graft.operators.OpCaches.releaseAll()
        // shuffle files are reaped only when ContextCleaner collects
        // their RDDs — under a large heap, GC may not fire across the
        // whole 149-query run and DEAD shuffle files accumulate on
        // disk (measured at sf1: ~70 GB by query 123, stalling the
        // box at 90% disk / 83% iowait). One explicit GC per query
        // bounds the dead-file footprint to one query's worth.
        System.gc()
      } catch { case e: Throwable =>
        val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
        failures += name -> msg
        System.err.println(s"[verify] $name failed: $msg")
        // the failed query may have tracked caches before throwing —
        // release on this path too, or leaked blocks accumulate
        // across a multi-failure run and pressure later queries
        graft.operators.OpCaches.releaseAll()
        try {
          import spark.implicits._
          Seq(("__error__", msg.take(500))).toDF("__error__", "message")
            .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        } catch { case _: Throwable => () }
      }
    })
    if (failures.nonEmpty) {
      System.err.println(s"[verify] ${failures.size} of " +
        s"${SparkEntry.queries.size} queries FAILED: " +
        failures.map(_._1).mkString(", "))
    }
    // JSON string escape (shared with Bench): a tab or CR in
    // builder-authored SQL would otherwise make the driver's json.load
    // fail and silently zero the round's correctness.
    def q(s: String): String = Jsons.quote(s)
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // machine-readable failure record alongside the dump (empty = clean)
    Files.writeString(Paths.get(s"$outDir/verify_errors.json"),
      failures.map { case (k, v) => s"${q(k)}: ${q(v.take(500))}" }
        .mkString("{", ",", "}"))
    spark.stop()
  }
}
