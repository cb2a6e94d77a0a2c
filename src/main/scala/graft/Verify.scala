package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: `Verify <sfDir> <outDir> [names…]`
  * writes each named SparkEntry query's result (all when none are
  * named) to `<outDir>/<name>` as parquet, plus oracle_sql.json for the
  * driver's DuckDB compare and verify_errors.json (`{}` = clean). It
  * runs through the same [[Runner]] as Bench, INCLUDING its one report
  * pass: the oracle compare then proves sharing is value-neutral
  * across the whole query set. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Seq(sfDir, outDir, names @ _*) = args.toSeq
    val spark = GraftSession.local("graft-verify")
    new java.io.File(outDir).mkdirs()
    val runner = Runner(spark, sfDir, SparkEntry.queries, names)
    val (Seq(results), _) = runner.loop(runner.names) { (name, df) =>
      df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
    }
    // Complete-by-construction: EVERY selected query gets an output
    // directory. A failed query writes a one-row `__error__` parquet so
    // the driver's compare reports a visible red row (schema mismatch)
    // instead of silently dropping the query from the report — round 3
    // lost 12 rows that way and the summary still read green.
    val failures = results.flatMap(r => r.error.map(r.name -> _))
    failures.foreach { case (name, msg) =>
      try {
        import spark.implicits._
        Seq(("__error__", msg)).toDF("__error__", "message")
          .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      } catch { case _: Throwable => () }
    }
    if (failures.nonEmpty) {
      System.err.println(s"[verify] ${failures.size} of ${results.size} " +
        s"queries FAILED: ${failures.map(_._1).mkString(", ")}")
    }
    // JSON string escape (shared with Bench): a tab or CR in
    // builder-authored SQL would otherwise make the driver's json.load
    // fail and silently zero the round's correctness.
    def q(s: String): String = Jsons.quote(s)
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    Files.writeString(Paths.get(s"$outDir/verify_errors.json"),
      failures.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}"))
    spark.stop()
  }
}
