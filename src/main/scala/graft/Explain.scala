package graft

/** Plan auditor: prints `explain("formatted")` for the named queries
  * (or all), for checking scan pushdown (PushedFilters/ReadSchema),
  * join strategy (BroadcastHashJoin vs SortMergeJoin), and
  * WholeStageCodegen coverage.
  *
  * `GRAFT_EXPLAIN_EXEC=1` additionally EXECUTES each query and prints
  * the final adaptive plan (`isFinalPlan=true`) — the static formatted
  * dump shows AQE's pre-runtime guess, but broadcast-vs-shuffle is
  * decided from runtime stage statistics, so auditing "does AQE still
  * broadcast this dim at sf1" requires the executed plan. */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val names = if (args.length > 1) args.drop(1).toSeq else SparkEntry.queries.keys.toSeq.sorted
    val exec = sys.env.get("GRAFT_EXPLAIN_EXEC").contains("1")
    val spark = GraftSession.local("graft-explain")
    names.foreach { n =>
      println(s"\n===== $n =====")
      try {
        val df = SparkEntry.queries(n)(spark, sfDir)
        df.explain("formatted")
        if (exec) {
          df.queryExecution.toRdd.count()
          println(s"----- $n: final adaptive plan after execution -----")
          println(df.queryExecution.executedPlan.toString)
        }
      } catch { case e: Throwable => println(s"explain failed: ${e.getMessage}") }
    }
    spark.stop()
  }
}
