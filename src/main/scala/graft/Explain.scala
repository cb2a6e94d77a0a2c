package graft

/** Plan auditor: `Explain [sfDir] [names…]` prints
  * `explain("formatted")` for the named queries (or all), for checking
  * scan pushdown (PushedFilters/ReadSchema), join strategy
  * (BroadcastHashJoin vs SortMergeJoin), and WholeStageCodegen
  * coverage. It runs through the same [[Runner]] as Bench, inside one
  * report pass, so a plan shows the shared cores earlier queries built.
  *
  * `GRAFT_EXPLAIN_EXEC=1` additionally EXECUTES each query and prints
  * the final adaptive plan (`isFinalPlan=true`) — the static formatted
  * dump shows AQE's pre-runtime guess, but broadcast-vs-shuffle is
  * decided from runtime stage statistics, so auditing "does AQE still
  * broadcast this dim at sf1" requires the executed plan. */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val exec = sys.env.get("GRAFT_EXPLAIN_EXEC").contains("1")
    val spark = GraftSession.local("graft-explain")
    val runner = Runner(spark, sfDir, SparkEntry.queries, args.toSeq.drop(1))
    val (Seq(results), _) = runner.loop(runner.names) { (n, df) =>
      println(s"\n===== $n =====")
      df.explain("formatted")
      if (exec) {
        df.queryExecution.toRdd.count()
        println(s"----- $n: final adaptive plan after execution -----")
        println(df.queryExecution.executedPlan.toString)
      }
    }
    results.foreach(r => r.error.foreach(e => println(s"\n===== ${r.name} =====\nexplain failed: $e")))
    spark.stop()
  }
}
