package graft

import java.nio.file.Files

import graft.operators.OpCaches

class RunnerSpec extends SparkSpec {
  // warm-up over a dir with no tables: every step fails, guarded
  private lazy val emptyDir = Files.createTempDirectory("graft-runner").toString

  test("one pass over sorted names: errors captured, the loop goes on, nothing left pinned") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    def pinned() = sc.getPersistentRDDs.keySet -- before
    var pinnedInSink = false
    val queries: Map[String, Runner.Query] = Map(
      "b_plain" -> ((s, _) => s.range(10).toDF("id")),
      "c_cached" -> ((s, _) => OpCaches.track(s.range(100).selectExpr("id * 2 AS x"))),
      "a_throws" -> { (s, _) =>
        OpCaches.track(s.range(50).selectExpr("id + 1 AS y")).count()
        assert(pinned().nonEmpty)
        throw new IllegalStateException("one\ntwo\nthree\nfour")
      })
    val runner = Runner(spark, emptyDir, queries, Seq.empty)
    assert(runner.names == Seq("a_throws", "b_plain", "c_cached"))
    val (Seq(results), stats) = runner.loop(runner.names) { (name, df) =>
      df.queryExecution.toRdd.count()
      if (name == "c_cached") pinnedInSink = pinned().nonEmpty
    }
    assert(results.map(_.name) == Seq("a_throws", "b_plain", "c_cached"))
    val Seq(failed, plain, cached) = results
    assert(failed.error.contains("one | two | three"))
    assert(failed.seconds == -1.0 && failed.steal == -1.0)
    assert(Seq(plain, cached).forall(r => r.error.isEmpty && r.seconds >= 0))
    // the pass saw no shared core; tracked frames are not pass entries
    assert(stats == (0, 0L))
    assert(pinnedInSink)
    assert(pinned().isEmpty, "a tracked frame outlived the loop")
    assert(OpCaches.sharedStats == (0, 0L))
    // the pass is closed: a new one opens
    assert(OpCaches.pass(1) == 1)
  }

  test("the error format: first 3 lines, at most 400 characters") {
    assert(Runner.brief("x" * 500 + "\ny") == "x" * 400)
    assert(Runner.brief("a\r\nb\nc\nd") == "a | b | c")
  }

  test("an unknown name is rejected before anything runs, and named") {
    var built = 0
    val queries: Map[String, Runner.Query] =
      Map("only" -> { (s, _) => built += 1; s.range(1).toDF("id") })
    val e = intercept[IllegalArgumentException](
      Runner(spark, emptyDir, queries, Seq("only", "nope", "nada")))
    assert(e.getMessage.contains("nope") && e.getMessage.contains("nada"))
    assert(built == 0)
    // named queries are sorted and deduplicated
    assert(Runner(spark, emptyDir, queries ++ Map("earlier" -> queries("only")),
      Seq("only", "earlier", "only")).names == Seq("earlier", "only"))
  }
}
