package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.OpCaches

/** The one query loop of the driver-contract mains (Bench, Verify,
  * Explain): selection and warm-up ([[Runner.apply]]), one report pass
  * ([[loop]]), and per query the release, periodic GC, timed region,
  * CPU steal and error capture ([[run]]). Each main keeps only its
  * sink, what it does with a query's frame. */
final class Runner private (spark: SparkSession, sfDir: String,
    queries: Map[String, Runner.Query], val names: Seq[String]) {
  private var sinceGc = 0

  /** Runs `name` through `sink`, timed, after releasing the previous
    * query's operator caches (a pass's shared cores survive).
    *
    * Every 10th call first runs an UNTIMED `System.gc()` so the
    * ContextCleaner reaps earlier queries' shuffle files (they
    * otherwise pile up on disk: ~70 GB by query 123 at sf1). Not every
    * call: `System.gc()` returns while G1's concurrent phases still
    * run, and per-query GC measured ~+0.25 s of stolen CPU inside the
    * NEXT timed region; the 300 ms settle drains them outside it. */
  def run(name: String)(sink: (String, DataFrame) => Unit): Runner.Result = {
    OpCaches.releaseAll()
    sinceGc += 1
    if (sinceGc >= 10) {
      sinceGc = 0
      System.gc()
      Thread.sleep(300)
    }
    val j0 = Runner.cpuJiffies()
    val t0 = System.nanoTime()
    try {
      sink(name, queries(name)(spark, sfDir))
      Runner.Result(name, (System.nanoTime() - t0) / 1e9,
        Runner.stealPct(j0, Runner.cpuJiffies()), None)
    } catch { case e: Throwable =>
      // the failed query may have tracked caches before throwing
      OpCaches.releaseAll()
      val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
      System.err.println(s"[runner] $name failed: $msg")
      Runner.Result(name, -1.0, -1.0, Some(Runner.brief(msg)))
    }
  }

  /** Runs each order of names through [[run]], one after the other,
    * inside one report pass. Returns each order's results and the
    * pass's (shared cores, degraded calls), read before it closes;
    * no query's operator caches outlive the loop. */
  def loop(orders: Seq[String]*)(sink: (String, DataFrame) => Unit)
      : (Seq[Seq[Runner.Result]], (Int, Long)) =
    OpCaches.pass {
      try (orders.map(_.map(run(_)(sink))), OpCaches.sharedStats)
      finally OpCaches.releaseAll()
    }
}

object Runner {
  type Query = (SparkSession, String) => DataFrame

  /** One query's run: seconds of the timed region and the CPU steal
    * % during it, or -1 for both and the error. */
  final case class Result(name: String, seconds: Double, steal: Double,
      error: Option[String])

  /** A runner over the named `queries` on `sfDir` (all when none are
    * named; sorted; unknown names rejected before anything runs),
    * warmed up: the JVM and codegen, then the SQL-surface views and
    * every table's parquet footers and pages, so no query is charged
    * another's one-time cost. Every step is guarded: one degraded
    * table must never zero a whole artifact (round 3 lost its bench
    * to one bad loader here). */
  def apply(spark: SparkSession, sfDir: String, queries: Map[String, Query],
      names: Seq[String]): Runner = {
    val unknown = names.filterNot(queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val selected = if (names.isEmpty) queries.keys.toSeq.sorted else names.distinct.sorted
    def guarded(step: String)(body: => Unit): Unit =
      try body
      catch { case e: Throwable =>
        System.err.println(s"[runner] warmup $step failed: ${e.getMessage}") }
    guarded("jvm")(spark.range(1000000L).selectExpr("sum(id)").collect())
    guarded("registerAll")(graft.tables.Tables.registerAll(spark, sfDir))
    (graft.tables.Tables.names :+ "files").foreach { n =>
      guarded(s"table $n")(spark.table(n).queryExecution.toRdd.count())
    }
    new Runner(spark, sfDir, queries, selected)
  }

  /** The one error format: the message's first 3 lines, at most 400
    * characters (a stderr tail would truncate away the root cause). */
  private[graft] def brief(msg: String): String =
    msg.linesIterator.take(3).mkString(" | ").take(400)

  /** Hypervisor steal and total jiffies from /proc/stat, so noise from
    * a co-tenant is separable from a regression in the artifact
    * itself; (0, 0) where /proc/stat is missing. */
  def cpuJiffies(): (Long, Long) =
    try {
      val line = java.nio.file.Files.readAllLines(
        java.nio.file.Paths.get("/proc/stat")).get(0)
      val f = line.trim.split("\\s+").drop(1).map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.sum)
    } catch { case _: Exception => (0L, 0L) }

  /** Steal % between two [[cpuJiffies]] samples, -1 when unknown. */
  def stealPct(before: (Long, Long), after: (Long, Long)): Double = {
    val dTotal = after._2 - before._2
    if (dTotal <= 0) -1.0
    else math.rint(10000.0 * (after._1 - before._1) / dTotal) / 100
  }
}
