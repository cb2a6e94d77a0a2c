package graft.streaming

import java.nio.file.Files

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{Jobs, SparkSpec}

/** What one non-compaction [[DedupStream.continuousDedup]] micro-batch
  * executes: its actions, which plans touch the index, and what it
  * leaves cached. */
class DedupStreamPlanSpec extends SparkSpec {
  import spark.implicits._

  /** Every node of an executed plan with its nearest join ancestor and
    * whether an aggregate sits above it with no join in between —
    * through adaptive stages, reused exchanges and cached relations. */
  private def walk(p: SparkPlan, join: Option[BaseJoinExec], aggAbove: Boolean)
      : Seq[(SparkPlan, Option[BaseJoinExec], Boolean)] = {
    val (j, agg) = p match {
      case b: BaseJoinExec => (Some(b), false)
      case _: BaseAggregateExec => (join, true)
      case _ => (join, aggAbove)
    }
    val children = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case r: ReusedExchangeExec => Seq(r.child)
      case m: InMemoryTableScanExec => Seq(m.relation.cachedPlan)
      case _ => p.children
    }
    (p, join, aggAbove) +: children.flatMap(walk(_, j, agg))
  }

  test("a non-compaction batch: at most 3 actions, index read only by the two joins, no cache left") {
    val staging = Files.createTempDirectory("graft-ddplan-in").toString
    val state = Files.createTempDirectory("graft-ddplan-state").toString
    val out = Files.createTempDirectory("graft-ddplan-out").toString
    val ckpt = Files.createTempDirectory("graft-ddplan-ckpt").toString
    def stage(docs: (Long, String)*): Unit =
      docs.toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(staging)
    def runOnce(compactEvery: Long): Unit =
      DedupStream.continuousDedup(spark, staging, state, out, ckpt,
        compactEvery = compactEvery, trigger = Trigger.AvailableNow())
        .awaitTermination(120000)
    stage(1L -> "aa bb cc dd ee", 2L -> "zz yy xx ww vv")
    runOnce(1L) // batch 0: base
    stage(3L -> "qq rr ss tt uu")
    runOnce(0L) // batch 1: live delta-1
    spark.catalog.clearCache()

    // batch 2, against base + delta-1: a corpus copy, a within-batch
    // copy, a replay of doc 3 and a fresh doc
    stage(4L -> "aa bb cc dd ee", 5L -> "mm nn oo pp", 6L -> "mm nn oo pp",
      3L -> "qq rr ss tt uu", 7L -> "kk ll mm nn oo")
    val qes = ArrayBuffer.empty[(String, QueryExecution)]
    val l = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        qes.synchronized(qes += f -> qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
        qes.synchronized(qes += s"FAILED $f" -> qe)
    }
    spark.listenerManager.register(l)
    // Jobs.counted also fences the listener bus: every action's
    // callback has run when it returns
    val (_, jobs) = try Jobs.counted(spark)(runOnce(0L))
      finally spark.listenerManager.unregister(l)
    info(s"batch 2: ${qes.size} actions (${qes.map(_._1).mkString(", ")}), $jobs jobs")

    val decisions = spark.read.parquet(out).filter($"batch_id" === 2L)
      .select("doc_id", "kept").as[(Long, Boolean)].collect().toMap
    assert(decisions == Map(4L -> false, 5L -> true, 6L -> false, 3L -> true, 7L -> true))

    assert(qes.size <= 3, qes.map(_._1))
    val nodes = qes.toSeq.flatMap { case (_, qe) => walk(qe.executedPlan, None, aggAbove = false) }
    val indexScans = nodes.collect {
      case (s: FileSourceScanExec, j, agg)
          if s.relation.location.rootPaths.exists(_.toString.contains(state)) => (s, j, agg)
    }
    assert(indexScans.nonEmpty)
    // no aggregate reads the index without a join in between, as a
    // distinct over the whole index's doc_id would
    assert(indexScans.forall(!_._3),
      indexScans.filter(_._3).map(_._1.simpleString(200)).mkString("\n"))
    // the only readers: the shingle join and the batch-id semi-join
    val readers = indexScans.map { case (s, j, _) =>
      assert(j.nonEmpty, s"index scan outside a join: ${s.simpleString(200)}")
      (j.get.joinType.sql, j.get.leftKeys.flatMap(_.references.map(_.name)).distinct)
    }.toSet
    assert(readers == Set(("INNER", Seq("shingle")), ("LEFT SEMI", Seq("doc_id"))), readers)
    assert(spark.sharedState.cacheManager.isEmpty, "the batch left cached data behind")
  }
}
