package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}

/** Spans recorded around the benchmark's calls into each layer: name,
  * start, end (ns since the trace began), the enclosing span and the
  * run id. Kept in memory and written with the result when the run
  * ends. When tracing is off `span` only runs its body. */
final class Trace(val on: Boolean, runId: String) {
  import Trace.Span
  private val spans = ArrayBuffer.empty[Span]
  private val origin = System.nanoTime()
  private val current = new ThreadLocal[Int] { override def initialValue(): Int = -1 }
  private var nextId = 0

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = synchronized { nextId += 1; nextId }
      val parent = current.get()
      current.set(id)
      val start = System.nanoTime() - origin
      try body
      finally {
        val end = System.nanoTime() - origin
        current.set(parent)
        synchronized { spans += Span(id, name, parent, start, end) }
      }
    }

  def spansJson: Seq[Map[String, Any]] = synchronized {
    spans.sortBy(_.start).map(s => Map[String, Any](
      "run" -> runId, "id" -> s.id, "name" -> s.name, "parent" -> s.parent,
      "start_ns" -> s.start, "end_ns" -> s.end)).toSeq
  }
}

object Trace {
  private final case class Span(id: Int, name: String, parent: Int, start: Long, end: Long)
}

/** Benchmark-owned listener: job, stage and task totals for the
  * Spark work a traced window caused. Registered only on traced runs. */
final class SparkTotals extends SparkListener {
  @volatile var jobs = 0L
  @volatile var stages = 0L
  @volatile var tasks = 0L
  @volatile var taskRunMs = 0L
  @volatile var gcMs = 0L
  @volatile var shuffleBytes = 0L
  @volatile var spillBytes = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized { stages += 1 }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      taskRunMs += m.executorRunTime
      gcMs += m.jvmGCTime
      shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
      spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  def snapshot(): Map[String, Long] = synchronized(Map(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks, "task_run_ms" -> taskRunMs,
    "gc_ms" -> gcMs, "shuffle_bytes" -> shuffleBytes, "spill_bytes" -> spillBytes))
}

object SparkTotals {
  /** Attach a listener; the listener bus delivers events
    * asynchronously, so `settle` before reading totals. */
  def attach(sc: SparkContext): SparkTotals = {
    val l = new SparkTotals
    sc.addSparkListener(l)
    l
  }

  /** Run `body` and add the Spark totals it caused, and its wall time,
    * into `acc` (keys as in [[snapshot]] plus `wall_ms`). */
  def window[T](l: SparkTotals, acc: scala.collection.mutable.Map[String, Double])(body: => T): T = {
    settle(l)
    val before = l.snapshot()
    val (r, ms) = Clock.timed(body)
    settle(l)
    delta(before, l.snapshot()).foreach { case (k, v) => acc(k) = acc.getOrElse(k, 0.0) + v }
    acc("wall_ms") = acc.getOrElse("wall_ms", 0.0) + ms
    r
  }

  /** The per-layer `spark.*` figures from a [[window]] accumulator. */
  def layers(acc: scala.collection.Map[String, Double]): Map[String, Double] = {
    def g(k: String) = acc.getOrElse(k, 0.0)
    Map("spark.jobs" -> g("jobs"), "spark.stages" -> g("stages"), "spark.tasks" -> g("tasks"),
      "spark.task_s" -> g("task_run_ms") / 1e3, "spark.gc_s" -> g("gc_ms") / 1e3,
      "spark.shuffle_mb" -> g("shuffle_bytes") / 1048576.0,
      "spark.spill_mb" -> g("spill_bytes") / 1048576.0,
      "spark.parallelism" -> (if (g("wall_ms") > 0) g("task_run_ms") / g("wall_ms") else 0.0))
  }

  /** Difference of two snapshots. */
  def delta(a: Map[String, Long], b: Map[String, Long]): Map[String, Long] =
    b.map { case (k, v) => k -> (v - a.getOrElse(k, 0L)) }

  /** Wait until the listener bus has delivered what was posted so far:
    * the bus has no public flush, so poll until the totals stop moving. */
  def settle(l: SparkTotals): Unit = {
    var last = l.snapshot()
    var stable = 0
    while (stable < 3) {
      Thread.sleep(40)
      val now = l.snapshot()
      if (now == last) stable += 1 else { stable = 0; last = now }
    }
  }
}
