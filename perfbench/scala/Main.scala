package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** JVM side of the benchmark. `run.py` generates the inputs, builds this
  * package next to the library and starts it as
  *
  * {{{
  * perfbench.Main --workload W --work DIR --seconds S --trace 0|1
  * }}}
  *
  * It sets the program up (timed as `setup_s`), drives the workload
  * (`api_search` for at least S seconds, the others for a fixed amount
  * of work), and writes `DIR/result.json`: raw operation samples,
  * the values the output checks compare against the generator's
  * manifest, per-layer figures (traced runs) and the spans. Metrics and
  * checks are computed by `run.py`, so this side only measures. */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val work = opts("work")
    val ctx = Ctx(work, opts("seconds").toDouble, opts("trace") == "1",
      new Trace(opts("trace") == "1", opts("run-id")))
    val t0 = System.nanoTime()
    val spark = session(ctx)
    Clock.log("session up")
    val out =
      try opts("workload") match {
        case "fs_index" => FsWorkload.run(spark, ctx, t0)
        case "api_search" => ApiWorkload.run(spark, ctx, t0)
        case "stream_dedup" => StreamWorkload.run(spark, ctx, t0)
        case w => sys.error(s"unknown workload $w")
      } finally spark.stop()
    val full = out ++ Map("peak_live_mb" -> Mem.peakLiveMb, "vm_hwm_mb" -> Proc.vmHwmMb(),
      "spans" -> ctx.trace.spansJson)
    Files.writeString(Paths.get(work, "result.json"), Json.render(full))
    Clock.log("done")
  }

  /** Cores of the local master, and shuffle partitions. */
  val Cpus = 4

  /** The library's own session recipe (GraftSession.builder) with the
    * core count pinned the way the repo's harnesses pin it, and every
    * scratch location kept inside the work directory. */
  def session(ctx: Ctx): SparkSession = {
    val spark = graft.GraftSession.builder()
      .master(s"local[$Cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${ctx.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${ctx.work}/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.GraftSession.configure(spark)
  }
}

final case class Ctx(work: String, seconds: Double, traced: Boolean, trace: Trace) {
  def readJson(rel: String): Any = Json.parse(Files.readString(Paths.get(work, rel)))
}

object Clock {
  private val origin = System.nanoTime()
  /** Progress line on stderr (the run's log), stamped with JVM uptime. */
  def log(msg: String): Unit = System.err.println(f"[perfbench ${secondsSince(origin)}%7.2f s] $msg")
  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9
  /** Run `body` and return (result, elapsed milliseconds). */
  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e6)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
}

/** Memory the program holds: at fixed checkpoints between timed
  * operations, full GCs, then heap in use plus non-heap (metaspace,
  * code cache) and direct/mapped buffers in use. The largest reading of
  * a run is `peak_live_mb`. Garbage and the heap's size do not count, so
  * the figure moves with what the program keeps alive, not with the
  * collector's timing or the -Xms setting. */
object Mem {
  import java.lang.management.{BufferPoolMXBean, ManagementFactory}
  import scala.jdk.CollectionConverters._

  @volatile private var peak = 0.0

  def checkpoint(): Unit = {
    // a collection lets Spark's ContextCleaner see the broadcasts and
    // shuffles nothing refers to any more; its thread then removes their
    // blocks, which the next collection frees. Collect until that stops
    // freeing memory.
    val m = ManagementFactory.getMemoryMXBean
    System.gc()
    var before = Long.MaxValue
    var rounds = 0
    while (rounds < 8 && m.getHeapMemoryUsage.getUsed < before - (1L << 20)) {
      before = m.getHeapMemoryUsage.getUsed
      Thread.sleep(100)
      System.gc()
      rounds += 1
    }
    val buffers = ManagementFactory.getPlatformMXBeans(classOf[BufferPoolMXBean]).asScala
      .map(_.getMemoryUsed).sum
    val (heap, nonHeap) = (m.getHeapMemoryUsage.getUsed, m.getNonHeapMemoryUsage.getUsed)
    val mb = (heap + nonHeap + buffers) / 1048576.0
    synchronized { peak = math.max(peak, mb) }
    Clock.log(f"live memory $mb%.1f MiB after $rounds rounds: heap ${heap / 1048576.0}%.1f, non-heap " +
      f"${nonHeap / 1048576.0}%.1f, buffers ${buffers / 1048576.0}%.1f")
  }

  def peakLiveMb: Double = peak
}

object Proc {
  /** Peak resident set (VmHWM) of this JVM in MiB; -1 off Linux. */
  def vmHwmMb(): Double =
    try {
      val line = Files.readAllLines(Paths.get("/proc/self/status"))
        .toArray.map(_.toString).find(_.startsWith("VmHWM:")).get
      line.split("\\s+")(1).toDouble / 1024.0
    } catch { case _: Exception => -1.0 }

  def deleteTree(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]()).forEach(Files.delete(_))
      finally s.close()
    }
  }

  def dirBytes(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }
  }
}

/** JSON for the generator's spec (read) and the result file (written),
  * through the Jackson Scala module that ships with Spark. */
object Json {
  import com.fasterxml.jackson.databind.ObjectMapper
  import com.fasterxml.jackson.module.scala.DefaultScalaModule
  import scala.jdk.CollectionConverters._

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def render(v: Any): String = mapper.writeValueAsString(v)
  def parse(s: String): Any = mapper.readValue(s, classOf[Any])

  // typed accessors over parsed values (Jackson yields java collections)
  def obj(v: Any): Map[String, Any] = v match {
    case m: java.util.Map[_, _] => m.asScala.toMap.asInstanceOf[Map[String, Any]]
    case m: Map[_, _] => m.asInstanceOf[Map[String, Any]]
  }
  def arr(v: Any): Seq[Any] = v match {
    case l: java.util.List[_] => l.asScala.toSeq
    case s: Seq[_] => s
  }
  def long(v: Any): Long = v.asInstanceOf[Number].longValue
  def str(v: Any): String = v.asInstanceOf[String]
}
