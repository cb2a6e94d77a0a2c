package graft

import java.nio.file.{Files, LinkOption, Path, Paths}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.SparkSession

/** Shared plumbing of the soak and decade mains: JSON-line output,
  * timing, and disk / memory / scratch telemetry. */
private[graft] object Probes {

  /** Print one line and flush, so a killed long run keeps every line. */
  def emit(line: String): Unit = { println(line); System.out.flush() }

  /** [[emit]] a JSON object of already-encoded field values. */
  def emit(fields: (String, String)*): Unit =
    emit(fields.map { case (k, v) => s"\"$k\":$v" }.mkString("{", ",", "}"))

  /** Locale-independent 2-decimal rounding (the f-interpolator honors
    * the default locale and can emit ',' decimals — invalid JSON). */
  def r2(v: Double): String = (math.rint(v * 100) / 100).toString

  /** (result, wall seconds). */
  def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Bytes under `p` (0 if absent); files that vanish mid-walk (the
    * cleaner and compaction race the walk) are skipped. */
  def dirBytes(p: String): Long = {
    var total = 0L
    def walk(d: Path): Unit = {
      val ds = try Files.newDirectoryStream(d) catch { case _: Exception => return }
      try ds.forEach { c =>
        try {
          if (Files.isDirectory(c, LinkOption.NOFOLLOW_LINKS)) walk(c)
          else total += Files.size(c)
        } catch { case _: Exception => () }
      } finally ds.close()
    }
    val root = Paths.get(p)
    if (Files.isRegularFile(root)) Files.size(root) else { walk(root); total }
  }

  def dirMb(p: String): Long = dirBytes(p) >> 20

  /** This JVM's resident set in MB (-1 off Linux). */
  def rssMb(): Long =
    try Files.readAllLines(Paths.get("/proc/self/status")).toArray(Array.empty[String])
      .find(_.startsWith("VmRSS")).map(_.split("\\s+")(1).toLong >> 10).getOrElse(-1L)
    catch { case _: Exception => -1L }

  /** Start a daemon thread sampling [[graft.operators.ScratchGuard.usage]]
    * every 5 s; the returned getter reads the high-water so far (the
    * max matters, not the trace). */
  def scratchPeak(spark: SparkSession): () => Long = {
    val peak = new AtomicLong(0L)
    val t = new Thread(() => while (true) {
      peak.accumulateAndGet(graft.operators.ScratchGuard.usage(spark), (a, b) => math.max(a, b))
      Thread.sleep(5000)
    }, "scratch-sampler")
    t.setDaemon(true)
    t.start()
    () => peak.get()
  }
}
