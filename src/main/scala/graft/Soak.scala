package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.streaming.Trigger

import graft.Probes.{dirMb, rssMb}

/** Long-run soak: one CONTINUOUS DedupStream query driven through
  * hundreds of real micro-batches (ProcessingTime trigger + a feeder
  * thread dropping files, NOT per-batch AvailableNow restarts), with
  * the ApiServer answering concurrent queries the whole time, under
  * the PRODUCTION shuffle-GC configuration only
  * (spark.cleaner.periodicGC.interval — no harness System.gc()).
  *
  * What it proves: the r6 failure class (dead shuffle files
  * accumulating on disk until the volume fills) is closed at the
  * ENGINE level over a run long enough for many periodic-GC cycles
  * and ~a dozen compaction rewrites — the bench-length evidence
  * couldn't show a multi-hour trend. One JSON line per sample
  * (batch id, wall, disk breakdown, driver RSS, API request counts);
  * the verdict is the SLOPE of spark_local_mb across the run's second
  * half, where a leak would compound and a healthy cleaner holds a
  * sawtooth around a flat mean.
  *
  * Batch mix mirrors production dedup load: half of each drop is
  * new-vocabulary docs (kept — the index grows linearly like a real
  * corpus), half verbatim copies of earlier docs (dropped — the
  * delta⋈index join does real work every batch).
  *
  * Usage: runMain graft.Soak [nBatches] [sfDir] [outJsonl]
  */
object Soak {
  def main(args: Array[String]): Unit = {
    val nBatches = args.headOption.map(_.toInt).getOrElse(200)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val outJsonl = if (args.length > 2) Some(args(2)) else None
    val work = Files.createTempDirectory("graft-soak")
    val sparkLocal = s"$work/sparklocal"
    // spark.local.dir pinned so disk growth is measurable
    val spark = GraftSession.local("graft-soak", Map("spark.local.dir" -> sparkLocal))
    import spark.implicits._

    val lines = scala.collection.mutable.ArrayBuffer.empty[String]
    def emit(s: String): Unit = { Probes.emit(s); lines += s }

    // ---- corpus material: base texts pulled once (bounded: 500 docs) ----
    val baseTexts = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").orderBy("doc_id").limit(500)
      .collect().map(r => (r.getLong(0), r.getString(1)))

    val staging = s"$work/staging"
    Files.createDirectories(Paths.get(staging))
    val state = s"$work/state"
    val outDir = s"$work/out"
    val ckpt = s"$work/ckpt"

    // ---- the continuous stream (one query, many micro-batches) ----
    val q = graft.streaming.DedupStream.continuousDedup(
      spark, staging, state, outDir, ckpt,
      n = 3, threshold = 0.5,
      trigger = Trigger.ProcessingTime("200 milliseconds"),
      compactEvery = 16L, numBuckets = 16,
      readOptions = Map("maxFilesPerTrigger" -> "1"))

    // ---- feeder: one parquet drop per loop — 25 new-vocab docs (kept)
    // + 25 verbatim re-drops (near-dups, dropped) ----
    @volatile var feeding = true
    val feeder = new Thread(() => {
      var drop = 0
      while (feeding) {
        val kept = (0 until 25).map { j =>
          val (id, text) = baseTexts((drop * 25 + j) % baseTexts.length)
          (1000000L + drop.toLong * 1000 + j,
            text.split(' ').map(t => s"d${drop}_$t").mkString(" "))
        }
        val dups = (0 until 25).map { j =>
          val prior = math.max(0, drop - 1)
          val (_, text) = baseTexts((prior * 25 + j) % baseTexts.length)
          (2000000L + drop.toLong * 1000 + j,
            text.split(' ').map(t => s"d${prior}_$t").mkString(" "))
        }
        try (kept ++ dups).toDF("doc_id", "text")
          .coalesce(1).write.mode("append").parquet(staging)
        catch { case e: Exception =>
          emit(s"""{"event":"feeder_error","msg":${Jsons.quote(
            Option(e.getMessage).getOrElse("?").take(200))}}""") }
        drop += 1
        Thread.sleep(150)
      }
    }, "graft-soak-feeder")
    feeder.setDaemon(true)

    // ---- ApiServer under concurrent load the whole run ----
    graft.tables.Tables.registerAll(spark, sfDir)
    val server = new graft.serve.ApiServer(spark,
      () => spark.table("files"), databasePath = s"$sfDir (soak)").start()
    val port = server.boundPort
    @volatile var querying = true
    val apiOk = new java.util.concurrent.atomic.AtomicLong
    val apiBad = new java.util.concurrent.atomic.AtomicLong
    val client = java.net.http.HttpClient.newHttpClient()
    val apiThread = new Thread(() => {
      val gets = Seq(
        s"http://127.0.0.1:$port/search/?limit=25",
        s"http://127.0.0.1:$port/duplicates/?limit=10",
        s"http://127.0.0.1:$port/stats/",
        s"http://127.0.0.1:$port/health/")
      var i = 0
      while (querying) {
        val uri = gets(i % gets.length)
        try {
          val resp = client.send(
            java.net.http.HttpRequest.newBuilder(java.net.URI.create(uri)).GET().build(),
            java.net.http.HttpResponse.BodyHandlers.ofString())
          if (resp.statusCode() == 200 && resp.body().nonEmpty) apiOk.incrementAndGet()
          else apiBad.incrementAndGet()
        } catch { case _: Exception => apiBad.incrementAndGet() }
        i += 1
        Thread.sleep(100)
      }
    }, "graft-soak-api")
    apiThread.setDaemon(true)

    val t0 = System.nanoTime()
    feeder.start()
    apiThread.start()

    // ---- sample disk/memory every 10 processed batches ----
    // lastSampled starts at MinValue so batch 0 (and any short run with
    // nBatches < 10) still emits a sample; -1 would floor-divide to the
    // same decade as batches 0-9 and silently skip them.
    var lastSampled = Long.MinValue
    var processed = -1L
    def flush(): Unit = outJsonl.foreach(p => Files.writeString(Paths.get(p),
      lines.mkString("", "\n", "\n")))
    while (processed < nBatches) {
      Thread.sleep(1000)
      processed = Option(q.lastProgress).map(_.batchId).getOrElse(-1L)
      if (processed >= 0 && processed / 10 > lastSampled / 10) {
        lastSampled = processed
        emit(s"""{"batch":$processed,"sec":${(System.nanoTime() - t0) / 1e9},""" +
          s""""spark_local_mb":${dirMb(sparkLocal)},""" +
          s""""state_mb":${dirMb(state)},""" +
          s""""out_mb":${dirMb(outDir)},""" +
          s""""ckpt_mb":${dirMb(ckpt)},""" +
          s""""staging_mb":${dirMb(staging)},""" +
          s""""rss_mb":${rssMb()},""" +
          s""""api_ok":${apiOk.get()},"api_bad":${apiBad.get()}}""")
      }
      if (!q.isActive) {
        emit(s"""{"event":"stream_died","msg":${Jsons.quote(
          Option(q.exception.map(_.getMessage).orNull).getOrElse("?").take(300))}}""")
        flush() // the samples collected so far are the evidence — keep them
        sys.exit(2)
      }
    }
    feeding = false
    querying = false
    // Let the in-flight API request finish before the server goes down:
    // stop generating load, join the client thread, THEN stop the server.
    apiThread.join(5000)
    q.stop()
    server.stop()

    val wm = graft.fs.DeltaDirs.dedup(state).compactedThrough
    val decided = spark.read.parquet(outDir).count()
    emit(s"""{"event":"done","batches":$processed,"compacted_through":$wm,""" +
      s""""decisions":$decided,"wall_sec":${(System.nanoTime() - t0) / 1e9},""" +
      s""""api_ok":${apiOk.get()},"api_bad":${apiBad.get()}}""")
    flush()
    spark.stop()
  }
}
