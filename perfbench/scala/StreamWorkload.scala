package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.fs.DeltaDirs
import graft.streaming.DedupStream

/** `stream_dedup`: `DedupStream.continuousDedup` with `AvailableNow` and
  * `maxFilesPerTrigger=1`, so every generated drop is one micro-batch.
  * Every run processes the same fixed number of drops, a multiple of
  * `compact_every`, so each run holds the same batches and the same
  * share of compaction batches whatever the speed. The drops are moved
  * into the staging directory a chunk at a time, and each chunk is one
  * AvailableNow run on the same checkpoint and state; batch ids (and so
  * the compaction every `compact_every` batches) continue across chunks.
  *
  * An untraced run is one chunk (`chunks`), so only its first batch
  * follows a query start. A traced run is four chunks (`traced_chunks`)
  * in the order untraced, traced, traced, untraced, so the drift within
  * the run cancels out of the tracing overhead. */
object StreamWorkload {

  def run(spark: SparkSession, ctx: Ctx, t0: Long): Map[String, Any] = {
    val spec = Json.obj(ctx.readJson("spec.json"))
    val root = Json.str(spec("root"))
    val compactEvery = Json.long(spec("compact_every"))
    val chunks = Json.arr(spec(if (ctx.traced) "traced_chunks" else "chunks")).map(Json.long)
    val drops = Json.arr(spec("drops")).map(Json.str)
    require(drops.size >= chunks.sum, "not enough drops generated")

    // warm-up: the same stream over a few drops on its own state
    runChunk(spark, Json.arr(spec("warm_drops")).map(Json.str), s"$root/warm", compactEvery)
    val setupS = Clock.secondsSince(t0)
    Clock.log("warm-up done")
    Mem.checkpoint()

    val state = s"$root/run"
    val totals = if (ctx.traced) Some(SparkTotals.attach(spark.sparkContext)) else None
    val sparkAcc = scala.collection.mutable.Map.empty[String, Double]
    val ops = Vector.newBuilder[Map[String, Any]]
    val mStart = System.nanoTime()
    chunks.scanLeft(0L)(_ + _).sliding(2).zipWithIndex.foreach { case (Seq(from, until), k) =>
      val traced = ctx.traced && (k % 4 == 1 || k % 4 == 2)
      val part = drops.slice(from.toInt, until.toInt)
      val progress =
        if (traced) SparkTotals.window(totals.get, sparkAcc)(
          ctx.trace.span("stream.chunk")(runChunk(spark, part, state, compactEvery)))
        else runChunk(spark, part, state, compactEvery)
      progress.foreach(p => ops += (p ++ Map("kind" -> "batch", "traced" -> traced)))
      Clock.log(s"chunk $k: ${progress.size} batches")
    }
    val measureS = Clock.secondsSince(mStart)
    Mem.checkpoint()

    // decisions per batch, for the exact kept/dropped check
    val decisions = spark.read.parquet(s"$state/out")
      .groupBy("batch_id")
      .agg(count(lit(1)).as("docs"), sum(when(col("kept"), 1).otherwise(0)).as("kept"),
        countDistinct("doc_id").as("distinct"))
      .collect().map(r => Map[String, Any]("batch" -> r.getLong(0), "docs" -> r.getLong(1),
        "kept" -> r.getLong(2), "distinct" -> r.getLong(3))).sortBy(m => Json.long(m("batch")))
    val keptDocs = decisions.map(m => Json.long(m("kept"))).sum
    val layers: Map[String, Any] =
      if (!ctx.traced) Map.empty
      else {
        val traced = ops.result().filter(_("traced") == true)
        def med(xs: Seq[Any]) = Stats.median(xs.map(x => Json.long(x).toDouble))
        Map(
          "stream.add_batch_ms" -> med(traced.map(_("add_batch_ms"))),
          "stream.plan_ms" -> med(traced.map(_("plan_ms"))),
          "stream.compact_ms" -> med(traced
            .filter(m => Json.long(m("batch")) % compactEvery == compactEvery - 1)
            .map(_("add_batch_ms"))),
          "stream.state_bytes_per_kept_doc" ->
            Proc.dirBytes(s"$state/index").toDouble / math.max(1L, keptDocs),
          "stream.live_deltas" -> DeltaDirs.list(s"$state/index").size.toDouble) ++
          SparkTotals.layers(sparkAcc)
      }
    Map("setup_s" -> setupS, "ops" -> ops.result(), "measure_s" -> measureS,
      "observed" -> Map("batches" -> decisions.toSeq), "layers" -> layers)
  }

  /** Move `drops` into staging and run the stream until they are done;
    * returns one progress record per micro-batch. */
  private def runChunk(spark: SparkSession, drops: Seq[String], dir: String,
      compactEvery: Long): Seq[Map[String, Any]] = {
    val staging = Paths.get(s"$dir/staging")
    Files.createDirectories(staging)
    drops.foreach(d => Files.move(Paths.get(d), staging.resolve(Paths.get(d).getFileName)))
    val q = DedupStream.continuousDedup(spark, staging.toString, s"$dir/index", s"$dir/out",
      s"$dir/checkpoint", trigger = Trigger.AvailableNow(), compactEvery = compactEvery,
      readOptions = Map("maxFilesPerTrigger" -> "1"))
    q.awaitTermination()
    q.recentProgress.toSeq.filter(_.numInputRows > 0).map { p =>
      val d = p.durationMs
      def ms(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
      Map[String, Any]("batch" -> p.batchId, "ms" -> ms("triggerExecution").toDouble,
        "add_batch_ms" -> ms("addBatch"), "plan_ms" -> ms("queryPlanning"),
        "docs" -> p.numInputRows)
    }
  }
}
