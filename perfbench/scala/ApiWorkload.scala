package perfbench

import java.net.{HttpURLConnection, URI, URLEncoder}
import java.nio.charset.StandardCharsets
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.fs.IndexStore
import graft.queries.{FileQueries, SearchRequest}
import graft.serve.ApiServer

/** `api_search`: the REST backend over one published snapshot.
  * Set-up publishes the generated rows with `IndexStore.publish`, starts
  * `ApiServer` (which loads the snapshot per request) and sends the
  * warm-up requests. Then 4 closed-loop clients walk the generated
  * request list until the time is up.
  *
  * A traced run sends the same requests and traces every second one,
  * so traced and untraced requests of every kind are interleaved for
  * the tracing overhead. It then makes the same loads and `FileQueries`
  * calls the handlers make, called in-process by 4 threads, to split
  * latency into load, query and transport. */
object ApiWorkload {
  val Clients = 4

  final case class Req(kind: String, path: String, params: Map[String, String])

  def run(spark: SparkSession, ctx: Ctx, t0: Long): Map[String, Any] = {
    val spec = Json.obj(ctx.readJson("spec.json"))
    def reqs(k: String) = Json.arr(spec(k)).map(Json.obj).map(r => Req(Json.str(r("kind")),
      Json.str(r("path")), Json.obj(r("params")).map { case (k, v) => k -> Json.str(v) }))
    val requests = reqs("requests")
    val db = Json.str(spec("db"))

    IndexStore.publish(spark.read.parquet(Json.str(spec("rows"))), db)
    Clock.log("snapshot published")
    val server = new ApiServer(spark, () => IndexStore.load(spark, db), db).start()
    try {
      val base = s"http://127.0.0.1:${server.boundPort}"
      val warm = reqs("warm")
      closedLoop(warm, warm.size, 0.0) { (_, _, r) => call(base, r); () }
      val setupS = Clock.secondsSince(t0)
      Clock.log("warm-up done")
      Mem.checkpoint()

      val ops = Vector.newBuilder[Map[String, Any]]
      val mStart = System.nanoTime()
      val minOps = Json.long(spec("min_ops"))
      val totals = if (ctx.traced) Some(SparkTotals.attach(spark.sparkContext)) else None
      val sparkAcc = scala.collection.mutable.Map.empty[String, Double]
      var wallS = 0.0
      def httpPhase(): Unit = {
        val p0 = System.nanoTime()
        closedLoop(requests, minOps, ctx.seconds) { (n, i, r) =>
          val traced = ctx.traced && n % 2 == 1
          val (res, ms) = Clock.timed(
            if (traced) ctx.trace.span(s"serve.http.${r.kind}")(call(base, r)) else call(base, r))
          val (status, fields) = res
          ops.synchronized {
            ops += Map("kind" -> r.kind, "req" -> i, "ms" -> ms, "status" -> status,
              "traced" -> traced, "fields" -> fields)
          }
        }
        wallS = Clock.secondsSince(p0)
      }
      val layers: Map[String, Any] =
        if (!ctx.traced) { httpPhase(); Map.empty }
        else {
          SparkTotals.window(totals.get, sparkAcc)(httpPhase())
          SparkTotals.layers(sparkAcc) ++ decompose(spark, ctx, db, requests, ctx.seconds / 2)
        }
      Mem.checkpoint()
      Map("setup_s" -> setupS, "ops" -> ops.result(), "measure_s" -> Clock.secondsSince(mStart),
        "wall_s" -> wallS, "observed" -> Map.empty, "layers" -> layers)
    } finally server.stop()
  }

  /** `Clients` threads take sequence numbers n from one counter (the
    * request is `reqs(n % reqs.size)`) until `seconds` have passed and
    * at least `minTotal` requests were sent. `f` gets n, the request's
    * index and the request. */
  private def closedLoop(reqs: Seq[Req], minTotal: Long, seconds: Double)(
      f: (Long, Int, Req) => Unit): Unit = {
    val next = new AtomicLong(0)
    val t0 = System.nanoTime()
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until Clients).map { _ =>
      new Thread(() => {
        try {
          var i = next.getAndIncrement()
          while (i < minTotal || Clock.secondsSince(t0) < seconds) {
            f(i, (i % reqs.size).toInt, reqs((i % reqs.size).toInt))
            i = next.getAndIncrement()
          }
        } catch { case e: Throwable => errors.add(e) }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    if (!errors.isEmpty) throw errors.peek()
  }

  private val Fields = Seq("total_count", "has_more", "total_groups", "total_files",
    "duplicate_groups", "duplicate_files")

  /** One GET; returns the status and the response fields the checks
    * read: the counters above, plus page sizes and the size-histogram
    * total. */
  def call(base: String, r: Req): (Int, Map[String, Any]) = {
    val q = r.params.map { case (k, v) =>
      URLEncoder.encode(k, "UTF-8") + "=" + URLEncoder.encode(v, "UTF-8") }.mkString("&")
    val c = URI.create(base + r.path + (if (q.isEmpty) "" else "?" + q)).toURL
      .openConnection().asInstanceOf[HttpURLConnection]
    try {
      val status = c.getResponseCode
      val in = if (status < 400) c.getInputStream else c.getErrorStream
      val body = new String(in.readAllBytes(), StandardCharsets.UTF_8)
      in.close()
      val fields = Fields.flatMap { k =>
        s""""$k": (true|false|\\d+)""".r.findFirstMatchIn(body).map(m => k -> m.group(1))
      }.toMap[String, Any] ++ Map(
        // page rows are to_json objects ("k":v, no space); the
        // next_cursor object is written with a space and is not counted
        "files" -> "\"filename\":\"".r.findAllMatchIn(body).size,
        "groups" -> "\"file_count\":\\d".r.findAllMatchIn(body).size) ++ (
        if (r.kind != "visualization") Map.empty
        else {
          val sizes = body.substring(0, math.max(0, body.indexOf("extension_stats")))
          Map("size_rows" -> "\"count\":(\\d+)".r.findAllMatchIn(sizes).map(_.group(1).toLong).sum)
        })
      (status, fields)
    } finally c.disconnect()
  }

  /** The handlers' work without HTTP: `IndexStore.load` as the server
    * calls it, then the same `FileQueries` calls plus collect. */
  private def decompose(spark: SparkSession, ctx: Ctx, db: String, reqs: Seq[Req],
      seconds: Double): Map[String, Any] = {
    val tr = ctx.trace
    val loadMs = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
    val queryMs = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
    closedLoop(reqs, Clients.toLong, seconds) { (_, _, r) =>
      val (f, lm) = Clock.timed(tr.span("serve.load")(IndexStore.load(spark, db)))
      val (_, qm) = Clock.timed(tr.span(s"serve.query.${r.kind}")(handlerWork(f, r)))
      loadMs.add(lm); queryMs.add(qm)
    }
    import scala.jdk.CollectionConverters._
    val load = Stats.median(loadMs.asScala.toSeq)
    Map("serve.load_ms" -> load, "fs.load_s" -> load / 1e3,
      "serve.query_ms" -> Stats.median(queryMs.asScala.toSeq))
  }

  private def handlerWork(f: DataFrame, r: Req): Unit = {
    val p = r.params
    def opt(k: String) = p.get(k)
    r.kind match {
      case "search_offset" | "search_keyset" =>
        val req = SearchRequest(filenamePattern = opt("filename_pattern"),
          pathPattern = opt("path_pattern"), hasChecksum = opt("has_checksum").map(_.toBoolean),
          minSize = opt("min_size").map(_.toLong), maxSize = opt("max_size").map(_.toLong),
          limit = p("limit").toInt, offset = opt("offset").map(_.toInt).getOrElse(0))
        if (r.kind == "search_offset") {
          FileQueries.searchApiFiltered(f, req).count()
          FileQueries.searchApi(f, req).collect()
        } else {
          val after = for (cp <- opt("cursor_path"); cf <- opt("cursor_filename")) yield (cp, cf)
          FileQueries.searchKeyset(f, req, after, req.limit).collect()
        }
      case "duplicates" =>
        FileQueries.duplicateGroupsNestedPage(f, p("min_group_size").toInt,
          p("limit").toInt, p("offset").toInt).collect()
      case "stats" =>
        FileQueries.statsApi(f).collect(); FileQueries.duplicateStats(f).collect()
      case "visualization" =>
        FileQueries.sizeHistogram(f).collect(); FileQueries.extensionStats(f).collect()
        FileQueries.timeline(f, java.time.LocalDate.now().toString + " 00:00:00").collect()
    }
  }
}
