package graft.serve

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.atomic.AtomicReference

import com.sun.net.httpserver.{HttpExchange, HttpServer}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._

import graft.fs.FileSet
import graft.fs.FileSet.FileKey
import graft.queries.{FileQueries, SearchRequest}

/** Thin HTTP transport over the engine's query surface — the reference's
  * FastAPI backend (api_backend/file_indexer_api/main.py:77-100,
  * routers.py:35-212) re-served from Spark. DELIBERATELY zero new query
  * semantics: every response is assembled by the same DataFrame
  * functions the oracle gate already checks — searchApi/
  * searchApiFiltered (B2 + fi_search_page_meta math),
  * duplicateGroupsNested/duplicateGroupSummaries (D11 +
  * fi_dup_page_meta math), statsApi + duplicateStats (D2-D4),
  * sizeHistogram/extensionStats/timeline (fi_visualization) — this
  * class only parses parameters and serializes rows.
  *
  * Endpoints (reference parity):
  *   GET  /health/              → HealthCheck
  *   GET+POST /search/          → SearchResponse (files, total_count, has_more)
  *   GET+POST /duplicates/      → DuplicatesResponse (nested groups + totals)
  *   GET  /stats/               → DatabaseStats
  *   GET  /stats/visualization  → VisualizationData
  *
  * POST bodies are the reference's flat JSON request models
  * (SearchRequest / DuplicatesRequest — all scalar fields), parsed by a
  * minimal flat-object reader; GET query parameters take the same names.
  *
  * Scale note: the server is a driver-side veneer — each request calls
  * `files()`, builds a declarative plan and collects only the bounded
  * page (limit ≤ 10k), so the heavy lifting stays distributed exactly
  * as in the gated queries.
  *
  * Per-snapshot memo: `/stats/` and `/stats/visualization` depend only
  * on the snapshot (and the timeline's date anchor), so their JSON is
  * kept for the snapshot `files()` currently resolves to. The key is
  * the (path, length, mtime) set of the files every leaf of the frame's
  * analyzed plan reads; a frame with a leaf that is not a file relation
  * (an empty store, an in-memory frame) has no key and is never
  * memoized. A body is stored only after it was computed successfully,
  * and a new key replaces the whole entry, so the memo holds one
  * snapshot's few KB. The memo saves work only when a stats endpoint is
  * asked again before the next publish; a stats request after a publish
  * is a miss and pays the key's file listing on top of the computation.
  * `/search`, `/duplicates` and `/health` are computed per request and
  * build no key. `files()` is called on every request, so a new publish
  * is served at once. No frame is persisted.
  */
final class ApiServer(spark: SparkSession, files: () => DataFrame,
    databasePath: String, host: String = "127.0.0.1", port: Int = 0) {

  private val server = HttpServer.create(new InetSocketAddress(host, port), 0)
  // small pool: Spark actions are thread-safe and share the scheduler
  // fairly, and a long /duplicates must not serialize /health probes
  // behind it; sizing beyond a handful belongs to a real gateway
  private val pool = java.util.concurrent.Executors.newFixedThreadPool(4, r => {
    val t = new Thread(r, "graft-api"); t.setDaemon(true); t
  })
  server.setExecutor(pool)

  /** The actual port after binding (pass port=0 for ephemeral). */
  def boundPort: Int = server.getAddress.getPort

  def start(): ApiServer = { wire(); server.start(); this }
  /** Graceful stop: stop(2) drains in-flight exchanges (up to 2 s)
    * before closing the listener — stop(0) aborts them mid-response,
    * which both r9 soak runs measured as exactly one failed request.
    * The pool is drained the same way (fixed pools never die on their own). */
  def stop(): Unit = {
    server.stop(2)
    pool.shutdown()
    pool.awaitTermination(3, java.util.concurrent.TimeUnit.SECONDS)
  }

  // ------------------------------------------------------------- plumbing

  private def respond(x: HttpExchange, code: Int, json: String): Unit = {
    val bytes = json.getBytes(StandardCharsets.UTF_8)
    x.getResponseHeaders.set("Content-Type", "application/json")
    x.sendResponseHeaders(code, bytes.length)
    val os = x.getResponseBody
    try os.write(bytes) finally os.close()
    x.close()
  }

  private def handle(path: String)(f: Map[String, String] => String): Unit =
    server.createContext(path, (x: HttpExchange) =>
      try {
        // JDK contexts raw-prefix match ("/searchfoo" would hit
        // "/search") — reject anything but the exact endpoint, with or
        // without the trailing slash, like the reference's router does
        val rest = x.getRequestURI.getPath.stripPrefix(path)
        if (rest.nonEmpty && rest != "/")
          respond(x, 404, s"""{"error": "not found"}""")
        else respond(x, 200, f(params(x)))
      } catch {
        case e: IllegalArgumentException =>
          respond(x, 400, s"""{"error": ${jstr(e.getMessage)}}""")
        case scala.util.control.NonFatal(e) =>
          respond(x, 500, s"""{"error": ${jstr(String.valueOf(e.getMessage))}}""")
      })

  /** GET query params ++ (for POST) flat-JSON body fields. */
  private def params(x: HttpExchange): Map[String, String] = {
    val fromQuery = Option(x.getRequestURI.getRawQuery).getOrElse("").split('&')
      .toSeq.filter(_.contains('='))
      .map { kv =>
        val i = kv.indexOf('=')
        java.net.URLDecoder.decode(kv.substring(0, i), "UTF-8") ->
          java.net.URLDecoder.decode(kv.substring(i + 1), "UTF-8")
      }.toMap
    val fromBody =
      if (x.getRequestMethod == "POST")
        flatJson(new String(x.getRequestBody.readAllBytes(), StandardCharsets.UTF_8))
      else Map.empty[String, String]
    fromQuery ++ fromBody
  }

  /** Minimal flat-JSON-object reader for the reference's request models
    * (string / number / bool / null scalar fields only). */
  private[serve] def flatJson(s: String): Map[String, String] =
    ApiServer.flatJson(s)

  private def jstr(s: String): String =
    if (s == null) "null"
    else "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"; case '\r' => "\\r"; case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  /** `to_json` of `cols` as one object per row, explicit nulls kept
    * (Spark's default to_json drops them, the reference models emit
    * them). */
  private def rowJson(cols: Column*): Column =
    to_json(struct(cols: _*), ApiServer.KeepNulls).as("j")

  /** Collected rows as a JSON array. */
  private def rowsJson(df: DataFrame): String =
    df.select(rowJson(col("*"))).collect().map(_.getString(0)).mkString("[", ",", "]")

  // --------------------------------------------------- per-snapshot memo

  private val memo = new AtomicReference[ApiServer.SnapshotMemo]()

  /** The key of the memo entry held now, if any. */
  private[serve] def memoKey: Option[Set[FileKey]] = Option(memo.get).map(_.key)

  /** The `endpoint` body for the current snapshot and `variant`, from
    * the memo when present, else computed by `body` (and stored if the
    * snapshot has a key). Only the memoized endpoints build the key;
    * the others read `files()` alone. */
  private def memoized(endpoint: String, variant: String = "")(
      body: DataFrame => String): String = {
    val f = files()
    ApiServer.snapshotKey(f).fold(body(f)) { k =>
      memo.updateAndGet(m => if (m != null && m.key == k) m else new ApiServer.SnapshotMemo(k))
        .getOrElseUpdate(endpoint, variant)(body(f))
    }
  }

  // Absence is structural only: a JSON null body field is dropped at
  // parse time (Optional = not set, like the reference's Pydantic
  // models), and a missing query param is absent — but the literal
  // STRINGS "null" and "" are values like any other (a file really can
  // be named "null"); for typed params they fail the parse → 400,
  // matching FastAPI's 422 on a malformed typed query param.
  private def long(p: Map[String, String], k: String): Option[Long] =
    p.get(k).map { v =>
      v.toLongOption.getOrElse(throw new IllegalArgumentException(s"$k must be an integer"))
    }
  // FastAPI-style bool coercion: True/1/yes/on all mean true; anything
  // unrecognized is a 400, never a silent false (which would invert
  // has_checksum filters)
  private def bool(p: Map[String, String], k: String): Option[Boolean] =
    p.get(k).map(_.toLowerCase match {
      case "true" | "1" | "yes" | "on" => true
      case "false" | "0" | "no" | "off" => false
      case v => throw new IllegalArgumentException(s"$k: not a boolean: $v")
    })
  private def str(p: Map[String, String], k: String): Option[String] =
    p.get(k)
  /** An `Int`-ranged param: the raw Long is range-checked BEFORE the
    * narrowing — (4294967396L).toInt is 100, which would silently turn
    * an out-of-range limit into a valid-looking one. */
  private def int(p: Map[String, String], k: String, default: Int,
      min: Int, max: Int): Int = {
    val v = long(p, k).getOrElse(default.toLong)
    require(v >= min && v <= max, s"$k must be in [$min, $max]")
    v.toInt
  }
  /** A datetime param, validated up front: under non-ANSI Spark an
    * unparsable string would make to_timestamp yield NULL and the
    * filter silently drop EVERY row — a 400 here instead, like the
    * reference's FastAPI 422 on a malformed datetime. */
  private def dt(p: Map[String, String], k: String): Option[String] =
    str(p, k).map { v =>
      val ok =
        scala.util.Try(java.sql.Timestamp.valueOf(v)).isSuccess ||
        scala.util.Try(java.time.LocalDateTime.parse(v.replace(' ', 'T'))).isSuccess ||
        scala.util.Try(java.time.LocalDate.parse(v)).isSuccess
      require(ok, s"$k: not a datetime: $v")
      v
    }

  // ------------------------------------------------------------ endpoints

  private def wire(): Unit = {
    // GET /health/ (routers.py:35-57)
    handle("/health") { _ =>
      val n = try files().count() catch { case scala.util.control.NonFatal(_) => -1L }
      val ok = n >= 0
      s"""{"status": ${jstr(if (ok) "healthy" else "unhealthy")},
         | "database_connected": $ok,
         | "database_path": ${jstr(databasePath)},
         | "total_files": ${math.max(n, 0)},
         | "api_version": "0.1.0"}""".stripMargin
    }

    // GET+POST /search/ (routers.py:64-117; response math = the
    // oracle-checked fi_search_page_meta)
    handle("/search") { p =>
      val req = SearchRequest(
        filenamePattern = str(p, "filename_pattern"),
        checksum = str(p, "checksum"),
        pathPattern = str(p, "path_pattern"),
        hasChecksum = bool(p, "has_checksum"),
        minSize = long(p, "min_size"),
        maxSize = long(p, "max_size"),
        modifiedAfter = dt(p, "modified_after"),
        modifiedBefore = dt(p, "modified_before"),
        limit = int(p, "limit", default = 100, min = 1, max = 10000),
        offset = int(p, "offset", default = 0, min = 0, max = Int.MaxValue))
      val f = files()
      // KEYSET mode (extension beyond the reference's offset API — the
      // reference keeps this cursor for its own cleanup walk,
      // indexer.py:1078-1101): `keyset=true` or a (cursor_path,
      // cursor_filename) pair switches to deletion-safe (path,
      // filename) > (cursor) pagination. No total_count — counting the
      // filtered set per page is exactly the O(corpus) work the cursor
      // exists to avoid; has_more is the standard full-page convention
      // and next_cursor resumes the walk.
      val cursorKeys = Seq("cursor_path", "cursor_filename").filter(p.contains)
      if (bool(p, "keyset").getOrElse(false) || cursorKeys.nonEmpty) {
        val after = cursorKeys match {
          case Seq("cursor_path", "cursor_filename") =>
            Some((p("cursor_path"), p("cursor_filename")))
          case Seq() => None
          case _ => throw new IllegalArgumentException(
            "cursor_path and cursor_filename must be provided together")
        }
        val rows = FileQueries.searchKeyset(f, req, after, req.limit)
          .select(rowJson(col("*")), col("path"), col("filename")).collect()
        val filesJson = rows.map(_.getString(0)).mkString("[", ",", "]")
        val next = rows.lastOption.map(r =>
          s"""{"path": ${jstr(r.getString(1))}, "filename": ${jstr(r.getString(2))}}""")
          .getOrElse("null")
        s"""{"files": $filesJson, "next_cursor": $next,
           | "has_more": ${rows.length == req.limit}}""".stripMargin
      } else {
        val total = FileQueries.searchApiFiltered(f, req).count()
        val page = FileQueries.searchApi(f, req)
        val pageJson = rowsJson(page)
        val inPage = math.min(req.limit.toLong, math.max(0L, total - req.offset))
        s"""{"files": $pageJson, "total_count": $total,
           | "has_more": ${req.offset + inPage < total}}""".stripMargin
      }
    }

    // GET+POST /duplicates/ (routers.py:120-186; group page + totals =
    // the oracle-checked fi_dup_page_meta / fi_duplicate_groups shapes,
    // size filters and pattern→checksum expansion per database.py:225-345)
    handle("/duplicates") { p =>
      val minGroup = int(p, "min_group_size", default = 2, min = 2, max = Int.MaxValue)
      val limit = int(p, "limit", default = 100, min = 1, max = 1000)
      val offset = int(p, "offset", default = 0, min = 0, max = Int.MaxValue)
      val sizePreds: Seq[Column] =
        long(p, "min_file_size").map(col("file_size") >= _).toSeq ++
        long(p, "max_file_size").map(col("file_size") <= _).toSeq
      val f = files()
      val sized = sizePreds.foldLeft(f)((df, c) => df.filter(c))
      // pattern → checksum expansion (database.py:225-292): target
      // checksums come from files matching pattern AND size filters
      // (the reference's where_filter covers both), but the expansion
      // then spans ALL files with those checksums — database-wide,
      // unfiltered (database.py:243-253)
      val patterns = str(p, "filename_pattern").map(col("filename").like(_)).toSeq ++
        str(p, "path_pattern").map(col("path").like(_)).toSeq
      val base =
        if (patterns.isEmpty) sized
        else {
          val keys = patterns.foldLeft(sized.filter(col("checksum").isNotNull))(
            (df, c) => df.filter(c)).select("checksum").distinct()
          f.join(broadcast(keys), Seq("checksum"), "left_semi")
        }
      // KEYSET mode (same contract as /search's cursor mode): a
      // (cursor_count, cursor_size, cursor_checksum) triple — or
      // keyset=true for page 1 — switches to deletion-safe cursor
      // pagination over the group total order. No total_groups:
      // counting the group set per page is the O(corpus) work the
      // cursor avoids; next_cursor resumes the walk and the totals are
      // page sums, as in offset mode.
      val dupCursorKeys =
        Seq("cursor_count", "cursor_size", "cursor_checksum").filter(p.contains)
      if (bool(p, "keyset").getOrElse(false) || dupCursorKeys.nonEmpty) {
        val after = dupCursorKeys match {
          case Seq("cursor_count", "cursor_size", "cursor_checksum") =>
            Some((p("cursor_count").toLong, p("cursor_size").toLong,
              p("cursor_checksum")))
          case Seq() => None
          case _ => throw new IllegalArgumentException(
            "cursor_count, cursor_size and cursor_checksum must be provided together")
        }
        val rows = FileQueries
          .duplicateGroupsNestedKeyset(base, minGroup, after, limit)
          .select(rowJson(col("checksum"), col("file_size"),
            col("file_count"), col("wasted_space"), col("files")),
            col("file_count"), col("wasted_space"), col("file_size"), col("checksum"))
          .collect()
        val next = rows.lastOption.map(r =>
          s"""{"file_count": ${r.getLong(1)}, "file_size": ${r.getLong(3)},
             | "checksum": ${jstr(r.getString(4))}}""".stripMargin)
          .getOrElse("null")
        s"""{"duplicate_groups": ${rows.map(_.getString(0)).mkString("[", ",", "]")},
           | "next_cursor": $next,
           | "total_duplicate_files": ${rows.map(_.getLong(1)).sum},
           | "total_wasted_space": ${rows.map(_.getLong(2)).sum},
           | "has_more": ${rows.length == limit}}""".stripMargin
      } else {
      // ONE grouping pass: the page rows ride total_groups from the
      // window over group summaries (fi_dup_page_meta's math), the
      // JSON row collects next to its numeric columns, and the
      // response totals are sums over rows already in hand. Only an
      // empty page (offset past the end) pays a separate bare count.
      val pageRows = FileQueries.duplicateGroupsNestedPage(base, minGroup, limit, offset)
        .select(rowJson(col("checksum"), col("file_size"), col("file_count"),
          col("wasted_space"), col("files")),
          col("file_count"), col("wasted_space"), col("total_groups"))
        .collect()
      val totalGroups =
        if (pageRows.nonEmpty) pageRows.head.getLong(3)
        else FileQueries.duplicateGroupSummaries(base, minGroup).count()
      val tdf = pageRows.map(_.getLong(1)).sum
      val tws = pageRows.map(_.getLong(2)).sum
      s"""{"duplicate_groups": ${pageRows.map(_.getString(0)).mkString("[", ",", "]")},
         | "total_groups": $totalGroups,
         | "total_duplicate_files": $tdf,
         | "total_wasted_space": $tws,
         | "has_more": ${offset + pageRows.length < totalGroups}}""".stripMargin
      }
    }

    // GET /stats/visualization (routers.py:203-212, database.py:459-520)
    // — registered BEFORE /stats: JDK contexts are prefix-matched and
    // the longest prefix wins, but both must exist
    handle("/stats/visualization") { _ =>
      // the reference anchors at CURRENT_DATE (database.py:523); the
      // serving layer does the same — determinism only matters for the
      // oracle-gated twin (fi_visualization), which pins an anchor. The
      // anchor is part of the memo variant, so a new day recomputes.
      val asOf = java.time.LocalDate.now().atStartOfDay().toString.replace('T', ' ')
      memoized("visualization", asOf) { f =>
        val sizes = FileQueries.sizeHistogram(f)
          .select(col("size_range"), col("file_count").as("count"), col("total_size"))
        val exts = FileQueries.extensionStats(f)
          .select(col("extension"), col("file_count").as("count"),
            col("total_size"), col("avg_size").as("average_size"))
        val tl = FileQueries.timeline(f, asOf)
          .select(col("month"), col("file_count").as("count"), col("total_size"))
        s"""{"size_distribution": ${rowsJson(sizes)},
           | "extension_stats": ${rowsJson(exts)},
           | "modification_timeline": ${rowsJson(tl)}}""".stripMargin
      }
    }

    // GET /stats/ (routers.py:192-200, database.py:395-457)
    handle("/stats") { _ =>
      memoized("stats") { f =>
        val s = FileQueries.statsApi(f).collect().head
        val d = FileQueries.duplicateStats(f).collect().head
        // type-agnostic: the column surfaces as Timestamp or (for
        // TIMESTAMP_NTZ parquet) LocalDateTime depending on the source
        def ts(i: Int): String =
          if (s.isNullAt(i)) "null" else jstr(String.valueOf(s.get(i)))
        val avg = if (s.getLong(0) == 0) 0.0 else s.getDouble(4)
        s"""{"total_files": ${s.getLong(0)},
           | "total_size": ${s.getLong(1)},
           | "files_with_checksums": ${s.getLong(2)},
           | "files_without_checksums": ${s.getLong(3)},
           | "duplicate_files": ${d.getLong(1)},
           | "duplicate_groups": ${d.getLong(0)},
           | "average_file_size": $avg,
           | "largest_file_size": ${if (s.isNullAt(5)) 0 else s.getLong(5)},
           | "smallest_file_size": ${if (s.isNullAt(6)) 0 else s.getLong(6)},
           | "most_recent_modification": ${ts(7)},
           | "oldest_modification": ${ts(8)},
           | "unique_directories": ${s.getLong(9)}}""".stripMargin
      }
    }
  }
}

object ApiServer {
  private val KeepNulls: java.util.Map[String, String] =
    java.util.Map.of("ignoreNullFields", "false")

  /** [[FileSet.of]] `df`'s analyzed plan, or None when some leaf is
    * not a file relation (its rows have no file version to key on). */
  private[serve] def snapshotKey(df: DataFrame): Option[Set[FileKey]] = {
    val plan = df.queryExecution.analyzed
    val fileLeaves = plan.collectLeaves().forall {
      case l: LogicalRelation => l.relation.isInstanceOf[HadoopFsRelation]
      case _ => false
    }
    if (fileLeaves) Some(FileSet.of(plan)) else None
  }

  /** Response bodies memoized for the snapshot `key` names: per
    * endpoint, the latest variant (e.g. the timeline's date anchor) and
    * its body. */
  private[serve] final class SnapshotMemo(val key: Set[FileKey]) {
    private val bodies =
      new java.util.concurrent.ConcurrentHashMap[String, (String, String)]()

    /** The stored body for (`endpoint`, `variant`), else `body`, stored
      * once it returned. */
    def getOrElseUpdate(endpoint: String, variant: String)(body: => String): String =
      Option(bodies.get(endpoint)).collect { case (`variant`, b) => b }.getOrElse {
        val b = body
        bodies.put(endpoint, variant -> b)
        b
      }
  }

  /** Parse one flat JSON object {k: scalar, ...} into string values
    * (numbers/bools keep their literal text). A JSON `null` field is
    * DROPPED — Optional-not-set, like the reference's Pydantic models
    * — so the literal string "null" stays a value. Nested objects and
    * arrays are masked out before the scalar scan: no reference
    * request model uses them, and scanning inside them would silently
    * apply keys the client deliberately nested (e.g. a `min_size`
    * inside a metadata sub-object). */
  private[serve] def flatJson(s: String): Map[String, String] = {
    val t = s.trim
    if (t.isEmpty || t == "{}") return Map.empty
    require(t.startsWith("{") && t.endsWith("}"), "body must be a JSON object")
    val kv = """"((?:[^"\\]|\\.)*)"\s*:\s*("(?:[^"\\]|\\.)*"|-?[0-9][0-9.eE+\-]*|true|false|null)""".r
    kv.findAllMatchIn(topLevelOnly(t)).flatMap { m =>
      val raw = m.group(2)
      if (raw == "null") None
      else Some(unescape(m.group(1)) -> (
        if (raw.startsWith("\"")) unescape(raw.substring(1, raw.length - 1))
        else raw))
    }.toMap
  }

  /** Blank out every character nested deeper than the top-level object
    * (depth tracking is string-aware, so braces inside string values
    * don't count). The scalar kv-scan then cannot match keys inside
    * nested objects/arrays. */
  private def topLevelOnly(t: String): String = {
    val sb = new StringBuilder(t.length)
    var depth = 0; var inStr = false; var esc = false
    t.foreach { c =>
      if (inStr) {
        sb += (if (depth <= 1) c else ' ')
        if (esc) esc = false
        else if (c == '\\') esc = true
        else if (c == '"') inStr = false
      } else c match {
        case '"' => inStr = true; sb += (if (depth <= 1) c else ' ')
        case '{' | '[' => depth += 1; sb += (if (depth <= 1) c else ' ')
        case '}' | ']' => sb += (if (depth <= 1) c else ' '); depth -= 1
        case _ => sb += (if (depth <= 1) c else ' ')
      }
    }
    sb.toString
  }

  private def unescape(s: String): String = {
    val out = new StringBuilder
    var i = 0
    while (i < s.length) {
      if (s.charAt(i) == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case 'n' => out += '\n'; i += 2
          case 'r' => out += '\r'; i += 2
          case 't' => out += '\t'; i += 2
          case 'u' if i + 6 <= s.length =>
            out += Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar; i += 6
          case c => out += c; i += 2
        }
      } else { out += s.charAt(i); i += 1 }
    }
    out.toString
  }
}
