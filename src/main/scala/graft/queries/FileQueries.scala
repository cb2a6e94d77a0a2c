package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** API-search parameters — reference `SearchRequest`
  * (/root/reference/api_backend/file_indexer_api/models.py:24-50). */
case class SearchRequest(
    filenamePattern: Option[String] = None,
    checksum: Option[String] = None,
    pathPattern: Option[String] = None,
    hasChecksum: Option[Boolean] = None,
    minSize: Option[Long] = None,
    maxSize: Option[Long] = None,
    modifiedAfter: Option[String] = None,  // 'yyyy-MM-dd HH:mm:ss'
    modifiedBefore: Option[String] = None,
    limit: Int = 100,
    offset: Int = 0)

/** The reference's entire relational query surface (SURVEY.md §2 B–E),
  * re-expressed as composable DataFrame transforms over any DataFrame
  * with the `files` schema (path, filename, checksum nullable,
  * modification_datetime, file_size).
  *
  * Scale design:
  *  - every operator is a declarative plan — filters/projections push
  *    into the parquet scan, aggregations get map-side partial
  *    combine, and whole-stage codegen covers the hot paths;
  *  - duplicate detection is a single hash-aggregate (window or
  *    groupBy on `checksum`) — NOT the reference's self-join
  *    (indexer.py:751-794), which would double-scan and double-shuffle
  *    at 100 TB;
  *  - join-backs broadcast the (paginated, bounded) group side so the
  *    big fact side never shuffles;
  *  - all outputs carry a total ordering (trailing PK sort keys) as
  *    the reference does (database.py:287,338) — required by the
  *    oracle harness and by stable pagination.
  */
object FileQueries {

  /** B1 — multi-criteria conjunctive search
    * (indexer.py:697-749: dynamic WHERE, ORDER BY path, filename).
    * Delegates to [[searchApiFiltered]] so the B1 CLI path and the B2
    * API path share ONE predicate construction — a change to either's
    * matching semantics cannot diverge between them. */
  def searchFiles(
      files: DataFrame,
      filenamePattern: Option[String] = None,
      checksum: Option[String] = None,
      pathPattern: Option[String] = None,
      hasChecksum: Option[Boolean] = None): DataFrame =
    searchApiFiltered(files, SearchRequest(
      filenamePattern = filenamePattern, checksum = checksum,
      pathPattern = pathPattern, hasChecksum = hasChecksum))
      .orderBy(col("path"), col("filename"))

  /** The B2 filter set WITHOUT ordering/pagination — the "matching
    * rows" relation the API both paginates (searchApi) and counts for
    * the response's total_count/has_more (routers.py:74). */
  def searchApiFiltered(files: DataFrame, req: SearchRequest): DataFrame = {
    val preds: Seq[Column] =
      req.filenamePattern.map(p => col("filename").like(p)).toSeq ++
      req.checksum.map(c => col("checksum") === c).toSeq ++
      req.pathPattern.map(p => col("path").like(p)).toSeq ++
      req.hasChecksum.map(h => if (h) col("checksum").isNotNull else col("checksum").isNull).toSeq ++
      req.minSize.map(s => col("file_size") >= s).toSeq ++
      req.maxSize.map(s => col("file_size") <= s).toSeq ++
      req.modifiedAfter.map(t => col("modification_datetime") >= to_timestamp(lit(t))).toSeq ++
      req.modifiedBefore.map(t => col("modification_datetime") <= to_timestamp(lit(t))).toSeq
    preds.foldLeft(files)((df, p) => df.filter(p))
  }

  /** B2 — API search: B1 + size/mtime ranges + pagination
    * (database.py:56-142; ORDER BY modification_datetime DESC, path,
    * filename; LIMIT/OFFSET). */
  def searchApi(files: DataFrame, req: SearchRequest): DataFrame =
    searchApiFiltered(files, req)
      .orderBy(col("modification_datetime").desc, col("path"), col("filename"))
      .offset(req.offset).limit(req.limit)

  /** B2 at scale — KEYSET (cursor) pagination twin of [[searchApi]]:
    * the reference's deletion-safe cleanup cursor (indexer.py:1078-1101:
    * `WHERE path > ? OR (path = ? AND filename > ?) ORDER BY path,
    * filename LIMIT ?`) over the same B2 filter surface. Offset
    * pagination re-sorts and skips the whole filtered prefix on every
    * page — at 100× scale a deep page costs the full filtered set —
    * and mid-walk deletions shift rows across page boundaries. The
    * keyset predicate is a plain conjunctive range on the sort key:
    * it pushes down to the parquet scan (min/max row-group pruning
    * skips everything at or before the cursor), each page costs
    * O(remaining matches) not O(offset + page), and a deleted
    * already-paged row can never shift what page N+1 returns. */
  def searchKeyset(files: DataFrame, req: SearchRequest,
      after: Option[(String, String)], pageSize: Int): DataFrame = {
    val base = searchApiFiltered(files, req)
    val paged = after.fold(base) { case (lastPath, lastFile) =>
      base.filter(col("path") > lastPath ||
        (col("path") === lastPath && col("filename") > lastFile))
    }
    paged.orderBy(col("path"), col("filename")).limit(pageSize)
  }

  /** The cursor to resume [[searchKeyset]] after one page: the page's
    * last (path, filename) in keyset order, None on an empty page.
    * A bounded driver-side read (one aggregated row) — exactly the
    * state the reference keeps in `last_path`/`last_filename`. */
  def keysetCursor(files: DataFrame, req: SearchRequest,
      after: Option[(String, String)], pageSize: Int): Option[(String, String)] = {
    val last = searchKeyset(files, req, after, pageSize)
      .agg(max(struct(col("path"), col("filename"))).as("c"))
      .head().getStruct(0)
    Option(last).map(r => (r.getString(0), r.getString(1)))
  }

  /** B3/B4 — Go case-insensitive substring search
    * (file_indexer_go/db/database.go:116-147: filename ILIKE OR path
    * ILIKE, ORDER BY filename). filename alone is not unique in
    * general → tie-break with path. */
  def substringSearch(files: DataFrame, q: String): DataFrame = {
    val needle = s"%$q%"
    files.filter(col("filename").ilike(needle) || col("path").ilike(needle))
      .orderBy(col("filename"), col("path"))
  }

  /** B5 — point lookup by PK (database.go:183-196, indexer.py:618-625). */
  def pointLookup(files: DataFrame, path: String, filename: String): DataFrame =
    files.filter(col("path") === path && col("filename") === filename)

  /** B6 — list all, ORDER BY filename (database.go:150-180). */
  def listAll(files: DataFrame): DataFrame =
    files.orderBy(col("filename"), col("path"))

  /** B7 — null-checksum scan per size group (indexer.py:1534-1541). */
  def nullChecksumBySize(files: DataFrame, size: Long): DataFrame =
    files.filter(col("file_size") === size && col("checksum").isNull)
      .orderBy(col("path"), col("filename"))

  /** B8 — bulk existence probe (indexer.py:228-266). The reference
    * builds a row-value IN list per 1000-file batch; in Spark the
    * batch is a DataFrame and the probe IS a semi join (broadcast the
    * small batch side — never shuffle the index for it). */
  def existingProbe(index: DataFrame, batch: DataFrame): DataFrame =
    index.join(broadcast(batch.select("path", "filename")),
        Seq("path", "filename"), "left_semi")
      .orderBy(col("path"), col("filename"))

  /** Probe-set size below which [[existingProbeBloom]] dispatches to
    * the plain broadcast semi join. At ~100 B/key, 2²⁰ keys ≈ 100 MB
    * raw broadcast — the practical executor-memory comfort edge; below
    * it the bloom build (a second distributed pass over the probe
    * keys) costs more than it saves, above it the raw broadcast is the
    * thing that stops scaling and the fold+prefilter wins. */
  val BloomMinKeys: Long = 1L << 20

  /** B8, bloom-prefiltered form — the shape for probe sets too big to
    * broadcast raw (say 10^8 ingest paths against a 10^10-row index):
    * fold the probe keys DISTRIBUTED into a fixed-size bloom filter
    * (`df.stat.bloomFilter` is a treeAggregate — keys never collect to
    * the driver), ship the filter to every scan task, and drop
    * non-members before any join. The exact semi join then runs only
    * over the surviving fraction (true matches + fpp), restoring
    * exactness — bloom filters have no false negatives, so the result
    * is IDENTICAL to [[existingProbe]] and shares its oracle. Probe
    * sets under `bloomMinKeys` dispatch straight to [[existingProbe]]
    * (see the in-body note). */
  def existingProbeBloom(index: DataFrame, batch: DataFrame,
      fpp: Double = 0.01, bloomMinKeys: Long = BloomMinKeys): DataFrame = {
    import org.apache.spark.sql.GraftSqlBridge
    val proj = batch.select("path", "filename")
    // composite key with a separator no path can contain, so
    // ("a","b c") never collides with ("a b","c")
    def key(df: DataFrame): Column =
      concat_ws("\u0000", df("path"), df("filename"))
    // the sizing/dispatch count runs UNCACHED (one column-pruned scan
    // — a cache write here would cost more than the broadcast path it
    // precedes); the projection is cached only on the bloom path,
    // where it feeds two more passes (fold + broadcast build)
    val nKeys = proj.select(key(proj).as("k")).count()
    // SIZE DISPATCH (the cosinePairsLsh doctrine — pick the plan from
    // the measured operating point, keep the output contract fixed):
    // below the broadcast regime the bloom build is pure overhead. The
    // prefilter only repays its costs (a second distributed pass over
    // the probe keys for the treeAggregate fold, plus shipping the
    // filter bytes to every scan task) when the RAW probe set is too
    // big to broadcast — the 10⁸-key ingest-manifest regime it exists
    // for. Measured at sf1 the unconditional bloom path was 3.24 s /
    // 4.5× DuckDB while the plain broadcast semi join answers the
    // same probe in well under a second. Zero keys also lands here:
    // the answer is vacuously empty (and Spark's bloom aggregate
    // returns null bytes over zero rows). Results are IDENTICAL on
    // both paths (bloom has no false negatives + the exact verify
    // join), so the dispatch is invisible to consumers and the two
    // paths share one oracle.
    if (nKeys < bloomMinKeys) return existingProbe(index, proj)
    val b = graft.operators.OpCaches.track(proj)
    val bloom = b.select(key(b).as("k")).stat.bloomFilter("k", nKeys, fpp)
    val bytes = {
      val bos = new java.io.ByteArrayOutputStream()
      bloom.writeTo(bos)
      bos.toByteArray
    }
    val pre = index.filter(GraftSqlBridge.column(
      graft.functions.BloomContainsExpr(
        GraftSqlBridge.expression(key(index)), bytes)))
    pre.join(broadcast(b), Seq("path", "filename"), "left_semi")
      .orderBy(col("path"), col("filename"))
  }

  /** C1 — duplicate finder (indexer.py:751-794). The reference
    * self-joins `files` on checksum with rowid inequality; that is a
    * full O(n²-ish) shuffle at scale. One window count over a single
    * shuffle-by-checksum gives identical semantics ("row belongs to a
    * checksum group of size > 1"). */
  def duplicates(files: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("checksum"))
    files.filter(col("checksum").isNotNull)
      .withColumn("group_size", count(lit(1)).over(w))
      .filter(col("group_size") > 1)
      .orderBy(col("checksum"), col("path"), col("filename"))
  }

  /** C2/D11 — duplicate groups, API path (database.py:294-343):
    * aggregate → HAVING count >= minGroupSize → page → join back for
    * members. The paginated group side is bounded by `limit` (≤1000 in
    * the reference, models.py:83-85) → broadcast it; the fact side
    * never re-shuffles. wasted_space = file_size * (file_count - 1)
    * (database.py:363-371). */
  def duplicateGroups(files: DataFrame, minGroupSize: Int = 2,
      limit: Int = 100, offset: Int = 0): DataFrame = {
    val hashed = files.filter(col("checksum").isNotNull)
    val groups = hashed
      .groupBy(col("checksum"), col("file_size"))
      .agg(count(lit(1)).as("file_count"))
      .filter(col("file_count") >= minGroupSize)
      .orderBy(col("file_count").desc, col("file_size").desc, col("checksum"))
      .offset(offset).limit(limit)
    hashed.join(broadcast(groups), Seq("checksum", "file_size"))
      .withColumn("wasted_space", col("file_size") * (col("file_count") - 1))
      .orderBy(col("file_count").desc, col("file_size").desc,
        col("checksum"), col("path"), col("filename"))
  }

  /** D11 — the API's nested response shape (`DuplicateGroup` objects,
    * database.py:347-379): one row per group with its members as a
    * sorted array of structs. collect_list + sort_array keeps member
    * order deterministic regardless of partitioning. */
  def duplicateGroupsNested(files: DataFrame, minGroupSize: Int = 2,
      limit: Int = 100, offset: Int = 0): DataFrame =
    duplicateGroups(files, minGroupSize, limit, offset)
      .groupBy(col("checksum"), col("file_size"), col("file_count"), col("wasted_space"))
      .agg(sort_array(collect_list(struct(
        col("path"), col("filename"), col("modification_datetime")))).as("files"))
      .orderBy(col("file_count").desc, col("file_size").desc, col("checksum"))

  /** D11 + the duplicates response assembly (routers.py:132-141) in
    * ONE aggregate pass: the nested page rows carry `total_groups` via
    * a window over the one-row-per-GROUP summaries (never the file
    * rows), and the member join-back sees only the bounded page. An
    * empty page (offset past the end) yields no rows — the caller
    * falls back to a bare summaries count for total_groups then. */
  def duplicateGroupsNestedPage(files: DataFrame, minGroupSize: Int = 2,
      limit: Int = 100, offset: Int = 0): DataFrame = {
    val sums = duplicateGroupSummaries(files, minGroupSize)
      .withColumn("total_groups", count(lit(1)).over(Window.partitionBy()))
    val page = sums
      .orderBy(col("file_count").desc, col("file_size").desc, col("checksum"))
      .offset(offset).limit(limit)
    files.filter(col("checksum").isNotNull)
      .join(broadcast(page), Seq("checksum", "file_size"))
      .groupBy(col("checksum"), col("file_size"), col("file_count"),
        col("wasted_space"), col("total_groups"))
      .agg(sort_array(collect_list(struct(
        col("path"), col("filename"), col("modification_datetime")))).as("files"))
      .orderBy(col("file_count").desc, col("file_size").desc, col("checksum"))
  }

  /** C2 group-level rows only (the DuplicateGroup summaries,
    * database.py:347-379). */
  def duplicateGroupSummaries(files: DataFrame, minGroupSize: Int = 2): DataFrame =
    files.filter(col("checksum").isNotNull)
      .groupBy(col("checksum"), col("file_size"))
      .agg(count(lit(1)).as("file_count"))
      .filter(col("file_count") >= minGroupSize)
      .withColumn("wasted_space", col("file_size") * (col("file_count") - 1))
      .orderBy(col("file_count").desc, col("file_size").desc, col("checksum"))

  /** C2 keyset variant — duplicate-group pages resumed by CURSOR
    * instead of OFFSET. An offset page re-ranks O(offset + page)
    * groups per request (the reference caps at 1,000 groups,
    * models.py:83-85, so it never feels it; a production index will);
    * the cursor predicate prunes straight to the remaining tail of
    * the group total order (file_count DESC, file_size DESC,
    * checksum ASC — the same order every group view uses). The
    * predicate is deletion-safe: a group that vanished between pages
    * (its copies cleaned up) simply stops matching, the walk resumes
    * at the next surviving key and never skips or repeats one — the
    * reference's own cleanup-walk guarantee (indexer.py:1078-1101).
    * Summary rows only; [[duplicateGroupsNestedKeyset]] assembles the
    * member arrays onto a page. */
  def duplicateGroupSummariesKeyset(files: DataFrame, minGroupSize: Int = 2,
      after: Option[(Long, Long, String)] = None,
      pageSize: Int = 100): DataFrame = {
    val sums = duplicateGroupSummaries(files, minGroupSize)
    val paged = after.fold(sums) { case (cnt, sz, ck) =>
      sums.filter(col("file_count") < cnt ||
        (col("file_count") === cnt && (col("file_size") < sz ||
          (col("file_size") === sz && col("checksum") > ck))))
    }
    paged.orderBy(col("file_count").desc, col("file_size").desc, col("checksum"))
      .limit(pageSize)
  }

  /** The cursor resuming [[duplicateGroupSummariesKeyset]] after one
    * page: the page's LAST (file_count, file_size, checksum) in group
    * order; None on an empty page. Bounded driver-side read — the
    * page is ≤ pageSize group rows by construction. */
  def duplicateGroupsCursor(files: DataFrame, minGroupSize: Int = 2,
      after: Option[(Long, Long, String)] = None,
      pageSize: Int = 100): Option[(Long, Long, String)] =
    duplicateGroupSummariesKeyset(files, minGroupSize, after, pageSize)
      // last-in-page = first under the REVERSED group order
      .orderBy(col("file_count").asc, col("file_size").asc, col("checksum").desc)
      .limit(1).collect().headOption
      .map(r => (r.getAs[Long]("file_count"), r.getAs[Long]("file_size"),
        r.getAs[String]("checksum")))

  /** [[duplicateGroupsNested]]'s response shape over a keyset page:
    * members join back against ONLY the bounded page (broadcast), so a
    * deep walk's per-page cost is O(page + one summaries pass), never
    * O(offset). */
  def duplicateGroupsNestedKeyset(files: DataFrame, minGroupSize: Int = 2,
      after: Option[(Long, Long, String)] = None,
      pageSize: Int = 100): DataFrame = {
    val page = duplicateGroupSummariesKeyset(files, minGroupSize, after, pageSize)
    files.filter(col("checksum").isNotNull)
      .join(broadcast(page), Seq("checksum", "file_size"))
      .groupBy(col("checksum"), col("file_size"), col("file_count"),
        col("wasted_space"))
      .agg(sort_array(collect_list(struct(
        col("path"), col("filename"), col("modification_datetime")))).as("files"))
      .orderBy(col("file_count").desc, col("file_size").desc, col("checksum"))
  }

  /** C3 — pattern → checksum expansion (database.py:225-292):
    * "duplicates of files matching the pattern, database-wide".
    * Distinct matching checksums (small) → broadcast semi join. */
  def patternDuplicates(files: DataFrame,
      filenamePattern: Option[String], pathPattern: Option[String],
      minGroupSize: Int = 2): DataFrame = {
    val preds: Seq[Column] =
      filenamePattern.map(p => col("filename").like(p)).toSeq ++
      pathPattern.map(p => col("path").like(p)).toSeq
    val keys = preds.foldLeft(files.filter(col("checksum").isNotNull))(
      (df, p) => df.filter(p)).select("checksum").distinct()
    val expanded = files.join(broadcast(keys), Seq("checksum"), "left_semi")
    duplicateGroups(expanded, minGroupSize, limit = 1000, offset = 0)
  }

  /** C4 — cleanup semantics as a relational op (indexer.py:1028-1291):
    * rows of `index` whose (path, filename) no longer appear in
    * `live` are the deletions — a left anti join.
    *
    * SHUFFLE_HASH hint on the probe set: both sides are index-scale
    * (live ≈ the whole corpus), so the anti join must shuffle — but
    * Spark's default pick is sort-merge, which sorts BOTH sides on the
    * long (path, filename) string key just to stream them. An anti
    * join needs only membership, not order: the shuffled hash form
    * builds a per-partition table from `live` and probes it, deleting
    * both sorts (measured 1.16 s → 0.61 s at sf1 — DuckDB's own plan
    * is a hash anti join). Build-side safety at 100 TB: the build is
    * `live` hash-partitioned on a near-unique composite key (no skew
    * by construction), so per-partition build size is live/partitions
    * — the standard sizing story, same as every hash aggregate. */
  def cleanupCandidates(index: DataFrame, live: DataFrame): DataFrame =
    index.join(live.select("path", "filename").hint("shuffle_hash"),
        Seq("path", "filename"), "left_anti")
      .orderBy(col("path"), col("filename"))

  /** D1 — CLI stats (indexer.py:847-913). Single pass, single row.
    * CLI semantics: duplicate_files = with_checksum − unique_checksums
    * (extras only, indexer.py:884-887). */
  def statsCli(files: DataFrame): DataFrame =
    files.agg(
      count(lit(1)).as("total_files"),
      coalesce(sum(col("file_size")), lit(0L)).as("total_size"),
      count(col("checksum")).as("files_with_checksum"),
      (count(lit(1)) - count(col("checksum"))).as("files_without_checksum"),
      countDistinct(col("checksum")).as("unique_checksums"),
      (count(col("checksum")) - countDistinct(col("checksum"))).as("duplicate_files"))

  /** D2/D4 — API stats (database.py:395-457): one-pass global
    * aggregates + distinct directory count. avg as exact integer sum
    * / count (deterministic across engines); NULL on an empty index,
    * where ANSI `/` would throw. */
  def statsApi(files: DataFrame): DataFrame =
    files.agg(
      count(lit(1)).as("total_files"),
      coalesce(sum(col("file_size")), lit(0L)).as("total_size"),
      count(col("checksum")).as("files_with_checksum"),
      (count(lit(1)) - count(col("checksum"))).as("files_without_checksum"),
      try_divide(coalesce(sum(col("file_size")), lit(0L)).cast("double"), count(lit(1)))
        .as("avg_file_size"),
      max(col("file_size")).as("max_file_size"),
      min(col("file_size")).as("min_file_size"),
      max(col("modification_datetime")).as("newest_file"),
      min(col("modification_datetime")).as("oldest_file"),
      countDistinct(col("path")).as("total_directories"))

  /** D3 — duplicate-group stats, API semantics (database.py:419-431):
    * duplicate_files counts ALL members of >1 groups (vs CLI's
    * extras-only — both kept, see statsCli). */
  def duplicateStats(files: DataFrame): DataFrame =
    files.filter(col("checksum").isNotNull)
      .groupBy(col("checksum")).agg(count(lit(1)).as("file_count"))
      .filter(col("file_count") > 1)
      .agg(count(lit(1)).as("duplicate_groups"),
        coalesce(sum(col("file_count")), lit(0L)).as("duplicate_files"))

  /** D5 — size-collision detector, the two-phase prefilter
    * (indexer.py:1487-1510; semantics pinned by
    * tests/test_script_checksum_validation.py:80-115): sizes with >1
    * file AND ≥1 missing checksum; optionally skip empty files. This
    * is THE reference optimization to preserve: only these sizes ever
    * get hashed (~95% fewer hashes, README.md:209-213). */
  def sizeCollisions(files: DataFrame, skipEmpty: Boolean = true): DataFrame = {
    val base = if (skipEmpty) files.filter(col("file_size") > 0) else files
    base.groupBy(col("file_size"))
      .agg(count(lit(1)).as("file_count"),
        sum(when(col("checksum").isNull, 1L).otherwise(0L)).as("files_without_checksum"))
      .filter(col("file_count") > 1 && col("files_without_checksum") > 0)
      .orderBy(col("file_size"))
  }

  /** D6 — size histogram over derived buckets (database.py:465-491). */
  def sizeHistogram(files: DataFrame): DataFrame = {
    val bucket = when(col("file_size") === 0, "0 bytes")
      .when(col("file_size") < 1024L, "< 1KB")
      .when(col("file_size") < 1048576L, "1KB - 1MB")
      .when(col("file_size") < 1073741824L, "1MB - 1GB")
      .otherwise("> 1GB")
    val order = when(col("file_size") === 0, 0)
      .when(col("file_size") < 1024L, 1)
      .when(col("file_size") < 1048576L, 2)
      .when(col("file_size") < 1073741824L, 3)
      .otherwise(4)
    files.withColumn("size_range", bucket).withColumn("sort_order", order)
      .groupBy(col("size_range"), col("sort_order"))
      .agg(count(lit(1)).as("file_count"),
        coalesce(sum(col("file_size")), lit(0L)).as("total_size"))
      .orderBy(col("sort_order"))
  }

  /** Extension, Python-API semantics: LAST dot, lowercased, keeps the
    * leading dot; '(no extension)' for dotless names
    * (database.py:494-514). */
  def extLastDot: Column =
    when(col("filename").contains("."),
      lower(concat(lit("."), substring_index(col("filename"), ".", -1))))
      .otherwise(lit("(no extension)"))

  /** D7 — extension stats + top-k (database.py:494-514). The
    * reference orders by count DESC LIMIT 20 with no tie-break; we add
    * the extension itself for determinism. */
  def extensionStats(files: DataFrame, limit: Int = 20): DataFrame =
    files.withColumn("extension", extLastDot)
      .groupBy(col("extension"))
      .agg(count(lit(1)).as("file_count"),
        coalesce(sum(col("file_size")), lit(0L)).as("total_size"),
        (coalesce(sum(col("file_size")), lit(0L)).cast("double") / count(lit(1))).as("avg_size"))
      .orderBy(col("file_count").desc, col("extension"))
      .limit(limit)

  /** D9 — Go extension distribution: FIRST dot ('archive.tar.gz' →
    * '.tar.gz'), '' for dotless (database.go:235-263). */
  def extensionStatsFirstDot(files: DataFrame): DataFrame =
    files.withColumn("extension",
        when(col("filename").contains("."),
          expr("substring(filename, instr(filename, '.'))"))
          .otherwise(lit("")))
      .groupBy(col("extension"))
      .agg(count(lit(1)).as("file_count"))
      .orderBy(col("file_count").desc, col("extension"))

  /** D8 + B9 — monthly modification timeline, last 12 months before
    * `asOf` (database.py:517-526; the reference uses CURRENT_DATE — we
    * take an explicit anchor for determinism). Month emitted as a
    * 'yyyy-MM-dd' string — DATE round-trips as date vs midnight
    * timestamp across engines' parquet readers. */
  def timeline(files: DataFrame, asOf: String): DataFrame =
    files.filter(col("modification_datetime") >=
        add_months(to_timestamp(lit(asOf)), -12))
      .groupBy(date_format(date_trunc("month", col("modification_datetime")), "yyyy-MM-dd").as("month"))
      .agg(count(lit(1)).as("file_count"),
        coalesce(sum(col("file_size")), lit(0L)).as("total_size"))
      .orderBy(col("month"))

  /** A9/G6 — upsert = union + last-writer-wins dedup on the PK
    * (db/database.go:98-113 `ON CONFLICT DO UPDATE`; SURVEY §1.4).
    * Priority is an explicit integer (higher wins) instead of the
    * reference's wall-clock indexed_at, for determinism. */
  def upsert(current: DataFrame, incoming: DataFrame): DataFrame = {
    val tagged = current.withColumn("_src", lit(0))
      .unionByName(incoming.withColumn("_src", lit(1)))
    val w = Window.partitionBy(col("path"), col("filename"))
      .orderBy(col("_src").desc)
    tagged.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1).drop("_rn", "_src")
  }
}
