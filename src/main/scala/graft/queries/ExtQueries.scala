package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Multimodal
import graft.streaming.Events
import graft.tables.{FilesCte, Tables}

/** Event-analytics (`ev_*`), multimodal (`mm_*`), and SQL-passthrough
  * (`fi_sql`) query instances with DuckDB oracles.
  *
  * ev_*: exact cross-engine arithmetic via decimal sums (double sums
  * are partial-order-dependent) and microsecond-integer time math.
  *
  * mm_*: the Spark side runs REAL codecs end to end — PNG via
  * ImageIO, WAV via AudioSystem, AVI via the hand-rolled RIFF chunk
  * walker (Multimodal.VideoCodec) — over genuine binary containers.
  * The oracle re-derives every decoded field from the deterministic
  * generator formulas, so a row matches only if encode → decode is
  * bit-exact. mm_dedup alone stays on the opaque text-bytes payload
  * table (payload-hash dedup is modality-agnostic, and ASCII text
  * keeps DuckDB's VARCHAR md5 equal to the binary md5).
  */
object ExtQueries {
  private def events(s: SparkSession, d: String): DataFrame = Tables.events(s, d)
  private def media(s: SparkSession, d: String): DataFrame =
    Multimodal.mediaTable(Tables.documents(s, d))
  /** The decoded perceptual-hash table every mm_phash* row rides —
    * ONE image decode per corpus snapshot inside a report pass
    * (`OpCaches.pass`: the pair join, the cluster assignment, and the
    * keep list are all reports over the same hash core), a per-query
    * cache otherwise. */
  private def phashTable(s: SparkSession, d: String): DataFrame =
    graft.operators.OpCaches.shared("mm.phashTable")(
      Multimodal.imagePHash(s,
        Multimodal.imageTableWithVariants(s, Tables.documents(s, d))).toDF())
  /** The decoded-metadata core mm_metadata and mm_resize both ride —
    * ONE mixed-container encode+decode pass per corpus snapshot inside
    * a report pass (resize planning is a narrow map over the kilobyte
    * metadata, so re-running the codecs for it would be pure waste), a
    * per-query cache otherwise. */
  private def decodedMeta(s: SparkSession, d: String): DataFrame =
    graft.operators.OpCaches.shared("mm.decodedMeta")(
      Multimodal.decodeMetadata(s,
        Multimodal.codecTable(s, Tables.documents(s, d))).toDF())

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ev_tumbling_hourly" -> ((s, d) => Events.tumblingHourly(events(s, d))),
    "ev_sessions" -> ((s, d) => Events.sessionize(events(s, d), gapMinutes = 30)),
    "ev_rolling_hour" -> ((s, d) => Events.rollingHourByUser(events(s, d))),
    "ev_top_users" -> ((s, d) => Events.topUsers(events(s, d), k = 10)),
    "ev_funnel" -> ((s, d) => Events.funnel(events(s, d), withinMinutes = 10)),
    // AS-OF join: each purchase joined to the user's latest view at or
    // before it. Spark side is the union+running-window form (one
    // shuffle, no join node — Events.asofPrior); the oracle is
    // DuckDB's native ASOF LEFT JOIN, so two INDEPENDENT formulations
    // of the semantics must agree row-for-row.
    "ev_asof" -> ((s, d) => Events.asofPrior(events(s, d))),
    // Cumulative distinct users per day — first-seen-day rewrite (no
    // distinct-within-window; see Events.cumulativeUsersDaily).
    "ev_cumulative_users" -> ((s, d) => Events.cumulativeUsersDaily(events(s, d))),
    // Salted two-stage aggregation — result identical to the plain
    // groupBy the oracle runs; exercises the 100 TB hot-key path.
    "ev_salted_agg" -> ((s, d) => Events.typeTotalsSalted(events(s, d))),
    // Generalized 3-step funnel (view → click → purchase, each stage
    // within 30 min of the previous): one shuffle, N window passes.
    "ev_funnel_steps" -> ((s, d) =>
      Events.funnelSteps(events(s, d),
        Seq("view", "click", "purchase"), withinMinutes = 30)),
    // Cohort retention matrix: first-seen-day cohorts × activity-day
    // offsets, with day-0 sizes and exact-long-division rates.
    "ev_retention" -> ((s, d) => Events.retentionCohorts(events(s, d))),
    // Per-user inter-event-gap stats (exact-long µs gaps over the
    // (ts, event_id) total order): the cadence profile for bot triage
    // and sessionization-threshold tuning.
    "ev_inter_event" -> ((s, d) => Events.interEventGaps(events(s, d))),
    // Corpus-wide gap-distribution percentiles (exact integer-µs
    // interpolation, cross-engine bit-identical): the number that
    // sets the sessionization threshold.
    "ev_gap_percentiles" -> ((s, d) => Events.gapPercentiles(events(s, d))),
    // Session-shape distribution (duration/size percentiles over the
    // sessionized islands): the evidence behind the gap threshold and
    // streaming state-store sizing.
    "ev_session_percentiles" -> ((s, d) =>
      Events.sessionPercentiles(events(s, d), gapMinutes = 30)),
    // APPROX twins for the two exact event-scale percentile rows: the
    // one-pass mergeable sketch the 100 TB deployment runs, contracted
    // within 10% of the exact values (fi_size_percentiles_approx
    // pattern — oracle emits the exacts + literal TRUEs).
    "ev_gap_percentiles_approx" -> ((s, d) =>
      Events.gapPercentilesApprox(events(s, d))),
    "ev_session_percentiles_approx" -> ((s, d) =>
      Events.sessionPercentilesApprox(events(s, d), gapMinutes = 30)),
    // Events-per-user power-law buckets (exact integer log2 via the
    // binary-string length): bots vs long tail at one glance.
    "ev_activity_hist" -> ((s, d) => Events.activityHistogram(events(s, d))),
    // Day-of-week × hour-of-day load matrix (≤ 168 keys, one
    // map-combined aggregate).
    "ev_hourly_heatmap" -> ((s, d) => Events.hourlyHeatmap(events(s, d))),
    // The heatmap's production twin: HLL per-cell distinct users,
    // contract-checked within 15% of exact (no user-granular shuffle).
    "ev_hourly_heatmap_approx" -> ((s, d) =>
      Events.hourlyHeatmapApprox(events(s, d), rsd = 0.05, maxRelErr = 0.15)),
    // Daily volume anomalies: per-type z-scores against the trailing
    // 7-day window (sqrt is IEEE-exact, so z is oracle-safe).
    "ev_daily_anomaly" -> ((s, d) => Events.dailyAnomaly(events(s, d))),
    // HLL distinct-users-per-day CONTRACT: exact counts + a boolean
    // asserting the sketch estimate landed within 15% (oracle emits
    // exact + TRUE — the row matches iff the bound held).
    "ev_approx_users" -> ((s, d) =>
      Events.approxUsersDaily(events(s, d), rsd = 0.05, maxRelErr = 0.15)),
    // Markov next-event transition matrix: per-user adjacency pairs →
    // (type, next_type) counts with conditional probabilities.
    "ev_transitions" -> ((s, d) => Events.transitionMatrix(events(s, d))),
    // Trailing-7-day distinct users from MERGED daily HLL sketches
    // (exact + within-bound verdict; oracle emits exact + TRUE).
    "ev_users_7d_sketch" -> ((s, d) =>
      Events.slidingUsersSketch(events(s, d), windowDays = 7, maxRelErr = 0.15)),
    // Moving ROWS frame: trailing-5-event sum/count per user (decimal-
    // exact; a moving AVG would divide differently across engines).
    "ev_moving_window" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(-4, Window.currentRow)
      events(s, d).select(col("event_id"), col("user_id"),
          count(lit(1)).over(w).as("n_in_window"),
          sum(col("value").cast("decimal(18,6)")).over(w)
            .cast("double").as("sum_in_window"))
        .orderBy("event_id")
    }),
    // Exact media dedup by payload hash, per modality — dedup BEFORE
    // decode, the standard multimodal pipeline ordering.
    "mm_dedup" -> ((s, d) => Multimodal.dedupPayloads(media(s, d))),
    // REAL mixed-media decode: one opaque binary column over genuine
    // PNG/WAV/AVI containers, modality discovered by sniffing the
    // BYTES, dims/frames/rates read from IHDR / fmt / avih. The sort
    // runs on the decoded METADATA (post-codec, kilobytes) — the
    // payload bytes themselves never cross an exchange.
    "mm_metadata" -> ((s, d) => decodedMeta(s, d).orderBy("doc_id")),
    // REAL video frame sampling: walk each AVI's movi chunk list,
    // slice every 4th 00db frame, emit exact integer byte features —
    // the oracle re-derives them from the frame-byte formula.
    "mm_frames" -> ((s, d) =>
      Multimodal.sampleFrames(s,
          Multimodal.videoTable(s, Tables.documents(s, d)), step = 4)
        .toDF().orderBy("doc_id", "frame_idx")),
    // resize planning over the REAL decoded dims (visual rows only;
    // maxSide = 24 so both branches — downscale and passthrough —
    // actually occur on the 8..64-pixel corpus)
    "mm_resize" -> ((s, d) => {
      import s.implicits._
      Multimodal.resizeMeta(
          decodedMeta(s, d).filter(col("width") > 0).as[graft.operators.MediaMeta],
          maxSide = 24)
        .orderBy("doc_id")
    }),
    // REAL in-JDK codec round-trip: payloads are actual PNGs, dims come
    // from javax.imageio reading the bytes — the oracle can only match
    // if encode(dimsFor(len)) → decode reproduces the formula dims.
    // ordering comes from imageTable's pre-codec sort (map stages
    // preserve it) — re-sorting here would re-run both codecs in the
    // range sampler's pass
    "mm_image_decode" -> ((s, d) =>
      Multimodal.decodeImages(s,
          Multimodal.imageTable(s, Tables.documents(s, d)))
        .toDF()),
    // Perceptual average-hash over REAL decoded pixels (base images +
    // perturbed near-dup variants): the oracle re-derives every hash
    // from the pixel-generation formula, so a row matches only if the
    // PNG encode → decode → 8×8 downsample → threshold pipeline is
    // bit-exact end to end. Ordering from the pre-codec sort.
    "mm_phash" -> ((s, d) => phashTable(s, d)),
    // Near-dup image pairs at hamming ≤ 8, pigeonhole-blocked; the
    // oracle runs the same threshold over its formula-derived hashes
    // as an all-pairs join — recall of the 9-chunk blocking is exact,
    // so the two pair sets must be identical.
    "mm_phash_pairs" -> ((s, d) =>
      Multimodal.phashPairs(phashTable(s, d))),
    // Production twin for the pair list above: the sf10 decade probe
    // measured mm_phash_pairs OUTPUT-bound (113M rows — pair output
    // is quadratic in clique size), so the deliverable a dedup
    // pipeline actually consumes is the per-image CLUSTER assignment
    // (connected components over the hamming≤8 graph, LINEAR output)
    // and the keep list derived from it. CC feeds on the clique-LINEAR
    // spanning edge set (identical-hash quotient — see
    // phashSpanningEdges), not the full O(c²) pair contract; the
    // components (and so this row's output) are provably identical.
    // Reuses Dedup.clusters' size-adaptive CC; the oracle is an
    // independent DuckDB recursive min-label closure over its
    // formula-derived hashes.
    "mm_phash_clusters" -> ((s, d) =>
      graft.operators.Dedup.clusters(
        Multimodal.phashSpanningEdges(phashTable(s, d)))),
    // Keep list: every image except non-representative clique members
    // (the representative is the min-id member = the cluster label).
    // The hash table feeds both the pair join and the keep base, so it
    // is tracked once; the anti-join's right side is the (tiny,
    // linear) cluster table, broadcastable at any corpus size.
    "mm_phash_keep" -> ((s, d) => {
      val hashes = phashTable(s, d)
      val cl = graft.operators.Dedup.clusters(
        Multimodal.phashSpanningEdges(hashes))
      hashes.select(col("doc_id"))
        .join(cl.filter(col("doc_id") =!= col("cluster")).select("doc_id"),
          Seq("doc_id"), "left_anti")
        .orderBy("doc_id")
    }),
    // REAL in-JDK AUDIO codec round-trip: payloads are actual RIFF/WAV
    // files, format comes from javax.sound.sampled reading the bytes,
    // features are exact integers over the DECODED samples — the
    // oracle re-derives them from the wave formula, so a row matches
    // only if encode → AudioSystem decode is bit-exact end to end.
    "mm_audio_meta" -> ((s, d) =>
      Multimodal.audioMeta(s,
        Multimodal.audioTable(s, Tables.documents(s, d)))),
    // DECODE-level audio dedup over container variants: the extra
    // LIST/INFO chunk changes the payload bytes (md5 dedup misses it)
    // but not the decoded PCM — the integer-signature groups must
    // collapse base+variant, and the oracle re-derives every
    // signature from the wave formula.
    "mm_audio_dedup" -> ((s, d) =>
      Multimodal.audioDedup(s,
        Multimodal.audioTableWithContainerVariants(s, Tables.documents(s, d)))),
    // Decode-level VIDEO dedup over mixed raw/MJPEG containers with
    // re-mux variants (JUNK chunk, dropped idx1, COM-respliced JPEG
    // frames): byte-different containers — for MJPEG even
    // byte-different frame CHUNKS — with identical decoded pixels
    // must collapse. The oracle re-derives the collapse rule (same
    // frame pattern ⟺ same doc_id mod 256 + same dims/frame count,
    // codec-uniform within a congruence class) from the generator
    // arithmetic: JPEG pixel sums aren't SQL-re-derivable, so the
    // oracle pins the dedup DECISIONS and the decoded dims.
    "mm_video_dedup" -> ((s, d) =>
      Multimodal.videoDedup(s,
        Multimodal.videoTableWithContainerVariants(s, Tables.documents(s, d)))),
    // The persisted-signature variants: the first call populates the
    // md5-keyed decode store (eager inside construction), the RETURNED
    // frame is the WARM pass — every signature served from the
    // snapshot, zero decodes — so the oracle gates the cache-hit path
    // end to end against the same decode-level decisions.
    "mm_audio_dedup_cached" -> ((s, d) => {
      val root = s"${System.getProperty("java.io.tmpdir")}/graft_mm_sig_a_${System.nanoTime()}"
      val table = graft.operators.OpCaches.trackCheckpoint(
        Multimodal.audioTableWithContainerVariants(s, Tables.documents(s, d))
          .localCheckpoint())
      // cold call: the store publish is EAGER inside construction, so
      // constructing the frame populates the store — forcing its
      // (discarded) assembly output too was one redundant full
      // store-join+group pass per run
      Multimodal.audioDedupCached(s, table, root)
      Multimodal.audioDedupCached(s, table, root) // warm: served from store
    }),
    "mm_video_dedup_cached" -> ((s, d) => {
      val root = s"${System.getProperty("java.io.tmpdir")}/graft_mm_sig_v_${System.nanoTime()}"
      val table = graft.operators.OpCaches.trackCheckpoint(
        Multimodal.videoTableWithContainerVariants(s, Tables.documents(s, d))
          .localCheckpoint())
      Multimodal.videoDedupCached(s, table, root) // cold: populates at construction
      Multimodal.videoDedupCached(s, table, root) // warm: served from store
    }),
    // Percent-of-total via an unbounded window: event-type share of
    // all events (double division of exact integer counts — bit-
    // identical across engines, unlike decimal/decimal division).
    "ev_type_share" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      events(s, d).groupBy("event_type").agg(count(lit(1)).as("n"))
        .withColumn("share",
          col("n").cast("double") / sum(col("n")).over(Window.partitionBy()).cast("double"))
        .orderBy("event_type")
    }),
    // Top-N per group: the 3 largest files per directory by
    // row_number (full tie-break: size desc, filename).
    "fi_top_per_dir" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("path")
        .orderBy(col("file_size").desc, col("filename"))
      Tables.files(s, d)
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 3)
        .select("path", "filename", "file_size", "rnk")
        .orderBy("path", "rnk")
    }),
    // H5 — the reference's complete string-function surface in one
    // oracle-checked projection (LIKE/ILIKE/LOWER/SUBSTR/LENGTH/
    // REVERSE/STRPOS-INSTR, database.py:499 / database.go:238).
    "fi_string_funcs" -> ((s, d) => {
      val f = graft.operators.Dedup.orderedSpread(
        Tables.files(s, d).select("path", "filename"), "path", "filename")
      f.select(col("path"), col("filename"),
          col("filename").like("%.txt").as("is_txt"),
          col("filename").ilike("%ORDER%").as("has_order_ci"),
          lower(col("filename")).as("lower_name"),
          substring(col("filename"), 1, 8).as("prefix8"),
          length(col("filename")).as("name_len"),
          reverse(col("filename")).as("reversed"),
          locate(".", col("filename")).cast("long").as("first_dot_pos"))
    }),
    // H7 — raw SQL passthrough (Go -sql, file_indexer_go/db/database.go:269-317):
    // the engine exposes full SQL over registered views.
    "fi_sql" -> ((s, d) => {
      Tables.registerAll(s, d)
      s.sql("""SELECT path, COUNT(*) AS n, CAST(SUM(file_size) AS BIGINT) AS bytes
              |FROM files WHERE checksum IS NOT NULL
              |GROUP BY path HAVING COUNT(*) > 5
              |ORDER BY n DESC, path""".stripMargin)
    })
  )

  private val mediaTypeSql =
    "CASE WHEN doc_id % 3 = 0 THEN 'image' WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END"

  /** Shared CTE chain deriving every image's aHash halves from the
    * pixel-generation formula — the independent twin of the real
    * PNG encode → ImageIO decode → Multimodal.ImageCodec.ahash path.
    * Ends with a relation `h(out_id, ahash_hi, ahash_lo)`. */
  private val phashCte: String =
    """WITH RECURSIVE imgs AS (
      |  SELECT doc_id AS out_id, doc_id AS base_id, 0 AS pert, length(text) AS n
      |  FROM documents WHERE doc_id % 3 = 0
      |  UNION ALL
      |  SELECT (doc_id | 1099511627776), doc_id, 1, length(text)
      |  FROM documents WHERE doc_id % 30 = 0),
      |dims AS (SELECT out_id, base_id, pert,
      |    8 + n % 57 AS w, 8 + (n * 7) % 41 AS h FROM imgs),
      |cells AS (SELECT out_id, base_id, pert, w, h,
      |    unnest(generate_series(0, 63)) AS c FROM dims),
      |px AS (SELECT out_id, base_id, pert, c,
      |    ((c % 8) * w) // 8 AS x, ((c // 8) * h) // 8 AS y FROM cells),
      |v AS (SELECT out_id, c,
      |    (base_id * 31 + x * 7 + y * 13
      |     + CASE WHEN pert = 1 AND (x + y) % 19 = 0 THEN 8388608 ELSE 0 END)
      |      % 16777215 AS val
      |  FROM px),
      |gray AS (SELECT out_id, c,
      |    ((val // 65536) * 299 + ((val // 256) % 256) * 587 + (val % 256) * 114)
      |      // 1000 AS gy
      |  FROM v),
      |m AS (SELECT out_id, SUM(gy) // 64 AS mean FROM gray GROUP BY out_id),
      |h AS (SELECT g.out_id,
      |    CAST(SUM(CASE WHEN gy > mean AND c >= 32
      |      THEN (CAST(1 AS BIGINT) << (c - 32)) ELSE 0 END) AS BIGINT) AS ahash_hi,
      |    CAST(SUM(CASE WHEN gy > mean AND c < 32
      |      THEN (CAST(1 AS BIGINT) << c) ELSE 0 END) AS BIGINT) AS ahash_lo
      |  FROM gray g JOIN m USING (out_id) GROUP BY g.out_id)""".stripMargin

  /** phash pairs + connected components shared by mm_phash_clusters /
    * mm_phash_keep: ROUND-BASED recursive min-label propagation over
    * the hamming≤8 graph — the independent DuckDB twin of
    * Dedup.clusters composed over Multimodal.phashPairs. Each
    * iteration emits at most one (vertex, min label heard this round)
    * row (GROUP BY in the recursive term; UNION dedup empties the
    * frontier at the fixpoint), so total work is O(V · diameter).
    * The textbook reachability-pair closure `r(v, u)` this replaced
    * accumulates all (v, reachable u) pairs — O(Σ component²), which
    * on sf1's single 18,280-image component (the generator's variant
    * cliques chain) never finished: >2 h CPU before being killed,
    * while this form labels the same graph in seconds. Ends with
    * `cl(doc_id, cluster)`; one copy feeds both rows so they can
    * never drift. */
  private val phashClustersCte: String =
    s"""$phashCte,
       |pp AS (SELECT a.out_id AS doc_a, b.out_id AS doc_b
       |  FROM h a JOIN h b ON a.out_id < b.out_id
       |  WHERE bit_count(xor(a.ahash_hi, b.ahash_hi))
       |      + bit_count(xor(a.ahash_lo, b.ahash_lo)) <= 8),
       |e AS (SELECT doc_a AS v, doc_b AS u FROM pp
       |      UNION ALL SELECT doc_b AS v, doc_a AS u FROM pp),
       |lab(v, l) AS (SELECT v, v AS l FROM (SELECT DISTINCT v FROM e) t
       |  UNION
       |  SELECT e.v, min(lab.l) FROM lab JOIN e ON e.u = lab.v GROUP BY e.v),
       |cl AS (SELECT v AS doc_id, min(l) AS cluster FROM lab GROUP BY v)""".stripMargin

  val oracle: Map[String, String] = Map(
    "ev_tumbling_hourly" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
        |  event_type, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin,
    "ev_sessions" ->
      """WITH m AS (
        |  SELECT *, CASE WHEN lag(ts) OVER w IS NULL THEN 1
        |    WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > 30 * 60 * 1000000 THEN 1
        |    ELSE 0 END AS is_new
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (
        |  SELECT *, CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
        |  FROM m)
        |SELECT user_id, session_seq, COUNT(*) AS n_events,
        |  strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
        |  strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS session_end,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
        |FROM s GROUP BY user_id, session_seq
        |ORDER BY user_id, session_seq""".stripMargin,
    "ev_asof" ->
      """WITH p AS (SELECT * FROM events WHERE event_type = 'purchase'),
        |     v AS (SELECT * FROM events WHERE event_type = 'view')
        |SELECT p.event_id, p.user_id,
        |  strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS ts,
        |  strftime(v.ts, '%Y-%m-%d %H:%M:%S') AS prior_view_ts,
        |  epoch_us(p.ts) - epoch_us(v.ts) AS gap_us
        |FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND v.ts <= p.ts
        |ORDER BY p.event_id""".stripMargin,
    "ev_rolling_hour" ->
      """SELECT event_id, user_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts,
        |  COUNT(*) OVER w AS events_last_hour,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE) AS value_last_hour
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
        |  RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,
    "ev_top_users" ->
      """SELECT user_id, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
        |FROM events GROUP BY user_id
        |ORDER BY total_value DESC, user_id LIMIT 10""".stripMargin,
    "ev_type_share" ->
      """WITH g AS (SELECT event_type, COUNT(*) AS n FROM events GROUP BY event_type)
        |SELECT event_type, n,
        |  CAST(n AS DOUBLE) / CAST(SUM(n) OVER () AS DOUBLE) AS share
        |FROM g ORDER BY event_type""".stripMargin,
    // the oracle states the SEMANTICS (distinct-over-expanding-window);
    // the Spark side runs the first-seen-day rewrite — two independent
    // formulations that must agree row-for-row
    "ev_cumulative_users" ->
      """WITH fs AS (
        |  SELECT user_id, MIN(date_trunc('day', ts)) AS day
        |  FROM events GROUP BY user_id),
        |pd AS (SELECT day, COUNT(*) AS new_users FROM fs GROUP BY day),
        |days AS (SELECT DISTINCT date_trunc('day', ts) AS day FROM events)
        |SELECT strftime(days.day, '%Y-%m-%d') AS day,
        |  COALESCE(pd.new_users, 0) AS new_users,
        |  CAST(SUM(COALESCE(pd.new_users, 0)) OVER (ORDER BY days.day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS cumulative_users
        |FROM days LEFT JOIN pd USING (day) ORDER BY day""".stripMargin,
    // same chained min(CASE) windows; each stage's time is a per-user
    // constant, so the chain resolves in one partitioned window spec
    "ev_funnel_steps" ->
      """WITH b AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS us FROM events
        |  WHERE event_type IN ('view', 'click', 'purchase')),
        |s0 AS (SELECT *, min(CASE WHEN event_type = 'view' THEN us END)
        |  OVER (PARTITION BY user_id) AS t0 FROM b),
        |s1 AS (SELECT *, min(CASE WHEN event_type = 'click' AND us >= t0
        |    AND us - t0 <= 1800000000 THEN us END)
        |  OVER (PARTITION BY user_id) AS t1 FROM s0),
        |s2 AS (SELECT *, min(CASE WHEN event_type = 'purchase' AND us >= t1
        |    AND us - t1 <= 1800000000 THEN us END)
        |  OVER (PARTITION BY user_id) AS t2 FROM s1),
        |g AS (SELECT user_id, max(t0) AS t0, max(t1) AS t1, max(t2) AS t2
        |  FROM s2 GROUP BY user_id)
        |SELECT user_id,
        |  strftime(make_timestamp(t0), '%Y-%m-%d %H:%M:%S') AS ts_view,
        |  strftime(make_timestamp(t1), '%Y-%m-%d %H:%M:%S') AS ts_click,
        |  strftime(make_timestamp(t2), '%Y-%m-%d %H:%M:%S') AS ts_purchase,
        |  (CASE WHEN t0 IS NOT NULL THEN 1 ELSE 0 END
        |   + CASE WHEN t1 IS NOT NULL THEN 1 ELSE 0 END
        |   + CASE WHEN t2 IS NOT NULL THEN 1 ELSE 0 END) AS stage
        |FROM g WHERE t0 IS NOT NULL ORDER BY user_id""".stripMargin,
    // identical exact-integer window sums -> fixed double expressions;
    // ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING mirrors rowsBetween(-7,-1)
    "ev_daily_anomaly" ->
      """WITH bounds AS (
        |  SELECT min(date_trunc('day', ts)) AS d0, max(date_trunc('day', ts)) AS d1
        |  FROM events),
        |days AS (SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS day
        |  FROM bounds),
        |types AS (SELECT DISTINCT event_type FROM events),
        |obs AS (
        |  SELECT date_trunc('day', ts) AS day, event_type, COUNT(*) AS n
        |  FROM events GROUP BY 1, 2),
        |daily AS (
        |  SELECT days.day, types.event_type, CAST(coalesce(obs.n, 0) AS BIGINT) AS n
        |  FROM days CROSS JOIN types
        |  LEFT JOIN obs ON obs.day = days.day AND obs.event_type = types.event_type),
        |w AS (
        |  SELECT *,
        |    COUNT(n) OVER tw AS cnt,
        |    CAST(SUM(n) OVER tw AS BIGINT) AS s1,
        |    CAST(SUM(n * n) OVER tw AS BIGINT) AS s2
        |  FROM daily
        |  WINDOW tw AS (PARTITION BY event_type ORDER BY day
        |    ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)),
        |z AS (
        |  SELECT day, event_type, n, cnt,
        |    CAST(s1 AS DOUBLE) / CAST(cnt AS DOUBLE) AS mean,
        |    sqrt(greatest(CAST(s2 AS DOUBLE) / CAST(cnt AS DOUBLE)
        |      - (CAST(s1 AS DOUBLE) / CAST(cnt AS DOUBLE))
        |        * (CAST(s1 AS DOUBLE) / CAST(cnt AS DOUBLE)), 0.0)) AS std
        |  FROM w)
        |SELECT strftime(day, '%Y-%m-%d') AS day, event_type, n,
        |  CASE WHEN cnt >= 3 THEN mean END AS trailing_mean,
        |  CASE WHEN cnt >= 3 AND std > 0.0
        |       THEN (CAST(n AS DOUBLE) - mean) / std END AS z,
        |  coalesce(abs(CASE WHEN cnt >= 3 AND std > 0.0
        |       THEN (CAST(n AS DOUBLE) - mean) / std END) >= 2.0, FALSE)
        |    AS anomalous
        |FROM z ORDER BY event_type, day""".stripMargin,
    "ev_inter_event" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
        |g AS (SELECT user_id,
        |  us - lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id)
        |    AS gap_us
        |  FROM e)
        |SELECT user_id, COUNT(*) AS n_events, COUNT(gap_us) AS n_gaps,
        |  MIN(gap_us) AS min_gap_us, MAX(gap_us) AS max_gap_us,
        |  CAST(SUM(gap_us) AS DOUBLE) / CAST(COUNT(gap_us) AS DOUBLE)
        |    / 1000000.0 AS mean_gap_s
        |FROM g GROUP BY user_id ORDER BY user_id""".stripMargin,
    "ev_hourly_heatmap" ->
      """SELECT CAST(dayofweek(ts) + 1 AS INT) AS dow,
        |  CAST(hour(ts) AS INT) AS hod,
        |  COUNT(*) AS n_events,
        |  COUNT(DISTINCT user_id) AS n_users,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY dow, hod""".stripMargin,
    // contract row: oracle emits the exact count + literal TRUE — the
    // hash matches iff the HLL estimate held its 15% bound per cell
    "ev_hourly_heatmap_approx" ->
      """SELECT CAST(dayofweek(ts) + 1 AS INT) AS dow,
        |  CAST(hour(ts) AS INT) AS hod,
        |  COUNT(*) AS n_events,
        |  COUNT(DISTINCT user_id) AS n_users,
        |  TRUE AS within_bound,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY dow, hod""".stripMargin,
    "ev_activity_hist" ->
      """WITH per AS (
        |  SELECT user_id, COUNT(*) AS n_events FROM events GROUP BY user_id)
        |SELECT CAST(length(bin(n_events)) AS INT) AS bucket,
        |  COUNT(*) AS n_users, MIN(n_events) AS min_events,
        |  MAX(n_events) AS max_events,
        |  CAST(SUM(n_events) AS BIGINT) AS total_events
        |FROM per GROUP BY 1 ORDER BY bucket""".stripMargin,
    "ev_session_percentiles" ->
      """WITH m AS (
        |  SELECT *, CASE WHEN lag(ts) OVER w IS NULL THEN 1
        |    WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > 30 * 60 * 1000000 THEN 1
        |    ELSE 0 END AS is_new
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (
        |  SELECT *, CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
        |  FROM m),
        |sess AS (
        |  SELECT user_id, session_seq, COUNT(*) AS n_events,
        |    MAX(epoch_us(ts)) - MIN(epoch_us(ts)) AS dur_us
        |  FROM s GROUP BY user_id, session_seq)
        |SELECT COUNT(*) AS n_sessions,
        |  quantile_cont(dur_us, 0.5) AS dur_p50,
        |  quantile_cont(dur_us, 0.9) AS dur_p90,
        |  MAX(dur_us) AS dur_max,
        |  quantile_cont(n_events, 0.5) AS events_p50,
        |  quantile_cont(n_events, 0.9) AS events_p90
        |FROM sess""".stripMargin,
    "ev_gap_percentiles_approx" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
        |g AS (SELECT us - lag(us)
        |    OVER (PARTITION BY user_id ORDER BY us, event_id) AS gap_us
        |  FROM e)
        |SELECT COUNT(*) AS n_gaps,
        |  quantile_cont(gap_us, 0.5) AS exact_p50,
        |  quantile_cont(gap_us, 0.9) AS exact_p90,
        |  quantile_cont(gap_us, 0.99) AS exact_p99,
        |  TRUE AS p50_in_bounds, TRUE AS p90_in_bounds, TRUE AS p99_in_bounds
        |FROM g WHERE gap_us IS NOT NULL""".stripMargin,
    "ev_session_percentiles_approx" ->
      """WITH m AS (
        |  SELECT *, CASE WHEN lag(ts) OVER w IS NULL THEN 1
        |    WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > 30 * 60 * 1000000 THEN 1
        |    ELSE 0 END AS is_new
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (
        |  SELECT *, CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
        |  FROM m),
        |sess AS (
        |  SELECT user_id, session_seq,
        |    MAX(epoch_us(ts)) - MIN(epoch_us(ts)) AS dur_us
        |  FROM s GROUP BY user_id, session_seq)
        |SELECT COUNT(*) AS n_sessions,
        |  quantile_cont(dur_us, 0.5) AS exact_p50,
        |  quantile_cont(dur_us, 0.9) AS exact_p90,
        |  TRUE AS p50_in_bounds, TRUE AS p90_in_bounds
        |FROM sess""".stripMargin,
    "ev_gap_percentiles" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
        |g AS (SELECT us - lag(us)
        |    OVER (PARTITION BY user_id ORDER BY us, event_id) AS gap_us
        |  FROM e)
        |SELECT COUNT(*) AS n_gaps,
        |  quantile_cont(gap_us, 0.25) AS p25,
        |  quantile_cont(gap_us, 0.5) AS p50,
        |  quantile_cont(gap_us, 0.75) AS p75,
        |  quantile_cont(gap_us, 0.9) AS p90,
        |  quantile_cont(gap_us, 0.99) AS p99
        |FROM g WHERE gap_us IS NOT NULL""".stripMargin,
    "ev_retention" ->
      """WITH ud AS (
        |  SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events),
        |c AS (SELECT user_id, MIN(day) AS cohort_day FROM ud GROUP BY user_id),
        |m AS (
        |  SELECT c.cohort_day, date_diff('day', c.cohort_day, ud.day) AS day_offset,
        |    COUNT(*) AS n_users
        |  FROM ud JOIN c USING (user_id) GROUP BY 1, 2),
        |z AS (
        |  SELECT *, MAX(CASE WHEN day_offset = 0 THEN n_users END)
        |    OVER (PARTITION BY cohort_day) AS cohort_size
        |  FROM m)
        |SELECT strftime(cohort_day, '%Y-%m-%d') AS cohort_day,
        |  CAST(day_offset AS INT) AS day_offset, n_users, cohort_size,
        |  CAST(n_users AS DOUBLE) / CAST(cohort_size AS DOUBLE) AS retained_frac
        |FROM z ORDER BY cohort_day, day_offset""".stripMargin,
    // the oracle asserts the CONTRACT (exact count, bound held): the
    // Spark row carries the sketch verdict, the oracle literal TRUE
    "ev_approx_users" ->
      """SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
        |  COUNT(DISTINCT user_id) AS exact_users,
        |  TRUE AS within_bound
        |FROM events GROUP BY 1 ORDER BY day""".stripMargin,
    // plain GROUP BY — the salted two-stage plan must be value-identical
    "ev_salted_agg" ->
      """SELECT event_type, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "fi_top_per_dir" -> FilesCte.wrap(
      """SELECT path, filename, file_size, rnk FROM (
        |  SELECT path, filename, file_size,
        |    CAST(row_number() OVER (PARTITION BY path
        |      ORDER BY file_size DESC, filename) AS INT) AS rnk
        |  FROM files)
        |WHERE rnk <= 3 ORDER BY path, rnk""".stripMargin),
    "ev_users_7d_sketch" ->
      """WITH ud AS (SELECT DISTINCT date_trunc('day', ts) AS day, user_id FROM events),
        |spine AS (SELECT DISTINCT day FROM ud)
        |SELECT strftime(spine.day, '%Y-%m-%d') AS day,
        |  COUNT(DISTINCT ud.user_id) AS exact_users, TRUE AS within_bound
        |FROM spine JOIN ud ON ud.day <= spine.day
        |  AND ud.day >= spine.day - INTERVAL 6 DAY
        |GROUP BY spine.day ORDER BY day""".stripMargin,
    "ev_transitions" ->
      """WITH m AS (
        |  SELECT event_type, lead(event_type) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id) AS next_type
        |  FROM events),
        |c AS (SELECT event_type, next_type, COUNT(*) AS n FROM m
        |  WHERE next_type IS NOT NULL GROUP BY 1, 2)
        |SELECT event_type, next_type, n,
        |  CAST(n AS DOUBLE) / CAST(SUM(n) OVER (PARTITION BY event_type) AS DOUBLE) AS p
        |FROM c ORDER BY event_type, next_type""".stripMargin,
    "ev_moving_window" ->
      """SELECT event_id, user_id,
        |  COUNT(*) OVER w AS n_in_window,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE) AS sum_in_window
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |  ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,
    "fi_string_funcs" -> FilesCte.wrap(
      """SELECT path, filename,
        |  filename LIKE '%.txt' AS is_txt,
        |  filename ILIKE '%ORDER%' AS has_order_ci,
        |  lower(filename) AS lower_name,
        |  substr(filename, 1, 8) AS prefix8,
        |  CAST(length(filename) AS INT) AS name_len,
        |  reverse(filename) AS reversed,
        |  CAST(strpos(filename, '.') AS BIGINT) AS first_dot_pos
        |FROM files ORDER BY path, filename""".stripMargin),
    "ev_funnel" ->
      """WITH m AS (
        |  SELECT user_id, event_type, event_id,
        |    lead(event_type) OVER w AS next_type,
        |    lead(epoch_us(ts)) OVER w - epoch_us(ts) AS gap_us
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT user_id, COUNT(*) AS n_views,
        |  CAST(SUM(CASE WHEN next_type = 'click' AND gap_us <= 10 * 60 * 1000000
        |        THEN 1 ELSE 0 END) AS BIGINT) AS n_converted
        |FROM m WHERE event_type = 'view'
        |GROUP BY user_id HAVING SUM(CASE WHEN next_type = 'click'
        |  AND gap_us <= 10 * 60 * 1000000 THEN 1 ELSE 0 END) > 0
        |ORDER BY user_id""".stripMargin,
    // payload bytes are the UTF-8 text (ASCII) -> DuckDB's VARCHAR md5
    // equals the Spark binary md5
    "mm_dedup" ->
      s"""SELECT md5(text) AS fp, $mediaTypeSql AS media_type,
         |  MIN(doc_id) AS keep_doc_id, CAST(count(*) AS BIGINT) AS n_copies
         |FROM documents GROUP BY 1, 2 ORDER BY fp, media_type""".stripMargin,
    // three formula legs, one per container — each field re-derived
    // independently of the Scala codecs, so a match proves the
    // encode → sniff → decode path recovered the true container fields
    "mm_metadata" ->
      """SELECT doc_id, 'image' AS media_type, 'png' AS container,
        |  CAST(8 + length(text) % 57 AS INT) AS width,
        |  CAST(8 + (length(text) * 7) % 41 AS INT) AS height,
        |  CAST(1 AS BIGINT) AS n_frames,
        |  CAST(0 AS BIGINT) AS sample_rate, TRUE AS valid
        |FROM documents WHERE doc_id % 3 = 0
        |UNION ALL
        |SELECT doc_id, 'audio', 'wav', 0, 0,
        |  CAST(256 + length(text) % 200 AS BIGINT),
        |  CAST(8000 + (doc_id % 5) * 2000 AS BIGINT), TRUE
        |FROM documents WHERE doc_id % 3 = 1
        |UNION ALL
        |SELECT doc_id, 'video', 'avi',
        |  CAST(8 + length(text) % 25 AS INT),
        |  CAST(6 + (length(text) * 7) % 19 AS INT),
        |  CAST(4 + length(text) % 13 AS BIGINT),
        |  CAST(CASE CAST(doc_id % 5 AS INT) WHEN 0 THEN 25 WHEN 1 THEN 20
        |    WHEN 2 THEN 10 WHEN 3 THEN 50 ELSE 40 END AS BIGINT), TRUE
        |FROM documents WHERE doc_id % 3 = 2
        |ORDER BY doc_id""".stripMargin,
    "mm_image_decode" ->
      """SELECT doc_id, 'png' AS format,
        |  CAST(8 + length(text) % 57 AS INT) AS width,
        |  CAST(8 + (length(text) * 7) % 41 AS INT) AS height,
        |  CAST((8 + length(text) % 57) * (8 + (length(text) * 7) % 41) AS BIGINT)
        |    AS n_pixels,
        |  TRUE AS valid
        |FROM documents WHERE doc_id % 3 = 0 ORDER BY doc_id""".stripMargin,
    "mm_phash" ->
      s"""$phashCte
         |SELECT out_id AS doc_id, ahash_hi, ahash_lo FROM h
         |ORDER BY doc_id""".stripMargin,
    "mm_phash_pairs" ->
      s"""$phashCte
         |SELECT a.out_id AS doc_a, b.out_id AS doc_b,
         |  CAST(bit_count(xor(a.ahash_hi, b.ahash_hi))
         |     + bit_count(xor(a.ahash_lo, b.ahash_lo)) AS INT) AS hamming
         |FROM h a JOIN h b ON a.out_id < b.out_id
         |WHERE bit_count(xor(a.ahash_hi, b.ahash_hi))
         |    + bit_count(xor(a.ahash_lo, b.ahash_lo)) <= 8
         |ORDER BY doc_a, doc_b""".stripMargin,
    "mm_phash_clusters" ->
      s"""$phashClustersCte
         |SELECT doc_id, cluster FROM cl ORDER BY doc_id""".stripMargin,
    "mm_phash_keep" ->
      s"""$phashClustersCte
         |SELECT out_id AS doc_id FROM h
         |WHERE out_id NOT IN (SELECT doc_id FROM cl WHERE doc_id <> cluster)
         |ORDER BY doc_id""".stripMargin,
    "mm_audio_meta" ->
      """WITH a AS (SELECT doc_id, length(text) AS tl FROM documents WHERE doc_id % 3 = 1),
        |p AS (SELECT doc_id, 8000 + (doc_id % 5) * 2000 AS rate,
        |        256 + tl % 200 AS n FROM a),
        |s AS (SELECT doc_id, rate, n,
        |        list_transform(generate_series(0, n - 1),
        |          i -> abs(((doc_id * 31 + i * 7) % 2048 - 1024) * 16)) AS amps
        |      FROM p)
        |SELECT doc_id, CAST(rate AS BIGINT) AS sample_rate,
        |  CAST(n AS BIGINT) AS n_samples,
        |  CAST(n * 1000 // rate AS BIGINT) AS duration_ms,
        |  CAST(list_max(amps) AS BIGINT) AS peak_amp,
        |  CAST(list_sum(amps) // n AS BIGINT) AS mean_abs,
        |  TRUE AS valid
        |FROM s ORDER BY doc_id""".stripMargin,
    "mm_audio_dedup" ->
      """WITH a AS (SELECT doc_id, length(text) AS tl FROM documents WHERE doc_id % 3 = 1),
        |ids AS (
        |  SELECT doc_id, doc_id AS pattern_id, tl FROM a
        |  UNION ALL
        |  SELECT (doc_id | 1099511627776), doc_id, tl FROM a WHERE doc_id % 30 = 1),
        |p AS (SELECT doc_id, pattern_id, 256 + tl % 200 AS n FROM ids),
        |s AS (SELECT doc_id, n,
        |        list_transform(generate_series(0, n - 1),
        |          i -> abs(((pattern_id * 31 + i * 7) % 2048 - 1024) * 16)) AS amps
        |      FROM p),
        |sig AS (SELECT doc_id, CAST(n AS BIGINT) AS n_samples,
        |        CAST(list_sum(amps) AS BIGINT) AS sum_abs,
        |        CAST(list_max(amps) AS BIGINT) AS peak_amp,
        |        CAST(list_sum(list_transform(generate_series(1, n),
        |          i -> i * amps[i])) AS BIGINT) AS weighted
        |      FROM s)
        |SELECT n_samples, sum_abs, peak_amp, weighted,
        |  MIN(doc_id) AS keep_doc_id, COUNT(*) AS n_copies
        |FROM sig GROUP BY 1, 2, 3, 4
        |ORDER BY keep_doc_id""".stripMargin,
    "mm_video_dedup" ->
      """WITH v AS (SELECT doc_id, length(text) AS tl FROM documents
        |  WHERE doc_id % 3 = 2),
        |p AS (SELECT doc_id, 8 + tl % 25 AS w, 6 + (tl * 7) % 19 AS h,
        |    4 + tl % 13 AS nf FROM v)
        |SELECT CAST(w AS INT) AS width, CAST(h AS INT) AS height,
        |  CAST(nf AS BIGINT) AS n_frames, MIN(doc_id) AS keep_doc_id,
        |  CAST(COUNT(*) + SUM(CASE WHEN doc_id % 15 = 2 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_copies
        |FROM p GROUP BY doc_id % 256, w, h, nf
        |ORDER BY keep_doc_id""".stripMargin,
    // the cached variants serve the SAME decode-level decisions from
    // the persisted signature store — identical oracles by contract
    "mm_audio_dedup_cached" ->
      """WITH a AS (SELECT doc_id, length(text) AS tl FROM documents WHERE doc_id % 3 = 1),
        |ids AS (
        |  SELECT doc_id, doc_id AS pattern_id, tl FROM a
        |  UNION ALL
        |  SELECT (doc_id | 1099511627776), doc_id, tl FROM a WHERE doc_id % 30 = 1),
        |p AS (SELECT doc_id, pattern_id, 256 + tl % 200 AS n FROM ids),
        |s AS (SELECT doc_id, n,
        |        list_transform(generate_series(0, n - 1),
        |          i -> abs(((pattern_id * 31 + i * 7) % 2048 - 1024) * 16)) AS amps
        |      FROM p),
        |sig AS (SELECT doc_id, CAST(n AS BIGINT) AS n_samples,
        |        CAST(list_sum(amps) AS BIGINT) AS sum_abs,
        |        CAST(list_max(amps) AS BIGINT) AS peak_amp,
        |        CAST(list_sum(list_transform(generate_series(1, n),
        |          i -> i * amps[i])) AS BIGINT) AS weighted
        |      FROM s)
        |SELECT n_samples, sum_abs, peak_amp, weighted,
        |  MIN(doc_id) AS keep_doc_id, COUNT(*) AS n_copies
        |FROM sig GROUP BY 1, 2, 3, 4
        |ORDER BY keep_doc_id""".stripMargin,
    "mm_video_dedup_cached" ->
      """WITH v AS (SELECT doc_id, length(text) AS tl FROM documents
        |  WHERE doc_id % 3 = 2),
        |p AS (SELECT doc_id, 8 + tl % 25 AS w, 6 + (tl * 7) % 19 AS h,
        |    4 + tl % 13 AS nf FROM v)
        |SELECT CAST(w AS INT) AS width, CAST(h AS INT) AS height,
        |  CAST(nf AS BIGINT) AS n_frames, MIN(doc_id) AS keep_doc_id,
        |  CAST(COUNT(*) + SUM(CASE WHEN doc_id % 15 = 2 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_copies
        |FROM p GROUP BY doc_id % 256, w, h, nf
        |ORDER BY keep_doc_id""".stripMargin,
    // frame features re-derived from the frame-byte formula
    // b(doc, f, i) = (doc·31 + f·17 + i·7) mod 256; bytes[j] is
    // 1-indexed, so Σ(i+1)·b_i over 0-indexed i is Σ j·bytes[j]
    "mm_frames" ->
      """WITH v AS (SELECT doc_id, length(text) AS tl FROM documents
        |  WHERE doc_id % 3 = 2),
        |p AS (SELECT doc_id, (8 + tl % 25) * (6 + (tl * 7) % 19) * 3 AS fs,
        |    4 + tl % 13 AS nf FROM v),
        |f AS (SELECT doc_id, fs,
        |    CAST(unnest(generate_series(0, nf - 1, 4)) AS INT) AS frame_idx
        |  FROM p),
        |b AS (SELECT doc_id, frame_idx, fs,
        |    list_transform(generate_series(0, fs - 1),
        |      i -> (doc_id * 31 + frame_idx * 17 + i * 7) % 256) AS bytes
        |  FROM f)
        |SELECT doc_id, frame_idx, CAST(fs AS INT) AS frame_bytes,
        |  CAST(list_sum(bytes) AS BIGINT) AS sum_b,
        |  CAST(list_sum(list_transform(generate_series(1, fs),
        |    i -> i * bytes[i])) AS BIGINT) AS weighted_b
        |FROM b ORDER BY doc_id, frame_idx""".stripMargin,
    "mm_resize" ->
      """WITH m AS (
        |  SELECT doc_id, 'image' AS media_type,
        |    CAST(8 + length(text) % 57 AS INT) AS width,
        |    CAST(8 + (length(text) * 7) % 41 AS INT) AS height
        |  FROM documents WHERE doc_id % 3 = 0
        |  UNION ALL
        |  SELECT doc_id, 'video',
        |    CAST(8 + length(text) % 25 AS INT),
        |    CAST(6 + (length(text) * 7) % 19 AS INT)
        |  FROM documents WHERE doc_id % 3 = 2),
        |s AS (
        |  SELECT *, CASE WHEN greatest(width, height) > 24 THEN 24
        |    ELSE greatest(width, height) END AS scale_num FROM m)
        |SELECT doc_id, media_type, width, height,
        |  CAST(floor(CAST(width * scale_num AS DOUBLE) / greatest(width, height)) AS BIGINT) AS out_width,
        |  CAST(floor(CAST(height * scale_num AS DOUBLE) / greatest(width, height)) AS BIGINT) AS out_height
        |FROM s ORDER BY doc_id""".stripMargin,
    "fi_sql" -> FilesCte.wrap(
      """SELECT path, COUNT(*) AS n, CAST(SUM(file_size) AS BIGINT) AS bytes
        |FROM files WHERE checksum IS NOT NULL
        |GROUP BY path HAVING COUNT(*) > 5
        |ORDER BY n DESC, path""".stripMargin)
  )
}
