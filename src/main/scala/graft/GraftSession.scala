package graft

import org.apache.spark.sql.SparkSession

/** One-stop session setup for the library: the scale-relevant knobs
  * every deployment should start from, plus the `graft_*` SQL
  * function registry, in a single audited place instead of scattered
  * per-app boilerplate.
  *
  * Three entry points:
  *
  *  - [[builder]] — a pre-configured `SparkSession.Builder` (with
  *    [[graft.functions.GraftExtensions]] wired) for fresh JVMs;
  *  - [[configure]] — applies the runtime-settable subset plus the
  *    function registry to an EXISTING session (notebooks, shells,
  *    test harnesses — anywhere the session outlives you);
  *  - [[local]] — the one recipe every `main` in this repo opens its
  *    session with: [[builder]] plus the local-harness settings.
  *
  * Knob rationale (each is a 100 TB decision, not a magic number):
  *
  *  - `spark.sql.session.timeZone=UTC`: the engine's time semantics
  *    are UTC throughout (oracle parity and cross-cluster stability —
  *    a worker's local zone must never change query results).
  *  - `spark.sql.adaptive.enabled` + `...skewJoin.enabled`: AQE
  *    re-plans on runtime stats and splits skewed join partitions —
  *    the first line of defense against hot keys, ahead of manual
  *    salting ([[graft.operators.SkewTools]] is the explicit lever
  *    for aggregations AQE doesn't cover).
  *  - `spark.sql.adaptive.coalescePartitions.enabled`: small shuffle
  *    maps collapse to few tasks, so toy stages don't pay scheduler
  *    overhead and giant stages still fan out.
  *  - `spark.sql.files.maxPartitionBytes=256m`: at 100 TB the default
  *    128 MB splits make ~800k scan tasks; 256 MB halves the task
  *    count while staying comfortably within executor memory for the
  *    columnar batches these operators project.
  *  - `spark.sql.parquet.aggregatePushdown=true`: count/min/max over
  *    parquet resolve from footer statistics without reading pages —
  *    the stats surface (`fi_stats_*`) leans on exactly this shape.
  *  - `spark.sql.parquet.filterPushdown` stays on (default) — every
  *    `fi_*` predicate is written sargable so it reaches the scan
  *    (verified per-plan in PLANS.md).
  *
  * `spark.sql.shuffle.partitions` is deliberately NOT pinned here:
  * with AQE coalescing enabled the right setting is cluster-shaped
  * (2-3× total executor cores as the upper bound AQE trims from).
  * [[local]] sets it to the core count.
  */
object GraftSession {

  /** Runtime-settable knobs, applied by [[builder]] and [[configure]]. */
  private val runtimeConfs: Seq[(String, String)] = Seq(
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    "spark.sql.files.maxPartitionBytes" -> "268435456",
    "spark.sql.parquet.aggregatePushdown" -> "true")
  // MEASURED INCONCLUSIVE (r9), kept on record: raising
  // spark.sql.objectHashAggregate.sortBased.fallbackThreshold from its
  // default 128 to 8192 — so TypedImperativeAggregate partials (the
  // bounded-heap top-k) stay hash-mode instead of falling back to
  // sort-based — moved ta_tfidf_top at the sf100 probe by less than
  // run-to-run machine variance (isolated runs: 117 s with, 134 s
  // without, vs 44 s measured inside the warm full sweep — the
  // cold-vs-warm delta dwarfs the knob). The heap aggregate's win
  // comes from the ≤k-per-group OUTPUT bound, which both partial modes
  // deliver; the fallback's group-key sort of one partition's postings
  // is not the cost the old window's (score, term) sort was. Left at
  // the Spark default.

  /** Startup-only knobs — read at SparkContext creation, so they can
    * only take effect through [[builder]], never [[configure]] on a
    * live session.
    *
    *  - `spark.cleaner.periodicGC.interval=5min`: ContextCleaner only
    *    reaps shuffle files/broadcasts after their owning objects are
    *    GC'd, and a comfortably-sized heap can go HOURS without a full
    *    GC while dead shuffle files pile up on disk — measured ~70 GB
    *    / 90% disk / 83% iowait across a 150-query sf1 run (the
    *    round-6 bench regression's root cause; see SCALE_r07.md). The
    *    Spark default of 30min is tuned for jobs whose shuffle-to-disk
    *    ratio is far lower than a dedup/ANN engine's; 5min bounds the
    *    dead-file window for long-running sessions (ApiServer,
    *    streaming dedup) without measurable GC overhead — G1 full GCs
    *    on an idle-ish heap cost tens of ms. Harness `System.gc()`
    *    calls in Verify/Bench remain only to keep TIMED windows clean;
    *    this conf is the production fix. */
  /**  - `spark.sql.codegen.cache.maxEntries=2000`: the whole-stage
    *    codegen compilation cache is keyed by generated source and
    *    holds 100 entries by default — a session that serves a report
    *    pass or API surface of 150+ distinct queries (each compiling
    *    several codegen units) thrashes it completely, so every
    *    re-execution re-pays Janino compilation (~50-150 ms per unit)
    *    that a long-lived production session should pay once. 2000
    *    entries covers ~150 queries × ~8 units with headroom; compiled
    *    classes are small (the cache is weak-ref'd class objects), so
    *    the footprint is metaspace-bounded and scale-independent. */
  private val startupConfs: Seq[(String, String)] = Seq(
    "spark.cleaner.periodicGC.interval" -> "5min",
    "spark.sql.codegen.cache.maxEntries" -> "2000")

  /** A builder with the graft extensions and scale defaults wired;
    * callers add master/appName and `getOrCreate()`. */
  def builder(): SparkSession.Builder = {
    val b = SparkSession.builder()
      .withExtensions(new graft.functions.GraftExtensions)
    (runtimeConfs ++ startupConfs).foldLeft(b) {
      case (bb, (k, v)) => bb.config(k, v) }
  }

  /** Apply the runtime-settable knobs and register the `graft_*` SQL
    * functions on a live session (idempotent). Returns the session. */
  def configure(spark: SparkSession): SparkSession = {
    runtimeConfs.foreach { case (k, v) => spark.conf.set(k, v) }
    org.apache.spark.sql.GraftSqlBridge.registerGraftFunctions(spark)
    spark
  }

  /** Local thread count: `SPARK_GRAFT_CPUS`, else the JVM's processors. */
  private def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").flatMap(_.trim.toIntOption)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The session every `main` opens: [[builder]] on `SPARK_MASTER`
    * (default `local[`[[cpus]]`]`), shuffle partitions = [[cpus]], UI
    * off, then `extraConfs`, then the `SPARK_GRAFT_CONF` overrides last
    * (so an attribution run can override any knob, startup-only ones
    * included). */
  def local(appName: String, extraConfs: Map[String, String] = Map.empty): SparkSession = {
    val confs = Seq(
        "spark.sql.shuffle.partitions" -> cpus.toString,
        "spark.ui.enabled" -> "false") ++ extraConfs ++
      confOverrides(sys.env.getOrElse("SPARK_GRAFT_CONF", ""))
    val spark = confs.foldLeft(
        builder().master(sys.env.getOrElse("SPARK_MASTER", s"local[$cpus]")).appName(appName)) {
      case (b, (k, v)) => b.config(k, v) }.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // getOrCreate re-applies the confs to a session that was already
    // running, but that session was built without the extensions
    if (!spark.catalog.functionExists("graft_dot"))
      org.apache.spark.sql.GraftSqlBridge.registerGraftFunctions(spark)
    spark
  }

  /** `SPARK_GRAFT_CONF` syntax: comma-separated `key=value` pairs, both
    * sides trimmed; an entry without `=` or with an empty key is
    * skipped. e.g. `spark.sql.shuffle.partitions=128,graft.vocab.maxGroups=64` */
  def confOverrides(spec: String): Seq[(String, String)] =
    spec.split(',').toSeq.flatMap { kv =>
      val i = kv.indexOf('=')
      val k = if (i < 0) "" else kv.take(i).trim
      if (k.isEmpty) None else Some(k -> kv.drop(i + 1).trim)
    }
}
