package graft

import java.nio.file.Paths
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Probes.{dirMb, emit, r2, rssMb}
import graft.operators.{IvfIndex, TopK}

/** ANN SERVING soak: the persisted IVF index under its production
  * write/read mix — a writer appending vector batches and compacting
  * on cadence, while CONCURRENT prober threads run [[IvfIndex.topk]]
  * against whatever snapshot the pointer resolves, all under a
  * bounded driver heap. The crash-injection specs prove single
  * transitions; this proves the long run: RSS bounded across many
  * append/compact generations, no snapshot leak on disk, probes
  * succeeding throughout (a bounded number of loud in-flight-reader
  * failures across compaction pointer flips is the documented
  * contract — silent wrong answers are not), and the recall contract
  * green at every quiescent checkpoint.
  *
  * One JSON line per round (disk, RSS, live deltas, probe counters);
  * `recall` lines at each quiescent check; a final `summary` line.
  *
  * Usage: runMain graft.AnnSoak [nRounds] [sfDir] [workDir]
  */
object AnnSoak {
  /** The deterministic vector for (id, round): pseudo-random residue
    * pattern keyed by (vec, dim, round) — no RNG, replayable anywhere
    * (plain Scala arithmetic, same values on driver or executor). */
  private def vecFor(id: Long, round: Int): Array[Float] =
    Array.tabulate(64) { d =>
      (((id * 2654435761L + d * 40503L + round * 97L) % 1000) / 500.0f - 1.0f)
    }

  /** Deterministic append batch r: `perBatch` 64-dim vectors in the
    * same value range as the shipped embeddings. DISTRIBUTED generation
    * (spark.range + typed map): the 100M-vector soak appends ~10⁸ rows
    * in total, which must never materialize as a driver-side Seq. */
  private def batch(spark: SparkSession, round: Int, baseId: Long,
      perBatch: Int): DataFrame = {
    import spark.implicits._
    val (r, b, pb) = (round, baseId, perBatch)
    spark.range(pb.toLong)
      .map(i => (b + r.toLong * pb + i, vecFor(b + r.toLong * pb + i, r)))
      .toDF("vec_id", "embedding")
  }

  /** Every appended row through `throughRound`, as ONE range scan —
    * the ground-truth corpus for recall checks (a per-round union
    * chain would stack `throughRound` plan nodes at decade scale). */
  private def appendedThrough(spark: SparkSession, throughRound: Int,
      baseId: Long, perBatch: Int): DataFrame = {
    import spark.implicits._
    val (b, pb) = (baseId, perBatch)
    spark.range((throughRound + 1).toLong * pb)
      .map { i =>
        val r = (i / pb).toInt
        (b + i, vecFor(b + i, r))
      }
      .toDF("vec_id", "embedding")
  }

  def main(args: Array[String]): Unit = {
    val nRounds = args.headOption.map(_.toInt).getOrElse(120)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val workDir = new java.io.File(
      if (args.length > 2) args(2) else "target/streams/annsoak").getAbsolutePath
    val spark = GraftSession.local("graft-ann-soak")

    graft.fs.SnapshotDir.deleteRecursively(Paths.get(workDir))
    val root = s"$workDir/ivf"

    // decade knobs: a 10^7-vector seed wants more cells (bounded cell
    // size for the probe join) and bigger appends than the sf0.1 soak
    val perBatch = sys.env.getOrElse("GRAFT_ANN_PER_BATCH", "1000").toInt
    val nCentroids = sys.env.getOrElse("GRAFT_ANN_CENTROIDS", "16").toInt
    val numBuckets = sys.env.getOrElse("GRAFT_ANN_BUCKETS", "16").toInt
    val nProbe = sys.env.getOrElse("GRAFT_ANN_NPROBE", "4").toInt
    // quantized mode: int8 cells payload (scale in snapshot meta) —
    // ~1/6 the index bytes, the layout that makes the 100M-vector
    // decade fit a single box's scratch at all
    val quantized = sys.env.getOrElse("GRAFT_ANN_QUANT", "0") != "0"
    val recallEvery = sys.env.getOrElse("GRAFT_ANN_RECALL_EVERY", "30").toInt
    // deployment rule made executable: the retired-snapshot grace
    // window must dominate the longest in-flight read, or compaction
    // flips reach the loud-failure window — decade probes run tens of
    // seconds, so the soak sizes grace explicitly instead of relying
    // on the 120 s default that sf0.1's sub-second probes never test
    sys.env.get("GRAFT_ANN_GRACE_MS").foreach(v =>
      sys.props.put("graft.snap.retainGraceMs", v))
    val seed = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select("vec_id", "embedding")
    val seedMax = seed.agg(max(col("vec_id"))).head().getLong(0)
    val nSeed = seed.count()
    val appendBase = seedMax + 1L
    IvfIndex.build(seed, root, nCentroids = nCentroids, iters = 2,
      numBuckets = numBuckets, quantized = quantized)

    // fixed query set: 24 held-out vectors from the same generator
    val queries = batch(spark, round = 999999, appendBase + 100000000L, 24)
      .select(col("vec_id").as("query_id"), col("embedding"))
      .localCheckpoint()

    // ---- concurrent probers --------------------------------------
    val stop = new AtomicBoolean(false)
    val okProbes = new AtomicLong(0)
    val failedProbes = new AtomicLong(0)
    val emptyProbes = new AtomicLong(0)
    // per-probe latency, split steady-state vs compaction-in-flight:
    // availability (probes_failed) was fixed in r12; a retry that
    // silently doubled p99 during flips would be invisible without
    // this. A probe overlapping a compaction at its start OR end
    // counts as compaction-window.
    val compacting = new AtomicBoolean(false)
    val latSteadyMs = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()
    val latCompactMs = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()
    // One application-level retry per probe, the production pattern
    // (ApiServer re-resolves per request): IvfIndex.topk's stale-read
    // retry covers CONSTRUCTION-time resolution, but a probe whose
    // EXECUTION outlives the snapshot grace window can still lose its
    // base to a compaction flip mid-collect — at decade scale a probe
    // runs tens of seconds, so the 120 s default grace no longer
    // dwarfs probe latency and the documented loud-failure window is
    // reachable. The retry re-enters topk (fresh resolve) exactly as a
    // server retries a failed request; retries are counted separately
    // so the artifact shows every time the window was hit.
    val probeRetries = new AtomicLong(0)
    val probers = (0 until 2).map { pi =>
      val t = new Thread(() => {
        while (!stop.get()) {
          val inCompact0 = compacting.get()
          val tp = System.nanoTime()
          def once(): Long =
            IvfIndex.topk(spark, root, queries, k = 10, nProbe = nProbe).count()
          try {
            val n =
              try once()
              catch { case _: Exception => probeRetries.incrementAndGet(); once() }
            val ms = (System.nanoTime() - tp) / 1000000L
            (if (inCompact0 || compacting.get()) latCompactMs else latSteadyMs).add(ms)
            if (n > 0) okProbes.incrementAndGet() else emptyProbes.incrementAndGet()
          } catch {
            case _: Exception => failedProbes.incrementAndGet()
          }
          Thread.sleep(100)
        }
      }, s"ann-prober-$pi")
      t.setDaemon(true)
      t.start()
      t
    }
    def pctl(sorted: Array[Long], p: Double): Long =
      if (sorted.isEmpty) -1L
      else sorted(math.min(sorted.length - 1, math.ceil(p * sorted.length).toInt - 1).max(0))
    def latStats(q: java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long])
        : (Int, Long, Long) = {
      val a = q.toArray(Array.empty[java.lang.Long]).map(_.longValue).sorted
      (a.length, pctl(a, 0.5), pctl(a, 0.99))
    }

    // ---- ground truth for the recall contract ---------------------
    // the corpus is regenerable: seed ∪ appended rows so far (one
    // range scan, not a union chain — see appendedThrough)
    def corpus(throughRound: Int): DataFrame =
      seed.unionByName(appendedThrough(spark, throughRound, appendBase, perBatch))
    def recallAt(throughRound: Int): Double = {
      val c = graft.operators.Similarity.prepared(corpus(throughRound))
        .select(col("vec_id").as("cand_id"), col("v").as("cv"), col("nrm").as("cn"))
      val q = graft.operators.Similarity.prepared(
          queries.select(col("query_id").as("vec_id"), col("embedding")))
        .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"))
      val brute = TopK.best(q.crossJoin(c)
          .select(col("query_id"), col("cand_id"),
            TopK.cosine(col("qv"), col("qn"), col("cv"), col("cn")).as("cosine")),
          10, "cosine", "cand_id", "query_id")
        .select("query_id", "cand_id")
      val ivf = IvfIndex.topk(spark, root, queries, k = 10, nProbe = nProbe)
        .select("query_id", "cand_id")
      val hit = brute.join(ivf, Seq("query_id", "cand_id"), "left_semi").count()
      hit.toDouble / (24 * 10).toDouble
    }

    var rssMax = 0L
    var diskMax = 0L
    var recallMin = 1.0
    val t0 = System.nanoTime()
    (0 until nRounds).foreach { r =>
      val tr = System.nanoTime()
      IvfIndex.append(batch(spark, r, appendBase, perBatch), root)
      if (r % 10 == 9) {
        compacting.set(true)
        try IvfIndex.compact(spark, root) finally compacting.set(false)
      }
      val store = graft.fs.DeltaDirs.ivf(root)
      val liveDeltas = graft.fs.DeltaDirs.live(store.deltaDir, store.compactedThrough).size
      val rss = rssMb(); val disk = dirMb(root)
      rssMax = math.max(rssMax, rss); diskMax = math.max(diskMax, disk)
      val (nS, p50S, p99S) = latStats(latSteadyMs)
      val (nC, p50C, p99C) = latStats(latCompactMs)
      emit(s"""{"round":$r,"wall_sec":${r2((System.nanoTime() - tr) / 1e9)},""" +
        s""""rss_mb":$rss,"index_mb":$disk,"deltas":$liveDeltas,""" +
        s""""probes_ok":${okProbes.get()},"probes_failed":${failedProbes.get()},""" +
        s""""probes_empty":${emptyProbes.get()},""" +
        s""""lat_steady":{"n":$nS,"p50_ms":$p50S,"p99_ms":$p99S},""" +
        s""""lat_compact":{"n":$nC,"p50_ms":$p50C,"p99_ms":$p99C},""" +
        s""""stale_retries":${graft.fs.SnapshotDir.staleRetryCount},""" +
        s""""probe_retries":${probeRetries.get()}}""")
      if (r % recallEvery == recallEvery - 1) {
        // quiescent recall checkpoint (no append/compact in flight)
        val rec = recallAt(r)
        recallMin = math.min(recallMin, rec)
        emit(s"""{"round":$r,"recall_at_10":${r2(rec)},"corpus":${nSeed + (r + 1).toLong * perBatch}}""")
        graft.operators.OpCaches.releaseAll()
      }
    }
    stop.set(true)
    probers.foreach(_.join(5000))
    val rec = recallAt(nRounds - 1)
    recallMin = math.min(recallMin, rec)
    val (nS, p50S, p99S) = latStats(latSteadyMs)
    val (nC, p50C, p99C) = latStats(latCompactMs)
    emit(s"""{"summary":true,"rounds":$nRounds,"quantized":$quantized,""" +
      s""""n_centroids":$nCentroids,"n_probe":$nProbe,"per_batch":$perBatch,""" +
      s""""wall_sec":${r2((System.nanoTime() - t0) / 1e9)},""" +
      s""""rss_max_mb":$rssMax,"index_max_mb":$diskMax,""" +
      s""""probes_ok":${okProbes.get()},"probes_failed":${failedProbes.get()},""" +
      s""""probes_empty":${emptyProbes.get()},""" +
      s""""lat_steady":{"n":$nS,"p50_ms":$p50S,"p99_ms":$p99S},""" +
      s""""lat_compact":{"n":$nC,"p50_ms":$p50C,"p99_ms":$p99C},""" +
      s""""stale_retries":${graft.fs.SnapshotDir.staleRetryCount},""" +
      s""""probe_retries":${probeRetries.get()},""" +
      s""""recall_min":${r2(recallMin)},"recall_final":${r2(rec)}}""")
    require(recallMin >= 0.7, s"recall contract broken: $recallMin")
    require(okProbes.get() > failedProbes.get() * 10,
      s"probe failure rate too high: ${failedProbes.get()}/${okProbes.get()}")
    spark.stop()
  }
}
