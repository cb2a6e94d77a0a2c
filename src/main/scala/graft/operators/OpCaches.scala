package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session-lifetime hygiene for operator-internal caches.
  *
  * The lazy operator builders ([[Dedup.jaccardPairs]],
  * [[Dedup.minhashLsh]], [[Dedup.simhashPairs]], [[Similarity.topkLsh]],
  * [[Ivf.topkIvf]]) cache intermediate artifacts that feed 2+ plan
  * branches of the DataFrame they RETURN. They cannot unpersist those
  * blocks themselves — the CALLER runs the terminal action — so every
  * such cache registers here, and [[releaseAll]] drops all blocks the
  * operators have pinned. One-shot drivers (graft.Verify, graft.Bench)
  * call it between queries; long-lived sessions (a notebook, a serving
  * layer, the streaming driver) call it once the returned frames are
  * consumed. (DedupStream manages its per-batch caches with an explicit
  * cleanup thunk instead — its lifecycle is per-micro-batch.)
  *
  * STRONG references, deliberately: Spark's CacheManager pins the
  * cached plan regardless of whether the caller still references the
  * DataFrame object, so a weak registry could lose its handle to a
  * cache that is still occupying memory. The registry is tiny (a few
  * DataFrame objects per query) and is cleared on every release.
  * unpersist() on an already-released frame is a no-op, so double
  * release is safe.
  *
  * == Shared cores (`graft.cores.share`) ==
  *
  * A report pass over one immutable corpus snapshot — the bench, the
  * Verify dump, a nightly dashboard batch — re-derives the same
  * expensive cores query after query: the hashed-shingle table feeds
  * every set-similarity report, the decoded image hashes feed every
  * phash report, the IVF assignment feeds every recall row. In
  * production those cores are computed ONCE per snapshot and every
  * report rides them; with the conf `graft.cores.share=true` the
  * [[shared]] call sites reproduce that shape: the first builder of a
  * core pays for it, every later query whose input plan is
  * semantically identical reuses the persisted blocks, and
  * [[releaseAll]] leaves them pinned ([[releaseShared]] drops them).
  * Sharing is value-neutral — a hit is guarded by Catalyst
  * `sameResult` on the canonicalized plan, so only a byte-identical
  * computation is ever substituted — but it is only SAFE while the
  * underlying files are immutable, which is why it is opt-in and off
  * by default: a long-lived session over mutating data must not serve
  * a stale snapshot's cores.
  */
object OpCaches {
  private val reg = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
  // localCheckpoint'd frames the scratch-grouped operator paths leave
  // inside their RETURNED plans (vocab/LSH group partials, the tfidf
  // running heap): their blocks belong to the checkpoint RDD, which
  // Dataset.unpersist cannot reach, so without a hook their release
  // depends on driver GC + the async ContextCleaner. Registered here
  // and drained by [[releaseAll]] — same contract as the cache
  // registry: only drain once the returned frames are consumed (the
  // lineage is truncated; the blocks are unrecoverable).
  //
  // The registry records the checkpoint RDD's ID (an Int — pins
  // nothing), not the DataFrame: release goes through
  // sparkContext.getPersistentRDDs(id), so it stays DETERMINISTIC
  // even after the wrapper DataFrame becomes unreachable (in the
  // dupSpans fold only the logical plans survive the union — a GC
  // mid-query must not let checkpoint blocks escape releaseAll), while
  // a long-lived session that never drains pins nothing: once GC +
  // the ContextCleaner reclaim a dead frame's blocks, the ID simply
  // misses in getPersistentRDDs. The SparkContext reference is the
  // process-wide singleton Spark itself pins while active.
  private final case class Ckpt(rddId: Int, sc: org.apache.spark.SparkContext)
  private val ckpts = scala.collection.mutable.ArrayBuffer.empty[Ckpt]
  // site-key + canonicalized-plan hash → the persisted core. Bounded:
  // past MaxShared entries new cores degrade to per-query track() —
  // a runaway keyspace (per-batch streaming inputs) must not pin
  // unbounded storage.
  private val sharedReg =
    scala.collection.mutable.LinkedHashMap.empty[String, DataFrame]
  private val MaxShared = 64
  // diagnostics: how many shared() calls degraded to track() because
  // the registry was full — a full registry silently turns the
  // report-pass shape back into per-query rebuilds, so the bench
  // surfaces this count instead of leaving it to archaeology
  private var degraded = 0L

  /** (live shared entries, degraded-to-track calls since start). */
  def sharedStats: (Int, Long) =
    sharedReg.synchronized { (sharedReg.size, degraded) }

  /** cache() the frame and register it for [[releaseAll]]. */
  private[graft] def track(df: DataFrame): DataFrame = {
    df.cache()
    reg.synchronized { reg += df }
    df
  }

  /** Register an already-localCheckpoint'd frame for deterministic
    * block release at [[releaseAll]] — callers keep using the frame
    * until then. No-op registration for non-checkpoint plans. */
  private[graft] def trackCheckpoint(df: DataFrame): DataFrame = {
    df.queryExecution.logical match {
      case r: org.apache.spark.sql.execution.LogicalRDD =>
        ckpts.synchronized {
          ckpts += Ckpt(r.rdd.id, df.sparkSession.sparkContext)
          // opportunistic compaction: an undrained long-lived session's
          // registry stays O(still-persisted RDDs), not O(frames ever
          // tracked) — already-reclaimed IDs miss in getPersistentRDDs
          if (ckpts.length > 256) {
            val live = ckpts.filter(c => c.sc.getPersistentRDDs.contains(c.rddId))
            ckpts.clear(); ckpts ++= live
          }
        }
      case _ => () // non-checkpoint plan: nothing releasable to record
    }
    df
  }

  /** [[track]], or a snapshot-shared memo of it when
    * `graft.cores.share=true`: the first call per (site key,
    * semantically-identical input plan) caches and retains the frame
    * across [[releaseAll]]; later calls return the SAME persisted
    * frame iff Catalyst `sameResult` holds between the plans (the
    * 32-bit `semanticHash` in the map key is a fast path, never the
    * correctness guard). With the conf unset/false this is exactly
    * [[track]]. */
  private[graft] def shared(key: String)(df: => DataFrame): DataFrame = {
    val frame = df
    if (!sharing(frame.sparkSession)) return track(frame)
    val plan = frame.queryExecution.analyzed.canonicalized
    val mapKey = s"$key:${plan.semanticHash()}"
    sharedReg.synchronized {
      sharedReg.get(mapKey) match {
        case Some(hit)
            if hit.queryExecution.analyzed.canonicalized.sameResult(plan) =>
          hit
        case _ if sharedReg.size >= MaxShared =>
          degraded += 1
          track(frame)
        case _ =>
          frame.cache()
          sharedReg += mapKey -> frame
          frame
      }
    }
  }

  /** True iff the session has `graft.cores.share=true`. */
  private[graft] def sharing(spark: SparkSession): Boolean =
    try spark.conf.get("graft.cores.share", "false") == "true"
    catch { case scala.util.control.NonFatal(_) => false }

  /** The [[shared]] core when sharing is on, else `df` itself,
    * uncached: for a consumer that reads the frame once, a core is
    * worth riding but never worth caching for itself. */
  private[graft] def sharedIfOn(key: String)(df: DataFrame): DataFrame =
    if (sharing(df.sparkSession)) shared(key)(df) else df

  /** Unpersist every operator-internal cache registered so far.
    * Shared cores (see [[shared]]) survive — they are the
    * once-per-snapshot artifacts a report pass exists to reuse. */
  def releaseAll(): Unit = {
    reg.synchronized {
      reg.foreach { df =>
        try df.unpersist()
        catch { case scala.util.control.NonFatal(_) => () }
      }
      reg.clear()
    }
    ckpts.synchronized {
      ckpts.foreach { c =>
        // IDs already reclaimed (eager release in the fold loops, GC +
        // ContextCleaner in long sessions) miss the map: no-op
        try c.sc.getPersistentRDDs.get(c.rddId).foreach(_.unpersist(false))
        catch { case scala.util.control.NonFatal(_) => () }
      }
      ckpts.clear()
    }
  }

  /** Unpersist and forget the shared cores too — end of the snapshot
    * pass (or a test boundary). */
  def releaseShared(): Unit = sharedReg.synchronized {
    sharedReg.valuesIterator.foreach { df =>
      try df.unpersist()
      catch { case scala.util.control.NonFatal(_) => () }
    }
    sharedReg.clear()
  }
}
