package graft.fs

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One queryable MANIFEST over every persisted index the engine
  * maintains — the operational complement to the snapshot/delta
  * protocol. Each index family publishes its own `_snapmeta` sidecar
  * (core file index: [[IndexStore]]; ANN: vectors+buckets pair; IVF:
  * cells + `delta-<seq>` appends; streaming dedup: base + per-batch
  * deltas), so "is anything stale / mid-compaction / cap-mismatched"
  * was four code paths. This view unions them into one relation:
  *
  *  - `kind`      — caller-supplied family tag (core/ann/ivf/dedup/…)
  *  - `component` — which snapshot root within the family (core and
  *                  dedup: "index"/"base"; ann: "vectors"/"buckets";
  *                  ivf: "cells")
  *  - `entry`     — "base" (the pointed snapshot) or "delta"
  *  - `path`      — resolved directory
  *  - `seq`       — delta sequence (-1 for base rows)
  *  - `watermark` — the base's `compacted_through` (-1 when absent);
  *                  delta rows carry their OWN base's watermark so
  *                  `live` is a per-row fact
  *  - `live`      — base: pointer currently resolves here; delta:
  *                  seq > watermark (not yet folded/retired)
  *  - `cap`       — the dedup cap fingerprint ("" when the family has
  *                  none) — compat checks join on it
  *  - `meta`      — the full sidecar map, for anything family-specific
  *                  (centroids, bucket layout, build_fp, tables/bits)
  *
  * Staleness and compat checks become single queries:
  * unfolded-delta count = `entry = 'delta' AND live`, cap drift =
  * `SELECT DISTINCT cap WHERE kind = 'dedup'`, torn-publish debris =
  * a base row whose pointer file exists but dir doesn't (surfaced as
  * live=false base rows).
  *
  * This is driver-side METADATA walking (a handful of pointer/meta
  * file reads per index — never data files), so the resulting frame
  * is broadcast-sized by construction at any corpus scale. */
object IndexManifest {

  /** Snapshot roots that make up one index family, plus where its
    * delta dirs live (if the family has any). */
  final case class Family(kind: String,
      components: Seq[(String, String)], // (component name, snapshot root)
      deltaDir: Option[(String, String)] = None) // (component owning the watermark, dir)

  /** The standard layouts. `root` is each index's own root. */
  def core(root: String): Family = Family("core", Seq("index" -> root))
  def ann(root: String): Family =
    Family("ann", Seq("vectors" -> s"$root/vectors", "buckets" -> s"$root/buckets"))
  def ivf(root: String): Family = withDeltas("ivf", "cells", DeltaDirs.ivf(root))
  def dedup(stateRoot: String): Family = withDeltas("dedup", "base", DeltaDirs.dedup(stateRoot))
  private def withDeltas(kind: String, component: String, store: DeltaDirs): Family =
    Family(kind, Seq(component -> store.baseRoot), Some(component -> store.deltaDir))

  /** One manifest row — the SAME record the [[manifest]] view shows,
    * exposed driver-side so the runtime guards ([[graft.streaming
    * .DedupStream]] cap compat, [[graft.operators.IvfIndex]] /
    * [[graft.operators.AnnIndex]] staleness) consume the row the
    * operator would display, not a fifth bespoke walk. */
  final case class Entry(kind: String, component: String, entry: String,
      path: String, seq: Long, watermark: Long, live: Boolean,
      cap: String, meta: Map[String, String])

  /** Walk `families` into manifest rows. Missing roots (an index not
    * built yet) contribute no rows — absence is visible as absence.
    * Each component's pointer is resolved ONCE and its meta reused for
    * the delta rows' watermark, so one entries() call can never pair a
    * delta liveness verdict with a different base than the base row it
    * returns (a concurrent compaction between two resolutions would). */
  def entries(families: Seq[Family]): Seq[Entry] =
    families.flatMap { fam =>
      // component -> (resolved dir, present, meta), resolved exactly once
      val resolved = fam.components.flatMap { case (component, root) =>
        SnapshotDir.currentDir(root).map { dir =>
          val present = Files.isDirectory(Paths.get(dir))
          val meta = if (present) SnapshotDir.metaAt(dir) else Map.empty[String, String]
          component -> (dir, present, meta)
        }
      }
      val baseRows = resolved.map { case (component, (dir, present, meta)) =>
        Entry(fam.kind, component, "base", dir, -1L,
          DeltaDirs.watermark(meta), present, meta.getOrElse("cap", ""), meta)
      }
      val deltaRows = fam.deltaDir.toSeq.flatMap { case (component, dir) =>
        val mark = resolved.collectFirst {
          case (`component`, (_, true, meta)) => DeltaDirs.watermark(meta)
        }.getOrElse(-1L)
        DeltaDirs.list(dir).map { case (seq, p) =>
          Entry(fam.kind, component, "delta", p, seq, mark, seq > mark, "",
            Map.empty[String, String])
        }
      }
      baseRows ++ deltaRows
    }

  /** The live base row of `component` within a single family, if any —
    * the resolution shape every guard wants. */
  def liveBase(family: Family, component: String): Option[Entry] =
    entries(Seq(family)).find(e =>
      e.component == component && e.entry == "base" && e.live)

  /** Unfolded (live) delta rows of a single family, seq-sorted. */
  def liveDeltas(family: Family): Seq[Entry] =
    entries(Seq(family)).filter(e => e.entry == "delta" && e.live)

  /** Build the manifest VIEW for `families` — `entries` as a relation. */
  def manifest(spark: SparkSession, families: Seq[Family]): DataFrame = {
    import spark.implicits._
    entries(families)
      .map(e => (e.kind, e.component, e.entry, e.path, e.seq,
        e.watermark, e.live, e.cap, e.meta))
      .toDF("kind", "component", "entry", "path", "seq",
        "watermark", "live", "cap", "meta")
  }
}
