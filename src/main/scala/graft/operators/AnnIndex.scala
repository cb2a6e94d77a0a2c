package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.fs.SnapshotDir

/** PERSISTED hyperplane-LSH index — the "index once, query many"
  * production shape for similarity search at corpus scale. The
  * per-query operators ([[Similarity.topkLsh]]) recompute bucket keys
  * and normalized vectors on every call; at 100 TB those are one-time
  * build artifacts, written here through the same atomic snapshot
  * protocol as the file index (SnapshotDir) and BUCKETED so queries
  * never shuffle the corpus:
  *
  *  - `<root>/buckets`: (vec_id, tb) — tb = "<table>:<key>" combined
  *    bucket key, hash-bucketed BY tb. A query's candidate probe is an
  *    equi-join on tb whose corpus side reads pre-partitioned (no
  *    Exchange; only the tiny query-key side moves).
  *  - `<root>/vectors`: (vec_id, v, nrm) — the exact-rerank payload,
  *    hash-bucketed BY vec_id, so fetching candidate vectors
  *    co-locates on the bucketed corpus side too.
  *
  * The plane-set parameters (tables, bits, seed) ride the buckets
  * snapshot's atomic meta: a reader always derives EXACTLY the plane
  * set its snapshot was built with — recall tuning (more tables) is a
  * rebuild, never a skewed mix.
  *
  * Results are identical to [[Similarity.topkBrute]] restricted to
  * LSH candidates (the same [[TopK]] ranking rule over exact cosines) —
  * spec-checked against [[Similarity.topkLsh]] with the same planes.
  */
object AnnIndex {

  private val bucketsSchema = StructType(Seq(
    StructField("vec_id", LongType), StructField("tb", StringType)))
  private val vectorsSchema = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("v", ArrayType(DoubleType)),
    StructField("nrm", DoubleType)))

  /** Build (or atomically replace) the index under `root`. VECTORS
    * publish first; the BUCKETS snapshot then records, in its own
    * atomic meta, the exact vectors snapshot it was built with — a
    * reader resolves the buckets pointer ONCE and gets a consistent
    * (planes, buckets, vectors) triple. A crash between the two
    * publishes leaves the old buckets pointing at the old vectors
    * snapshot name; if that snapshot was already retired, the read
    * fails LOUDLY instead of silently re-ranking against stale vectors.
    * Single-writer by contract, like every SnapshotDir root. */
  def build(emb: DataFrame, root: String, tables: Int = 16, bits: Int = 5,
      seed: Long = 42L, numBuckets: Int = 16): Unit = {
    val planes = LshPlanes.planesFor(tables, bits, seed)
    // the build's two inputs are EXACTLY the artifacts the per-query
    // LSH/IVF rows already compute per snapshot ([[Similarity.topkLsh]]'s
    // `sim.prep3` prepared vectors and `sim.lshBuckets` bucket base) —
    // when an open report pass already holds them, ride those cores
    // instead of re-preparing the corpus (a plan built with DIFFERENT
    // planes misses the `sameResult` guard and computes its own).
    // Otherwise each frame feeds one publish, so it stays a plain,
    // uncached plan. The publishes below still write every byte per
    // build — riding removes recompute, not the index write.
    val vectors = OpCaches.sharedIfOn("sim.prep3")(
      Similarity.prepared(emb).select("vec_id", "v", "nrm"))
    SnapshotDir.publishBucketed(vectors, s"$root/vectors",
      bucketCol = "vec_id", numBuckets = numBuckets)
    // just the snapshot NAME (currentDir returns the full path): the
    // reader re-roots it under its own view of `root`
    val vectorsSnap = java.nio.file.Paths.get(
      SnapshotDir.currentDir(s"$root/vectors")
        .getOrElse(sys.error(s"vectors publish left no snapshot at $root")))
      .getFileName.toString
    val buckets = OpCaches.sharedIfOn("sim.lshBuckets")(
        emb.select(col("vec_id"),
          posexplode(LshPlanes.keysCol(col("embedding"), planes)).as(Seq("tbl", "bkey"))))
      .select(col("vec_id"),
        concat(col("tbl").cast("string"), lit(":"), col("bkey")).as("tb"))
    SnapshotDir.publishBucketed(buckets, s"$root/buckets",
      bucketCol = "tb", numBuckets = numBuckets,
      meta = Map("tables" -> tables.toString, "bits" -> bits.toString,
        "seed" -> seed.toString, "vectors_snap" -> vectorsSnap))
  }

  /** Approximate top-k neighbors for each row of `queries`
    * ((query_id, embedding)): candidates = corpus vectors sharing any
    * bucket with the query, re-ranked by exact cosine. The corpus
    * buckets and vectors both read pre-bucketed — the only shuffles
    * are the (bounded) query keys and candidate ids.
    *
    * The buckets pointer is resolved ONCE; planes AND the paired
    * vectors snapshot both come from that snapshot's atomic meta (a
    * re-resolution could pair one build's planes with another's data —
    * the divergence class SnapshotDir.loadMeta documents). */
  def topk(spark: SparkSession, root: String, queries: DataFrame, k: Int = 5): DataFrame =
    // one stale-pointer retry across a concurrent rebuild's flip; see
    // IvfIndex.topk — within the grace window retired snapshots stay
    // readable and no retry fires.
    SnapshotDir.retryingStaleRead { topkOnce(spark, root, queries, k) }

  private def topkOnce(spark: SparkSession, root: String, queries: DataFrame,
      k: Int): DataFrame = {
    // resolve through the IndexManifest row (the same record an
    // operator `--manifest` listing shows): a missing or torn-publish
    // buckets snapshot (pointer present, dir gone) is refused here as
    // the live=false row rather than as a scan error three joins later
    val bucketsRow = graft.fs.IndexManifest.liveBase(
        graft.fs.IndexManifest.ann(root), "buckets")
      .getOrElse(sys.error(s"no live buckets snapshot at $root (manifest rows: " +
        graft.fs.IndexManifest.entries(Seq(graft.fs.IndexManifest.ann(root)))
          .map(e => s"${e.component}/${e.entry} live=${e.live} path=${e.path}")
          .mkString("; ") + ")"))
    val bucketsDir = bucketsRow.path
    val meta = bucketsRow.meta
    val (tables, bits, seed) = (
      meta.getOrElse("tables", sys.error(s"no index meta at $bucketsDir")).toInt,
      meta("bits").toInt, meta("seed").toLong)
    val planes = LshPlanes.planesFor(tables, bits, seed)
    val corpusBuckets = SnapshotDir.readAt(spark, bucketsDir, bucketsSchema)
    val vectors = SnapshotDir.readAt(spark,
      s"$root/vectors/${meta.getOrElse("vectors_snap",
        sys.error(s"buckets meta at $bucketsDir lacks vectors_snap"))}",
      vectorsSchema)

    val qKeys = queries.select(col("query_id"),
        posexplode(LshPlanes.keysCol(col("embedding"), planes)).as(Seq("tbl", "bkey")))
      .select(col("query_id"),
        concat(col("tbl").cast("string"), lit(":"), col("bkey")).as("tb"))
    val qVecs = Similarity.prepared(
        queries.select(col("query_id").as("vec_id"), col("embedding")))
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"))

    val cand = broadcast(qKeys)
      .join(corpusBuckets, Seq("tb"))
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("cand_id")).distinct()
    TopK.rank(cand
      .join(vectors.toDF("cand_id", "cv", "cn"), "cand_id")
      .join(broadcast(qVecs), "query_id")
      .select(col("query_id"), col("cand_id"),
        TopK.cosine(col("qv"), col("qn"), col("cv"), col("cn")).as("cosine")), k, "cosine")
  }
}
