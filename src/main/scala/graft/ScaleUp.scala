package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic k× scale-up of a driver testdata directory — the
  * sf1-scale evidence generator (the driver ships sf up to 0.1; the
  * scale gate wants the SAME 149-query sweep at 10× that).
  *
  * WEAK-SCALING semantics, applied to every table: replica i carries
  * shifted keys and (for content tables) a disjoint token vocabulary /
  * decorrelated embedding signs, so each replica contributes its OWN dup/similarity structure and totals
  * scale linearly in k. (Plain replication would make every document
  * a 10-way near-duplicate — pair counts ×k², which measures the
  * generator's degeneracy, not the operators.)
  *
  *  - TPC-H tables: key columns shifted by a per-replica stride
  *    (orderkey/event stride 10M, entity strides 1M), FK integrity
  *    preserved because both sides of every FK shift together;
  *    nation/region are dimensions and stay fixed.
  *  - documents: every token prefixed with the replica tag (disjoint
  *    shingle spaces — no cross-replica near-dups), n_chars adjusted
  *    by the tag bytes; doc_id stride 1M, matching vec_id so the
  *    docs⋈embeddings alignment survives.
  *  - embeddings: per-replica deterministic sign pattern over
  *    coordinates (replica 0 = identity) — within-replica cosines
  *    exact, cross-replica pairs decorrelated.
  *  - events: user/event ids shifted (10 independent user
  *    populations over the same wall-clock range — k× events/day).
  *
  * Usage: runMain graft.ScaleUp [inDir] [outDir] [k]
  * Defaults: /root/testdata/sf0.1 → target/sf1 at k=10.
  */
object ScaleUp {
  def main(args: Array[String]): Unit = {
    val inDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val outDir = if (args.length > 1) args(1) else "target/sf1"
    val k = if (args.length > 2) args(2).toInt else 10
    // the embedding sign patterns (2i+1 mod P, P prime) are distinct
    // odd RESIDUES, but with only 64 coordinates the visible pattern is
    // the residue's behavior on the window (j+1)·p for j < 64 — and
    // distinct residues can share that window. Measured: P = 101 (k ≤
    // 50) and P = 211 (k ≤ 100) are collision-free over 64 dims and
    // stay BYTE-IDENTICAL to every sf1/sf10 artifact generated before;
    // P = 2003 at k = 1000 collides 112 replicas onto 40 patterns
    // (seven replicas are pure negations of replica 0) — every
    // collided replica pair is 2000 exact cross-replica duplicates,
    // ~300k artifact cosine-1 pairs at sf100, the precise degeneracy
    // this generator exists to avoid (it dominated the r9 sf100
    // ss_embedding_lsh row count: 2.77M vs the ~19-per-decade organic
    // rate). Above k = 100 the signs therefore come from Murmur3
    // hash(replica, coordinate): per-replica patterns are 64
    // independent bits, so a pattern collision among k replicas has
    // probability ~k²/2⁶⁴ — gone for any realizable k, at the cost of
    // regenerating the sf100 artifact once.
    // Id strides are 1M, so the INPUT's ids must stay under 1M — scale
    // from the base testdata, never from an already-scaled output
    // (whose ids reach k·1M and would collide across replicas).
    // 20000 (100M docs) is the r13 sf2000 decade; ids reach k·10^6 ≪
    // Long.Max, token tags stay disjoint, and parts() caps at 4096 —
    // the bound is a sanity guard, raise it decade by decade
    require(k >= 1 && k <= 20000, s"k must be in [1, 20000], got $k")
    val P = if (k <= 50) 101 else 211
    // physical-path switchover (union vs cross join) — env-overridable
    // so the value-identity of the two paths is spec-testable at tiny k
    val unionMax = sys.env.get("GRAFT_SCALEUP_UNION_MAX")
      .flatMap(_.toIntOption).getOrElse(100)
    val spark = GraftSession.local("graft-scaleup")

    def in(name: String): DataFrame = spark.read.parquet(s"$inDir/$name.parquet")
    // optional comma-separated table allowlist: a docs-only decade
    // probe need not pay for (or store) a 12 GB lineitem
    val onlyTables = sys.env.get("GRAFT_SCALEUP_TABLES")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    /** Enforce the ids-under-stride precondition LOUDLY: an input that
      * is itself a scaled output carries ids up to k·stride, and the
      * per-replica shifts would silently collide — producing exactly
      * the mirror-duplicate degeneracy this generator exists to avoid.
      * One cheap max() per shifted key column, only for tables that
      * will actually be written, only when a second replica exists. */
    def requireIdsUnder(name: String, keys: (String, Long)*): Unit = {
      if (k <= 1 || !onlyTables.forall(_.contains(name))) return
      val maxes = in(name).agg(
        max(col(keys.head._1).cast("long")),
        keys.tail.map(kv => max(col(kv._1).cast("long"))): _*).head()
      keys.zipWithIndex.foreach { case ((c, stride), idx) =>
        val m = maxes.getLong(idx)
        require(m < stride,
          s"[scaleup] $name.$c max=$m >= stride $stride — input looks like an " +
            "already-scaled output; scale from the BASE testdata only")
      }
    }
    def write(name: String, df: => DataFrame): Unit = {
      if (!onlyTables.forall(_.contains(name))) return
      df.write.mode("overwrite").parquet(s"$outDir/$name.parquet")
      println(s"[scaleup] $name: ${spark.read.parquet(s"$outDir/$name.parquet").count()} rows")
    }
    /** Per-replica transforms of `base`, expressed once per table as a
      * function of a replica COLUMN. Two physical strategies, same
      * values (the probes self-verify row counts; the sf1 gate rides
      * the union path):
      *  - small k (≤ unionMax): a union of k per-replica branches with
      *    `rep` a literal — the historical plan shape the sf1/sf10
      *    artifacts came from — repartitioned to `parts` for file
      *    sizing;
      *  - large k: one cross join with range(k) — a 10000-branch union
      *    quadratic-blows analysis time, while the cross join is a
      *    broadcast row-multiplier whose plan size is constant in k.
      *    The RANGE side drives (pre-split into `parts` partitions)
      *    and the base table is broadcast: driving from the base —
      *    one parquet file, ONE partition — executed the whole k×
      *    transform in a single task (caught at k=10000: 50M tagged
      *    docs crawled one core for 10+ minutes before this rewrite),
      *    and a post-transform repartition would re-shuffle the full
      *    fat output. Range-driven, the per-row work parallelizes
      *    across `parts` tasks and the output needs no further
      *    exchange.
      * Every transform guards with `when(rep === 0, base)` so replica
      * 0 stays the untouched base either way. */
    def times(base: DataFrame, parts: Int)(
        one: (DataFrame, Column) => DataFrame): DataFrame =
      if (k <= unionMax)
        (0 until k).map(i => one(base, lit(i))).reduce(_ unionByName _)
          .repartition(parts)
      else
        one(spark.range(0L, k.toLong, 1L, parts)
            .select(col("id").cast("int").as("graft_rep"))
            .crossJoin(broadcast(base)),
          col("graft_rep")).drop("graft_rep")
    /** Partition count for the written table: the per-decade counts
      * were hand-sized for k ≤ 1000; past that, scale them with k so
      * files stay ~100 MB. */
    def parts(p: Int): Int =
      if (k <= 1000) p else math.min(4096, math.max(p, p * (k / 1000)))

    val E = 1000000L   // entity stride (cust/part/supp/doc/vec/user)
    val O = 10000000L  // orderkey/event stride (6M lineitem rows at k=10)

    requireIdsUnder("customer", "c_custkey" -> E)
    requireIdsUnder("supplier", "s_suppkey" -> E)
    requireIdsUnder("part", "p_partkey" -> E)
    requireIdsUnder("orders", "o_orderkey" -> O, "o_custkey" -> E)
    requireIdsUnder("lineitem", "l_orderkey" -> O, "l_partkey" -> E, "l_suppkey" -> E)
    requireIdsUnder("events", "event_id" -> O, "user_id" -> E)
    requireIdsUnder("documents", "doc_id" -> E)
    requireIdsUnder("embeddings", "vec_id" -> E)

    def shifted(rep: Column, stride: Long)(c: String): Column =
      col(c) + rep.cast("long") * lit(stride)

    // dimensions: fixed
    write("region", in("region").repartition(1))
    write("nation", in("nation").repartition(1))

    write("customer", times(in("customer"), parts(4)) { (t, rep) =>
      t.withColumn("c_custkey", shifted(rep, E)("c_custkey"))
    })
    write("supplier", times(in("supplier"), parts(1)) { (t, rep) =>
      t.withColumn("s_suppkey", shifted(rep, E)("s_suppkey"))
    })
    write("part", times(in("part"), parts(4)) { (t, rep) =>
      t.withColumn("p_partkey", shifted(rep, E)("p_partkey"))
    })
    write("orders", times(in("orders"), parts(8)) { (t, rep) =>
      t.withColumn("o_orderkey", shifted(rep, O)("o_orderkey"))
        .withColumn("o_custkey", shifted(rep, E)("o_custkey"))
    })
    write("lineitem", times(in("lineitem"), parts(32)) { (t, rep) =>
      t.withColumn("l_orderkey", shifted(rep, O)("l_orderkey"))
        .withColumn("l_partkey", shifted(rep, E)("l_partkey"))
        .withColumn("l_suppkey", shifted(rep, E)("l_suppkey"))
    })
    write("events", times(in("events"), parts(16)) { (t, rep) =>
      t.withColumn("event_id", shifted(rep, O)("event_id"))
        .withColumn("user_id", shifted(rep, E)("user_id"))
    })
    write("documents", times(in("documents"), parts(8)) { (t, rep) =>
      // disjoint vocabulary per replica: every token tagged, so no
      // shingle ever matches across replicas
      val tag = concat(lit("r"), rep.cast("string"), lit("_"))
      t.withColumn("doc_id", shifted(rep, E)("doc_id"))
        .withColumn("n_chars", when(rep === 0, col("n_chars")).otherwise(
          col("n_chars") +
            size(split(col("text"), " ")).cast("long") * length(tag).cast("long")))
        .withColumn("text", when(rep === 0, col("text")).otherwise(
          array_join(transform(split(col("text"), " "),
            tk => concat(tag, tk)), " ")))
    })
    write("embeddings", times(in("embeddings"), parts(4)) { (t, rep) =>
      // per-replica sign decorrelation (see the P note above): residue
      // patterns for k ≤ 100 (byte-compat with the sf1/sf10 artifacts,
      // measured collision-free over 64 dims), Murmur3 hash(rep, j)
      // signs above (residues collide past P's 64-dim window — the
      // r9 sf100 mirror-duplicate degeneracy)
      val signed =
        if (k <= 100)
          transform(col("embedding"), (x, jj) =>
            when(pmod((jj + lit(1)) * pmod(rep * 2 + 1, lit(P)), lit(P)) < lit(P / 2),
              -x).otherwise(x))
        else
          transform(col("embedding"), (x, jj) =>
            when(pmod(hash(rep, jj), lit(2)) === 0, -x).otherwise(x))
      t.withColumn("vec_id", shifted(rep, E)("vec_id"))
        .withColumn("embedding", when(rep === 0, col("embedding")).otherwise(signed))
    })

    spark.stop()
  }
}
