package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.VectorOps

/** Deterministic random-hyperplane LSH configuration shared by the
  * Spark operators and the DuckDB oracle-SQL generator.
  *
  * Hyperplane coordinates are small INTEGERS from a fixed LCG, inlined
  * as literals on both engines: integer literals parse identically
  * everywhere (no decimal→binary rounding concerns), and
  * `double * int` promotes exactly, so the sign of each projection —
  * and therefore every bucket key — is bit-identical across engines.
  */
object LshPlanes {
  val numTables = 4
  val bitsPerTable = 5
  val dims = 64

  /** Deterministic plane set of any shape (same LCG family; `seed`
    * decorrelates table sets built for different operators). */
  def planesFor(tables: Int, bits: Int, seed: Long = 42L): Seq[Seq[Seq[Int]]] = {
    var x = seed
    def next(): Long = { x = (x * 1103515245L + 12345L) & 0x7fffffffL; x }
    Seq.fill(tables)(Seq.fill(bits)(Seq.fill(dims)((next() % 7L).toInt - 3)))
  }

  /** planes(table)(bit) = 64 integer coords in [-3, 3]. */
  val planes: Seq[Seq[Seq[Int]]] = planesFor(numTables, bitsPerTable)

  /** SQL for one sign bit: '1'/'0' char of sign(v · plane).
    * `base` is the engine's array index base (Spark 0, DuckDB 1). */
  def bitSql(vecCol: String, plane: Seq[Int], base: Int): String = {
    val dot = plane.zipWithIndex
      .map { case (w, i) => s"CAST($vecCol[${i + base}] AS DOUBLE) * ($w)" }
      .mkString(" + ")
    s"CASE WHEN $dot >= 0 THEN '1' ELSE '0' END"
  }

  /** SQL for one table's bucket key: the concatenated bit chars. */
  def keySql(vecCol: String, table: Int, base: Int, concatFn: Seq[String] => String): String =
    concatFn(planes(table).map(p => bitSql(vecCol, p, base)))

  /** Spark Column form of one table's bucket key: plane = a foldable
    * literal array, projected with the native dot expression. Same
    * left-fold arithmetic as [[keySql]]'s inline sum (bit-identical
    * signs), but codegen is a tiny loop instead of a 1280-term
    * expression tree — the giant tree made janino compilation, not
    * data, the dominant cost of ss_topk_lsh. */
  def keyCol(v: org.apache.spark.sql.Column, table: Int): org.apache.spark.sql.Column =
    keyColOf(v, planes(table))

  /** [[keyCol]] over an explicit plane set (for operators that need a
    * different (tables × bits) recall point than the shared default). */
  def keyColOf(v: org.apache.spark.sql.Column, tablePlanes: Seq[Seq[Int]]): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    import graft.functions.VectorOps
    concat(tablePlanes.map { p =>
      when(VectorOps.dot(v, typedLit(p.map(_.toDouble))) >= 0, "1").otherwise("0")
    }: _*)
  }

  /** ALL tables' bucket keys as ONE native expression over the RAW
    * embedding column: array<string>, index = table (posexplode gives
    * (tbl, bkey) pairs directly). Value-identical to per-table
    * [[keyColOf]] over `VectorOps.toDouble(emb)` (HyperplaneKeysSpec),
    * but the planes ride as instance data instead of tables × bits
    * inlined literal arrays — the literal form's generated source is
    * plan-unique, so EVERY fresh DataFrame paid seconds of janino
    * compilation (the dominant cost of the LSH queries; see
    * HyperplaneKeysExpr). */
  def keysCol(emb: org.apache.spark.sql.Column,
      tablePlanes: Seq[Seq[Seq[Int]]]): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.GraftSqlBridge
    GraftSqlBridge.column(graft.functions.HyperplaneKeysExpr(
      GraftSqlBridge.expression(emb), tablePlanes))
  }

  def sparkConcat(parts: Seq[String]): String = parts.mkString("concat(", ", ", ")")
  def duckConcat(parts: Seq[String]): String = parts.mkString("(", " || ", ")")
}

/** Similarity search over an embedding column (`array<float>`).
  *
  * Scale design:
  *  - [[cosinePairs]] / [[topkBrute]] are the exact baselines: a
  *    nested-loop join where the bounded side (the query set) is
  *    broadcast, so the big side streams through executors exactly
  *    once with no shuffle. Cost is O(|queries| · n) — correct tool
  *    when the query set is small or as the verification oracle.
  *  - [[topkLsh]] is the scale path: per-vector bucket keys from
  *    `numTables` independent random-hyperplane tables (a narrow,
  *    codegen'd projection), then an equi-join on (table, bucket) —
  *    only bucket-mates are scored. At 100 TB this turns the O(n·m)
  *    scan into a shuffle on bucket keys with bounded fan-out;
  *    recall is tuned by (tables × bits), not rewritten code.
  *
  * Every cosine is [[TopK.cosine]], and every top-k here ranks with
  * [[TopK]]: the operators below differ only in where candidates come
  * from (every vector, the query's label, shared LSH buckets, int8
  * codes instead of vectors).
  */
object Similarity {

  /** vec_id, embedding, v = exact double cast, nrm = L2 norm. */
  def prepared(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"), col("embedding"))
      .withColumn("v", VectorOps.toDouble(col("embedding")))
      .withColumn("nrm", VectorOps.norm(col("v")))

  /** Embedding-cosine near-duplicate pairs: all (a < b) pairs with
    * cosine ≥ threshold. Exact brute-force baseline (the oracle form;
    * its non-equi join is a nested-loop plan — see
    * [[cosinePairsBlocked]] for the identical-result distributed form). */
  def cosinePairs(emb: DataFrame, threshold: Double): DataFrame = {
    val e = prepared(emb).select("vec_id", "v", "nrm")
    e.as("a").join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        TopK.cosine(col("a.v"), col("a.nrm"), col("b.v"), col("b.nrm")).as("cosine"))
      .filter(col("cosine") >= threshold)
      .orderBy("vec_a", "vec_b")
  }

  /** EXACT all-pairs cosine ≥ threshold with NO cartesian/nested-loop
    * node: the block-pair equi-join ("1-bucket-theta", Okcan &
    * Riedewald SIGMOD'11). Vectors hash to `blocks` groups; the
    * B·(B+1)/2 group pairs form a tiny broadcast relation; each
    * unordered vector pair materializes under exactly ONE block-pair
    * key, so a shuffled equi-join on that key partitions the O(n²)
    * comparison work evenly across the cluster with per-task memory
    * n/B rows instead of a driver-fed nested loop.
    *
    * Why not candidate pruning here: measured on the testdata
    * embeddings, qualifying pairs sit just above the 0.3 threshold
    * (median cosine 0.33) in a near-isotropic cloud — hyperplane-LSH
    * at that operating point needs ~58 tables for full recall and
    * emits MORE candidate pairs than brute force, and IVF-cell
    * triangle-inequality blocking (θ(c₁,c₂) ≤ θ_t + r₁ + r₂) prunes
    * nothing because cell radii (~82°) exceed the threshold angle.
    * When the semantics require EVERY pair at a low threshold, the
    * honest scale answer is balanced work distribution, not lossy
    * pruning; for the high-threshold near-dup regime use
    * [[cosinePairsLsh]]. */
  def cosinePairsBlocked(emb: DataFrame, threshold: Double, blocks: Int = 16): DataFrame =
    cosinePairsBlockedRaw(emb, threshold, blocks).orderBy("vec_a", "vec_b")

  /** [[cosinePairsBlocked]] without the presentation sort — the core
    * consumed by aggregating callers ([[cosineHistogram]]). */
  private[graft] def cosinePairsBlockedRaw(emb: DataFrame, threshold: Double,
      blocks: Int = 16): DataFrame =
    // the exact ≥ threshold pair set is near-dup-rate-sized (tiny next
    // to the n²/B comparison that produces it) and consumed by several
    // report rows over one snapshot (histogram, coverage contract,
    // semantic-pair rollups) — share the result so the block-pair
    // comparison runs once per (corpus, threshold) per pass
    OpCaches.shared("sim.blockedPairs")(
      cosinePairsBlockedPrepared(prepared(emb), threshold, blocks))

  /** The block-pair join over an ALREADY-[[prepared]] frame — lets
    * [[cosinePairsLsh]]'s dispatch fall through to the exact path on
    * its cached prep without re-preparing (and re-scanning) the corpus. */
  private[graft] def cosinePairsBlockedPrepared(prep: DataFrame, threshold: Double,
      blocks: Int = 16): DataFrame = {
    val spark = prep.sparkSession
    import spark.implicits._
    val e = prep.select("vec_id", "v", "nrm")
      .withColumn("g", pmod(col("vec_id"), lit(blocks)).cast("int"))
    val blockPairs = (for { i <- 0 until blocks; j <- i until blocks }
      yield (i, j, i * blocks + j)).toDF("gi", "gj", "pid")
    val left = e.join(broadcast(blockPairs), col("g") === col("gi"))
      .select(col("pid"), col("gi"), col("gj"),
        col("vec_id").as("ida"), col("v").as("va"), col("nrm").as("na"))
    val right = e.join(broadcast(blockPairs.select("gj", "pid")), col("g") === col("gj"))
      .select(col("pid"), col("vec_id").as("idb"), col("v").as("vb"), col("nrm").as("nb"))
    left.join(right, Seq("pid"))
      // same-block pairs need the usual a<b halving; cross-block pairs
      // appear exactly once already and only need id normalization
      .filter(col("gi") =!= col("gj") || col("ida") < col("idb"))
      .select(
        least(col("ida"), col("idb")).as("vec_a"),
        greatest(col("ida"), col("idb")).as("vec_b"),
        TopK.cosine(col("va"), col("na"), col("vb"), col("nb")).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** Threshold-sweep histogram: exact pair counts per cosine band of
    * width `step` starting at `lo` — the one-pass answer to "where
    * should the near-dup cutoff sit for THIS corpus". Running the
    * full pair operator once per candidate threshold re-pays the n²/B
    * comparison each time; the histogram pays it once and reads every
    * operating point off the cumulative counts.
    *
    * Band edges: band i covers [lo + i·step, lo + (i+1)·step), the
    * final band is clamped to close at 1 (cosine can exceed 1 only by
    * float round-off). floor of the same IEEE doubles bands each pair
    * identically cross-engine. Scale shape: the pair stream comes from
    * the balanced block-pair join ([[cosinePairsBlockedRaw]] — no
    * cartesian node), and the histogram itself is a |bands|-key hash
    * aggregate with map-side combine: nothing materializes the pair
    * set. */
  def cosineHistogram(emb: DataFrame, lo: Double = 0.3, step: Double = 0.05,
      blocks: Int = 16): DataFrame = {
    // -1e-9: guard FP quotients one ulp above the true integer (see
    // Dedup.jaccardHistogram) — a naive ceil would mint a spurious
    // band above 1.0 for some (lo, step)
    val nBands = math.ceil((1.0 - lo) / step - 1e-9).toInt
    val band = least(floor((col("cosine") - lo) / step).cast("int"), lit(nBands - 1))
    cosinePairsBlockedRaw(emb, threshold = lo, blocks)
      .select(band.as("band"))
      .groupBy("band").agg(count(lit(1)).as("n_pairs"))
      .select(col("band"),
        (lit(lo) + col("band").cast("double") * step).as("band_lo"),
        (lit(lo) + (col("band") + 1).cast("double") * step).as("band_hi"),
        col("n_pairs"))
      .orderBy("band")
  }

  /** Candidate-based near-dup pairs for the HIGH-threshold regime
    * (semantic dedup at cosine ≥ ~0.8): hyperplane-LSH buckets
    * generate candidates via equi-join, exact cosine re-ranks only
    * bucket-mates. Sub-quadratic when near-dups are genuinely rare and
    * similar — the production operating point. Recall is set by
    * (tables × bits): at cosine 0.9, p_bit = 1 − θ/π ≈ 0.8565, so one
    * 5-bit table collides with p ≈ 0.46 and the default 16 tables miss
    * a pair with p ≈ 0.54¹⁶ ≈ 5·10⁻⁵. Each additional 8 tables
    * multiplies the miss rate by ≈ 0.007 (32 tables ≈ 3·10⁻⁹) — size
    * `tables` to the corpus's pair count and loss tolerance. */
  /** The decade guard's PARAMETER DERIVATION as a pure function of
    * (corpus size, operating point), so the behavior at data scales no
    * testbed reaches (bits saturating at 24 ≈ 10⁹ vectors at load 64,
    * the recall-dispatch frontier) is spec-pinned as math rather than
    * left to a run nothing can afford. Returns None when LSH is
    * outside its sub-quadratic domain at this (n, threshold) — the
    * caller must dispatch to the balanced exact join — else
    * Some((bitsEff, tablesEff)).
    *
    * Derivation (see the in-body commentary of [[cosinePairsLsh]] for
    * the measured history): bits auto-scale as ceil(log2(n / load))
    * so expected per-table bucket load stays ~[[LshLoadTarget]]
    * (buckets grow WITH the corpus; expected candidates collapse from
    * Θ((T/2^bits)·n²) to Θ(T·n·load)); bits are capped at 24 — past
    * ~10⁹ vectors per partition-set the bucket count stops growing
    * and candidate volume resumes quadratic growth per decade, which
    * is the documented ceiling for ONE LSH domain (shard the corpus
    * above it); tables re-target ≥95% recall AT THE CALLER'S
    * THRESHOLD: per-bit collision p₁ = 1 − θ/π, miss ≤ e^(−T·p₁^bits)
    * ≤ e⁻³ at T = 3/p₁^bits. When that T exceeds [[LshTablesMax]] the
    * threshold is too low for sub-quadratic LSH at this n → None.
    * Small corpora (bitsEff == bits) keep the caller's exact
    * parameters — byte-identical to the pre-guard behavior. */
  private[graft] def lshParams(n: Long, threshold: Double,
      tables: Int, bits: Int,
      loadTarget: Double = LshLoadTarget): Option[(Int, Int)] = {
    val bitsEff = math.min(24, math.max(bits,
      math.ceil(math.log(n.toDouble / loadTarget) / math.log(2)).toInt))
    val p1 = 1.0 - math.acos(math.max(-1.0, math.min(1.0, threshold))) / math.Pi
    val tablesNeeded = 3.0 / math.pow(p1, bitsEff)
    if (bitsEff > bits && tablesNeeded > LshTablesMax) None
    else Some((bitsEff,
      if (bitsEff == bits) tables
      else math.max(tables, math.ceil(tablesNeeded).toInt)))
  }

  def cosinePairsLsh(emb: DataFrame, threshold: Double,
      tables: Int = 16, bits: Int = 5): DataFrame = {
    // COST GUARD — the sf1 gate's catch (r7): a RANDOM pair collides
    // in an expected tables/2^bits tables (uncorrelated vectors hit
    // each hyperplane bit with p = 1/2; correlated data only collides
    // MORE), so when that ratio reaches 1 the LSH candidate multiset
    // is at least one row per unordered pair — brute force wearing a
    // 64-table costume, except each candidate also drags two vector
    // payloads through a shuffle. At sf1 (20k vectors, 64 tables ×
    // 4 bits ⇒ ratio 4) the candidate join spilled past 79 GB of disk
    // and died; the blocked-exact equi-join finishes the identical
    // pair set in seconds. The ratio is size-independent, so the
    // dispatch is static: completeness-preserving LSH below 1 (its
    // actual domain — high thresholds, many bits), balanced exact
    // work distribution at or above it. Output contract unchanged:
    // both paths emit exactly the ≥ threshold pair set.
    if (tables.toDouble / (1L << bits) >= 1.0)
      return cosinePairsBlockedRaw(emb, threshold).orderBy("vec_a", "vec_b")
    // DECADE GUARD (r8, caught by the sf10 sweep): a ratio < 1 keeps
    // LSH out of brute-force costume but the candidate multiset is
    // still Θ((tables/2^bits)·n²) — a SIZE-INDEPENDENT fraction of all
    // pairs. At the defaults (16/2⁵ = 0.5) that was 10⁸ candidates at
    // 20k vectors (fine) and 10¹⁰ at 200k (the join never finished).
    // Fixed bits are the defect: 5 bits = 32 buckets per table no
    // matter the corpus. Auto-scale bits with n to hold the expected
    // per-table bucket load at ~LshLoadTarget random vectors — buckets
    // then grow WITH the corpus and expected candidates collapse to
    // Θ(tables · n · load), linear in n. More bits thin each table's
    // collision probability, so tables are re-sized to hold the
    // design-point recall (cosine 0.9, per-bit p = 1 − θ/π ≈ 0.8564):
    // miss = (1 − p^bits)^T ≤ e^(−T·p^bits) ≤ e⁻³ ≈ 5% at T = 3/p^bits.
    // Small corpora (n ≤ load·2^bits) are byte-identical to before —
    // the guard only engages where the fixed parameters stop scaling.
    // The extra count() is one columnar pass, amortized against a join
    // whose unguarded cost grows quadratically.
    //
    // The recall target is evaluated AT THE CALLER'S THRESHOLD, not a
    // fixed design point: per-bit collision for a pair at exactly the
    // threshold is p₁ = 1 − θ_t/π, and T tables miss such a pair with
    // (1 − p₁^bits)^T ≤ e^(−T·p₁^bits) — ≤ e⁻³ ≈ 5% at T = 3/p₁^bits.
    // A first cut of this guard targeted cosine 0.9 regardless of the
    // call and silently LOST 2/3 of the 0.45-threshold pair set at
    // sf1 — recall is a function of the operating point, never a
    // constant. When even LshTablesMax tables can't reach the target
    // (low thresholds barely separate p₁ from the random-pair 1/2, so
    // required tables explode as (1/p₁)^bits), LSH is outside its
    // sub-quadratic domain at this corpus size and the dispatch falls
    // through to the balanced exact join — the established low-
    // threshold doctrine (see cosinePairsBlocked's scaladoc), now
    // chosen from (n, threshold) instead of only the static ratio.
    // The guard's count makes plan CONSTRUCTION eager by design — the
    // dispatch (bits, tables, LSH-vs-exact) is a function of n, so it
    // cannot live inside a static plan. What must NOT happen is paying
    // the upstream scan twice (once for the count, again at execution):
    // prepare + cache FIRST, count the cache, and feed the same cached
    // frame to whichever path wins — one corpus scan total, and a
    // plan-only caller (Explain) pays one cached materialization, not
    // two cold scans.
    val prep = OpCaches.shared("sim.prepared")(prepared(emb))
    val n = prep.count()
    // empty corpus: no pairs, and the dims probe below would head() an
    // empty frame — answer with the typed empty relation
    if (n == 0L)
      return prep.select(col("vec_id").as("vec_a"), col("vec_id").as("vec_b"),
        col("nrm").as("cosine")).limit(0)
    // `graft.lsh.loadTarget` override: a PROBE knob — shrinking the
    // target load pushes bitsEff into the 24-bit saturation cap at
    // corpus sizes a single box can hold, so the post-saturation code
    // path (24-bit keys, tables at/near the cap, super-sparse buckets)
    // is executable evidence instead of spec-pinned math. Production
    // leaves it unset: LshLoadTarget is the derivation's design point.
    val loadTarget = emb.sparkSession.conf
      .getOption("graft.lsh.loadTarget").flatMap(_.toDoubleOption)
      .getOrElse(LshLoadTarget)
    val params = lshParams(n, threshold, tables, bits, loadTarget)
    if (params.isEmpty)
      return cosinePairsBlockedPrepared(prep, threshold).orderBy("vec_a", "vec_b")
    val (bitsEff, tablesEff) = params.get
    val planes = LshPlanes.planesFor(tablesEff, bitsEff, seed = 977L)
    // one native expression for all table keys (posexplode → (tbl, bkey));
    // identical keys to the per-table HOF columns, none of their
    // per-plan janino compilation (LshPlanes.keysCol).
    // Payloads ride INTO the bucket self-join (r8, second sf10 catch):
    // the previous id-only candidate stream joined the two vector
    // payloads BY ID afterwards — fine while the payload table fits a
    // broadcast, but at 200k vectors AQE flipped both joins to
    // sort-merge and the ~10⁸-row candidate stream had to be sorted
    // twice (the probe spilled the disk full). Fat bucket rows cost
    // one O(n·tables) exchange instead; candidates are then generated
    // AND cosine-filtered inside the codegen'd join partition, so no
    // per-candidate row ever reaches an exchange — only ≥-threshold
    // survivors (plus the bounded ≤tables× scoring duplication, which
    // the final distinct dedups) leave the partition.
    // EXCHANGE SIZING (r9, caught by the sf100 probe): the fat bucket
    // rows are n·tables·(8·dims + ~40 B) through ONE exchange — at 2M
    // 64-dim vectors and the 93 tables the recall target demands,
    // that is ~100 GB, and the session's default partition count
    // (cores) gave ~3 GB sort buffers per task: the shuffle died in
    // SPILL_OUT_OF_MEMORY. Volume is the design's honest price (the
    // id-only alternative re-sorts a 10⁸-row candidate stream instead
    // — the r8 sf10 death); the fix is to SHARD it: explicitly hash-
    // partition both join inputs on (tbl, bkey) into
    // ceil(volume / 128 MB) partitions, so per-task sort state stays
    // bounded no matter the corpus. Both sides share the partitioning,
    // so the join adds no further exchange; explicit repartition
    // counts are exempt from AQE coalescing.
    val dims = prep.select(size(col("v"))).head().getInt(0)
    val rowBytes = 8L * dims + 40L
    val defaultParts = prep.sparkSession.sessionState.conf.numShufflePartitions

    // One table-group's bucket self-join: fat rows hash-partitioned on
    // (tbl, bkey) into ceil(volume / 128 MB) partitions so per-task
    // sort state stays bounded (at the session default the sf100
    // reduce side died in SPILL_OUT_OF_MEMORY at ~3 GB/task), and the
    // corpus pre-spread across the same partition count BEFORE the
    // posexplode so the ~tables× blow-up happens in many small map
    // tasks, not cores-many huge ones (the shuffle-WRITE side of the
    // same sf100 failure). Both join inputs share one partitioning —
    // the join adds no further exchange, and explicit repartition
    // counts are exempt from AQE coalescing.
    def bucketPairs(tablePlanes: Seq[Seq[Seq[Int]]]): DataFrame = {
      val exchangeParts = math.max(defaultParts,
        math.min(4096L, n * tablePlanes.length * rowBytes / (128L << 20)).toInt)
      val spread =
        if (exchangeParts > defaultParts) prep.repartition(exchangeParts) else prep
      val bk = spread.select(col("vec_id"), col("v"), col("nrm"),
          posexplode(LshPlanes.keysCol(col("embedding"), tablePlanes)).as(Seq("tbl", "bkey")))
        .repartition(exchangeParts, col("tbl"), col("bkey"))
      bk.select(col("tbl"), col("bkey"), col("vec_id").as("ida"),
          col("v").as("va"), col("nrm").as("na"))
        .join(bk.select(col("tbl"), col("bkey"), col("vec_id").as("idb"),
          col("v").as("vb"), col("nrm").as("nb")), Seq("tbl", "bkey"))
        .filter(col("ida") < col("idb"))
        .select(col("ida").as("vec_a"), col("idb").as("vec_b"),
          TopK.cosine(col("va"), col("na"), col("vb"), col("nb")).as("cosine"))
        .filter(col("cosine") >= threshold)
    }

    // SCRATCH BUDGET (r9, the sf100 probe's second catch): the fat-row
    // exchange's TOTAL volume is n·tables·rowBytes — partitioning
    // bounds per-task memory but every byte still lands on shuffle
    // scratch at once, and at 2M vectors × 93 tables (~100 GB) it
    // overran this machine's 71 GB of free disk (ENOSPC mid-stage).
    // When the estimated volume exceeds the budget (the one scratch
    // group budget, [[ScratchGuard.vocabBudget]]), the tables are
    // processed in SEQUENTIAL groups ([[ScratchGuard.union]]): each
    // group is a full bucket join over a slice of the tables, its
    // (tiny) ≥-threshold survivors are materialized via
    // localCheckpoint, and the group's shuffle files are reclaimed
    // before the next group starts —
    // peak scratch is one group's volume, wall cost is the same total
    // IO serialized. Recall is unchanged: a pair survives iff it
    // collides in ANY table, and union-over-groups ∪ distinct computes
    // exactly that disjunction (the final distinct already existed to
    // dedup multi-table collisions within one pass).
    val budget = ScratchGuard.vocabBudget(prep.sparkSession)
    val groups = math.max(1L,
      math.min(tablesEff.toLong, (n * tablesEff * rowBytes + budget - 1) / budget)).toInt
    val survivors =
      if (groups == 1) bucketPairs(planes)
      else {
        // a group is a slice of the tables, not of a key domain
        val slices = planes.grouped(math.ceil(tablesEff.toDouble / groups).toInt).toSeq
        ScratchGuard.union(prep.sparkSession, slices.length)(grp => bucketPairs(slices(grp.g)))
      }
    survivors.distinct().orderBy("vec_a", "vec_b")
  }

  /** SemDeDup-style cell-blocked semantic near-dup pairs: k-means
    * cells (the deterministic IVF trainer) are the BLOCKING key — a
    * vector is compared only against its own cell, so the all-pairs
    * n² collapses to Σ n_c² ≈ n²/k with the per-cell work an ordinary
    * shuffled equi-join on the cell id. This is the published SemDeDup
    * recipe (Abbas et al. 2023: k-means the embeddings, dedup within
    * clusters) and the third point on the semantic-dedup cost/recall
    * curve: exact blocked ([[cosinePairsBlocked]], every pair, O(n²)
    * work) → cell-blocked (this, O(n²/k), misses cross-cell pairs by
    * DESIGN) → LSH ([[cosinePairsLsh]], sub-quadratic, high-threshold
    * regime only). Coverage vs the exact pair set is pinned by the
    * dd_semantic_coverage contract row.
    *
    * Each vector has exactly ONE cell (argmin distance), so a pair can
    * join at most once — no dedup pass needed. */
  def semanticPairsCells(emb: DataFrame, threshold: Double,
      nCentroids: Int = 16, iters: Int = 2): DataFrame = {
    val prep = OpCaches.shared("sim.prep3")(
      prepared(emb).select("vec_id", "v", "nrm"))
    val cents = Ivf.trainOnPrepared(prep.select("vec_id", "v"), nCentroids, iters)
    val e = prep.withColumn("cell", Ivf.assign(cents))
    val a = e.select(col("cell"), col("vec_id").as("vec_a"),
      col("v").as("va"), col("nrm").as("na"))
    val b = e.select(col("cell"), col("vec_id").as("vec_b"),
      col("v").as("vb"), col("nrm").as("nb"))
    a.join(b, Seq("cell"))
      .filter(col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        TopK.cosine(col("va"), col("na"), col("vb"), col("nb")).as("cosine"))
      .filter(col("cosine") >= threshold)
      .orderBy("vec_a", "vec_b")
  }

  /** Embedding-quality outlier scoring: cosine of each vector to its
    * LABEL's centroid direction (SemDeDup/CLIP-filtering style — far-
    * from-centroid vectors are mislabeled or noise candidates).
    *
    * The centroid is the per-dimension SUM of `round(v_i · 1000)`
    * INTEGERS, not a float mean: cosine is scale-invariant, so the
    * un-divided sum IS the centroid direction, and integer summation
    * is exact and order-independent — the distributed aggregate is
    * bit-reproducible under any partitioning and any engine, where a
    * double mean would be neither (float addition is not associative).
    * Quantization at 3 decimals moves each coordinate by ≤ 5e-4 —
    * noise-level against the outlier signal.
    *
    * Plan shape at 100 TB: ONE columnar hash aggregate (64 sum
    * columns, map-side partials — never an explode), a broadcast join
    * of the |labels|-row centroid table back onto the corpus, and a
    * codegen'd dot per row. No window, no self-join. */
  def labelCentroidCosine(emb: DataFrame, outlierBelow: Double = 0.05,
      dims: Int = 64): DataFrame = {
    val q = emb.select(col("vec_id"), col("label"),
      VectorOps.toDouble(col("embedding")).as("v"))
    val sumCols = (0 until dims).map(i =>
      sum(round(element_at(col("v"), i + 1) * 1000, 0).cast("long")).as(s"s$i"))
    val cent = q.groupBy("label").agg(sumCols.head, sumCols.tail: _*)
      .withColumn("c", array((0 until dims).map(i => col(s"s$i").cast("double")): _*))
      .select(col("label"), col("c"), VectorOps.norm(col("c")).as("cn"))
    q.join(broadcast(cent), "label")
      .select(col("vec_id"), col("label"),
        // + 0.0 canonicalizes IEEE signed zero: a cosine that ROUNDS
        // to zero from below is -0.0 in one engine's round and +0.0
        // in the other's (caught at sf0.1: one row hashed "0.0" vs
        // "-0.0"); x + 0.0 is the identity everywhere except -0.0.
        // The oracle applies the same normalization.
        (round(TopK.cosine(col("v"), VectorOps.norm(col("v")), col("c"), col("cn")), 6)
          + lit(0.0d)).as("cent_cos"))
      .withColumn("is_outlier", col("cent_cos") < outlierBelow)
      .orderBy("vec_id")
  }

  /** k-NN label vote: each query vector (vec_id % queryMod = 0) takes
    * the majority label of its exact top-k cosine neighbors — the
    * semantic auto-labeling / label-propagation step of a curation
    * pipeline (and, with `correct`, its leave-one-out quality check).
    * Ties break on (votes desc, label asc); the neighbor sets come
    * from [[topkBrute]]'s deterministic ranking, so the vote is
    * deterministic end to end.
    *
    * Scale shape: the expensive part IS the neighbor search, which
    * delegates to the existing top-k machinery (brute here for the
    * oracle-checkable form; swap in [[topkLsh]]/IVF for production).
    * Everything after is bounded by |queries|·k rows: the label
    * join-back broadcasts the top-k table into the corpus scan, the
    * vote aggregate and the winner window run on |queries|·|labels|
    * rows. */
  def knnLabel(emb: DataFrame, queryMod: Long = 50L, k: Int = 10): DataFrame = {
    val labels = emb.select(col("vec_id"), col("label"))
    val tk = topkBrute(emb, queryMod, k).select("query_id", "cand_id")
    val votes = labels.withColumnRenamed("vec_id", "cand_id")
      .join(broadcast(tk), Seq("cand_id"))
      .groupBy(col("query_id"), col("label"))
      .agg(count(lit(1)).as("votes"))
    val winners = votes
      .withColumn("rk", row_number().over(TopK.order("votes", "label", "query_id")))
      .filter(col("rk") === 1)
      .select(col("query_id"), col("label").as("predicted_label"), col("votes"))
    labels.select(col("vec_id").as("query_id"), col("label").as("true_label"))
      .join(broadcast(winners), Seq("query_id"))
      .select(col("query_id"), col("predicted_label"), col("votes"),
        col("true_label"),
        (col("predicted_label") === col("true_label")).as("correct"))
      .orderBy("query_id")
  }

  /** The evaluation QUERY-SET cap: queries are {vec_id % queryMod == 0
    * AND vec_id < QueryCap}, so |queries| is FIXED (≤ QueryCap/queryMod)
    * no matter how large the corpus grows. Without the cap, every
    * brute/recall-contract row is O(n·q) with q ∝ n — quadratic in
    * corpus size, and the contract rows themselves become the
    * job-killer at 100 TB. With it they are O(n·const): the corpus
    * side scales, the query side never does. 2000 = the full sf0.1
    * id range, so gate outputs at sf ≤ 0.1 are unchanged. */
  val QueryCap = 2000L

  /** Target expected per-table bucket load (random vectors per bucket)
    * for [[cosinePairsLsh]]'s data-size bits auto-scaling: effective
    * bits = ceil(log2(n / LshLoadTarget)) once n outgrows the caller's
    * fixed bits. 64 keeps expected candidates at tables·n·load/2 —
    * linear in n — while small corpora (n ≤ load·2^bits) never engage
    * the guard and keep their exact historical output. */
  val LshLoadTarget = 64.0

  /** Ceiling on auto-scaled table count in [[cosinePairsLsh]]: past
    * this, reaching the 95% recall target at the caller's threshold
    * would cost more bucket passes than the balanced exact join —
    * the dispatch falls through to [[cosinePairsBlocked]] instead of
    * silently degrading recall. */
  val LshTablesMax = 128

  /** The fixed evaluation query-set predicate (see [[QueryCap]]). */
  private[graft] def isQuery(queryMod: Long) =
    col("vec_id") % queryMod === 0 && col("vec_id") < QueryCap

  /** Brute-force cosine top-k for the fixed query set ([[isQuery]]):
    * broadcast the small query side, stream the corpus once, rank
    * with [[TopK.rank]]. */
  def topkBrute(emb: DataFrame, queryMod: Long = 50L, k: Int = 10): DataFrame = {
    val e = prepared(emb).select("vec_id", "v", "nrm")
    val q = e.filter(isQuery(queryMod))
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"))
    TopK.rank(broadcast(q).join(e, col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("cand_id"),
        TopK.cosine(col("qv"), col("qn"), col("v"), col("nrm")).as("cosine")), k, "cosine")
  }

  /** Metadata-FILTERED vector search — top-k restricted to corpus
    * vectors sharing the query's label (the "filtered ANN" shape every
    * production vector store needs: search within a tenant, language,
    * or modality). The label EQUI-join IS the filter pushdown: unlike
    * [[topkBrute]]'s reviewed non-equi broadcast, candidates outside
    * the predicate never reach the scorer, the join is a plain
    * hash/broadcast equi-join, and per-label partitions search
    * independently — at 100 TB with a selective predicate this is the
    * difference between scanning the corpus and scanning the slice. */
  def topkFiltered(emb: DataFrame, queryMod: Long = 50L, k: Int = 5): DataFrame = {
    // label projected in the SAME scan (the labelCentroidCosine shape)
    // — a prepared()+rejoin would read the corpus twice and shuffle it
    // once before any query filtering
    val e = emb.select(col("vec_id"), col("label"), col("embedding"))
      .withColumn("v", VectorOps.toDouble(col("embedding")))
      .withColumn("nrm", VectorOps.norm(col("v")))
      .select(col("vec_id"), col("label"), col("v"), col("nrm"))
    val q = e.filter(isQuery(queryMod))
      .select(col("vec_id").as("query_id"), col("label"),
        col("v").as("qv"), col("nrm").as("qn"))
    TopK.rank(broadcast(q).join(e, Seq("label"))
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("label"), col("vec_id").as("cand_id"),
        TopK.cosine(col("qv"), col("qn"), col("v"), col("nrm")).as("cosine")), k, "cosine")
  }

  /** Int8 scalar quantization of the embedding column: one symmetric
    * scale (the corpus max |coordinate|) maps every coordinate to an
    * integer code in [-127, 127], stored as `array<tinyint>` — the
    * 4-8× memory/shuffle compression that makes a 100 TB vector corpus
    * fit the cluster (the same trade FAISS's SQ8 makes). The scale
    * rides along as a column so any consumer can dequantize.
    *
    * Determinism: the scale is a MAX (order-independent, exact); code
    * = round(v/scale·127) is one IEEE division + multiply + half-up
    * round — bit-identical on any engine/partitioning. Scale shape:
    * one tiny aggregate (a single max), broadcast back over the corpus
    * scan; the quantization itself is a narrow codegen projection. */
  /** One-row (scale) frame: the corpus max |coordinate| — the shared
    * symmetric quantization scale. */
  private[operators] def quantScale(emb: DataFrame): DataFrame =
    emb.agg(max(aggregate(VectorOps.toDouble(col("embedding")), lit(0.0d),
      (acc, x) => greatest(acc, abs(x)))).as("scale"))

  /** int8 code array for a double-array column under `scale`. */
  private[operators] def quantCodes(v: Column): Column =
    quantCodes(v, col("scale"))

  /** [[quantCodes]] with an explicit scale column — for consumers that
    * carry the scale OUTSIDE the frame (the persisted quantized IVF
    * index stores it in snapshot meta and re-applies it as a literal
    * at append/probe time). SATURATING: a frozen scale can meet later
    * coordinates beyond the build-time max (appended batches, query
    * vectors), which must clamp to ±127 — standard SQ8 semantics —
    * not overflow the tinyint cast (ANSI mode throws; legacy mode
    * would silently wrap, which is worse). The in-frame overload needs
    * no clamp: its scale IS the frame's max, codes can't exceed 127. */
  private[operators] def quantCodes(v: Column, scale: Column): Column =
    transform(v, x =>
      least(greatest(round(x / scale * 127.0d, 0), lit(-127.0d)), lit(127.0d))
        .cast("tinyint"))

  def quantized(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"), VectorOps.toDouble(col("embedding")).as("v"))
      .crossJoin(broadcast(quantScale(emb)))
      .select(col("vec_id"), col("scale"), quantCodes(col("v")).as("q"))

  /** Approximate top-k over the QUANTIZED corpus: the ranking runs
    * entirely on int8 codes (integer dot products and integer-code
    * norms — exact in 64-bit arithmetic, so cross-engine
    * deterministic), never touching the full-precision vectors. This
    * is the memory-bound scan a quantized deployment actually runs;
    * its agreement with the exact ranking is pinned by the
    * ss_quantize_recall contract row (recall@5 vs [[topkBrute]]).
    *
    * Same plan shape as [[topkBrute]]: broadcast query side, one
    * corpus stream, WindowGroupLimit top-k — but the streamed side
    * carries 64 bytes/vector instead of 512. */
  def topkQuantized(emb: DataFrame, queryMod: Long = 50L, k: Int = 5): DataFrame = {
    // codes cast back to double for the native dot expr: values are
    // integers ≤ 127, products ≤ 16129, 64-term sums ≤ ~10⁶ — all
    // exactly representable, so this IS integer arithmetic
    val e = quantized(emb)
      .select(col("vec_id"), VectorOps.toDouble(col("q")).as("qv"))
      .withColumn("qn", VectorOps.norm(col("qv")))
    val q = e.filter(isQuery(queryMod))
      .select(col("vec_id").as("query_id"), col("qv").as("a"), col("qn").as("an"))
    TopK.rank(broadcast(q).join(e, col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("cand_id"),
        TopK.cosine(col("a"), col("an"), col("qv"), col("qn")).as("qcos")), k, "qcos")
  }

  /** LSH-bucketed approximate top-k: candidates = vectors sharing any
    * of the query's bucket keys; exact cosine re-rank of candidates
    * only. */
  def topkLsh(emb: DataFrame, queryMod: Long = 50L, k: Int = 5): DataFrame = {
    import LshPlanes._
    // The bucket table and normalized vectors are the reusable "LSH
    // index" artifacts: narrow (id, tbl, bkey) / (id, v, nrm) rows,
    // each consumed by 2+ plan branches — cache instead of recomputing
    // per branch (at scale these would be persisted index tables).
    val buckets = OpCaches.shared("sim.lshBuckets")(
      emb.select(col("vec_id"),
        posexplode(keysCol(col("embedding"), planes)).as(Seq("tbl", "bkey"))))
    val qb = buckets.filter(isQuery(queryMod))
      .toDF("query_id", "tbl", "bkey")
    val cand = broadcast(qb)
      .join(buckets.toDF("cand_id", "tbl", "bkey"), Seq("tbl", "bkey"))
      .filter(col("query_id") =!= col("cand_id"))
      .select("query_id", "cand_id").distinct()
    val e = OpCaches.shared("sim.prep3")(
      prepared(emb).select("vec_id", "v", "nrm"))
    TopK.rank(cand
      .join(e.toDF("query_id", "qv", "qn"), "query_id")
      .join(e.toDF("cand_id", "cv", "cn"), "cand_id")
      .select(col("query_id"), col("cand_id"),
        TopK.cosine(col("qv"), col("qn"), col("cv"), col("cn")).as("cosine")), k, "cosine")
  }
}
