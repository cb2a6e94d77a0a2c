package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.VectorOps

/** Semantics tests for vector ops + similarity search on tiny crafted
  * embeddings with known cosines. */
class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  // 64-dim vectors: e1 = e2 (cos 1), e3 orthogonal to both, e50 = query id.
  private def vec(hot: Int*): Array[Float] = {
    val a = Array.fill(64)(0.0f); hot.foreach(i => a(i) = 1.0f); a
  }
  private lazy val emb: DataFrame = Seq(
    (0L, vec(0, 1), 0),   // query (0 % 50 == 0)
    (1L, vec(0, 1), 0),   // identical to query
    (2L, vec(0), 0),      // cos = 1/sqrt(2) ≈ 0.7071
    (3L, vec(5, 6), 0),   // orthogonal
    (4L, vec(1, 0), 0)    // same as query again
  ).toDF("vec_id", "embedding", "label")

  test("VectorOps dot/norm/cosine basics") {
    val df = Seq((vec(0, 1), vec(0, 1))).toDF("a", "b")
      .select(
        VectorOps.dot(VectorOps.toDouble(col("a")), VectorOps.toDouble(col("b"))).as("d"),
        VectorOps.norm(VectorOps.toDouble(col("a"))).as("n"))
    val r = df.collect().head
    assert(r.getDouble(0) == 2.0)
    assert(math.abs(r.getDouble(1) - math.sqrt(2)) < 1e-12)
  }

  test("cosineHistogram bands exact pair counts, top band clamped closed") {
    // pairs among {0,1,4} have cos 1.0 → top band (13, clamped);
    // pairs of {0,1,4}×{2} have cos 1/√2 ≈ 0.7071 → band 8; {3} none ≥ 0.3
    val h = Similarity.cosineHistogram(emb, lo = 0.3, step = 0.05).collect()
      .map(r => r.getAs[Int]("band") ->
        (r.getAs[Double]("band_lo"), r.getAs[Long]("n_pairs"))).toMap
    assert(h.keySet == Set(8, 13))
    assert(h(8)._2 == 3L && h(13)._2 == 3L)
    assert(h(8)._1 == 0.3 + 8 * 0.05)
  }

  test("quantized: codes fit int8, scale is corpus max-abs, dequantization is tight") {
    // mixed magnitudes so the shared scale is exercised: 2.0 is the max
    val e = Seq(
      (1L, Array.tabulate(64)(i => if (i == 0) 2.0f else 0.5f)),
      (2L, Array.tabulate(64)(i => if (i == 1) -1.0f else 0.25f))
    ).toDF("vec_id", "embedding").withColumn("label", lit(0))
    val q = Similarity.quantized(e).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[Double]("scale"), r.getSeq[Byte](r.fieldIndex("q")))).toMap
    assert(q(1L)._1 == 2.0 && q(2L)._1 == 2.0)
    // 2.0/2.0*127 = 127; 0.5/2.0*127 = 31.75 → 32; -1.0 → -64 (half-up
    // rounds away from zero on negatives via Spark's HALF_UP)
    assert(q(1L)._2.head == 127.toByte && q(1L)._2(1) == 32.toByte)
    assert(q(2L)._2(1) == -64.toByte && q(2L)._2.head == 16.toByte)
    // every code within half-step of the exact value
    q.values.foreach { case (scale, codes) =>
      assert(codes.forall(c => c >= -127 && c <= 127))
    }
  }

  test("topkQuantized reproduces the exact ranking on separated vectors") {
    val top = Similarity.topkQuantized(emb, queryMod = 50L, k = 3).collect()
      .map(r => (r.getAs[Int]("rnk"), r.getAs[Long]("cand_id")))
    val exact = Similarity.topkBrute(emb, queryMod = 50L, k = 3).collect()
      .map(r => (r.getAs[Int]("rnk"), r.getAs[Long]("cand_id")))
    assert(top.toSeq == exact.toSeq)
  }

  test("cosinePairs finds all high-cosine pairs exactly once, a < b") {
    val pairs = Similarity.cosinePairs(emb, threshold = 0.99).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((0L, 1L), (0L, 4L), (1L, 4L)))
  }

  test("topkBrute ranks by cosine desc with cand_id tie-break, excludes self") {
    val top = Similarity.topkBrute(emb, queryMod = 50L, k = 3).collect()
    assert(top.forall(_.getAs[Long]("query_id") == 0L))
    val ranked = top.map(r => (r.getAs[Int]("rnk"), r.getAs[Long]("cand_id")))
    // cos: id1 = 1.0, id4 = 1.0 (tie → lower id first), id2 ≈ 0.707
    assert(ranked.toSeq == Seq((1, 1L), (2, 4L), (3, 2L)))
  }

  test("topkFiltered searches only the query's label slice, via an equi-join plan") {
    // mixed labels: the label-1 candidates must be invisible to the
    // label-0 query even though one is a perfect cosine match
    val mixed = Seq(
      (0L, vec(0, 1), 0), (1L, vec(0, 1), 1), // id1: cos 1.0 but label 1
      (2L, vec(0), 0), (3L, vec(5, 6), 0), (4L, vec(1, 0), 1)
    ).toDF("vec_id", "embedding", "label")
    val top = Similarity.topkFiltered(mixed, queryMod = 50L, k = 3).collect()
    assert(top.forall(_.getAs[Long]("query_id") == 0L))
    val cands = top.map(r => (r.getAs[Int]("rnk"), r.getAs[Long]("cand_id"))).toSeq
    // only label-0 candidates rank: id2 (0.707) then id3 (0.0)
    assert(cands == Seq((1, 2L), (2, 3L)))
    // and the filter is an EQUI-join: no nested-loop/cartesian node
    val plan = Similarity.topkFiltered(mixed).queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("cosinePairsBlocked == cosinePairs bit-for-bit on real testdata, no nested-loop join") {
    val real = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val brute = Similarity.cosinePairs(real, threshold = 0.3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val blocked = Similarity.cosinePairsBlocked(real, threshold = 0.3, blocks = 7).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(blocked.toSeq == brute.toSeq) // same pairs, bit-identical cosines
    val plan = Similarity.cosinePairsBlocked(real, 0.3).queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("cosinePairsLsh recovers every near-dup pair at the high-threshold operating point") {
    // clustered corpus: 20 clusters × 4 near-identical members (cosine
    // ≥ ~0.95 within cluster after a small deterministic perturbation)
    // + isotropic-ish noise vectors far below threshold
    def base(c: Int): Array[Float] = {
      val a = Array.tabulate(64)(i => (((c * 2654435761L + i * 40503L) % 1000) / 500.0f - 1.0f))
      a
    }
    val rows = for { c <- 0 until 20; m <- 0 until 4 } yield {
      val b = base(c)
      val v = b.indices.map(i => b(i) + (((c * 31 + m * 7 + i) % 5) - 2) * 0.02f).toArray
      ((c * 4 + m).toLong, v)
    }
    val df = rows.toDF("vec_id", "embedding")
    val brute = Similarity.cosinePairs(df, threshold = 0.9).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(brute.nonEmpty) // the fixture really has near-dup pairs
    val lsh = Similarity.cosinePairsLsh(df, threshold = 0.9).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh == brute) // full recall at the semantic-dedup regime
    val plan = Similarity.cosinePairsLsh(df, 0.9).queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("cosinePairsLsh cost guard: tables >= 2^bits dispatches to the exact blocked join") {
    val real = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    // 8 tables x 3 bits -> a random pair collides in an expected
    // 8/8 = 1 table: the candidate multiset is at least brute-sized,
    // so the guard must route to the blocked-exact plan
    val guarded = Similarity.cosinePairsLsh(real, threshold = 0.3, tables = 8, bits = 3)
    val plan = guarded.queryExecution.executedPlan.toString
    assert(!plan.toLowerCase.contains("posexplode"), plan) // no LSH bucket build
    val brute = Similarity.cosinePairs(real, threshold = 0.3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val got = guarded.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq == brute.toSeq) // identical exact pair set
    // and the sub-1 regime still runs the LSH bucket path
    val lshPlan = Similarity.cosinePairsLsh(real, 0.9, tables = 8, bits = 5)
      .queryExecution.executedPlan.toString
    assert(lshPlan.toLowerCase.contains("posexplode"), lshPlan)
  }

  test("cosinePairsLsh decade guard: bits auto-scale with n, recall target holds") {
    // the clustered fixture again, but padded with noise vectors past
    // n = LshLoadTarget * 2^bits so the data-size guard ENGAGES
    // (bits 2 -> effective bits 3 at n = 480). Planted pairs are
    // near-identical (cosine >= ~0.95), so the 95%-recall table sizing
    // must recover essentially all of them; precision is exact by the
    // cosine re-rank, so spurious pairs are impossible.
    def base(c: Int): Array[Float] =
      Array.tabulate(64)(i => (((c * 2654435761L + i * 40503L) % 1000) / 500.0f - 1.0f))
    val clustered = for { c <- 0 until 20; m <- 0 until 4 } yield {
      val b = base(c)
      val v = b.indices.map(i => b(i) + (((c * 31 + m * 7 + i) % 5) - 2) * 0.02f).toArray
      ((c * 4 + m).toLong, v)
    }
    val noise = (0 until 400).map { k =>
      (1000L + k, Array.tabulate(64)(i =>
        (((k * 48271L + i * 16807L) % 2000) / 1000.0f - 1.0f)))
    }
    val df = (clustered ++ noise).toDF("vec_id", "embedding")
    val brute = Similarity.cosinePairs(df, threshold = 0.9).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(brute.size >= 100) // the fixture really has a pair population
    val lsh = Similarity.cosinePairsLsh(df, threshold = 0.9, tables = 2, bits = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert((lsh -- brute).isEmpty)                      // exact precision
    assert((brute -- lsh).size <= brute.size / 20,      // >= 95% recall
      s"missed ${(brute -- lsh).size} of ${brute.size}")
    // and the bucket path really ran (not a blocked-exact fallthrough)
    val plan = Similarity.cosinePairsLsh(df, 0.9, tables = 2, bits = 2)
      .queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("posexplode"), plan)
  }

  test("cosinePairsLsh decade guard: low thresholds recall-dispatch to the exact join") {
    // 5000 vectors push effective bits to 7; at threshold 0.2 no
    // <= LshTablesMax-table scheme reaches the 95% recall target
    // (tables needed ~ 3/p1^bits ~ 165), so the dispatch must fall
    // through to the balanced exact join rather than silently lose
    // pairs — and the output must be the exact pair set.
    val df = (0 until 5000).map { k =>
      (k.toLong, Array.tabulate(8)(i =>
        (((k * 48271L + i * 16807L) % 2000) / 1000.0f - 1.0f)))
    }.toDF("vec_id", "embedding")
    val guarded = Similarity.cosinePairsLsh(df, threshold = 0.2, tables = 2, bits = 2)
    val plan = guarded.queryExecution.executedPlan.toString
    assert(!plan.toLowerCase.contains("posexplode"), plan) // no LSH bucket build
    val exact = Similarity.cosinePairsBlocked(df, threshold = 0.2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val got = guarded.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq == exact.toSeq)
  }

  // clustered fixture with real near-dup pairs for the scratch-group
  // tests. tables=6, bits=3 keeps the ratio guard OFF (6/2³ = 0.75 < 1
  // — tables=8/bits=2 would ratio-dispatch to the exact join and never
  // reach the grouped code), and the 36×6×296 B ≈ 62 KB volume against
  // an 8 KB budget forces per-table groups (a 64 KB budget would round
  // to ONE group on this corpus).
  private def scratchFixture = {
    def base(c: Int): Array[Float] =
      Array.tabulate(32)(i => (((c * 2654435761L + i * 40503L) % 1000) / 500.0f - 1.0f))
    (for { c <- 0 until 12; m <- 0 until 3 } yield {
      val b = base(c)
      val v = b.indices.map(i => b(i) + (((c * 31 + m * 7 + i) % 5) - 2) * 0.02f).toArray
      ((c * 3 + m).toLong, v)
    }).toDF("vec_id", "embedding")
  }

  test("cosinePairsLsh scratch groups: sequential table groups == one-pass pair set") {
    val df = scratchFixture
    // returns (pair set, did any locally-checkpointed RDD appear) —
    // the checkpoint probe must run BEFORE releaseAll, which since r11
    // deterministically drops the group checkpoints via trackCheckpoint
    def run(): (Set[(Long, Long)], Boolean) = {
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val r = Similarity.cosinePairsLsh(df, threshold = 0.9, tables = 6, bits = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val sawCheckpoint = (spark.sparkContext.getPersistentRDDs -- before)
        .values.exists(_.isCheckpointed)
      OpCaches.releaseAll()
      (r, sawCheckpoint)
    }
    spark.conf.set("graft.vocab.scratchBudgetBytes", Long.MaxValue.toString)
    val (onePass, _) = run()
    assert(onePass.nonEmpty)
    spark.conf.set("graft.vocab.scratchBudgetBytes", "8192")
    try {
      val (grouped, sawCheckpoint) = run()
      assert(grouped == onePass)
      // not vacuous: the grouped path really ran (group survivors are
      // locally-checkpointed RDDs, which the single-pass path never makes)
      assert(sawCheckpoint)
      // and the release hook reclaims them DETERMINISTICALLY: the r13
      // registry records checkpoint RDD IDs (pins nothing) and
      // releaseAll unpersists via getPersistentRDDs — no GC race, so
      // this asserts immediately (r12's WeakReference registry needed
      // a 15s GC-polling loop here)
      def anyCkpt() =
        spark.sparkContext.getPersistentRDDs.values.exists(_.isCheckpointed)
      assert(!anyCkpt(), "group checkpoints not reclaimed by releaseAll")
    } finally spark.conf.unset("graft.vocab.scratchBudgetBytes")
  }

  test("scratch-group crash injection: a lost group checkpoint fails loudly, never a silent pair subset") {
    // localCheckpoint truncates lineage by design — if an executor dies
    // and takes a group's checkpoint blocks with it, Spark CANNOT
    // rebuild that group's survivors behind the caller's back. The
    // acceptable outcomes are a loud failure (re-run the operator) —
    // never a quietly smaller pair set. Simulate the executor loss by
    // dropping one group's checkpoint blocks (unpersist = exactly the
    // "original RDD is unpersisted" arm of Spark's checkpoint-miss
    // error) and assert both halves: the poisoned read throws with the
    // checkpoint-loss message, and a fresh invocation rebuilds the
    // complete pair set.
    val df = scratchFixture
    spark.conf.set("graft.vocab.scratchBudgetBytes", "8192")
    try {
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val pairs = Similarity.cosinePairsLsh(df, threshold = 0.9, tables = 6, bits = 3)
      val healthy = pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(healthy.nonEmpty)
      val groupCkpts = (spark.sparkContext.getPersistentRDDs -- before)
        .values.filter(_.isCheckpointed).toSeq
      assert(groupCkpts.nonEmpty) // the grouped state machine is under test
      groupCkpts.head.unpersist(blocking = true) // the injected "executor loss"
      // a re-collect of the SAME plan would reuse the healthy run's
      // registered shuffle outputs and never touch the lost checkpoint;
      // a derived plan builds fresh shuffle dependencies and must
      // recompute from the checkpointed leaves — the executor-loss read
      val err = intercept[org.apache.spark.SparkException] {
        pairs.where(col("vec_a") >= -1).collect()
      }
      val chain = Iterator.iterate(err: Throwable)(_.getCause).takeWhile(_ != null)
        .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
      assert(chain.contains("Checkpoint block"), chain)
      // recovery path: re-invoking the operator rebuilds every group
      OpCaches.releaseAll()
      val retry = Similarity.cosinePairsLsh(df, threshold = 0.9, tables = 6, bits = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(retry == healthy)
    } finally {
      spark.conf.unset("graft.vocab.scratchBudgetBytes")
      OpCaches.releaseAll()
    }
  }

  test("lshParams pins the decade boundaries no testbed reaches (pure math)") {
    // small corpora: byte-identical to the caller's parameters
    assert(Similarity.lshParams(1000L, 0.9, tables = 16, bits = 5)
      .contains((5, 16)))
    // bits grow as ceil(log2(n/64)): one decade of data ≈ +3.3 bits
    def bitsAt(n: Long) =
      Similarity.lshParams(n, 0.9, 16, 5).map(_._1).getOrElse(-1)
    assert(bitsAt(64L << 10) == 10)
    assert(bitsAt(64L << 15) == 15)
    assert(bitsAt(64L << 20) == 20)
    // SATURATION: bits cap at 24 — beyond ~10^9 vectors (64 * 2^24)
    // the bucket domain stops growing; the cap is the documented
    // single-domain ceiling, and tables stop growing with it (recall
    // is a function of (threshold, bits) only)
    val atCap = Similarity.lshParams(64L << 24, 0.9, 16, 5).get
    val pastCap = Similarity.lshParams((64L << 24) * 100, 0.9, 16, 5).get
    assert(atCap._1 == 24 && pastCap == atCap)
    // recall re-targeting: tables = ceil(3 / p1^bits) at the caller's
    // threshold once the guard engages (p1(0.9) ≈ 0.8564)
    val p1 = 1.0 - math.acos(0.9) / math.Pi
    val (b10, t10) = Similarity.lshParams(64L << 10, 0.9, 16, 5).get
    assert(t10 == math.max(16, math.ceil(3.0 / math.pow(p1, b10)).toInt))
    // tables within budget at the design point even at the cap:
    // 3 / p1(0.9)^24 ≈ 124 <= LshTablesMax = 128 — high-threshold LSH
    // stays affordable at a billion vectors
    assert(atCap._2 <= Similarity.LshTablesMax)
    // the recall-dispatch frontier is threshold-monotone: at any fixed
    // n past the guard, low thresholds fall through (None), high ones
    // keep LSH — and the frontier moves DOWN as bits shrink
    val n = 64L << 10
    assert(Similarity.lshParams(n, 0.2, 16, 5).isEmpty)
    assert(Similarity.lshParams(n, 0.9, 16, 5).nonEmpty)
    val frontier = (20 to 95).map(_ / 100.0)
      .map(t => Similarity.lshParams(n, t, 16, 5).nonEmpty)
    assert(frontier.sliding(2).forall(w => !w.head || w.last),
      "dispatch frontier not monotone in threshold")
    // a caller-forced bits value is never shrunk (bitsEff >= bits),
    // and the caller's own (possibly oversized) tables are kept
    assert(Similarity.lshParams(100L, 0.9, 64, 12).contains((12, 64)))
    // the probe knob: a shrunk loadTarget reaches the identical
    // saturated operating point at a corpus size a single box holds —
    // what DecadeProbe's ss_embedding_lsh_sat executes. 2M vectors at
    // load 2M/6e7 computes ceil(log2(6e7)) = 26, clamped to 24, with
    // the SAME (bits, tables) as a billion vectors at the design load.
    val sat = Similarity.lshParams(2000000L, 0.9, 16, 5,
      loadTarget = 2000000L / 6e7).get
    assert(sat == atCap)
  }

  test("knnLabel: majority vote with deterministic tie-break and correctness flag") {
    // query 0 (label 0): neighbors by cosine are 1 (lbl 0), 4 (lbl 1),
    // 2 (lbl 0), 3 (lbl 2) -> k=3 votes {0:2, 1:1} -> predicts 0, correct
    val e = Seq(
      (0L, vec(0, 1), 0),
      (1L, vec(0, 1), 0),
      (2L, vec(0), 0),
      (3L, vec(5, 6), 2),
      (4L, vec(1, 0), 1)
    ).toDF("vec_id", "embedding", "label")
    val got = Similarity.knnLabel(e, queryMod = 50L, k = 3).collect()
    assert(got.length == 1)
    val r = got.head
    assert(r.getAs[Long]("query_id") == 0L)
    assert(r.getAs[Int]("predicted_label") == 0)
    assert(r.getAs[Long]("votes") == 2L)
    assert(r.getAs[Int]("true_label") == 0)
    assert(r.getAs[Boolean]("correct"))
    // vote tie (k=2: one label-0, one label-1 neighbor) -> smaller label wins
    val tied = Similarity.knnLabel(e, queryMod = 50L, k = 2).collect().head
    assert(tied.getAs[Long]("votes") == 1L)
    assert(tied.getAs[Int]("predicted_label") == 0)
  }

  test("topkLsh: identical vectors share every bucket, so exact dup is always found") {
    val top = Similarity.topkLsh(emb, queryMod = 50L, k = 3).collect()
    val cands = top.map(_.getAs[Long]("cand_id")).toSet
    assert(cands.contains(1L) && cands.contains(4L))
    // LSH returns a subset of brute-force candidates, re-ranked exactly
    val brute = Similarity.topkBrute(emb, 50L, 5).collect()
      .map(r => r.getAs[Long]("cand_id") -> r.getAs[Double]("cosine")).toMap
    top.foreach { r =>
      assert(math.abs(brute(r.getAs[Long]("cand_id")) - r.getAs[Double]("cosine")) < 1e-12)
    }
  }
}
