package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.VectorOps

/** IVF (inverted-file) approximate nearest neighbor — the second ANN
  * family next to [[Similarity.topkLsh]]'s random-hyperplane LSH.
  *
  * Index build = k-means-lite: deterministic seeding (the nCentroids
  * lowest vec_ids), a fixed number of Lloyd iterations with
  * decimal-exact centroid averaging (double sums would make centroids
  * — and therefore cell assignments — partitioning-dependent), then an
  * inverted list per cell.
  *
  * Query = probe the nProbe nearest cells only ([[probeCells]]), exact
  * cosine re-rank of their members ([[TopK]] owns the ranking rule).
  * At 100 TB the corpus shuffles ONCE on cell id at build time (the
  * inverted lists are the persisted artifact, like the LSH bucket
  * table); each query then touches nProbe/nCentroids of the data.
  * Recall tunes with nProbe — no code change.
  *
  * Centroids ride the plan as literal arrays (they are tiny — k×dims);
  * distance-to-centroid is the native dot expression, and argmin is
  * `array_position(dists, array_min(dists))` — all codegen, no UDF.
  */
object Ivf {

  /** Squared euclidean distance to a literal centroid = |v|² − 2·v·c +
    * |c|² — only the −2·v·c term varies per centroid, so rank by
    * v·c − |c|²/2 (argmin dist ≡ argmax of that). */
  private[operators] def score(v: Column, centroid: Array[Double]): Column = {
    val c2 = centroid.map(x => x * x).sum / 2.0
    VectorOps.dot(v, typedLit(centroid.toSeq)) - lit(c2)
  }

  /** Cell id (0-based argmax of [[score]]) for each row's `v` — ONE
    * native expression over the centroid matrix
    * ([[graft.functions.NearestCentroidExpr]]). The composed form it
    * replaces ([[assignComposed]], kept as the value-identity spec
    * twin) planted `cells` independent dot sub-trees plus a boxed
    * max/position scan in one projection; past a few dozen centroids
    * the generated method outgrows codegen limits and the whole
    * projection falls back to interpreted evaluation — the r11
    * 10⁷-vector probe measured the 10M-row assignment at over an
    * hour; the matrix loop does it in seconds. */
  private[operators] def assign(centroids: Seq[Array[Double]]): Column =
    if (centroids.isEmpty) lit(null).cast("int") // empty corpus → no cells
    else org.apache.spark.sql.GraftSqlBridge.column(
      graft.functions.NearestCentroidExpr(
        org.apache.spark.sql.GraftSqlBridge.expression(col("v")),
        centroids.map(_.toSeq)))

  /** The pre-r11 composed assignment (argmax over an expression array
    * of per-centroid scores) — value-identical to [[assign]] including
    * the lowest-cell tie-break; kept for the identity spec. */
  private[operators] def assignComposed(centroids: Seq[Array[Double]]): Column =
    if (centroids.isEmpty) lit(null).cast("int")
    else {
      val scores = array(centroids.map(c => score(col("v"), c)): _*)
      (array_position(scores, array_max(scores)) - 1).cast("int")
    }

  /** Build centroids: deterministic seed + `iters` Lloyd rounds. */
  def trainCentroids(emb: DataFrame, nCentroids: Int, iters: Int = 2): Seq[Array[Double]] = {
    val prep = Similarity.prepared(emb).select(col("vec_id"), col("v")).cache()
    try trainOnPrepared(prep, nCentroids, iters)
    finally prep.unpersist() // training is eager — nothing downstream reads it
  }

  /** Training core over an already-prepared (vec_id, v) table — lets
    * [[topkIvf]] (and Similarity.semanticPairsCells) share one cached
    * preparation between training and querying instead of
    * scanning+normalizing the corpus twice.
    *
    * SAMPLED past `graft.ivf.maxTrainRows` (default 2^18, the r11
    * decade catch): Lloyd rounds cost iters full-corpus assigns plus
    * iters posexplode aggregates over rows×dims — at 10⁷ vectors ×
    * 64 dims × 64 cells the 10M-row build spent ~an hour in training
    * alone while the assignment+publish it exists for takes minutes.
    * Standard IVF practice trains on a bounded sample and assigns
    * everything; the sample here is deterministic (xxhash64(vec_id)
    * residue stride — no RNG, replayable, order-free) and the switch
    * is count-based, so corpora under the threshold — every gate
    * SF — train EXACTLY as before and the oracle rows are untouched.
    * Recall quality is covered by the ss_topk_ivf_* contract rows and
    * the AnnSoak recall floor, not by centroid identity.
    *
    * Memoized per report pass ([[OpCaches.memo]]): one k-means run
    * per (corpus plan and file versions, nCentroids, iters) per pass,
    * beside the [[OpCaches.shared]] cores it trains on (the persisted
    * index stores centroids in snapshot meta for the same train-once
    * reason). Training is deterministic (decimal-exact means, seedless
    * stride sample), so a hit is value-identical. */
  private[operators] def trainOnPrepared(e: DataFrame, nCentroids: Int,
      iters: Int): Seq[Array[Double]] =
    OpCaches.memo(s"ivf.train:$nCentroids:$iters", e)(trainUnmemoized(e, nCentroids, iters))

  private def trainUnmemoized(e: DataFrame, nCentroids: Int, iters: Int): Seq[Array[Double]] = {
    val maxTrain = e.sparkSession.conf.getOption("graft.ivf.maxTrainRows")
      .flatMap(_.toLongOption).getOrElse(1L << 18)
    val n = e.count()
    val train =
      if (n <= maxTrain) e
      else {
        val stride = (n + maxTrain - 1) / maxTrain
        e.filter(pmod(xxhash64(col("vec_id")), lit(stride)) === 0)
      }
    var centroids: Seq[Array[Double]] = train.orderBy("vec_id").limit(nCentroids)
      .collect().map(_.getSeq[Double](1).toArray).toSeq
    for (_ <- 1 to iters) {
      val assigned = train.withColumn("cell", assign(centroids))
      // decimal-exact per-dimension mean → centroids independent of
      // partition order → deterministic index
      val means = assigned
        .select(col("cell"), posexplode(col("v")).as(Seq("dim", "x")))
        .groupBy("cell", "dim")
        .agg((sum(col("x").cast("decimal(28,14)")) / count(lit(1)))
          .cast("double").as("m"))
        .groupBy("cell").agg(map_from_arrays(
          collect_list(col("dim")), collect_list(col("m"))).as("dims"))
        .collect()
      val byCell = means.map(r => r.getInt(0) -> r.getMap[Int, Double](1)).toMap
      centroids = centroids.zipWithIndex.map { case (old, i) =>
        byCell.get(i).map(m => Array.tabulate(old.length)(d => m(d))).getOrElse(old)
      }
    }
    centroids
  }

  /** Top-k by cosine for the fixed query set ([[Similarity.isQuery]]:
    * vec_id % queryMod == 0 AND vec_id < QueryCap), probing the nProbe
    * nearest cells. */
  def topkIvf(emb: DataFrame, queryMod: Long = 50L, k: Int = 5,
      nCentroids: Int = 16, nProbe: Int = 4, iters: Int = 2): DataFrame = {
    // ONE prepared (vec_id, v, nrm) table shared by training and query
    // (tracked: the returned plan still reads it — OpCaches.releaseAll()
    // is the caller's post-action cleanup)
    val prep = OpCaches.shared("sim.prep3")(
      Similarity.prepared(emb).select(col("vec_id"), col("v"), col("nrm")))
    val centroids = trainOnPrepared(prep.select("vec_id", "v"), nCentroids, iters)
    val e = prep.withColumn("cell", assign(centroids))
    val qCells = probeCells(e.filter(Similarity.isQuery(queryMod)), centroids, nProbe,
      col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"))
    // no distinct needed: assign() gives each vector exactly one
    // cell, so a (query, candidate) pair can only join once
    TopK.rank(broadcast(qCells)
      .join(e.select(col("vec_id").as("cand_id"), col("v").as("cv"),
        col("nrm").as("cn"), col("cell")), "cell")
      .filter(col("query_id") =!= col("cand_id"))
      .select(col("query_id"), col("cand_id"),
        TopK.cosine(col("qv"), col("qn"), col("cv"), col("cn")).as("cosine")), k, "cosine")
  }

  /** Each centroid's [[score]] against the row's `v`, as one array
    * indexed by cell. */
  private def cellScores(centroids: Seq[Array[Double]]): Column =
    array(centroids.map(c => score(col("v"), c)): _*)

  /** Per query row of `q` (a `query_id` and `v` among its columns), the
    * `nProbe` cells whose centroids score best against `v`, ties to the
    * lower cell: one (`keep`..., cell) row per probed cell. */
  private[operators] def probeCells(q: DataFrame, centroids: Seq[Array[Double]],
      nProbe: Int, keep: Column*): DataFrame =
    TopK.best(q.select(keep :+ posexplode(cellScores(centroids)).as(Seq("cell", "cscore")): _*),
        nProbe, "cscore", "cell", "query_id")
      .drop("cscore", "rnk")

  /** Recall-vs-nProbe curve under EXACT mathematical contracts, not
    * empirical bounds: probing more cells only ADDS candidates, so
    * per-query (and therefore mean) recall@k is non-decreasing in
    * nProbe; and at nProbe = nCentroids the candidate set is the whole
    * corpus, so the ranking — same (cosine desc, cand_id) tie-break as
    * the brute scan — is IDENTICAL to exact, recall exactly 1. Those
    * two properties hold on any data; a violated row means a bug (lost
    * cells, broken tie-break), not an unlucky corpus. This is the
    * tuning artifact an operator reads to pick nProbe for a target
    * recall, produced with ONE training pass and one brute baseline
    * shared across all probe points.
    *
    * Output is a single verdict row; the per-probe hit counts arrive
    * in ONE collected |probes|-row aggregate (plus the baseline
    * count) — same bounded driver pattern as centroid training. */
  def recallCurve(emb: DataFrame, queryMod: Long = 50L, k: Int = 5,
      nCentroids: Int = 16, probes: Seq[Int] = Seq(1, 2, 4, 8, 16),
      iters: Int = 2): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val prep = OpCaches.shared("sim.prep3")(
      Similarity.prepared(emb).select(col("vec_id"), col("v"), col("nrm")))
    val centroids = trainOnPrepared(prep.select("vec_id", "v"), nCentroids, iters)
    val e = OpCaches.shared("ivf.assigned")(prep.withColumn("cell", assign(centroids)))
    val brute = OpCaches.shared("ivf.brute")(
      Similarity.topkBrute(emb, queryMod, k).select("query_id", "cand_id"))
    val qAll = OpCaches.shared("ivf.queryCells")(
      e.filter(Similarity.isQuery(queryMod))
        .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"),
          posexplode(cellScores(centroids)).as(Seq("cell", "cscore")))
        .withColumn("prk", row_number().over(TopK.order("cscore", "cell", "query_id"))))
    // the full-probe point is always tested — without it the
    // full_probe_exact contract below would be vacuously true
    val probePts = (probes.filter(_ < nCentroids) :+ nCentroids).distinct.sorted
    // ONE candidate join at full probe, shared by every probe point: a
    // candidate survives probe p iff its cell's rank for that query
    // (prk) is ≤ p, so the probe dimension is an exploded column and
    // the per-(query, probe) top-k is a single window pass. The r6
    // form looped the join+window+two-collects per probe point
    // (~13 jobs for 6 points); this is 2 actions total.
    val scored = broadcast(qAll.select("query_id", "qv", "qn", "cell", "prk"))
      .join(e.select(col("vec_id").as("cand_id"), col("v").as("cv"),
        col("nrm").as("cn"), col("cell")), "cell")
      .filter(col("query_id") =!= col("cand_id"))
      .select(col("query_id"), col("cand_id"), col("prk"),
        TopK.cosine(col("qv"), col("qn"), col("cv"), col("cn")).as("cosine"))
      .withColumn("p", explode(array(probePts.map(lit): _*)))
      .filter(col("prk") <= col("p"))
    val annAll = TopK.best(scored, k, "cosine", "cand_id", "query_id", "p")
      .select("query_id", "cand_id", "p")
    val hitByProbe = annAll.join(brute, Seq("query_id", "cand_id"), "left_semi")
      .groupBy("p").agg(count(lit(1)).as("hits")).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val total = brute.count()
    val recalls = probePts.map(p =>
      p -> (if (total == 0) 1.0 else hitByProbe.getOrElse(p, 0L).toDouble / total))
    val monotone = recalls.map(_._2).sliding(2).forall {
      case Seq(a, b) => b >= a - 1e-12
      case _ => true
    }
    val fullExact = recalls.toMap.apply(nCentroids) == 1.0
    Seq((probePts.size.toLong, monotone, fullExact))
      .toDF("n_probes_tested", "monotone_ok", "full_probe_exact")
  }

  /** The production ANN composition: IVF cells prune the candidate set
    * (touch nProbe/nCentroids of the corpus per query), int8 codes
    * score it — FAISS's IVF+SQ8 shape. The corpus-side scan carries
    * cell id + 64 one-byte codes per vector (~70 bytes vs ~512 for
    * raw doubles): at 100 TB the inverted lists ARE the working set,
    * so the two levers compound — the coarse quantizer bounds how much
    * is read, the scalar quantizer shrinks every byte of it.
    *
    * Cell assignment uses the exact vectors (training is the cheap,
    * once-per-index step; a code-space assignment would move cell
    * boundaries); ranking runs entirely on codes. One scan builds
    * cells and codes together. Recall vs the exact scan is pinned by
    * the ss_topk_ivfq_recall contract row at the IVF bound (the int8
    * ranking loss is negligible next to cell pruning — measured by
    * ss_quantize_recall's own 0.8 bound on the same data). */
  def topkIvfQuantized(emb: DataFrame, queryMod: Long = 50L, k: Int = 5,
      nCentroids: Int = 16, nProbe: Int = 4, iters: Int = 2): DataFrame = {
    // ride the SAME "sim.prep3" core as topkIvf/recallCurve (and, since
    // the keys were unified, topkLsh and the AnnIndex build) instead of
    // a separate (vec_id, v) cache: one prepared-corpus artifact per
    // snapshot instead of two near-identical ones, and the training
    // input below is plan-identical to the plain path's — so the
    // conf-gated training memo serves both from one k-means run
    val prep3 = OpCaches.shared("sim.prep3")(
      Similarity.prepared(emb).select(col("vec_id"), col("v"), col("nrm")))
    val prep = prep3.select(col("vec_id"), col("v"))
    val centroids = trainOnPrepared(prep, nCentroids, iters)
    // one pass attaches BOTH the cell id and the int8 codes
    val e = OpCaches.shared("ivf.quantAssigned")(
      prep.crossJoin(broadcast(Similarity.quantScale(emb)))
        .withColumn("cell", assign(centroids))
        .withColumn("qv", VectorOps.toDouble(Similarity.quantCodes(col("v"))))
        .withColumn("qn", VectorOps.norm(col("qv")))
        .select(col("vec_id"), col("v"), col("cell"), col("qv"), col("qn")))

    val qCells = probeCells(e.filter(Similarity.isQuery(queryMod)), centroids, nProbe,
      col("vec_id").as("query_id"), col("qv").as("qqv"), col("qn").as("qqn"))
    TopK.rank(broadcast(qCells)
      .join(e.select(col("vec_id").as("cand_id"), col("qv").as("cqv"),
        col("qn").as("cqn"), col("cell")), "cell")
      .filter(col("query_id") =!= col("cand_id"))
      .select(col("query_id"), col("cand_id"),
        TopK.cosine(col("qqv"), col("qqn"), col("cqv"), col("cqn")).as("qcos")), k, "qcos")
  }
}
