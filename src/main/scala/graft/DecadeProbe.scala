package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Decade sweep over MATERIALIZED scale-up directories (sf1 → sf10 =
  * 10× → 100× the driver's largest shipped SF): times the most
  * scale-sensitive operators on each dir and prints one JSON line per
  * (op, dir), so each new data decade is probed for the failure class
  * the previous one surfaced (sf1 caught the dead-shuffle-file pileup
  * and the LSH collision-domain blowup — both invisible at sf0.1).
  *
  * It reads the [[ScaleUp]] parquet output (not in-memory synthetic
  * multiples), so the parquet scan path, partition sizing, and AQE
  * stage statistics are the real ones for that data size.
  *
  * Op selection = the round-7 verdict's "most scale-sensitive" list:
  * the capped dedup family (one-scan bootstrap AND the
  * persisted-index probe shape), the LSH embedding join at its
  * cost-guard boundary, perceptual-hash pairs, near-dup clustering
  * end-to-end, the streaming-dedup batch core, plus the inverted-index
  * flagships whose curves must stay linear.
  *
  * Usage: runMain graft.DecadeProbe <dir1> [dir2 ...]
  *
  * Near 10^9 distinct vocabulary keys the aggregates want more shuffle
  * partitions than threads (the r9 sweep measured them spill-bound at
  * 32 partitions near 10^8 keys; 128 fixed it — the 2-3x-cores
  * deployment rule): `SPARK_GRAFT_CONF=spark.sql.shuffle.partitions=128`.
  * The same variable forces the scratch-group dispatch or the
  * group-count ceiling, e.g.
  * `graft.vocab.scratchBudgetBytes=2000000,graft.vocab.maxGroups=64`.
  */
object DecadeProbe {
  def main(args: Array[String]): Unit = {
    val dirs = if (args.nonEmpty) args.toSeq else Seq("target/sf1", "target/sf10")
    val spark = GraftSession.local("graft-decade-probe")

    // warm-up
    spark.range(1000000L).selectExpr("sum(id)").collect()

    dirs.foreach { dir =>
      val docs = spark.read.parquet(s"$dir/documents.parquet")
        .select("doc_id", "text", "source")
      val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      val nDocs = docs.count()

      // optional comma-separated op allowlist for targeted re-measures
      val only = sys.env.get("GRAFT_PROBE_OPS")
        .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
      // DISK-PEAK sampler: the scratch-grouped operators' whole point
      // is a bounded disk high-water; record it IN the artifact (the
      // r11 85% peak was hand-sampled from df). One daemon thread, 2 s
      // cadence, per-op max of the root filesystem's used fraction.
      // Generation-tagged: peak and generation pack into one long
      // (gen << 32 | pct), and the sampler re-reads the generation
      // AFTER reading the disk — a sample read during op N must not
      // CAS into op N+1's freshly-reset window (the sampler could
      // otherwise read df during the old op, lose the race with measure()'s
      // reset, and attribute the old op's high-water to the new op).
      // Sub-2s peaks still slip the sampler entirely — the field is a
      // 2s-cadence floor, not an exact high-water.
      val opPeakPct = new java.util.concurrent.atomic.AtomicLong(0L)
      val opGen = new java.util.concurrent.atomic.AtomicLong(0L)
      // df-style Use% = used/(used+avail), NOT usable/total: this box's
      // root fs is thin-provisioned (total 252G, used+avail ≈ 97G), so
      // usable/total overstates by ~45 points and is incomparable with
      // the df figures earlier rounds hand-sampled
      def usedPct(): Long = {
        val f = new java.io.File("/")
        val used = f.getTotalSpace - f.getFreeSpace
        val denom = used + f.getUsableSpace
        if (denom <= 0) -1L else used * 100L / denom
      }
      locally {
        val t = new Thread(() => while (true) {
          val gen = opGen.get()
          val p = usedPct()
          // discard the sample if measure() flipped the generation while we
          // were reading the disk: it belongs to the previous op
          if (opGen.get() == gen) {
            val tagged = (gen << 32) | (p & 0xFFFFFFFFL)
            var cur = opPeakPct.get()
            while (((cur >>> 32) < gen || ((cur >>> 32) == gen && (cur & 0xFFFFFFFFL) < p)) &&
                !opPeakPct.compareAndSet(cur, tagged)) cur = opPeakPct.get()
          }
          Thread.sleep(2000)
        }, "disk-peak-sampler")
        t.setDaemon(true); t.start()
      }
      /** Time one op and print its JSON line: `field` is the evidence
        * `result` yields — `rows` (a count forcing the full plan) or
        * `value` (a single-row aggregate whose VALUE is the evidence,
        * e.g. a cross-decade fingerprint) — and `failed` its error value. */
      def measure(name: String, field: String, failed: String)(result: => Long): Unit = {
        if (!only.forall(_.contains(name))) return
        graft.operators.OpCaches.releaseAll()
        spark.catalog.clearCache()
        System.gc() // untimed: keep prior ops' dead shuffles out of the window
        // increment the generation BEFORE resetting the peak: a stale
        // sampler CAS (sample read under the old generation) then loses
        // against the new-generation value instead of leaking in
        val gen = opGen.incrementAndGet()
        val diskStart = usedPct()
        opPeakPct.set((gen << 32) | (diskStart & 0xFFFFFFFFL))
        val t0 = System.nanoTime()
        val v =
          try result
          catch { case e: Throwable =>
            println(s"""{"op":"$name","dir":"$dir","docs":$nDocs,""" +
              s""""sec":-1,"$field":$failed,"err":${Jsons.quote(
                Option(e.getMessage).getOrElse(e.getClass.getName).take(300))}}""")
            return
          }
        val sec = (System.nanoTime() - t0) / 1e9
        // unpack this op's generation-tagged peak; a stale generation
        // (sampler never fired inside the window) degrades to diskStart.
        // Field is a 2s-cadence sample floor, not an exact high-water.
        val peakTagged = opPeakPct.get()
        val peak =
          if ((peakTagged >>> 32) == gen) peakTagged & 0xFFFFFFFFL else diskStart
        println(f"""{"op":"$name","dir":"$dir","docs":$nDocs,"sec":$sec%.3f,"$field":$v,""" +
          s""""disk_start_pct":$diskStart,"disk_peak_pct":${math.max(peak, diskStart)}}""")
      }
      def run(name: String)(df: => DataFrame): Unit =
        measure(name, "rows", "-1")(df.queryExecution.toRdd.count())
      def runVal(name: String)(df: => DataFrame): Unit =
        measure(name, "value", "null")(df.head().getLong(0))

      import graft.operators._
      // --- capped dedup family ---
      run("dd_one_scan_capped")(Dedup.deltaPairsCappedOneScan(
        docs, isDelta = col("doc_id") % 10 === 0, n = 3, cap = 5L, threshold = 0.5))
      // pathological BOILERPLATE corpus at the same doc count: every
      // doc = a 60-token shared preamble + a 10-token unique tail, so
      // ~6/7 of all shingle instances hash to the same ~58 hot keys
      // (df = n). The hot-set aggregate must collapse them map-side
      // (algebraic count), the capped index must drop them wholesale,
      // and the surviving join must see only the unique tails — if any
      // stage materializes the hot postings, this row explodes while
      // the organic-corpus row above stays flat.
      run("dd_one_scan_boilerplate") {
        val boiler = (0 until 60).map(i => s"bp$i").mkString(" ")
        val docsB = spark.range(nDocs).select(col("id").as("doc_id"),
          concat(lit(boiler + " "), concat_ws(" ",
            expr("transform(sequence(0, 9), j -> concat('u', cast(id * 10 + j as string)))")))
            .as("text"))
        Dedup.deltaPairsCappedOneScan(docsB,
          isDelta = col("doc_id") % 10 === 0, n = 3, cap = 5L, threshold = 0.5)
      }
      // the steady-state (persisted) shape: hot set + capped corpus
      // index built once, then the delta probes it — timed END-TO-END
      // here (publish cost included) so the two shapes are comparable
      run("dd_capped_persisted") {
        val delta = docs.filter(col("doc_id") % 10 === 0)
        val corpus = docs.filter(col("doc_id") % 10 =!= 0)
        val hot = Dedup.hotShingles(docs, n = 3, cap = 5L)
        Dedup.deltaPairsCapped(delta,
          Dedup.shingleIndexCapped(corpus, 3, hot), hot, n = 3, threshold = 0.5)
      }
      run("dd_hot_shingles")(Dedup.hotShingles(docs, n = 3, cap = 5L))
      // --- inverted-index flagships (linear curves required) ---
      run("dd_minhash_lsh")(Dedup.minhashLsh(docs))
      run("dd_jaccard_pairs")(Dedup.jaccardPairs(docs))
      run("dd_dup_ngram_rate")(Dedup.dupNgramRate(docs))
      run("dd_dup_spans")(Dedup.dupSpans(docs))
      // value-stability fingerprint across decades: replica vocabularies
      // are disjoint (ScaleUp tags every token), so each doc's span
      // stats depend only on its OWN replica — the per-doc rows for ids
      // under any smaller decade's ceiling must be identical between
      // that decade's run and this one. One order-independent aggregate
      // over a fixed id window makes that comparable from the artifact
      // alone ("value" is constant across decades iff the window's
      // values are identical).
      runVal("dd_dup_spans_fpr") {
        val capDocs = sys.env.get("GRAFT_PROBE_FPR_DOCS")
          .flatMap(_.toLongOption).getOrElse(5000000L)
        Dedup.dupSpans(docs.filter(col("doc_id") < capDocs))
          .agg(sum(hash(col("doc_id"), col("n_grams"),
            col("n_dup_grams"), col("max_run")).cast("long")).as("fpr"))
      }
      run("dd_shingle_df_hist")(Dedup.shingleDfHistogram(docs))
      run("dd_clusters_e2e")(Dedup.clusters(
        Dedup.jaccardPairsRaw(docs).select("doc_a", "doc_b")))
      // the distributed min-label fallback FORCED (maxDriverEdges = 0)
      // on the same organic graph: pins the >budget path's wall per
      // decade, so the driver union-find's escape hatch has its own
      // scale curve instead of only the r8 113M-edge anecdote
      run("dd_clusters_distributed")(Dedup.clusters(
        Dedup.jaccardPairsRaw(docs).select("doc_a", "doc_b"),
        maxDriverEdges = 0L))
      // --- text ---
      run("ta_tfidf_top")(TextAnalysis.tfidfTopK(docs, k = 5))
      run("ta_bigram_rarity")(TextAnalysis.bigramRarity(docs))
      // --- embeddings: the LSH join at its guard boundary (the guard
      // dispatches to blocked-exact when tables/2^bits ≥ 1 — sf10 is
      // exactly the regime the sf1 sweep's spill failure lived in) ---
      // 0.8 = the operator's documented high-threshold domain. Lower
      // thresholds now recall-dispatch to the balanced exact join
      // (quadratic by semantics — excluded here like ss_cosine_pairs)
      run("ss_embedding_lsh")(Similarity.cosinePairsLsh(emb, threshold = 0.8))
      // BITS=24 SATURATION, executed (r9 pinned it as math only): a
      // shrunk graft.lsh.loadTarget pushes ceil(log2(n/load)) past 24
      // at this corpus size, so the min(24, ...) cap ENGAGES — 24-bit
      // keys, tables re-targeted at the cap's collision probability,
      // super-sparse buckets (the post-saturation regime's shape).
      // Threshold 0.9: at bits=24 the 95%-recall table count stays
      // under LshTablesMax only for high thresholds — exactly the
      // documented saturation frontier. Recall cross-check: the pair
      // count must track the auto-params run at the same threshold
      // (both are >=95% designs over the same corpus).
      run("ss_embedding_lsh_sat") {
        // load sized so ceil(log2(n/load)) = 26 > 24: the clamp itself
        // must engage, not just a computed 24
        val nEmb = emb.count()
        spark.conf.set("graft.lsh.loadTarget", (nEmb / 6e7).toString)
        try Similarity.cosinePairsLsh(emb, threshold = 0.9)
        finally spark.conf.unset("graft.lsh.loadTarget")
      }
      run("ss_embedding_lsh_t09")(Similarity.cosinePairsLsh(emb, threshold = 0.9))
      run("ss_topk_lsh")(Similarity.topkLsh(emb, k = 5))
      // --- multimodal ---
      run("mm_phash_pairs")(Multimodal.phashPairs(
        Multimodal.imagePHash(spark,
          Multimodal.imageTableWithVariants(spark, docs)).toDF()))
      // the production twin: per-image cluster assignment — CC over
      // the clique-LINEAR spanning edge set (identical-hash quotient),
      // not the pair contract's O(c²) output; both wall AND edge count
      // must now grow ~linearly in images where the r8 probe measured
      // the pairs-fed path edge-bound (113M edges / 399 s at sf10)
      run("mm_phash_clusters")(Dedup.clusters(
        Multimodal.phashSpanningEdges(
          Multimodal.imagePHash(spark,
            Multimodal.imageTableWithVariants(spark, docs)).toDF())))
      run("mm_phash_spanning_edges")(Multimodal.phashSpanningEdges(
        Multimodal.imagePHash(spark,
          Multimodal.imageTableWithVariants(spark, docs)).toDF()))
      // --- multimodal REAL-codec decades: payload synthesis + decode
      // are partition-local by design (only signature rows shuffle) —
      // these rows verify the wall is decode CPU scaling linearly, not
      // a payload-bytes exchange appearing at media scale
      run("mm_dedup")(Multimodal.dedupPayloads(Multimodal.mediaTable(docs)))
      run("mm_audio_dedup")(Multimodal.audioDedup(spark,
        Multimodal.audioTableWithContainerVariants(spark, docs)))
      run("mm_video_dedup")(Multimodal.videoDedup(spark,
        Multimodal.videoTableWithContainerVariants(spark, docs)))
      // --- streaming dedup batch core: one incremental batch decided
      // against a loaded index (the foreachBatch body minus the sink
      // IO), at the 10%-delta split the oracle rows use ---
      run("stream_decide_batch") {
        val delta = docs.filter(col("doc_id") % 10 === 0)
        val corpus = docs.filter(col("doc_id") % 10 =!= 0)
        val idx = Dedup.shingleIndex(corpus, n = 3)
        Dedup.deltaPairsFromParts(Dedup.shingleIndex(delta, n = 3), Seq(idx),
          threshold = 0.5)
      }
    }

    // --- synthetic distributed-CC decade (dir-independent): the
    // min-label + path-halving fallback forced (maxDriverEdges = 0) on
    // a generated graph far past the 2M-edge driver budget — the r9
    // forced runs existed only at sf10's organic edge count. Chain
    // components are label propagation's WORST case per edge (one new
    // label reaches one new vertex per hop without halving), so a
    // chain graph at 10^8 edges bounds the fallback's behavior from
    // above. Self-verifying: the probed frame is the DISTINCT cluster
    // labels, so rows == nodes/chainLen or the labeling is wrong.
    val ccNodes = sys.env.get("GRAFT_PROBE_CC_NODES").flatMap(_.toLongOption)
    ccNodes.foreach { n =>
      Seq(16L -> "dd_cc_synth_chain16", 4096L -> "dd_cc_synth_chain4096")
        .foreach { case (chainLen, name) =>
          graft.operators.OpCaches.releaseAll()
          spark.catalog.clearCache()
          System.gc()
          val t0 = System.nanoTime()
          val edges = spark.range(n)
            .filter(col("id") % chainLen =!= (chainLen - 1))
            .select(col("id").as("doc_a"), (col("id") + 1L).as("doc_b"))
          val rows =
            try graft.operators.Dedup.clusters(edges, maxDriverEdges = 0L)
              .select("cluster").distinct()
              .queryExecution.toRdd.count()
            catch { case e: Throwable =>
              println(s"""{"op":"$name","dir":"synthetic","nodes":$n,""" +
                s""""sec":-1,"rows":-1,"err":${Jsons.quote(
                  Option(e.getMessage).getOrElse(e.getClass.getName).take(300))}}""")
              -1L
            }
          if (rows >= 0) {
            val sec = (System.nanoTime() - t0) / 1e9
            val expected = (n + chainLen - 1) / chainLen
            println(f"""{"op":"$name","dir":"synthetic","nodes":$n,""" +
              f""""edges":${n - n / chainLen},"sec":$sec%.3f,"rows":$rows,""" +
              f""""expected_components":$expected,"ok":${rows == expected}}""")
          }
        }
    }
    spark.stop()
  }
}
