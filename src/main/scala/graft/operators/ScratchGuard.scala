package graft.operators

import org.apache.spark.sql.SparkSession

/** Bounded scratch-reclaim wait between sequential domain groups.
  *
  * The scratch-grouped operator paths ([[Dedup.vocabGroupedAgg]] and
  * friends, [[Similarity]]'s LSH slices) process a posting-scale
  * domain in sequential groups precisely so that peak shuffle scratch
  * is ONE group's volume. `System.gc()` after a group only ENQUEUES
  * the finished group's ShuffleDependencies for the ContextCleaner —
  * deletion is asynchronous, so on a slow cleaner the next group's
  * writes can overlap the previous group's undeleted files and
  * transient scratch can exceed the budget the grouping exists to
  * hold (the margin the doubled bytes-per-posting model covers, but
  * not unboundedly). [[reclaim]] turns that into a bounded invariant:
  * gc, then poll the session's local-dir usage until it falls back to
  * the pre-loop floor plus one group's budget (or a hard timeout —
  * the wait must never hang a query on a cleaner that has nothing
  * left to delete). Small corpora and the spec-forced tiny-budget
  * runs pass the first poll instantly (their usage never exceeds the
  * slack floor), so the wait only ever engages at the scales it
  * protects. */
object ScratchGuard {
  /** `graft.vocab.scratchBudgetBytes`, when set to a number: the
    * scratch budget of one vocabulary-domain group. */
  def vocabBudgetConf(spark: SparkSession): Option[Long] =
    spark.conf.getOption("graft.vocab.scratchBudgetBytes").flatMap(_.toLongOption)

  /** [[vocabBudgetConf]], else [[defaultBudget]]. */
  def vocabBudget(spark: SparkSession): Long =
    vocabBudgetConf(spark).getOrElse(defaultBudget(spark))

  /** 40% of the usable space of the first `spark.local.dir` (exact in
    * local mode where driver scratch IS executor scratch; a
    * conservative driver-side proxy on a cluster, where operators
    * should set the budget confs from the executors' real scratch
    * sizing), floored at 1 GB so a full disk degrades to finer groups
    * instead of a zero-division. Shared by [[Similarity]]'s LSH
    * exchange groups and [[Dedup]]'s vocabulary-domain groups. */
  def defaultBudget(spark: SparkSession): Long = {
    val dir = spark.conf.getOption("spark.local.dir").map(_.split(",")(0))
      .getOrElse(System.getProperty("java.io.tmpdir"))
    math.max(1L << 30, (new java.io.File(dir).getUsableSpace * 0.4).toLong)
  }

  /** Total on-disk bytes under the session's `spark.local.dir` trees
    * (block manager + shuffle scratch in local mode). Concurrently
    * disappearing files are expected — the cleaner is deleting while
    * we walk — and are counted as zero.
    *
    * With `spark.local.dir` UNSET the fallback is `java.io.tmpdir`,
    * which is a SHARED directory: walking all of it would let any
    * concurrent writer (a parallel query, unrelated /tmp traffic) hold
    * usage above the reclaim target and stall every group boundary for
    * the full timeout. In that case only Spark's own scratch subtrees
    * (`blockmgr-*`, `spark-*` — the names local mode creates there)
    * are counted; an explicitly configured local dir is Spark-owned by
    * contract and is walked whole. */
  def usage(spark: SparkSession): Long = {
    val conf = spark.conf.getOption("spark.local.dir")
      .orElse(Option(spark.sparkContext.getConf.get("spark.local.dir", null)))
    conf match {
      case Some(dirs) =>
        dirs.split(',').map(d => treeBytes(java.nio.file.Paths.get(d.trim))).sum
      case None =>
        val tmp = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
        var total = 0L
        try {
          val ds = java.nio.file.Files.newDirectoryStream(tmp)
          try ds.forEach { p =>
            val n = p.getFileName.toString
            if (n.startsWith("blockmgr-") || n.startsWith("spark-"))
              total += treeBytes(p)
          } finally ds.close()
        } catch { case scala.util.control.NonFatal(_) => () }
        total
    }
  }

  private def treeBytes(root: java.nio.file.Path): Long = {
    import java.nio.file._
    import java.nio.file.attribute.BasicFileAttributes
    if (!Files.isDirectory(root)) return 0L
    var total = 0L
    try Files.walkFileTree(root, java.util.EnumSet.noneOf(classOf[FileVisitOption]),
      Integer.MAX_VALUE, new SimpleFileVisitor[Path] {
        override def visitFile(f: Path, attrs: BasicFileAttributes): FileVisitResult = {
          total += attrs.size(); FileVisitResult.CONTINUE
        }
        override def visitFileFailed(f: Path, e: java.io.IOException): FileVisitResult =
          FileVisitResult.CONTINUE // deleted mid-walk: counts as reclaimed
      })
    catch { case scala.util.control.NonFatal(_) => () }
    total
  }

  /** End-of-group reclaim: hand the finished group's shuffles to the
    * ContextCleaner (gc) and wait — bounded by `timeoutMs` — until
    * local-dir usage is back under `floorBytes` (the pre-loop level)
    * plus one group's `budgetBytes` of slack. The slack has a 256 MB
    * floor so that small runs and spec-forced 1-byte budgets never
    * poll at all. */
  def reclaim(spark: SparkSession, floorBytes: Long, budgetBytes: Long,
      timeoutMs: Long = 60000L): Unit = {
    System.gc()
    val target = floorBytes + math.max(budgetBytes, 256L << 20)
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    while (usage(spark) > target && System.nanoTime() < deadline)
      Thread.sleep(200)
  }
}
