package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit, pmod}

/** The one owner of the scratch-grouped pass.
  *
  * An operator whose shuffle grows with the corpus (a posting-scale
  * vocabulary aggregate, [[Similarity]]'s LSH bucket exchange) runs,
  * past the scratch budget, its key domain in G sequential groups so
  * that peak shuffle scratch is ONE group's volume. [[union]] and
  * [[fold]] run that pass; the operator writes only its per-group body
  * and keeps its own group count and its `groups == 1` single pass.
  * For every group, in order, the pass:
  *
  *  - hands the body a [[Group]]: its index, its `pmod(key, G)` slice
  *    of the domain, and [[Group.pinned]] for a slice two consumers
  *    read;
  *  - checkpoints the group's result eagerly and registers it with
  *    [[OpCaches.trackCheckpoint]], so [[OpCaches.releaseAll]] frees it
  *    once the returned plan is consumed;
  *  - in a [[fold]], frees the superseded accumulator as soon as the
  *    new one exists (one accumulator on scratch between groups, not
  *    two);
  *  - unpersists what the group pinned when it ends, also when it
  *    throws (a pinned slice is not registered with [[OpCaches]]);
  *  - waits, bounded, for the group's shuffle files to be reclaimed
  *    before the next group writes.
  *
  * The reclaim wait: the cleaner's 5 min periodic GC is too coarse at
  * group cadence, and `System.gc()` after a group only ENQUEUES the
  * finished group's ShuffleDependencies for the ContextCleaner —
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
    * scratch budget of one sequential group. */
  def vocabBudgetConf(spark: SparkSession): Option[Long] =
    spark.conf.getOption("graft.vocab.scratchBudgetBytes").flatMap(_.toLongOption)

  /** [[vocabBudgetConf]], else [[defaultBudget]]. */
  def vocabBudget(spark: SparkSession): Long =
    vocabBudgetConf(spark).getOrElse(defaultBudget(spark))

  /** 40% of the usable space of the first `spark.local.dir` (exact in
    * local mode where driver scratch IS executor scratch; a
    * conservative driver-side proxy on a cluster, where operators
    * should set the budget conf from the executors' real scratch
    * sizing), floored at 1 GB so a full disk degrades to finer groups
    * instead of a zero-division. */
  private def defaultBudget(spark: SparkSession): Long = {
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

  /** One group of a [[union]] or [[fold]] pass: `g` in `0 until
    * groups`. */
  final class Group private[ScratchGuard] (val g: Int, groups: Int) {
    private[ScratchGuard] var pins = List.empty[DataFrame]

    /** The rows of `df` whose `key` lies in this group's slice of the
      * domain: a key's rows land wholly in one group. */
    def slice(df: DataFrame, key: String): DataFrame =
      df.filter(pmod(col(key), lit(groups)) === g)

    /** `df` cached until this group ends, also when it throws. */
    def pinned(df: DataFrame): DataFrame = {
      pins ::= df
      df.cache()
    }
  }

  /** The union of `one`'s checkpointed result over `groups` sequential
    * groups. */
  def union(spark: SparkSession, groups: Int)(one: Group => DataFrame): DataFrame = {
    val (floor, budget) = (usage(spark), vocabBudget(spark))
    (0 until groups).map(g => run(spark, floor, budget, new Group(g, groups), None)(one))
      .reduce(_ unionByName _)
  }

  /** The last of `groups` sequential running accumulators: group g's
    * is `step(the previous one, or None for g = 0, one(group g))`,
    * checkpointed; the previous one is freed as soon as it exists. */
  def fold(spark: SparkSession, groups: Int)(one: Group => DataFrame)(
      step: (Option[DataFrame], DataFrame) => DataFrame): DataFrame = {
    val (floor, budget) = (usage(spark), vocabBudget(spark))
    (0 until groups).foldLeft(Option.empty[DataFrame]) { (acc, g) =>
      Some(run(spark, floor, budget, new Group(g, groups), acc)(grp => step(acc, one(grp))))
    }.get
  }

  private def run(spark: SparkSession, floor: Long, budget: Long, grp: Group,
      superseded: Option[DataFrame])(body: Group => DataFrame): DataFrame = {
    val out =
      try {
        val ck = OpCaches.trackCheckpoint(body(grp).localCheckpoint()) // eager
        superseded.foreach(org.apache.spark.sql.GraftSqlBridge.unpersistCheckpoint)
        ck
      } finally grp.pins.foreach(_.unpersist())
    reclaim(spark, floor, budget)
    out
  }

  /** The longest [[reclaim]] waits for the cleaner. */
  private val ReclaimTimeoutMs = 60000L

  /** End-of-group reclaim: hand the finished group's shuffles to the
    * ContextCleaner (gc) and wait — bounded by [[ReclaimTimeoutMs]] —
    * until local-dir usage is back under `floorBytes` (the pre-loop
    * level) plus one group's `budgetBytes` of slack. The slack has a
    * 256 MB floor so that small runs and spec-forced 1-byte budgets
    * never poll at all. */
  private def reclaim(spark: SparkSession, floorBytes: Long, budgetBytes: Long): Unit = {
    System.gc()
    val target = floorBytes + math.max(budgetBytes, 256L << 20)
    val deadline = System.nanoTime() + ReclaimTimeoutMs * 1000000L
    while (usage(spark) > target && System.nanoTime() < deadline)
      Thread.sleep(200)
  }
}
