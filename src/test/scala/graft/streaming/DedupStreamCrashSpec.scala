package graft.streaming

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec
import graft.fs.{DeltaDirs, SnapshotDir}

/** Crash and replay cases for the streaming dedup index's delta
  * protocol: a half-written delta is never read, a replay never
  * rewrites a published delta, and the format guard refuses a legacy
  * index before the stream starts. */
class DedupStreamCrashSpec extends SparkSpec {
  import spark.implicits._

  private final class StreamDirs {
    val staging = Files.createTempDirectory("graft-ddcr-in").toString
    val state = Files.createTempDirectory("graft-ddcr-state").toString
    val out = Files.createTempDirectory("graft-ddcr-out").toString
    val ckpt = Files.createTempDirectory("graft-ddcr-ckpt").toString
    def drop(docs: (Long, String)*): Unit =
      docs.toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(staging)
    def run(compactEvery: Long): Unit =
      DedupStream.continuousDedup(spark, staging, state, out, ckpt,
        compactEvery = compactEvery, trigger = Trigger.AvailableNow())
        .awaitTermination(120000)
    def decisions: Map[Long, Boolean] = spark.read.parquet(out)
      .select("doc_id", "kept").collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    def indexedIds: Set[Long] = DedupStream.loadIndex(spark, state)
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
  }

  test("continuousDedup refuses a string-keyed legacy base before starting") {
    val s = new StreamDirs
    SnapshotDir.publish(Seq(("aa bb cc", 1L, 3L)).toDF("shingle", "doc_id", "n_sh"),
      DeltaDirs.dedup(s.state).baseRoot)
    s.drop((1L, "aa bb cc dd ee"))
    val e = intercept[IllegalStateException] {
      DedupStream.continuousDedup(spark, s.staging, s.state, s.out, s.ckpt,
        trigger = Trigger.AvailableNow())
    }
    assert(e.getMessage.contains("string-keyed"), e.getMessage)
  }

  test("a torn delta-tmp-* append is never read and the next compaction sweeps it") {
    val s = new StreamDirs
    s.drop((1L, "aa bb cc dd ee"))
    s.run(compactEvery = 2L) // batch 0: live delta-0, no compaction
    // an append that died mid-write: a staging dir with a garbage part
    val torn = Paths.get(s"${s.state}/delta-tmp-torn-append")
    Files.createDirectories(torn)
    Files.writeString(torn.resolve("part-00000.parquet"), "torn mid-write")
    assert(s.indexedIds == Set(1L))

    // batch 1 compacts (1 % 2 == 1); its decisions still see doc 1
    s.drop((2L, "aa bb cc dd ee"), (3L, "qq rr ss tt uu"))
    s.run(compactEvery = 2L)
    assert(s.decisions == Map(1L -> true, 2L -> false, 3L -> true), s.decisions)
    assert(DedupStream.compactedThrough(s.state) == 1L)
    assert(s.indexedIds == Set(1L, 3L))
    assert(!Files.exists(torn), s"torn staging dir not swept: $torn")
  }

  test("a replayed batch leaves its existing delta-<id> untouched") {
    val s = new StreamDirs
    s.drop((1L, "aa bb cc dd ee"), (2L, "zz yy xx ww vv"))
    s.run(compactEvery = 0L)
    val delta = Paths.get(s"${s.state}/delta-0")
    def files = Files.list(delta).iterator().asScala
      .map(p => p.getFileName.toString -> Files.getLastModifiedTime(p)).toMap
    val before = files
    assert(before.keys.exists(_.endsWith(".parquet")))

    // crash after the delta landed but before the offset commit: without
    // its commit marker the restarted query replays batch 0
    for (n <- Seq("0", ".0.crc"))
      Files.deleteIfExists(Paths.get(s"${s.ckpt}/commits/$n"))
    s.run(compactEvery = 0L)
    val replayed = spark.read.parquet(s.out).filter($"batch_id" === 0L).count()
    assert(replayed == 4L, s"batch 0 was not replayed ($replayed decision rows)")
    assert(files == before, "the replay rewrote the published delta")
    assert(s.decisions == Map(1L -> true, 2L -> true))
    assert(s.indexedIds == Set(1L, 2L))
  }
}
