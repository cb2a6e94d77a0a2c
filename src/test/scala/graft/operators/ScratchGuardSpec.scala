package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The grouped pass the scratch-grouped operators run through
  * [[ScratchGuard.union]] and [[ScratchGuard.fold]]: the result over
  * the groups, the one checkpoint a fold leaves, and a group that
  * throws after pinning its slice. */
class ScratchGuardSpec extends SparkSpec {
  private def keys = spark.range(0L, 30L).select(col("id").as("k"), (col("id") % 7).as("v"))

  private def rows(df: DataFrame): Seq[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted

  private def persisted = spark.sparkContext.getPersistentRDDs

  private def clean(): Unit = {
    OpCaches.releaseAll(); spark.catalog.clearCache()
    assert(persisted.isEmpty)
  }

  test("union over 3 groups equals the union of the per-group bodies") {
    clean()
    def body(g: Int, slice: DataFrame) =
      slice.select(col("k"), (col("v") + lit(100L * g)).as("v"))
    val seen = scala.collection.mutable.ArrayBuffer.empty[Int]
    val grouped = ScratchGuard.union(spark, 3) { grp =>
      seen += grp.g
      body(grp.g, grp.slice(keys, "k"))
    }
    val expected = (0 until 3)
      .map(g => body(g, keys.filter(pmod(col("k"), lit(3)) === g)))
      .reduce(_ unionByName _)
    assert(seen == Seq(0, 1, 2))
    assert(rows(grouped) == rows(expected))
    // the slices cover the domain once
    assert(rows(grouped).map(_._1) == (0L until 30L))
    OpCaches.releaseAll()
    assert(persisted.isEmpty)
  }

  test("fold over 3 groups leaves exactly one checkpoint: the final accumulator") {
    clean()
    val acc = ScratchGuard.fold(spark, 3) { grp =>
      grp.pinned(grp.slice(keys, "k")).groupBy("v").agg(count(lit(1)).as("n"))
    } {
      case (None, part) => part
      case (Some(prev), part) =>
        prev.unionByName(part).groupBy("v").agg(sum("n").as("n"))
    }
    val live = persisted
    assert(live.size == 1, s"live: ${live.values.map(_.name)}")
    assert(live.values.forall(_.isCheckpointed))
    assert(live.keySet == Set(acc.queryExecution.logical.asInstanceOf[LogicalRDD].rdd.id))
    assert(rows(acc) == rows(keys.groupBy("v").agg(count(lit(1)).as("n"))))
    OpCaches.releaseAll()
    assert(persisted.isEmpty)
  }

  test("a group that throws after pinning its slice leaves nothing pinned") {
    clean()
    val err = intercept[IllegalStateException] {
      ScratchGuard.union(spark, 3) { grp =>
        val slice = grp.pinned(grp.slice(keys, "k"))
        assert(slice.count() > 0) // the pinned slice is materialized
        if (grp.g == 1) throw new IllegalStateException("group 1 fails")
        slice
      }
    }
    assert(err.getMessage == "group 1 fails")
    // group 0's checkpoint is live until the caller's release
    assert(persisted.values.exists(_.isCheckpointed))
    OpCaches.releaseAll()
    assert(persisted.isEmpty, s"lingering blocks: ${persisted.values.map(_.name)}")
    assert(spark.sharedState.cacheManager.isEmpty, "a pinned slice is still cached")
  }
}
