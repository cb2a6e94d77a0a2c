package graft.tables

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{TimestampType, LongType, StringType, DoubleType}

import graft.SparkSpec

/** Loads the REAL driver testdata parquet through the table loaders.
  *
  * Round 3 regressed precisely because every events test built its
  * input in-memory via `toDF` — the loader's parquet-reading path had
  * zero coverage, so a runtime/testdata change (TIMESTAMP(NANOS) int64
  * → TIMESTAMP_NTZ micros) broke all `ev_*` queries invisibly. This
  * spec fails the build when the loader breaks against the actual
  * files, whatever the runtime's reader does with the `ts` column.
  */
class TablesSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"
  private val haveData = new java.io.File(s"$sf/events.parquet").exists()

  test("events loader normalizes ts to TimestampType on the real parquet") {
    assume(haveData)
    val ev = Tables.events(spark, sf)
    assert(ev.schema("ts").dataType == TimestampType,
      s"ts must be an instant, got ${ev.schema("ts").dataType}")
    assert(ev.schema("event_id").dataType == LongType)
    assert(ev.schema("event_type").dataType == StringType)
    assert(ev.schema("value").dataType == DoubleType)
    assert(ev.count() > 0)
  }

  test("events ts survives micros round-trip and date math on real data") {
    assume(haveData)
    val ev = Tables.events(spark, sf)
    // unix_micros + date_format are what every ev_* operator leans on;
    // both must analyze AND execute against the loaded column
    val row = ev.select(
        min(unix_micros(col("ts"))).as("lo"),
        max(unix_micros(col("ts"))).as("hi"),
        countDistinct(date_trunc("day", col("ts"))).as("days"))
      .collect()(0)
    assert(row.getAs[Long]("lo") > 0L, "epoch micros must be positive")
    assert(row.getAs[Long]("hi") >= row.getAs[Long]("lo"))
    assert(row.getAs[Long]("days") >= 1L)
  }

  test("registerAll exposes every table plus the files view via SQL") {
    assume(haveData)
    Tables.registerAll(spark, sf)
    (Tables.names :+ "files").foreach { n =>
      assert(spark.sql(s"SELECT * FROM $n LIMIT 1").collect().length == 1,
        s"view $n must be queryable")
    }
  }

  test("registerAll over a copy missing one table: healthy views register, the key waits for a clean pass") {
    assume(haveData)
    import java.nio.file.{Files, Paths}
    val key = "spark.graft.tables.registeredDir"
    val prev = spark.conf.getOption(key)
    val copy = Files.createTempDirectory("graft-tables-missing")
    def place(n: String) = Files.copy(Paths.get(s"$sf/$n.parquet"), copy.resolve(s"$n.parquet"))
    val present = Tables.names.filter(_ != "part")
    try {
      present.foreach(place)
      spark.conf.unset(key)
      Tables.registerAll(spark, copy.toString) // returns: the failure is not rethrown
      (present :+ "files").foreach { n =>
        assert(spark.sql(s"SELECT * FROM $n LIMIT 1").collect().length == 1,
          s"view $n must resolve")
      }
      assert(spark.conf.getOption(key).isEmpty, "key set on a pass with a failed view")
      place("part")
      Tables.registerAll(spark, copy.toString)
      assert(spark.conf.getOption(key).contains(copy.toString))
      assert(spark.sql("SELECT * FROM part LIMIT 1").collect().length == 1)
    } finally {
      // leave the session's views on the dir they were on
      spark.conf.unset(key)
      prev.foreach(Tables.registerAll(spark, _))
      val left = Files.list(copy)
      try left.forEach(Files.delete(_)) finally left.close()
      Files.delete(copy)
    }
  }

  test("every ev_* query analyzes and executes on the real events table") {
    assume(haveData)
    import graft.queries.ExtQueries
    ExtQueries.queries.keys.filter(_.startsWith("ev_")).foreach { name =>
      val n = ExtQueries.queries(name)(spark, sf).queryExecution.toRdd.count()
      assert(n > 0, s"$name must produce rows on real sf0.001 events")
    }
  }

  test("schema cache revalidates on mtime: in-place regeneration re-infers") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-schemacache").toString
    Seq((1L, "a")).toDF("id", "v").write.mode("overwrite")
      .parquet(s"$dir/t.parquet")
    assert(Tables.load(spark, dir, "t").schema("v").dataType ==
      org.apache.spark.sql.types.StringType)
    // regenerate IN PLACE with a different column type; bump mtime
    // explicitly (same-second rewrites can otherwise share a coarse
    // filesystem timestamp)
    Seq((1L, 42L)).toDF("id", "v").write.mode("overwrite")
      .parquet(s"$dir/t.parquet")
    java.nio.file.Files.setLastModifiedTime(
      java.nio.file.Paths.get(s"$dir/t.parquet"),
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() + 5000))
    assert(Tables.load(spark, dir, "t").schema("v").dataType ==
      org.apache.spark.sql.types.LongType,
      "stale cached schema served after in-place regeneration")
  }
}
