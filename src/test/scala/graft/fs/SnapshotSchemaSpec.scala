package graft.fs

import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import java.time.LocalDateTime

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types._

import graft.{Jobs, SparkSpec}
import graft.operators.{MediaSigStore, Multimodal}

/** `SnapshotDir.publish` records the schema it wrote, and plain reads of
  * the snapshot use it instead of parquet schema inference: same schema
  * and rows as an inferring read, no Spark job, the writer's column
  * types (never the caller's declared schema), and snapshots without
  * the record still load. */
class SnapshotSchemaSpec extends SparkSpec {
  import spark.implicits._

  private def sorted(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  /** The recorded-schema read of `dir` equals the inferring read, and
    * only the inferring read starts a Spark job. */
  private def assertSameAsInference(dir: String, read: => DataFrame): Unit = {
    assert(Files.exists(Paths.get(s"$dir/${SnapshotDir.SchemaFile}")))
    val (recorded, recordedJobs) = Jobs.counted(spark)(read)
    val (inferred, inferredJobs) = Jobs.counted(spark)(spark.read.parquet(dir))
    assert(recorded.schema == inferred.schema)
    assert(sorted(recorded) == sorted(inferred))
    assert(recordedJobs == 0, s"recorded-schema read started $recordedJobs jobs")
    assert(inferredJobs > 0)
  }

  private def indexRows(n: Int): DataFrame = {
    val t = Timestamp.valueOf("2024-01-02 03:04:05")
    (0 until n).map(i => (s"/p${i % 2}", s"f$i", if (i % 3 == 0) null else s"c$i", t,
        i.toLong, t))
      .toDF("path", "filename", "checksum", "modification_datetime", "file_size", "indexed_at")
  }

  test("IndexStore snapshot: recorded read == inference read, no schema job") {
    val root = Files.createTempDirectory("graft-schema-idx").toString
    IndexStore.publish(indexRows(7), root)
    assertSameAsInference(SnapshotDir.currentDir(root).get, IndexStore.load(spark, root))
  }

  test("MediaSigStore snapshot: recorded read == inference read") {
    val root = Files.createTempDirectory("graft-schema-sig").toString
    val payload = Multimodal.VideoCodec.encodeAvi(2L, 16, 9, 3, 100000)
    Multimodal.videoDedupCached(spark,
      Seq((10L, payload), (20L, payload)).toDF("doc_id", "payload"), root).collect()
    assertSameAsInference(SnapshotDir.currentDir(root).get,
      SnapshotDir.load(spark, root, MediaSigStore.videoStoreSchema))
  }

  test("plain readAt snapshot: recorded read == inference read") {
    val root = Files.createTempDirectory("graft-schema-plain").toString
    SnapshotDir.publish(Seq((1L, "a", 2.5), (2L, null, -1.0)).toDF("k", "v", "x"), root)
    val dir = SnapshotDir.currentDir(root).get
    // the declared schema is not what was written: the record wins
    val declared = StructType(Seq(StructField("k", StringType)))
    assertSameAsInference(dir, SnapshotDir.readAt(spark, dir, declared))
  }

  test("a TIMESTAMP_NTZ column round-trips as NTZ, not as the declared TIMESTAMP") {
    val root = Files.createTempDirectory("graft-schema-ntz").toString
    val t = LocalDateTime.of(2023, 7, 8, 9, 10, 11)
    IndexStore.publish(Seq(("/p", "f", "c", t, 5L, t))
      .toDF("path", "filename", "checksum", "modification_datetime", "file_size", "indexed_at"),
      root)
    assert(IndexStore.schema("modification_datetime").dataType == TimestampType)
    val back = IndexStore.load(spark, root)
    assert(back.schema("modification_datetime").dataType == TimestampNTZType)
    assert(back.select("modification_datetime").head() == Row(t))
  }

  test("a snapshot without the schema record (older format) still loads by inference") {
    val root = Files.createTempDirectory("graft-schema-old").toString
    IndexStore.publish(indexRows(5), root)
    val dir = SnapshotDir.currentDir(root).get
    val before = IndexStore.load(spark, root)
    val (beforeSchema, beforeRows) = (before.schema, sorted(before))
    Files.delete(Paths.get(s"$dir/${SnapshotDir.SchemaFile}"))
    assert(SnapshotDir.recordedSchema(dir).isEmpty)
    val after = IndexStore.load(spark, root)
    assert(after.schema == beforeSchema && sorted(after) == beforeRows)
    assert(sorted(SnapshotDir.readAt(spark, dir, IndexStore.schema)) == beforeRows)
  }

  test("bucketed readAt still reads through its bucketed catalog table") {
    val root = Files.createTempDirectory("graft-schema-bucket").toString
    val schema = StructType(Seq(StructField("k", LongType), StructField("v", StringType)))
    SnapshotDir.publishBucketed((0 until 6).map(i => (i.toLong, s"v$i")).toDF("k", "v"),
      root, bucketCol = "k", numBuckets = 2)
    val dir = SnapshotDir.currentDir(root).get
    val back = SnapshotDir.readAt(spark, dir, schema)
    val fsRel = back.queryExecution.analyzed.collectLeaves()
      .collect { case l: LogicalRelation => l }
    assert(fsRel.size == 1 && fsRel.head.catalogTable.isDefined)
    assert(fsRel.head.relation.asInstanceOf[HadoopFsRelation].bucketSpec.exists(_.numBuckets == 2))
    assert(back.schema.fieldNames.toSeq == Seq("k", "v") && back.count() == 6)
  }
}
