package graft.fs

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.Row

import graft.SparkSpec
import graft.queries.FileQueries

class MetaAndNestedSpec extends SparkSpec {
  import spark.implicits._

  test("index_metadata sidecar round-trips, incl. escaping") {
    val root = Files.createTempDirectory("graft-meta").toString
    val meta = Map("root_path" -> "/some/\"quoted\"/dir\nwith\tcontrol",
      "indexed" -> "2026-08-12 10:00:00")
    IndexStore.writeMeta(root, meta)
    assert(IndexStore.readMeta(root) == meta)
    assert(IndexStore.readMeta(root + "/nope").isEmpty)
    // written through a temp file and one atomic move: nothing else left
    val left = Files.list(java.nio.file.Paths.get(root)).toArray.map(_.toString).toSeq
    assert(left == Seq(s"$root/meta.json"), left)
  }

  test("fullIndex records root_path in the sidecar") {
    val tree = Files.createTempDirectory("graft-meta-tree")
    Files.write(tree.resolve("a.txt"), "x".getBytes)
    val idx = Files.createTempDirectory("graft-meta-idx").toString
    Indexer.fullIndex(spark, tree.toString, idx)
    assert(IndexStore.readMeta(idx).get("root_path").contains(tree.toString))
  }

  test("duplicateGroupsNested: one row per group, sorted member structs") {
    val t = new Timestamp(1700000000000L)
    val files = Seq(
      ("/b", "y.txt", "c1", t, 10L),
      ("/a", "x.txt", "c1", t, 10L),
      ("/c", "z.txt", "c1", t, 10L),
      ("/d", "w.txt", "c2", t, 99L)
    ).toDF("path", "filename", "checksum", "modification_datetime", "file_size")
    val nested = FileQueries.duplicateGroupsNested(files, minGroupSize = 2).collect()
    assert(nested.length == 1)
    val row = nested.head
    assert(row.getAs[String]("checksum") == "c1")
    assert(row.getAs[Long]("wasted_space") == 20L)
    val members = row.getAs[scala.collection.Seq[Row]]("files").map(_.getString(0)).toSeq
    assert(members == Seq("/a", "/b", "/c")) // sort_array → deterministic
  }
}
