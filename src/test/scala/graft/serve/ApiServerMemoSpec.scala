package graft.serve

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.DataFrame

import graft.{Jobs, SparkSpec}
import graft.fs.IndexStore

/** The per-snapshot memo of `/stats/` and `/stats/visualization`: a
  * repeat on the same snapshot is served without Spark work, a new
  * publish is seen at once, and frames without a file key (an empty
  * store, an in-memory leaf) are never memoized. */
class ApiServerMemoSpec extends SparkSpec {
  import spark.implicits._

  private lazy val client = HttpClient.newHttpClient()

  /** `n` index rows: 3 directories, every other row checksummed. */
  private def rows(n: Int): DataFrame = {
    val t = Timestamp.valueOf("2024-03-05 10:00:00")
    (0 until n).map(i => (s"/d/p${i % 3}", s"f$i.txt",
        if (i % 2 == 0) s"c${i % 4}" else null, t, (i % 5 + 1) * 10L, t))
      .toDF("path", "filename", "checksum", "modification_datetime", "file_size", "indexed_at")
  }

  private def withServer[T](files: () => DataFrame)(f: ApiServer => T): T = {
    val server = new ApiServer(spark, files, "memo-db").start()
    try f(server) finally server.stop()
  }

  private def get(server: ApiServer, path: String): String = {
    val r = client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:${server.boundPort}$path")).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    assert(r.statusCode() == 200, r.body())
    r.body()
  }

  private def totalFiles(statsBody: String): Long =
    """"total_files": (\d+)""".r.findFirstMatchIn(statsBody).get.group(1).toLong

  /** Files counted by the size histogram of a `/stats/visualization` body. */
  private def histogramFiles(vizBody: String): Long =
    """"count":(\d+)""".r
      .findAllMatchIn(vizBody.substring(0, vizBody.indexOf("extension_stats")))
      .map(_.group(1).toLong).sum

  test("a repeat /stats/ and /stats/visualization on one snapshot: same body, zero jobs") {
    val root = Files.createTempDirectory("graft-memo-hit").toString
    IndexStore.publish(rows(12), root)
    withServer(() => IndexStore.load(spark, root)) { server =>
      val stats = get(server, "/stats/")
      val viz = get(server, "/stats/visualization")
      assert(totalFiles(stats) == 12 && histogramFiles(viz) == 12)
      val ((stats2, viz2), jobs) =
        Jobs.counted(spark)((get(server, "/stats/"), get(server, "/stats/visualization")))
      assert(stats2 == stats && viz2 == viz)
      assert(jobs == 0, s"memoized responses started $jobs Spark jobs")
    }
  }

  test("a publish of different rows is reported at once and replaces the entry") {
    val root = Files.createTempDirectory("graft-memo-swap").toString
    IndexStore.publish(rows(12), root)
    withServer(() => IndexStore.load(spark, root)) { server =>
      assert(totalFiles(get(server, "/stats/")) == 12)
      assert(histogramFiles(get(server, "/stats/visualization")) == 12)
      val first = server.memoKey
      assert(first.exists(_.nonEmpty))

      IndexStore.publish(rows(7), root)
      assert(totalFiles(get(server, "/stats/")) == 7)
      assert(histogramFiles(get(server, "/stats/visualization")) == 7)
      assert(server.memoKey.isDefined && server.memoKey != first)
    }
  }

  test("an empty store is served without a memo entry; the first publish is then seen") {
    val root = Files.createTempDirectory("graft-memo-empty").toString
    withServer(() => IndexStore.load(spark, root)) { server =>
      assert(totalFiles(get(server, "/stats/")) == 0)
      assert(histogramFiles(get(server, "/stats/visualization")) == 0)
      assert(server.memoKey.isEmpty)

      IndexStore.publish(rows(5), root)
      assert(totalFiles(get(server, "/stats/")) == 5)
      assert(histogramFiles(get(server, "/stats/visualization")) == 5)
      assert(server.memoKey.isDefined)
    }
  }

  test("/search, /duplicates and /health build no memo key") {
    val root = Files.createTempDirectory("graft-memo-plain").toString
    IndexStore.publish(rows(6), root)
    withServer(() => IndexStore.load(spark, root)) { server =>
      get(server, "/search/?limit=2"); get(server, "/duplicates/"); get(server, "/health/")
      assert(server.memoKey.isEmpty)
      get(server, "/stats/")
      assert(server.memoKey.isDefined)
    }
  }

  test("a frame with a non-file leaf is never memoized") {
    val root = Files.createTempDirectory("graft-memo-local").toString
    IndexStore.publish(rows(6), root)
    val mixed = () => IndexStore.load(spark, root).unionByName(rows(2)) // + LocalRelation
    assert(ApiServer.snapshotKey(mixed()).isEmpty)
    assert(ApiServer.snapshotKey(spark.range(3).toDF()).isEmpty)
    withServer(mixed) { server =>
      val stats = get(server, "/stats/")
      assert(totalFiles(stats) == 8)
      val (again, jobs) = Jobs.counted(spark)(get(server, "/stats/"))
      assert(again == stats && jobs > 0, "an unkeyed frame must be recomputed")
      assert(server.memoKey.isEmpty)
    }
  }

  test("the key is the snapshot's file set, also for a cached frame") {
    val root = Files.createTempDirectory("graft-memo-key").toString
    IndexStore.publish(rows(9), root)
    val key = ApiServer.snapshotKey(IndexStore.load(spark, root))
    assert(key.exists(_.nonEmpty) && key.get.forall(_._1.contains("/snap-")))
    val pinned = IndexStore.load(spark, root).cache()
    try {
      pinned.count()
      assert(ApiServer.snapshotKey(pinned) == key)
    } finally pinned.unpersist()
    assert(ApiServer.snapshotKey(IndexStore.load(spark, root)) == key)
  }
}
