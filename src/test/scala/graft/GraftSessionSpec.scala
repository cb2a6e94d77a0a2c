package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.SparkSpec

class GraftSessionSpec extends SparkSpec {
  import spark.implicits._

  test("configure sets the scale knobs and registers graft_* SQL functions") {
    GraftSession.configure(spark)
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true")
    assert(spark.conf.get("spark.sql.parquet.aggregatePushdown") == "true")
    // the SQL surface sees the native expressions
    val d = Seq((Array(1.0, 2.0), Array(3.0, 4.0))).toDF("a", "b")
    d.createOrReplaceTempView("gs_vecs")
    val dot = spark.sql("SELECT graft_dot(a, b) AS d FROM gs_vecs")
      .collect().head.getDouble(0)
    assert(dot == 11.0)
    // idempotent: configuring twice neither throws nor changes results
    GraftSession.configure(spark)
    assert(spark.sql("SELECT graft_dot(a, b) FROM gs_vecs")
      .collect().head.getDouble(0) == 11.0)
  }

  test("SPARK_GRAFT_CONF parsing: trimmed k=v pairs kept, malformed entries skipped") {
    assert(GraftSession.confOverrides("") == Seq.empty)
    assert(GraftSession.confOverrides(
        " spark.sql.shuffle.partitions = 128 ,graft.vocab.maxGroups=64") ==
      Seq("spark.sql.shuffle.partitions" -> "128", "graft.vocab.maxGroups" -> "64"))
    // no '=', empty key, blank entries: skipped; an empty value and an
    // '=' inside the value are kept as written
    assert(GraftSession.confOverrides("novalue,=x, =y,,a=,b=c=d") ==
      Seq("a" -> "", "b" -> "c=d"))
  }

  test("every main opens its session through GraftSession (lint over src/main)") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the project root: ${root.toAbsolutePath}")
    val sources = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && p.getFileName.toString != "GraftSession.scala")
      .toList
    def offenders(needle: String): List[Path] =
      sources.filter(p => Files.readString(p).contains(needle))
    assert(sources.nonEmpty)
    assert(offenders("SparkSession.builder(").isEmpty,
      "open sessions with GraftSession.local/builder instead")
    assert(offenders("\"SPARK_GRAFT_CPUS\"").isEmpty,
      "GraftSession.local owns the core count")
  }

  test("only graft.fs builds delta dirs or writes the watermark key (lint over src/main)") {
    val root = Paths.get("src/main/scala")
    val outside = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && !p.startsWith(root.resolve("graft/fs")))
      .toList
    // a `delta-<seq>` / `delta-tmp-*` path or a `compacted_through`
    // meta entry outside graft.fs is a hand-wired copy of the
    // base+delta protocol that graft.fs.DeltaDirs owns
    val handWired = Seq(""""delta-""", """delta-(tmp-)?\$""", """"compacted_through"\s*->""")
      .map(_.r)
    val offenders = outside.filter { p =>
      val src = Files.readString(p)
      handWired.exists(_.findFirstIn(src).nonEmpty)
    }
    assert(outside.nonEmpty)
    assert(offenders.isEmpty, s"use graft.fs.DeltaDirs instead: $offenders")
  }

  test("one owner of cross-query reuse: OpCaches.pass (lint over src/main)") {
    val root = Paths.get("src/main/scala")
    val sources = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toList
    def offenders(needle: String, among: List[Path] = sources): List[Path] =
      among.filter(p => Files.readString(p).contains(needle))
    assert(sources.nonEmpty)
    // reuse across queries is scoped by a report pass, not switched on
    assert(offenders("graft.cores.share").isEmpty, "open an OpCaches.pass instead")
    assert(offenders("SPARK_GRAFT_SHARED_CORES").isEmpty, "open an OpCaches.pass instead")
    // a process-global memo map beside OpCaches' registry is a second owner
    val operators = sources.filter(_.startsWith(root.resolve("graft/operators")))
    assert(operators.nonEmpty)
    assert(offenders("scala.collection.mutable.LinkedHashMap", operators)
      .forall(_.getFileName.toString == "OpCaches.scala"),
      "memoize across queries with OpCaches.memo / OpCaches.shared")
  }

  test("one vector top-k rule: only TopK ranks by query_id (lint over src/main)") {
    val root = Paths.get("src/main/scala")
    val sources = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && p.getFileName.toString != "TopK.scala")
      .toList
    assert(sources.nonEmpty)
    // the per-query window, the final order and a hand-written cosine
    // (a dot product divided by a norm product) are TopK's to write
    val copies = Seq("""Window\.partitionBy\("query_id""",
      """orderBy\("query_id", "rnk"\)""",
      """VectorOps\.dot\((?:[^()]|\([^()]*\))*\)\s*/""").map(_.r)
    val offenders = for {
      p <- sources
      src = Files.readString(p)
      c <- copies if c.findFirstIn(src).nonEmpty
    } yield s"${root.relativize(p)}: $c"
    assert(offenders.isEmpty, s"rank with graft.operators.TopK instead: $offenders")
  }

  test("one query loop: only Runner iterates SparkEntry.queries or opens a pass (lint over src/main)") {
    val root = Paths.get("src/main/scala")
    val sources = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && p.getFileName.toString != "Runner.scala")
      .toList
    assert(sources.nonEmpty)
    // a main hands SparkEntry.queries to a Runner as it is; selecting,
    // indexing or sizing it, or opening a report pass, is a second loop
    val loops = Seq("""SparkEntry\.queries\s*[.(]""", """OpCaches\.pass\s*[({]""").map(_.r)
    val offenders = for {
      p <- sources
      src = Files.readString(p)
      l <- loops if l.findFirstIn(src).nonEmpty
    } yield s"${root.relativize(p)}: $l"
    assert(offenders.isEmpty, s"run queries through graft.Runner instead: $offenders")
  }

  test("one scratch-grouped loop: only ScratchGuard slices a domain or reclaims (lint over src/main)") {
    val root = Paths.get("src/main/scala")
    val sources = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && p.getFileName.toString != "ScratchGuard.scala")
      .toList
    assert(sources.nonEmpty)
    // a group-end reclaim or a pmod(key, groups) slice is a hand-written
    // copy of the grouped pass ScratchGuard.union / fold run
    val offenders = for {
      p <- sources
      src = Files.readString(p)
      c <- Seq("ScratchGuard.reclaim(", "lit(groups))") if src.contains(c)
    } yield s"${root.relativize(p)}: $c"
    assert(offenders.isEmpty, s"run the groups with ScratchGuard.union / fold instead: $offenders")
  }

  test("README's Environment table lists exactly the env names src/main reads") {
    val root = Paths.get("src/main/scala")
    val read = """sys\.env[^(]*\("([A-Z0-9_]+)"""".r
    val inCode = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap(p => read.findAllMatchIn(Files.readString(p)).map(_.group(1)))
      .toSet
    val readme = Files.readString(Paths.get("README.md"))
    val section = readme.split("### Environment", 2)(1).split("\n#", 2)(0)
    val inTable = """(?m)^\| `([A-Z0-9_]+)` \|""".r.findAllMatchIn(section).map(_.group(1)).toSet
    assert(inCode.nonEmpty)
    assert(inCode -- inTable == Set.empty, "read in src/main but missing from the table")
    assert(inTable -- inCode == Set.empty, "in the table but read nowhere in src/main")
  }
}
