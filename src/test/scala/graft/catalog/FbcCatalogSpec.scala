package graft.catalog

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions.col

import graft.SparkSpec

/** End-to-end FBC semantics against the hand-written fixture — covers the
  * reference edge cases inventoried in FIXTURES.md §B: the 3-way
  * partition-key rule, empty-package → __global, icon null propagation,
  * `.json` suffix strip, verbatim blob round-trip, atomic/idempotent
  * snapshot publish (also after a crash before the ACTIVE rename),
  * incremental refresh, retention GC, numeric-looking package names.
  */
class FbcCatalogSpec extends SparkSpec {

  private lazy val fixture =
    getClass.getClassLoader.getResource("fbc/all.jsonl").getPath
  private lazy val root = Files.createTempDirectory("fbc-root").toString
  private lazy val snapId = FbcIngest.refreshIfChanged(spark, fixture, root)
  private lazy val meta = { snapId; FbcIngest.activeMeta(spark, root) }

  test("ingest applies the 3-way partition-key rule") {
    val keys = meta.select("package").distinct()
      .collect().map(_.getString(0)).sorted.toSeq
    assert(keys == Seq("__global", "pkg-a", "pkg-b"))
    // olm.package records key on their own name, not the package field
    val pkgRecords = meta.filter(
      meta("schema") === "olm.package" && meta("package") === "pkg-a")
    assert(pkgRecords.count() == 1)
    // both empty-string and missing package land in __global
    assert(meta.filter(meta("package") === "__global").count() == 2)
  }

  test("snapshot layout is Hive-partitioned by (package, schema)") {
    val dir = Paths.get(root, "snapshots", snapId, "package=pkg-a",
      "schema=olm.bundle")
    assert(Files.isDirectory(dir), s"missing partition dir $dir")
  }

  test("listPackages / listSchemas / listObjects are sorted + pruned") {
    assert(CatalogQueries.listPackages(meta).collect().map(_.getString(0))
      .toSeq == Seq("__global", "pkg-a", "pkg-b"))
    assert(CatalogQueries.listSchemas(meta, "pkg-a").collect()
      .map(_.getString(0)).toSeq ==
      Seq("olm.bundle", "olm.channel", "olm.package"))
    // .json suffix strip (reference main.go:235)
    assert(CatalogQueries.listObjects(meta, "pkg-b", "olm.bundle").collect()
      .map(_.getString(0)).toSeq == Seq("pkg-b.v0.1.0", "weird"))
  }

  test("getObject returns the verbatim blob") {
    val blob = CatalogQueries
      .getObject(meta, "pkg-a", "olm.bundle", "pkg-a.v1.0.0")
      .collect().map(_.getString(0)).toSeq
    val expected = Files.readAllLines(Paths.get(fixture)).get(4)
    assert(blob == Seq(expected))
  }

  test("getIcon decodes base64 and propagates nulls as empty") {
    val rows = CatalogQueries.getIcon(meta, "pkg-a").collect()
    assert(rows.length == 1)
    assert(rows(0).getString(0) == "image/png")
    assert(new String(rows(0).getAs[Array[Byte]](1),
      StandardCharsets.UTF_8) == "hello")
    // pkg-b has no icon → empty (the reference's 404 path)
    assert(CatalogQueries.getIcon(meta, "pkg-b").count() == 0)
    // unknown package → empty
    assert(CatalogQueries.getIcon(meta, "nope").count() == 0)
  }

  test("refresh is incremental: unchanged source is a no-op") {
    val again = FbcIngest.refreshIfChanged(spark, fixture, root)
    assert(again == snapId)
  }

  test("changed source produces a new snapshot and GC keeps the newest") {
    val copy = Files.createTempDirectory("fbc-src2")
      .resolve("all.jsonl")
    Files.copy(Paths.get(fixture), copy)
    Files.setLastModifiedTime(copy, java.nio.file.attribute.FileTime
      .fromMillis(System.currentTimeMillis() + 5000))
    val newId = FbcIngest.refreshIfChanged(spark, copy.toString, root)
    assert(newId != snapId)
    val victims = FbcIngest.gcSnapshots(root, keep = 1)
    assert(victims == Seq(snapId))
    assert(!Files.exists(Paths.get(root, "snapshots", snapId)))
    assert(Files.exists(Paths.get(root, "snapshots", newId)))
  }

  test("incremental ingest reads only files added since the checkpoint") {
    val src = Files.createTempDirectory("fbc-inc-src")
    val incRoot = Files.createTempDirectory("fbc-inc-root").toString
    Files.copy(Paths.get(fixture), src.resolve("all.jsonl"))
    FbcIngest.refreshIncremental(spark, src.toString, incRoot)
    assert(FbcIngest.incrementalMeta(spark, incRoot).count() == 10)
    // append ONE new file: only its rows land (checkpointed file
    // tracking — the original file is NOT re-ingested, so no duplicates)
    Files.write(src.resolve("delta.jsonl"),
      ("{\"schema\":\"olm.bundle\",\"package\":\"pkg-a\",\"name\":\"pkg-a.v2.0.0\"}\n"
        + "{\"schema\":\"olm.bundle\",\"package\":\"pkg-c\",\"name\":\"pkg-c.v1.0.0\"}\n")
        .getBytes(StandardCharsets.UTF_8))
    FbcIngest.refreshIncremental(spark, src.toString, incRoot)
    val meta2 = FbcIngest.incrementalMeta(spark, incRoot)
    assert(meta2.count() == 12, "delta file not ingested exactly once")
    assert(meta2.filter(meta2("package") === "pkg-c").count() == 1)
    // unchanged source: refresh is a no-op
    FbcIngest.refreshIncremental(spark, src.toString, incRoot)
    assert(FbcIngest.incrementalMeta(spark, incRoot).count() == 12,
      "no-op refresh re-ingested files")
  }

  test("numeric-looking package names come back verbatim") {
    val src = Files.createTempDirectory("fbc-numeric").resolve("all.jsonl")
    val bundle =
      "{\"schema\":\"olm.bundle\",\"package\":\"007\",\"name\":\"007.v1\"}"
    Files.write(src, Seq("{\"schema\":\"olm.package\",\"name\":\"007\"}",
      bundle, "{\"schema\":\"olm.package\",\"name\":\"1\"}")
      .mkString("\n").getBytes(StandardCharsets.UTF_8))
    val numRoot = Files.createTempDirectory("fbc-numeric-root").toString
    FbcIngest.refreshIfChanged(spark, src.toString, numRoot)
    val m = CatalogQueries.forRoot(spark, numRoot)
    assert(CatalogQueries.listPackages(m).collect().map(_.getString(0))
      .toSeq == Seq("007", "1"))
    assert(CatalogQueries.getObject(m, "007", "olm.bundle", "007.v1")
      .collect().map(_.getString(0)).toSeq == Seq(bundle))
  }

  test("a publish that dies before the ACTIVE rename leaves the old " +
      "snapshot active, and the next refresh publishes over its ACTIVE.tmp") {
    val src = Files.createTempDirectory("fbc-crash-src").resolve("all.jsonl")
    Files.copy(Paths.get(fixture), src)
    val crashRoot = Files.createTempDirectory("fbc-crash-root")
    val old = FbcIngest.refreshIfChanged(spark, src.toString, crashRoot.toString)
    // what the crash leaves: the new snapshot dir written and ACTIVE.tmp
    // naming it, but no rename
    FbcIngest.withPackageKey(FbcIngest.readMetaStream(spark, src.toString))
      .filter(col("package") === "pkg-a")
      .write.partitionBy("package", "schema")
      .parquet(crashRoot.resolve("snapshots").resolve("crashed").toString)
    Files.write(crashRoot.resolve("ACTIVE.tmp"),
      "crashed\n0".getBytes(StandardCharsets.UTF_8))
    def packages = CatalogQueries.listPackages(
        CatalogQueries.forRoot(spark, crashRoot.toString))
      .collect().map(_.getString(0)).toSeq
    assert(FbcIngest.activeSnapshot(crashRoot.toString).map(_._1) == Some(old))
    assert(packages == Seq("__global", "pkg-a", "pkg-b"))
    Files.setLastModifiedTime(src, java.nio.file.attribute.FileTime
      .fromMillis(System.currentTimeMillis() + 5000))
    val next = FbcIngest.refreshIfChanged(spark, src.toString, crashRoot.toString)
    assert(next != old && next != "crashed")
    assert(FbcIngest.activeSnapshot(crashRoot.toString).map(_._1) == Some(next))
    assert(!Files.exists(crashRoot.resolve("ACTIVE.tmp")))
    assert(packages == Seq("__global", "pkg-a", "pkg-b"))
  }

  test("malformed meta records fail the load (no silent swallow)") {
    val badSrc = Files.createTempDirectory("fbc-bad").resolve("bad.jsonl")
    Files.write(badSrc,
      "{\"package\":\"p\",\"name\":\"x\"}\nnot json at all".getBytes)
    val badMeta = FbcIngest.readMetaStream(spark, badSrc.toString)
    intercept[IllegalArgumentException] {
      FbcIngest.writeSnapshot(spark, badMeta,
        Files.createTempDirectory("fbc-bad-root").toString)
    }
  }
}
