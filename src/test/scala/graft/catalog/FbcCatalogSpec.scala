package graft.catalog

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.ScalaUDF
import org.apache.spark.sql.functions.col

import graft.SparkSpec

/** End-to-end FBC semantics against the hand-written fixture — covers the
  * reference edge cases inventoried in FIXTURES.md §B: the 3-way
  * partition-key rule, empty-package → __global, icon null propagation,
  * `.json` suffix strip, verbatim blob round-trip, atomic/idempotent
  * snapshot publish (also after a crash before the ACTIVE rename),
  * incremental refresh, retention GC, package and schema keys that are
  * numeric-looking, path-escaped, empty or non-ASCII, and a key the
  * file-name charset cannot encode.
  */
class FbcCatalogSpec extends SparkSpec {

  private lazy val fixture =
    getClass.getClassLoader.getResource("fbc/all.jsonl").getPath
  private lazy val root = Files.createTempDirectory("fbc-root").toString
  private lazy val snapId = FbcIngest.refreshIfChanged(spark, fixture, root)
  private lazy val meta = { snapId; FbcIngest.activeMeta(spark, root) }

  private val bundle007 =
    "{\"schema\":\"olm.bundle\",\"package\":\"007\",\"name\":\"007.v1\"}"

  /** Package and schema keys a listing can get wrong: numeric-looking,
    * escaped in the path (space, `%`, `=`), empty (stored as Hive's
    * default partition, read back as null), and two whose UTF-16 and
    * UTF-8 orders differ (U+FF61 before U+1F600 in UTF-8 only).
    */
  private lazy val edgeMeta = {
    val src = Files.createTempDirectory("fbc-edge").resolve("all.jsonl")
    def pkg(name: String) = s"""{"schema":"olm.package","name":"$name"}"""
    Files.write(src, (Seq("007", "1", "a b%c=d", "", "\uFF61", "\uD83D\uDE00")
        .map(pkg) ++ Seq(bundle007,
          """{"schema":"olm.bundle","package":"a b%c=d","name":"x"}""",
          """{"schema":"","package":"a b%c=d","name":"no-schema"}"""))
      .mkString("\n").getBytes(StandardCharsets.UTF_8))
    val edgeRoot = Files.createTempDirectory("fbc-edge-root").toString
    FbcIngest.refreshIfChanged(spark, src.toString, edgeRoot)
    CatalogQueries.forRoot(spark, edgeRoot)
  }

  private def strings(df: DataFrame): Seq[String] =
    df.collect().map(_.getString(0)).toSeq

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
    meta
    val (packages, packageJobs) = jobsIn(strings(CatalogQueries.listPackages(meta)))
    assert(packages == Seq("__global", "pkg-a", "pkg-b"))
    val (schemas, schemaJobs) =
      jobsIn(strings(CatalogQueries.listSchemas(meta, "pkg-a")))
    assert(schemas == Seq("olm.bundle", "olm.channel", "olm.package"))
    assert(packageJobs == 0 && schemaJobs == 0,
      s"$packageJobs + $schemaJobs jobs to list from the partition index")
    // .json suffix strip (reference main.go:235), sorted in one job
    val (objects, objectJobs) =
      jobsIn(strings(CatalogQueries.listObjects(meta, "pkg-b", "olm.bundle")))
    assert(objects == Seq("pkg-b.v0.1.0", "weird"))
    assert(objectJobs == 1, s"$objectJobs jobs to list objects")
  }

  test("listPackages / listSchemas read the partition index: no job, the " +
      "scan's rows, null first in UTF-8 order") {
    val m = edgeMeta
    def scanPackages = strings(m.select("package").distinct().orderBy("package"))
    def scanSchemas(p: String) = strings(m.filter(col("package") === p)
      .select("schema").distinct().orderBy("schema"))
    val (packages, jobs) = jobsIn(strings(CatalogQueries.listPackages(m)))
    assert(jobs == 0, s"$jobs jobs to list packages")
    assert(packages ==
      Seq(null, "007", "1", "a b%c=d", "\uFF61", "\uD83D\uDE00"))
    assert(packages == scanPackages)
    (packages :+ "nope").foreach { p =>
      val (schemas, jobs) = jobsIn(strings(CatalogQueries.listSchemas(m, p)))
      assert(jobs == 0, s"$jobs jobs to list the schemas of $p")
      assert(schemas == scanSchemas(p), s"schemas of $p")
    }
    assert(strings(CatalogQueries.listSchemas(m, "a b%c=d")) ==
      Seq(null, "olm.bundle", "olm.package"))
    intercept[IllegalArgumentException](
      CatalogQueries.listPackages(m.filter(col("schema") === "olm.bundle")))
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
      ("{\"schema\":\"olm.bundle\",\"package\":\"pkg-a\",\"name\":\"pkg-a.v0.9.0\"}\n"
        + "{\"schema\":\"olm.bundle\",\"package\":\"pkg-c\",\"name\":\"pkg-c.v1.0.0\"}\n")
        .getBytes(StandardCharsets.UTF_8))
    FbcIngest.refreshIncremental(spark, src.toString, incRoot)
    val meta2 = FbcIngest.incrementalMeta(spark, incRoot)
    assert(meta2.count() == 12, "delta file not ingested exactly once")
    assert(meta2.filter(meta2("package") === "pkg-c").count() == 1)
    assert(strings(CatalogQueries.listPackages(meta2)) ==
      Seq("__global", "pkg-a", "pkg-b", "pkg-c"))
    // pkg-a's bundles now span two files: still one job, globally sorted
    val bundles = Paths.get(incRoot, "incremental", "data", "package=pkg-a",
      "schema=olm.bundle")
    assert(Files.list(bundles).filter(_.toString.endsWith(".parquet"))
      .count() == 2)
    val (objects, objectJobs) =
      jobsIn(strings(CatalogQueries.listObjects(meta2, "pkg-a", "olm.bundle")))
    assert(objects == Seq("pkg-a.v0.9.0", "pkg-a.v1.0.0", "pkg-a.v1.1.0"))
    assert(objectJobs == 1, s"$objectJobs jobs to list objects")
    // unchanged source: refresh is a no-op
    FbcIngest.refreshIncremental(spark, src.toString, incRoot)
    assert(FbcIngest.incrementalMeta(spark, incRoot).count() == 12,
      "no-op refresh re-ingested files")
  }

  test("numeric-looking package names come back verbatim") {
    val src = Files.createTempDirectory("fbc-numeric").resolve("all.jsonl")
    Files.write(src, Seq("{\"schema\":\"olm.package\",\"name\":\"007\"}",
      bundle007, "{\"schema\":\"olm.package\",\"name\":\"1\"}")
      .mkString("\n").getBytes(StandardCharsets.UTF_8))
    val numRoot = Files.createTempDirectory("fbc-numeric-root").toString
    FbcIngest.refreshIfChanged(spark, src.toString, numRoot)
    val m = CatalogQueries.forRoot(spark, numRoot)
    assert(strings(CatalogQueries.listPackages(m)) == Seq("007", "1"))
    assert(strings(CatalogQueries.getObject(m, "007", "olm.bundle", "007.v1"))
      == Seq(bundle007))
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

  test("where file names are not UTF-8, a key they cannot encode fails " +
      "the write pass naming it; under UTF-8 the plan has no check") {
    import spark.implicits._
    val meta = Seq(("olm.package", "p", "caf\u00e9"), ("olm.package", "p", "plain"))
      .toDF("schema", "package", "name").withColumn("blob", col("name"))
    val ascii = FbcIngest.checkedMeta(meta, StandardCharsets.US_ASCII)
    val out = Files.createTempDirectory("fbc-ascii").resolve("t").toString
    val e = intercept[IllegalArgumentException](
      FbcIngest.refusing(ascii.write.parquet(out)))
    assert(e.getMessage == "refusing to load snapshot: catalog key cannot be " +
      "a file name in US-ASCII: package=caf\u00e9")
    assert(FbcIngest.checkedMeta(meta.filter(col("name") === "plain"),
      StandardCharsets.US_ASCII).collect().map(_.getString(0)).toSeq == Seq("plain"))
    def udfs(df: DataFrame) = df.queryExecution.analyzed.expressions
      .flatMap(_.collect { case u: ScalaUDF => u })
    assert(udfs(ascii).size == 2)
    assert(udfs(FbcIngest.checkedMeta(meta, StandardCharsets.UTF_8)).isEmpty)
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
