package graft.sources

import java.nio.file.{Files, Path}

import graft.SparkSpec
import graft.core.Fixtures
import org.apache.spark.sql.functions._

/** The FBC file-per-row DSv2 connector: content parity with the ingest
  * parser, directory-level filter pushdown, and the open-zero-files
  * column-pruning contract (listings must stay metadata-only, the
  * reference's fs.ReadDir behavior).
  */
class FbcDataSourceSpec extends SparkSpec {
  import spark.implicits._

  /** Run `body` on a fresh temp dir, deleted afterwards. */
  private def withTempDir(body: Path => Unit): Unit = {
    val dir = Files.createTempDirectory("fbcfs-spec")
    try body(dir) finally Fixtures.deleteTree(dir)
  }

  test("full read matches the parsed fixture stream verbatim") {
    val viaConnector = FbcSource.read(spark)
      .select($"package", $"schema", $"name", $"blob")
      .as[(String, String, String, String)].collect().toSet
    val viaParser = graft.catalog.FbcIngest.withPackageKey(
        graft.catalog.FbcIngest.readMetaStream(
          spark, graft.catalog.CatalogOracle.FixtureSource))
      .select($"package", $"schema", $"name", $"blob")
      .as[(String, String, String, String)].collect().toSet
    assert(viaParser.nonEmpty)
    assert(viaConnector == viaParser,
      "connector content diverged from the meta parser")
  }

  test("equality filters prune to one directory at planning time") {
    val one = FbcSource.read(spark)
      .filter($"package" === "pkg-a" && $"schema" === "olm.bundle")
      .select($"name").collect().map(_.getString(0)).toSet
    val expected = graft.catalog.FbcIngest.withPackageKey(
        graft.catalog.FbcIngest.readMetaStream(
          spark, graft.catalog.CatalogOracle.FixtureSource))
      .filter($"package" === "pkg-a" && $"schema" === "olm.bundle")
      .select($"name").as[String].collect().toSet
    assert(one == expected && one.nonEmpty)
    // pushdown is visible in the scan description
    val scanDesc = FbcSource.read(spark)
      .filter($"package" === "pkg-a" && $"schema" === "olm.bundle")
      .queryExecution.executedPlan.toString
    assert(scanDesc.contains("pkg-a"),
      s"pushed filter missing from scan: $scanDesc")
  }

  test("projections without blob open zero files; point lookup opens one") {
    FbcSource.read(spark).count() // ensure fixture tree exists
    val before = FbcDataSource.filesOpened.get()
    val names = FbcSource.read(spark)
      .filter($"package" === "pkg-a")
      .select($"package", $"schema", $"name").collect()
    assert(names.nonEmpty)
    assert(FbcDataSource.filesOpened.get() == before,
      "listing projection must not open file bodies")
    val blob = FbcSource.read(spark)
      .filter($"package" === "pkg-a" && $"schema" === "olm.package"
        && $"name" === "pkg-a")
      .select($"blob").as[String].collect()
    assert(blob.length == 1 && blob.head.contains("olm.package"))
    assert(FbcDataSource.filesOpened.get() == before + 1,
      "point lookup must open exactly its one file")
  }

  test("distributed write path round-trips through the connector") {
    withTempDir { tmp =>
      val root = tmp.resolve("fbcfs-written").toString
      val meta = graft.catalog.FbcIngest.withPackageKey(
          graft.catalog.FbcIngest.readMetaStream(
            spark, graft.catalog.CatalogOracle.FixtureSource))
        .select($"package", $"schema", $"name", $"blob")
        .repartition(3) // force multiple write tasks
      meta.write.format(classOf[FbcDataSource].getName)
        .mode("append").save(root)
      val back = spark.read.format(classOf[FbcDataSource].getName).load(root)
        .as[(String, String, String, String)].collect().toSet
      val expected = meta.as[(String, String, String, String)].collect().toSet
      assert(back == expected, "write->read round trip diverged")
      // idempotent rewrite (task-retry semantics): same content, same tree
      meta.write.format(classOf[FbcDataSource].getName)
        .mode("append").save(root)
      val again = spark.read.format(classOf[FbcDataSource].getName).load(root)
        .as[(String, String, String, String)].collect().toSet
      assert(again == expected)
    }
  }

  test("COUNT(*) pushes down completely: answered from metadata alone") {
    FbcSource.read(spark).count() // ensure fixture tree exists
    val before = FbcDataSource.filesOpened.get()
    val n = FbcSource.read(spark).count()
    val nFiltered = FbcSource.read(spark)
      .filter($"package" === "pkg-a").count()
    assert(FbcDataSource.filesOpened.get() == before,
      "count(*) must not open file bodies")
    val expected = graft.catalog.FbcIngest.withPackageKey(
        graft.catalog.FbcIngest.readMetaStream(
          spark, graft.catalog.CatalogOracle.FixtureSource))
    assert(n == expected.count())
    assert(nFiltered == expected.filter($"package" === "pkg-a").count())
    // complete pushdown: the physical plan carries the count scan, no
    // hash-aggregate over per-row data
    val plan = FbcSource.read(spark).groupBy().count()
      .queryExecution.executedPlan.toString
    assert(plan.contains("FbcAggScan"), s"count scan missing: $plan")
  }

  test("grouped COUNT by directory columns pushes down completely") {
    FbcSource.read(spark).count() // ensure fixture tree exists
    val before = FbcDataSource.filesOpened.get()
    val grouped = FbcSource.read(spark)
      .groupBy($"package", $"schema").count()
      .as[(String, String, Long)].collect().toSet
    assert(FbcDataSource.filesOpened.get() == before,
      "grouped count must not open file bodies")
    val expected = graft.catalog.FbcIngest.withPackageKey(
        graft.catalog.FbcIngest.readMetaStream(
          spark, graft.catalog.CatalogOracle.FixtureSource))
      .groupBy($"package", $"schema").count()
      .as[(String, String, Long)].collect().toSet
    assert(grouped == expected, s"grouped counts diverged: $grouped")
    val plan = FbcSource.read(spark).groupBy($"package").count()
      .queryExecution.executedPlan.toString
    assert(plan.contains("FbcAggScan"), s"grouped count scan missing: $plan")
  }

  test("MIN/MAX over path columns push down completely, metadata-only") {
    FbcSource.read(spark).count() // ensure fixture tree exists
    val before = FbcDataSource.filesOpened.get()
    val df = FbcSource.read(spark).groupBy($"package")
      .agg(count(lit(1)).as("n"), min($"name").as("min_name"),
        max($"name").as("max_name"))
    val got = df.as[(String, Long, String, String)].collect().toSet
    assert(FbcDataSource.filesOpened.get() == before,
      "min/max over names must not open file bodies")
    val expected = graft.catalog.FbcIngest.withPackageKey(
        graft.catalog.FbcIngest.readMetaStream(
          spark, graft.catalog.CatalogOracle.FixtureSource))
      .groupBy($"package")
      .agg(count(lit(1)).as("n"), min($"name").as("min_name"),
        max($"name").as("max_name"))
      .as[(String, Long, String, String)].collect().toSet
    assert(got == expected, s"pushed min/max diverged: $got")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("FbcAggScan"), s"agg scan missing: $plan")
    assert(!plan.contains("HashAggregate"),
      s"complete pushdown still planned an aggregate: $plan")
  }

  test("MIN over the blob column is refused (body-derived, not listable)") {
    val df = FbcSource.read(spark).groupBy($"package")
      .agg(min($"blob").as("m"))
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("FbcAggScan"),
      s"blob aggregate wrongly pushed: $plan")
    // and it still answers correctly through the row path
    val got = df.as[(String, String)].collect().toMap
    val expected = graft.catalog.FbcIngest.withPackageKey(
        graft.catalog.FbcIngest.readMetaStream(
          spark, graft.catalog.CatalogOracle.FixtureSource))
      .groupBy($"package").agg(min($"blob").as("m"))
      .as[(String, String)].collect().toMap
    assert(got == expected)
  }

  test("LIMIT pushes into planning: only n files are read") {
    FbcSource.read(spark).count() // ensure fixture tree exists
    val before = FbcDataSource.filesOpened.get()
    val rows = FbcSource.read(spark)
      .select($"package", $"schema", $"name", $"blob").limit(3).collect()
    assert(rows.length == 3)
    assert(FbcDataSource.filesOpened.get() == before + 3,
      s"limit 3 opened ${FbcDataSource.filesOpened.get() - before} files")
  }

  test("count with a residual filter does NOT push down and stays correct") {
    // negative control: startsWith is rejected by pushFilters, so the
    // aggregate must not collapse to the metadata count (which would
    // ignore the residual filter and overcount)
    val df = FbcSource.read(spark).filter($"name".startsWith("pkg"))
    val n = df.count()
    val expected = graft.catalog.FbcIngest.withPackageKey(
        graft.catalog.FbcIngest.readMetaStream(
          spark, graft.catalog.CatalogOracle.FixtureSource))
      .filter($"name".startsWith("pkg")).count()
    assert(n == expected, s"residual-filter count wrong: $n vs $expected")
    val plan = df.groupBy().count().queryExecution.executedPlan.toString
    assert(!plan.contains("FbcAggScan"),
      s"aggregate pushed down past a residual filter: $plan")
  }

  test("micro-batch stream tails new files without reprocessing old ones") {
    import java.nio.file.Paths
    withTempDir { tmp =>
      val root = tmp.resolve("fbcfs-stream").toString
      val outDir = tmp.resolve("fbc-stream-out").toString
      val ckpt = tmp.resolve("fbc-stream-ckpt").toString
      val meta = graft.catalog.FbcIngest.withPackageKey(
        graft.catalog.FbcIngest.readMetaStream(
          spark, graft.catalog.CatalogOracle.FixtureSource))
      FbcDataSource.writeFileTree(meta, root)
      val t0 = java.nio.file.attribute.FileTime.fromMillis(1700000000000L)
      Files.walk(Paths.get(root)).filter(_.toString.endsWith(".json"))
        .forEach(p => Files.setLastModifiedTime(p, t0))
      def runOnce(): Unit = {
        val q = spark.readStream.format(classOf[FbcDataSource].getName)
          .load(root)
          .writeStream.format("parquet")
          .option("path", outDir).option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      runOnce()
      val n0 = meta.count()
      assert(spark.read.parquet(outDir).count() == n0,
        "first run must ingest every existing file")
      // two new records land later (mtime moves forward)
      val d = Paths.get(root, "pkg-new", "olm.bundle")
      Files.createDirectories(d)
      val t1 = java.nio.file.attribute.FileTime.fromMillis(1700000060000L)
      Seq("n1", "n2").foreach { n =>
        val f = d.resolve(s"$n.json")
        Files.write(f, s"""{"schema":"olm.bundle","package":"pkg-new","name":"$n"}""".getBytes)
        Files.setLastModifiedTime(f, t1)
      }
      runOnce()
      val after = spark.read.parquet(outDir)
      assert(after.count() == n0 + 2,
        s"second run must add exactly the two new files, got ${after.count()}")
      import org.apache.spark.sql.functions.col
      val counts = after.groupBy(col("name")).count()
        .as[(String, Long)].collect().toMap
      assert(counts("n1") == 1L && counts("n2") == 1L,
        "new files must appear exactly once")
      assert(counts.values.forall(_ == 1L),
        s"no file may be reprocessed across restarts: $counts")
    }
  }

  test("grouped count + limit keeps Spark's Limit (no silent drop)") {
    // regression: pushLimit must refuse when a count aggregate was
    // already pushed — otherwise Spark removes its Limit operator and
    // the query returns every group
    val df = FbcSource.read(spark).groupBy($"package").count().limit(2)
    assert(df.collect().length == 2,
      "groupBy().count().limit(2) must return exactly 2 rows")
    val grouped = FbcSource.read(spark).groupBy($"package").count()
    assert(grouped.count() > 2, "fixture must have >2 packages for this test")
  }

  test("global COUNT(*) over a missing tree is one row with count 0") {
    withTempDir { tmp =>
      val missing = tmp.resolve("fbcfs-does-not-exist").toString
      val rows = spark.read.format(classOf[FbcDataSource].getName)
        .load(missing).groupBy().count().collect()
      assert(rows.length == 1 && rows.head.getLong(0) == 0L,
        s"empty-tree global count must be a single 0 row, got ${rows.toSeq}")
    }
  }

  test("write path: null blob becomes an empty file; bad path components fail") {
    withTempDir { tmp =>
      val root = tmp.resolve("fbcfs-nullblob").toString
      Seq(("pkg-x", "olm.bundle", "obj-1", null: String))
        .toDF("package", "schema", "name", "blob")
        .write.format(classOf[FbcDataSource].getName).mode("append").save(root)
      val back = spark.read.format(classOf[FbcDataSource].getName).load(root)
        .select($"name", $"blob").as[(String, String)].collect()
      assert(back.toSeq == Seq(("obj-1", "")),
        s"null blob must round-trip as empty content, got ${back.toSeq}")
      val ex = intercept[org.apache.spark.SparkException] {
        Seq(("../escape", "olm.bundle", "obj-2", "x"))
          .toDF("package", "schema", "name", "blob")
          .write.format(classOf[FbcDataSource].getName).mode("append").save(root)
      }
      assert(ex.getMessage != null)
      assert(!java.nio.file.Files.exists(tmp.resolve("escape")),
        "path-separator values must not escape the tree root")
    }
  }

  test("scan reports exact statistics; filters shrink them") {
    FbcSource.read(spark).count() // ensure fixture tree exists
    import java.nio.file.{Files, Paths}
    val root = Paths.get(FbcSource.FixtureRoot)
    import scala.jdk.CollectionConverters._
    val all = {
      val s = Files.walk(root)
      try s.iterator().asScala
        .filter(p => p.toString.endsWith(".json")).toSeq
      finally s.close()
    }
    val fullStats = FbcSource.read(spark)
      .queryExecution.optimizedPlan.stats
    assert(fullStats.sizeInBytes == BigInt(all.map(Files.size).sum),
      s"full-scan sizeInBytes ${fullStats.sizeInBytes} != file byte sum")
    assert(fullStats.rowCount.contains(BigInt(all.size)),
      s"full-scan rowCount ${fullStats.rowCount} != ${all.size} files")
    val filtered = FbcSource.read(spark)
      .filter($"package" === "pkg-a")
      .queryExecution.optimizedPlan.stats
    assert(filtered.sizeInBytes < fullStats.sizeInBytes,
      "pushed filter must shrink reported sizeInBytes")
  }

  test("runtime filters prune the walk (DPP contract, unit level)") {
    FbcSource.read(spark).count() // ensure fixture tree exists
    val scan = new FbcScan(FbcSource.FixtureRoot, Array.empty,
      FbcDataSource.Schema)
    val before = scan.planInputPartitions().length
    assert(before > 1, "fixture must span multiple directories")
    scan.filter(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.In("package", Array("pkg-a"))))
    val after = scan.planInputPartitions()
      .map(_.asInstanceOf[FbcInputPartition])
    assert(after.nonEmpty && after.forall(_.pkg == "pkg-a"),
      s"runtime In filter must prune to pkg-a, got ${after.map(_.pkg).toSeq}")
    assert(after.length < before)
    // stats follow the runtime-narrowed walk
    val stats = scan.estimateStatistics()
    val expectFiles = after.map(_.files.length).sum
    assert(stats.numRows.getAsLong == expectFiles)
    // unknown filter shapes are ignored, not misapplied
    scan.filter(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.GreaterThan("name", "zzz")))
    assert(scan.planInputPartitions().length == before,
      "unknown runtime filter shapes must keep every partition")
  }

  test("runtime filters never prune a limited scan (pushed-limit safety)") {
    FbcSource.read(spark).count()
    val scan = new FbcScan(FbcSource.FixtureRoot, Array.empty,
      FbcDataSource.Schema, limit = Some(3))
    assert(scan.filterAttributes().isEmpty,
      "limited scan must decline runtime filtering")
    val before = scan.planInputPartitions()
      .map(_.asInstanceOf[FbcInputPartition]).map(_.files.length).sum
    scan.filter(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.In("package", Array("no-such-pkg"))))
    val after = scan.planInputPartitions()
      .map(_.asInstanceOf[FbcInputPartition]).map(_.files.length).sum
    assert(after == before && after == 3,
      s"limited walk must ignore runtime filters ($after vs $before)")
  }

  test("join against a filtered dim stays correct under runtime filtering") {
    FbcSource.read(spark).count()
    val dim = Seq(("pkg-a", 1)).toDF("package", "w")
    val got = FbcSource.read(spark)
      .select($"package", $"schema", $"name")
      .join(dim, "package")
      .select($"name").as[String].collect().toSet
    val expected = graft.catalog.FbcIngest.withPackageKey(
        graft.catalog.FbcIngest.readMetaStream(
          spark, graft.catalog.CatalogOracle.FixtureSource))
      .filter($"package" === "pkg-a")
      .select($"name").as[String].collect().toSet
    assert(got == expected && got.nonEmpty)
  }

  test("leftover tmp files from a crashed writer are invisible to scans") {
    FbcSource.read(spark).count() // ensure fixture tree exists
    val dir = java.nio.file.Paths.get(FbcSource.FixtureRoot, "pkg-a",
      "olm.bundle")
    // simulate a writer that died mid-write: its tmp never renamed
    val torn = dir.resolve(".torn-obj.json.7.42.tmp")
    java.nio.file.Files.write(torn, "{\"partial\":".getBytes)
    try {
      val names = FbcSource.read(spark)
        .filter($"package" === "pkg-a" && $"schema" === "olm.bundle")
        .select($"name").as[String].collect().toSet
      assert(!names.exists(_.contains("torn")),
        s"torn tmp file surfaced in scan: $names")
      val n = FbcSource.read(spark).count()
      val expected = graft.catalog.FbcIngest.withPackageKey(
          graft.catalog.FbcIngest.readMetaStream(
            spark, graft.catalog.CatalogOracle.FixtureSource)).count()
      assert(n == expected, "counts must ignore tmp files")
    } finally java.nio.file.Files.deleteIfExists(torn)
  }

  test("non-equality predicates stay with Spark and still evaluate") {
    val got = FbcSource.read(spark)
      .filter($"name".startsWith("pkg"))
      .select($"name").as[String].collect().toSet
    val expected = graft.catalog.FbcIngest.withPackageKey(
        graft.catalog.FbcIngest.readMetaStream(
          spark, graft.catalog.CatalogOracle.FixtureSource))
      .filter($"name".startsWith("pkg"))
      .select($"name").as[String].collect().toSet
    assert(got == expected)
  }
}
