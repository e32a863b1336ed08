package graft.catalog

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SaveMode}

import graft.SparkSpec

/** The opened-snapshot cache behind `CatalogQueries.forRoot` and
  * `FbcIngest.snapshotMeta`: an opened snapshot is reused without a job
  * (jobs counted by `SparkSpec.jobsIn`), a cold one lists in one job, and
  * no read is served from a snapshot that was published over, rewritten,
  * overwritten or collected. The publish write runs in parallel, one
  * file per partition dir.
  */
class SnapshotCacheSpec extends SparkSpec {

  /** `n` packages of one `olm.package` record each, blobs tagged `tag`. */
  private def catalog(n: Int, tag: String): DataFrame = {
    import spark.implicits._
    (0 until n).map { i =>
      val pkg = f"pkg-$i%02d"
      ("olm.package", pkg, pkg, s"""{"name":"$pkg","tag":"$tag"}""")
    }.toDF("schema", "package", "name", "blob")
  }

  private def tags(meta: DataFrame): Seq[String] =
    meta.select("blob").collect().map(_.getString(0))
      .map(_.replaceAll(""".*"tag":"([^"]*)".*""", "$1")).distinct.toSeq

  private def newRoot(): String = Files.createTempDirectory("snap-cache").toString

  private def dir(root: String, id: String): Path =
    Paths.get(root, "snapshots", id).toAbsolutePath.normalize

  test("a second forRoot on the same snapshot runs no job, a cold one " +
      "at most one") {
    val root = newRoot()
    // more package dirs than the 32-path threshold: the cold open lists
    // them in a parallel job, as a served catalog does
    FbcIngest.writeSnapshot(spark, catalog(40, "a"), root)
    val (cold, coldJobs) = jobsIn(CatalogQueries.forRoot(spark, root))
    val (warm, warmJobs) = jobsIn(CatalogQueries.forRoot(spark, root))
    assert(coldJobs <= 1, s"$coldJobs jobs to open a snapshot")
    assert(warmJobs == 0, s"$warmJobs jobs to reopen an opened snapshot")
    assert(warm eq cold)
    assert(CatalogQueries.getObject(warm, "pkg-07", "olm.package", "pkg-07")
      .collect().map(_.getString(0)).toSeq ==
      Seq("""{"name":"pkg-07","tag":"a"}"""))
  }

  test("the publish write runs on every shuffle partition and writes one " +
      "file per partition dir") {
    val root = newRoot()
    val (_, tasks) = resultTasksIn(
      FbcIngest.writeSnapshot(spark, catalog(40, "w"), root, Some("w")))
    // the last job is the write: AQE must not coalesce it into one task
    assert(tasks.last > 1, s"result-stage tasks per job: $tasks")
    def children(p: Path, prefix: String): List[Path] = {
      val s = Files.list(p)
      try s.iterator().asScala.filter(_.getFileName.toString.startsWith(prefix))
        .toList
      finally s.close()
    }
    val dirs = children(dir(root, "w"), "package=")
      .flatMap(children(_, "schema="))
    assert(dirs.size == 40)
    dirs.foreach { d =>
      val files = children(d, "part-").filter(_.toString.endsWith(".parquet"))
      assert(files.size == 1, s"$d holds $files")
    }
  }

  test("after a publish the next forRoot reads the new snapshot") {
    val root = newRoot()
    FbcIngest.writeSnapshot(spark, catalog(3, "a"), root, Some("s1"))
    assert(tags(CatalogQueries.forRoot(spark, root)) == Seq("a"))
    FbcIngest.writeSnapshot(spark, catalog(3, "b"), root, Some("s2"))
    assert(tags(CatalogQueries.forRoot(spark, root)) == Seq("b"))
  }

  test("rewriting a caller-supplied id in place serves the new rows") {
    val root = newRoot()
    FbcIngest.writeSnapshot(spark, catalog(3, "a"), root, Some("p"))
    assert(tags(CatalogQueries.forRoot(spark, root)) == Seq("a"))
    FbcIngest.writeSnapshot(spark, catalog(4, "b"), root, Some("p"))
    val meta = CatalogQueries.forRoot(spark, root)
    assert(tags(meta) == Seq("b") && meta.count() == 4)
  }

  test("an overwrite that bypasses writeSnapshot is not served stale") {
    val root = newRoot()
    FbcIngest.writeSnapshot(spark, catalog(3, "a"), root, Some("d"))
    assert(tags(CatalogQueries.forRoot(spark, root)) == Seq("a"))
    assert(tags(FbcIngest.snapshotMeta(spark, root, "d")) == Seq("a"))
    catalog(5, "b").write.mode(SaveMode.Overwrite)
      .partitionBy("package", "schema").parquet(dir(root, "d").toString)
    val meta = CatalogQueries.forRoot(spark, root)
    assert(tags(meta) == Seq("b") && meta.count() == 5)
    assert(tags(FbcIngest.snapshotMeta(spark, root, "d")) == Seq("b"))
  }

  test("gcSnapshots drops the opened frames of the snapshots it deletes") {
    val root = newRoot()
    val ids = Seq("g1", "g2", "g3")
    ids.foreach { id =>
      FbcIngest.writeSnapshot(spark, catalog(2, id), root, Some(id))
      FbcIngest.snapshotMeta(spark, root, id)
    }
    def openedHere = FbcIngest.openedDirs.filter(_.startsWith(dir(root, "")))
    assert(openedHere.toSet == ids.map(dir(root, _)).toSet)
    assert(FbcIngest.gcSnapshots(root, keep = 1) == Seq("g1", "g2"))
    assert(openedHere == Seq(dir(root, "g3")))
  }

  test("at most 100 opened snapshots are held, least recently used out") {
    val root = newRoot()
    FbcIngest.writeSnapshot(spark, catalog(2, "lru"), root, Some("s000"))
    val ids = (0 to 104).map(i => f"s$i%03d")
    ids.tail.foreach { id =>
      val walk = Files.walk(dir(root, "s000"))
      try walk.iterator().asScala.toList.foreach { f =>
        Files.copy(f, dir(root, id).resolve(dir(root, "s000").relativize(f)))
      } finally walk.close()
    }
    ids.foreach { id =>
      FbcIngest.snapshotMeta(spark, root, id)
      assert(FbcIngest.openedDirs.size <= 100)
    }
    assert(FbcIngest.openedDirs == ids.takeRight(100).map(dir(root, _)))
  }
}
