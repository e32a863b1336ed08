package graft.core

import java.nio.file.{Files, Path}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{ChecksumException, FileSystem}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.SparkSpec
import graft.catalog.FbcIngest

/** [[LocalFs]] against Hadoop's stock local file system: a partitioned
  * write shaped like the catalog's publish leaves the same files, `.crc`
  * files included, with the same permissions under the same umask; a
  * corrupted data file still fails its checksum on read; and the
  * catalog's snapshot write runs on it.
  */
class LocalFsSpec extends SparkSpec {

  private def catalog(n: Int): DataFrame = {
    import spark.implicits._
    (0 until n).map { i =>
      (f"pkg-$i%02d", if (i % 3 == 0) "olm.bundle" else "olm.package",
        s"n$i", s"""{"n":$i}""")
    }.toDF("package", "schema", "name", "blob")
  }

  private def write(df: DataFrame, dir: Path, opts: Map[String, String]): Unit =
    df.repartition(4, col("package"), col("schema"))
      .write.options(opts).partitionBy("package", "schema").parquet(dir.toString)

  private def files(dir: Path): Seq[Path] = {
    val s = Files.walk(dir)
    try s.iterator().asScala.toList.sorted finally s.close()
  }

  private val jobId = "[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}"

  /** Every file and dir under `dir` (relative, the write's job id masked)
    * with its permissions.
    */
  private def tree(dir: Path): Seq[(String, String)] =
    files(dir).map { p =>
      dir.relativize(p).toString.replaceAll(jobId, "<job>") ->
        PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
    }

  /** Bytes Hadoop counted as written through LocalFs's raw file system. */
  private def nioBytesWritten: Long =
    FileSystem.getStatistics("file", classOf[LocalFs.NioPermissions]).getBytesWritten

  private def size(dir: Path): Long =
    files(dir).filter(Files.isRegularFile(_)).map(Files.size).sum

  test("a partitioned write on LocalFs leaves the stock file system's " +
      "files, .crc files and permissions, under the default umask and 077") {
    val df = catalog(30)
    for (umask <- Seq(None, Some("077"))) {
      val conf = umask.map("fs.permissions.umask-mode" -> _).toMap
      val stock = Files.createTempDirectory("localfs-stock").resolve("t")
      val nio = Files.createTempDirectory("localfs-nio").resolve("t")
      // under another umask, an uncached stock instance, which reads it
      write(df, stock,
        if (umask.isEmpty) conf else conf + ("fs.file.impl.disable.cache" -> "true"))
      write(df, nio, LocalFs.options ++ conf)
      val expected = tree(stock)
      assert(tree(nio) == expected, s"umask $umask")
      assert(expected.count(_._1.endsWith(".parquet")) == 30)
      assert(expected.count(_._1.endsWith(".parquet.crc")) == 30)
      assert(expected.exists(_._1 == "._SUCCESS.crc"))
      assert(expected.map(_._2).distinct.sorted == (umask match {
        case None => Seq("rw-r--r--", "rwxr-xr-x")
        case Some(_) => Seq("rw-------", "rwx------")
      }))
      assert(spark.read.parquet(nio.toString).count() == 30)
    }
  }

  test("a flipped byte in a data file written on LocalFs fails the read " +
      "with Hadoop's ChecksumException") {
    val dir = Files.createTempDirectory("localfs-crc").resolve("t")
    write(catalog(4), dir, LocalFs.options)
    assert(spark.read.parquet(dir.toString).count() == 4)
    val part = files(dir).find(_.toString.endsWith(".parquet")).get
    val bytes = Files.readAllBytes(part)
    bytes(bytes.length / 2) = (bytes(bytes.length / 2) ^ 0xff).toByte
    Files.write(part, bytes)
    val e = intercept[Exception](spark.read.parquet(dir.toString).collect())
    val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
    assert(chain.exists(_.isInstanceOf[ChecksumException]), e)
  }

  test("the catalog's snapshot write writes its files through LocalFs") {
    val root = Files.createTempDirectory("localfs-catalog")
    val before = nioBytesWritten
    val id = FbcIngest.writeSnapshot(spark,
      catalog(6).select("schema", "package", "name", "blob"), root.toString)
    val snap = root.resolve("snapshots").resolve(id)
    assert(size(snap) > 0)
    assert(nioBytesWritten - before == size(snap))
  }
}
