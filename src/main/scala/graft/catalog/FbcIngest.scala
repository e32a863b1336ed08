package graft.catalog

import java.nio.charset.{Charset, StandardCharsets}
import java.nio.file.{Files, NoSuchFileException, Path, Paths,
  StandardCopyOption}
import java.nio.file.attribute.FileTime
import java.time.format.DateTimeFormatter
import java.time.{Instant, ZoneOffset}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
  LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

import graft.core.{Fixtures, LocalFs}

import FbcModel._

/** ETL for FBC catalog streams — the reference's Extract/Transform/Load
  * path (SURVEY.md §2.a R4–R9; /root/reference/cache.go) re-expressed
  * Spark-first:
  *
  *   - the JSON stream is read as text lines so the verbatim blob is
  *     preserved (plain `read.json` would re-serialize and lose bytes;
  *     cache.go:111 writes the blob untouched);
  *   - the derived partition key applies the 3-way rule (cache.go:100-106);
  *   - instead of one file per record (cache.go:107 — an anti-pattern at
  *     scale: 100 TB would mean billions of tiny files), each
  *     `(package, schema)` partition holds JSONL, written via
  *     `partitionBy` so partition pruning replaces the reference's
  *     directory walks;
  *   - snapshots are immutable timestamped dirs published by atomically
  *     renaming an ACTIVE pointer file over the previous one — the
  *     Spark-world equivalent of cache.go:85-91's symlink swap, made
  *     idempotent (the reference wedges on a stale `next` symlink);
  *   - the snapshot write runs on [[graft.core.LocalFs]], passed as
  *     write options, so a publish forks no `chmod` per created file;
  *     the caller's session, its reads and every other write keep the
  *     stock file system;
  *   - refresh is incremental: the source's max modification time is the
  *     version watermark (cache.go:54-66's If-Modified-Since), and an
  *     unchanged source is a no-op;
  *   - retention GC keeps the newest N snapshots (the reference's
  *     LRU+TTL eviction, cache.go:26-28, done by version count which is
  *     deterministic and cluster-friendly);
  *   - a published snapshot is opened once per session, with the fixed
  *     stored schema, and its frame reused by later reads (the
  *     reference's snapshot LRU, cache.go:39);
  *   - the package and schema listings read the opened frame's
  *     partition index ([[partitionValues]]) as the reference reads its
  *     directories (main.go:143-155, :185-197), with no scan.
  *
  * Malformed records fail the load (the reference silently swallows
  * non-200 errors at cache.go:67-69 — we deliberately do not).
  */
object FbcIngest {

  private val tsFmt =
    DateTimeFormatter.ofPattern("yyyyMMdd_HHmmss.SSS").withZone(ZoneOffset.UTC)

  /** Parse a catalog JSONL stream into the meta table, keeping the
    * verbatim blob. Corrupt lines (no parsable header schema) raise.
    */
  def readMetaStream(spark: SparkSession, path: String): DataFrame =
    parseMeta(spark.read.textFile(path).toDF("blob"))

  /** Header fields of each non-blank `blob` line (batch or streaming),
    * with the blob kept verbatim.
    */
  private def parseMeta(lines: DataFrame): DataFrame =
    lines.filter(length(trim(col("blob"))) > 0)
      .select(from_json(col("blob"), headerSchema).as("h"), col("blob"))
      .select(col("h.schema").as("schema"), col("h.package").as("package"),
        col("h.name").as("name"), col("blob"))

  /** Apply the derived partition key (R6). */
  def withPackageKey(df: DataFrame): DataFrame =
    df.withColumn("package",
      packageKey(col("schema"), col("package"), col("name")))

  private val BadMetaMsg = "meta record lacks schema/name"
  private val BadKeyMsg = "catalog key cannot be a file name"

  /** The charset this JVM encodes file names with, fixed at start-up
    * from the locale (`sun.jnu.encoding`).
    */
  private val FileNames =
    Charset.forName(System.getProperty("sun.jnu.encoding", "UTF-8"))

  /** The stored columns: the derived partition key, plus a schema
    * column that raises on a record lacking schema or name — validation
    * rides the write pass instead of a separate count() over the source.
    *
    * Unless file names are UTF-8, a `package` or `schema` key that
    * `fileNames` cannot encode raises too, naming the key: its partition
    * dir could not be created.
    */
  private[catalog] def checkedMeta(meta: DataFrame,
      fileNames: Charset = FileNames): DataFrame = {
    val nameable: (String, Column) => Column =
      if (fileNames == StandardCharsets.UTF_8) (_, c) => c
      else {
        val cs = fileNames.name
        val encodable = udf((v: String) =>
          v == null || Charset.forName(cs).newEncoder().canEncode(v))
        (key, c) => when(!encodable(c), raise_error(concat(
          lit(s"$BadKeyMsg in $cs: $key="), c))).otherwise(c)
      }
    withPackageKey(meta).select(
      nameable("package", col("package")).as("package"),
      nameable("schema", when(col("schema").isNull || col("name").isNull,
        raise_error(concat(lit(s"$BadMetaMsg: "), coalesce(col("blob"), lit("")))))
        .otherwise(col("schema"))).as("schema"),
      col("name"), col("blob"))
  }

  /** Validate-and-write one immutable snapshot under
    * `root/snapshots/<ts>/` partitioned by (package, schema), and
    * atomically publish it as active. Returns the snapshot id.
    *
    * Validation is fused into the write pass with an inline raise_error
    * — ONE scan of the source, not a count() action followed by a second
    * full read (at 100 TB the extra pass is real money). A bad record
    * aborts the job before publish, surfaced as IllegalArgumentException,
    * as does a key the JVM cannot encode as a file name.
    *
    * The write runs on [[graft.core.LocalFs]], which sets each created
    * file's and dir's permissions through NIO instead of forking `chmod`
    * (about 10 ms per file without libhadoop). It still costs per file,
    * not per byte: each file is created with its `.crc` and renamed at
    * commit. So the write shuffles into the session's shuffle-partition
    * count, not the count AQE would coalesce it to: a small catalog
    * coalesced into one task would write every `(package, schema)` file
    * one after another. Each key still lands in one task, so each
    * partition dir holds one file.
    */
  def writeSnapshot(spark: SparkSession, meta: DataFrame, root: String,
      snapshotId: Option[String] = None, sourceWatermark: Long = 0L): String = {
    val id = snapshotId.getOrElse(tsFmt.format(Instant.now()))
    val snapDir = snapshotDir(root, id)
    evict(Set(snapDir))
    refusing {
      checkedMeta(meta)
        .repartition(spark.sessionState.conf.numShufflePartitions,
          col("package"), col("schema"))
        .sortWithinPartitions("package", "schema", "name")
        .write.mode(SaveMode.Overwrite).options(LocalFs.options)
        .partitionBy("package", "schema")
        .parquet(snapDir.toString)
    }
    publishActive(root, id, sourceWatermark)
    id
  }

  /** Run the write `body`; when [[checkedMeta]] refused the source (a
    * record lacking schema or name, or a key that cannot be a file name)
    * raise that as an IllegalArgumentException saying why. The reason is
    * read off the innermost cause that carries it, the raised error
    * itself, with Spark's SQL state cut off.
    */
  private[catalog] def refusing[A](body: => A): A =
    try body catch {
      case e: Throwable =>
        val why = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(10)
          .map(_.getMessage).filter(_ != null).toSeq.reverse.collectFirst {
            case m if m.contains(BadMetaMsg) => BadMetaMsg
            case m if m.contains(BadKeyMsg) =>
              m.substring(m.indexOf(BadKeyMsg)).replaceFirst(" SQLSTATE: \\w+$", "")
          }
        throw why.fold(e)(w =>
          new IllegalArgumentException(s"refusing to load snapshot: $w", e))
    }

  /** Atomic publish: write ACTIVE.tmp then rename over ACTIVE.
    * Idempotent — a leftover tmp from a crashed publish is overwritten,
    * unlike the reference's EEXIST wedge (cache.go:85-87).
    */
  private def publishActive(root: String, id: String, watermark: Long): Unit = {
    val rootP = Paths.get(root)
    Files.createDirectories(rootP)
    val tmp = rootP.resolve("ACTIVE.tmp")
    Files.write(tmp, s"$id\n$watermark".getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, rootP.resolve("ACTIVE"),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  /** The active snapshot id and its source watermark, if published. */
  def activeSnapshot(root: String): Option[(String, Long)] = {
    val p = Paths.get(root, "ACTIVE")
    if (!Files.exists(p)) None
    else Files.readString(p).split("\n").toList match {
      case id :: wm :: Nil => Some((id, wm.trim.toLong))
      case id :: Nil => Some((id.trim, 0L))
      case _ => None
    }
  }

  /** The active snapshot's meta table (partition-pruned scans). `ACTIVE`
    * is read on every call, so a publish is seen by the very next one;
    * the snapshot it names is opened once per session and its frame
    * reused, as [[snapshotMeta]] does.
    */
  def activeMeta(spark: SparkSession, root: String): DataFrame = {
    val (id, _) = activeSnapshot(root).getOrElse(
      throw new IllegalStateException(s"no active snapshot under $root"))
    openSnapshot(spark, snapshotDir(root, id))
  }

  private def snapshotDir(root: String, id: String): Path =
    Paths.get(root, "snapshots", id).toAbsolutePath.normalize

  /** Read a meta table dir with the stored schema: one listing, no
    * schema-inference job.
    */
  private def open(spark: SparkSession, dir: Path): DataFrame =
    spark.read.schema(storedSchema).parquet(dir.toString)

  /** Opened snapshot frames by (session, dir), each with the `_SUCCESS`
    * modification time seen before it was opened. At most 100, least
    * recently used out — the reference's snapshot LRU (cache.go:26-28,39).
    */
  private val OpenedCap = 100
  private val opened =
    new java.util.LinkedHashMap[(SparkSession, Path), (FileTime, DataFrame)](
        16, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[
          (SparkSession, Path), (FileTime, DataFrame)]): Boolean =
        size() > OpenedCap
    }

  /** A snapshot dir's frame: the one opened earlier while the dir's
    * `_SUCCESS` keeps the modification time it had then, else a fresh
    * open, stored only if the dir has a `_SUCCESS`. The time is read
    * before the open, so a rewrite racing the open only costs a reopen.
    */
  private def openSnapshot(spark: SparkSession, dir: Path): DataFrame = {
    val key = (spark, dir)
    val committed =
      try Some(Files.getLastModifiedTime(dir.resolve("_SUCCESS")))
      catch { case _: NoSuchFileException => None }
    opened.synchronized(Option(opened.get(key))) match {
      case Some((t, df)) if committed.contains(t) => df
      case _ =>
        val df = open(spark, dir)
        opened.synchronized(committed match {
          case Some(t) => opened.put(key, (t, df))
          case None => opened.remove(key)
        })
        df
    }
  }

  /** Drop every session's opened frame of these dirs. */
  private def evict(dirs: Set[Path]): Unit =
    opened.synchronized(opened.keySet.removeIf(k => dirs.contains(k._2)))

  /** The dirs with an opened frame, least recently used first. */
  private[catalog] def openedDirs: Seq[Path] =
    opened.synchronized(opened.keySet.asScala.toList.map(_._2))

  /** The `(package, schema)` values of every partition of a meta table
    * opened here ([[activeMeta]], [[snapshotMeta]], [[incrementalMeta]]),
    * read from the file index listed when it was opened: no job, no I/O.
    * A value stored as Hive's default partition (an empty key) reads as
    * null, as a scan reads it. Fails on any other frame, a filtered or
    * projected meta table included.
    */
  private[catalog] def partitionValues(meta: DataFrame): Seq[(String, String)] = {
    val plan = meta.queryExecution.analyzed
    val index = plan match {
      case LogicalRelation(fs: HadoopFsRelation, _, _, _, _)
          if fs.partitionSchema.map(f => (f.name, f.dataType)) ==
            Seq("package" -> StringType, "schema" -> StringType) => fs.location
      case _ =>
        throw new IllegalArgumentException(s"not an opened meta table:\n$plan")
    }
    def str(v: InternalRow, i: Int): String =
      if (v.isNullAt(i)) null else v.getUTF8String(i).toString
    index.listFiles(Nil, Nil).filter(_.files.nonEmpty)
      .map(d => (str(d.values, 0), str(d.values, 1)))
  }

  /** Published snapshot ids, oldest-first (ids sort chronologically —
    * timestamp-format by default, caller-supplied otherwise).
    */
  def listSnapshots(root: String): Seq[String] = {
    val snaps = Paths.get(root, "snapshots")
    if (!Files.exists(snaps)) return Nil
    val s = Files.list(snaps)
    try s.iterator().asScala.map(_.getFileName.toString).toSeq.sorted
    finally s.close()
  }

  /** TIME-TRAVEL read: the meta table of one specific published
    * version, active or not — the AS OF VERSION surface over the
    * snapshot layout (every version is a self-contained partitioned
    * dir, so historical reads cost the same partition-pruned scan as
    * the active one; retention GC bounds how far back this reaches).
    *
    * The frame is opened once per session and snapshot dir and reused
    * while the dir's `_SUCCESS` marker keeps the modification time it
    * had at open; a dir without one is opened afresh on every call.
    * [[writeSnapshot]] drops its dir's frames before it writes (ids
    * passed in are overwritten in place), [[gcSnapshots]] drops its
    * victims', and at most 100 frames are held, least recently used out.
    */
  def snapshotMeta(spark: SparkSession, root: String, id: String): DataFrame = {
    val dir = snapshotDir(root, id)
    require(Files.exists(dir), s"no snapshot '$id' under $root " +
      s"(published: ${listSnapshots(root).mkString(", ")})")
    openSnapshot(spark, dir)
  }

  /** Incremental refresh: re-ingest only if the source's watermark (max
    * file mtime) moved past the active snapshot's — the reference's
    * If-Modified-Since conditional GET (cache.go:54-66). Returns the
    * (possibly pre-existing) active snapshot id.
    */
  def refreshIfChanged(spark: SparkSession, sourcePath: String,
      root: String): String = {
    val srcWm = sourceWatermark(sourcePath)
    activeSnapshot(root) match {
      case Some((id, wm)) if wm >= srcWm && srcWm > 0 => id
      case _ =>
        writeSnapshot(spark, readMetaStream(spark, sourcePath), root,
          sourceWatermark = srcWm)
    }
  }

  private def sourceWatermark(path: String): Long = {
    val p = Paths.get(path)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_))
        .mapToLong(f => Files.getLastModifiedTime(f).toMillis).max.orElse(0L)
      finally s.close()
    }
  }

  /** Incremental ingest via the Structured Streaming file source with
    * `Trigger.AvailableNow`: the checkpoint tracks exactly which source
    * files have been processed, so a refresh reads ONLY files added
    * since the last run and appends them to the partitioned table —
    * per-file incrementality, unlike [[refreshIfChanged]]'s whole-source
    * mtime watermark (which re-ingests everything on any change). This
    * is the faithful Spark generalization of the reference's
    * If-Modified-Since conditional GET (cache.go:54-66).
    *
    * Scale notes: AvailableNow drains all pending files in rate-limited
    * micro-batches then stops — an incremental batch job, restart-safe
    * via the checkpoint; the parquet sink appends partition-pruned
    * (package, schema) directories exactly like the snapshot writer,
    * but on the stock file system: Spark's file stream sink builds its
    * Hadoop conf from the session alone, so write options such as
    * [[graft.core.LocalFs.options]] never reach it.
    */
  def refreshIncremental(spark: SparkSession, sourceDir: String,
      root: String): Unit = {
    import org.apache.spark.sql.streaming.Trigger
    val q = checkedMeta(parseMeta(
        spark.readStream.text(sourceDir).withColumnRenamed("value", "blob")))
      .writeStream
      .format("parquet")
      .option("path", s"$root/incremental/data")
      .option("checkpointLocation", s"$root/incremental/_checkpoint")
      .partitionBy("package", "schema")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** The incrementally-maintained meta table (partition-pruned scans).
    * Opened afresh on every call: the table grows in place.
    */
  def incrementalMeta(spark: SparkSession, root: String): DataFrame =
    open(spark, Paths.get(root, "incremental", "data"))

  /** Retention GC: delete all but the newest `keep` snapshots, never the
    * active one (fixes the reference's evict-before-load hazard,
    * cache.go:39), and drop the deleted snapshots' opened frames.
    */
  def gcSnapshots(root: String, keep: Int): Seq[String] = {
    val active = activeSnapshot(root).map(_._1)
    val victims = listSnapshots(root).dropRight(keep).filterNot(active.contains)
    victims.foreach(id => Fixtures.deleteTree(snapshotDir(root, id)))
    evict(victims.map(snapshotDir(root, _)).toSet)
    victims
  }
}
