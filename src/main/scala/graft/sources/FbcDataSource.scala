package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.sources.{EqualTo, Filter}
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.core.{Entry, Fixtures}

/** DataSource V2 connector for the reference's NATIVE cache layout —
  * the file-per-row JSON tree `{root}/{package}/{schema}/{name}.json`
  * the console-etl server writes (cache.go:107-113) and answers every
  * query from by directory walking (main.go:143-268). This is the
  * custom-SOURCE tier of the extension surface, next to the custom
  * expressions (SimHash64, JaroWinkler, …), aggregates (MisraGries,
  * ReservoirSample), plans (TopKPerGroup, SortedRuns, AsOfMergeJoin) and
  * optimizer rule (TopKFilterPushdown): Spark has no built-in reader
  * for a file-per-ROW layout (its JSON source assumes line- or
  * document-per-FILE semantics with the path carrying no data), so the
  * connector turns the reference's directory convention into a proper
  * relation.
  *
  * The reference's physical-design decisions become connector-level
  * pushdown, which Catalyst then composes with everything else:
  *
  *   - equality filters on `package`/`schema`/`name` prune DIRECTORIES
  *     and file names during planning — `WHERE package = p AND schema
  *     = s` lists exactly one directory, the same walk
  *     `listObjectsHandler` does (main.go:226-238), and never even
  *     lists the rest of the tree;
  *   - column pruning skips file CONTENT: a projection without `blob`
  *     opens ZERO files — the listing endpoints (R10-R12) are
  *     metadata-only in the reference (fs.ReadDir), and stay
  *     metadata-only here ([[FbcDataSource.filesOpened]] is the
  *     spec-pinned observable);
  *   - the blob is served VERBATIM (raw file bytes as one string
  *     column), the reference's write-blob-verbatim contract
  *     (cache.go:111), which is what lets the q237 oracle hash-compare
  *     byte-for-byte against DuckDB's `read_text` over the same tree.
  *
  * Scale shape: one InputPartition per (package, schema) directory —
  * the layout's natural split unit; listing is driver-side metadata
  * (bounded by directory count, the same cost the reference pays per
  * request), file reads are executor-side. At 100 TB this layout is
  * wrong for analytics (millions of tiny files — the FbcIngest parquet
  * snapshot is the real warehouse form, q70-q73); the connector's job
  * is INGEST and interop with live reference deployments, where
  * pushdown keeps point/listing queries O(one directory).
  */
class FbcDataSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    FbcDataSource.Schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    new FbcTable(properties.get("path"))
  override def supportsExternalMetadata(): Boolean = true
}

object FbcDataSource {
  val Schema: StructType = StructType(Seq(
    StructField("package", StringType, nullable = false),
    StructField("schema", StringType, nullable = false),
    StructField("name", StringType, nullable = false),
    StructField("blob", StringType, nullable = true)))

  /** Files actually opened by readers in this JVM — the column-pruning
    * observable the spec pins (listing projections must not touch file
    * bodies; local-mode readers share the JVM so the counter sees them).
    */
  val filesOpened = new AtomicLong(0)

  /** Materialize a meta frame as the reference's file-per-row tree
    * (driver-side; bounded fixture use — a production dump of a big
    * frame would go through foreachPartition with the same layout).
    */
  def writeFileTree(meta: DataFrame, root: String): Unit = {
    val rows = meta.select("package", "schema", "name", "blob").collect()
    val rootP = Paths.get(root)
    Fixtures.deleteTree(rootP)
    rows.foreach { r =>
      val dir = rootP.resolve(r.getString(0)).resolve(r.getString(1))
      Files.createDirectories(dir)
      Files.write(dir.resolve(r.getString(2) + ".json"),
        r.getString(3).getBytes(StandardCharsets.UTF_8))
    }
  }
}

class FbcTable(root: String) extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite {
  override def name(): String = s"fbc:$root"
  override def schema(): StructType = FbcDataSource.Schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new FbcScanBuilder(root)
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new FbcWriteBuilder(root, info.schema())
}

/** Distributed write path: each task writes its rows as files directly
  * into the tree — the executor-side form of
  * [[FbcDataSource.writeFileTree]]. Every file lands via tmp +
  * ATOMIC_MOVE (the FbcIngest publish discipline), so speculative or
  * retried tasks are idempotent: the same (package, schema, name) cell
  * re-renames to identical content, never a torn file. Commit is a
  * no-op by construction (file-per-row layouts have no manifest — the
  * tree IS the table, exactly the reference's model); a production
  * variant layering atomic SNAPSHOT semantics on top goes through
  * FbcIngest.writeSnapshot's versioned-dir + ACTIVE-pointer publish.
  */
class FbcWriteBuilder(root: String, schema: StructType)
    extends org.apache.spark.sql.connector.write.WriteBuilder {
  override def build(): org.apache.spark.sql.connector.write.Write =
    new FbcWrite(root, schema)
}

class FbcWrite(root: String, schema: StructType)
    extends org.apache.spark.sql.connector.write.Write
    with org.apache.spark.sql.connector.write.BatchWrite {
  override def toBatch: org.apache.spark.sql.connector.write.BatchWrite = this
  override def createBatchWriterFactory(
      info: org.apache.spark.sql.connector.write.PhysicalWriteInfo)
      : org.apache.spark.sql.connector.write.DataWriterFactory = {
    val idx = Seq("package", "schema", "name", "blob").map { c =>
      val i = schema.fieldNames.indexOf(c)
      require(i >= 0, s"fbc write requires column $c (got ${schema.fieldNames.mkString(",")})")
      i
    }
    FbcWriterFactory(root, idx(0), idx(1), idx(2), idx(3))
  }
  override def commit(
      messages: Array[org.apache.spark.sql.connector.write.WriterCommitMessage])
      : Unit = ()
  override def abort(
      messages: Array[org.apache.spark.sql.connector.write.WriterCommitMessage])
      : Unit = ()
}

case class FbcWriterFactory(root: String, iPkg: Int, iSch: Int, iName: Int,
    iBlob: Int) extends org.apache.spark.sql.connector.write.DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long)
      : org.apache.spark.sql.connector.write.DataWriter[InternalRow] =
    new FbcDataWriter(root, iPkg, iSch, iName, iBlob, partitionId, taskId)
}

class FbcDataWriter(root: String, iPkg: Int, iSch: Int, iName: Int,
    iBlob: Int, partitionId: Int, taskId: Long)
    extends org.apache.spark.sql.connector.write.DataWriter[InternalRow] {

  private var written = 0L

  private def pathComponent(row: InternalRow, i: Int, col: String): String = {
    require(!row.isNullAt(i), s"fbc write: null $col (path components are required)")
    val v = row.getUTF8String(i).toString
    require(v.nonEmpty && !v.contains('/') && !v.contains('\\') &&
      v != "." && v != "..",
      s"fbc write: $col value '$v' is not a valid path component")
    v
  }

  override def write(row: InternalRow): Unit = {
    val dir = Paths.get(root, pathComponent(row, iPkg, "package"),
      pathComponent(row, iSch, "schema"))
    Files.createDirectories(dir)
    val target = dir.resolve(pathComponent(row, iName, "name") + ".json")
    val tmp = dir.resolve(s".${target.getFileName}.$partitionId.$taskId.tmp")
    // blob is nullable in the connector schema: a null blob is an empty
    // file (the tree has no way to represent SQL null content).
    val blob = if (row.isNullAt(iBlob)) Array.emptyByteArray
               else row.getUTF8String(iBlob).getBytes
    Files.write(tmp, blob)
    Files.move(tmp, target,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    written += 1
  }

  override def commit(): org.apache.spark.sql.connector.write.WriterCommitMessage =
    FbcCommitMessage(written)
  override def abort(): Unit = ()
  override def close(): Unit = ()
}

case class FbcCommitMessage(rows: Long)
    extends org.apache.spark.sql.connector.write.WriterCommitMessage

class FbcScanBuilder(root: String) extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates
    with org.apache.spark.sql.connector.read.SupportsPushDownLimit {

  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = FbcDataSource.Schema
  private var aggSpecs: Seq[FbcAggSpec] = Nil

  private var groupCols: Seq[String] = Nil
  private var limit: Option[Int] = None

  /** COUNT(*) / MIN / MAX over the PATH-DERIVED columns — plain or
    * grouped by the directory columns — are answerable from the pruned
    * walk alone: the reference's listing endpoints ARE these queries
    * (ReadDir + len, main.go:143-155), and min/max of a directory's
    * file names is a listing fold, never a body read. Complete
    * pushdown: Spark gets the pre-aggregated rows and plans no
    * aggregate on top.
    */
  private def specOf(
      e: org.apache.spark.sql.connector.expressions.aggregate.AggregateFunc)
      : Option[FbcAggSpec] = {
    def colOf(x: org.apache.spark.sql.connector.expressions.Expression)
        : Option[String] = x match {
      case f: org.apache.spark.sql.connector.expressions.NamedReference
          if f.fieldNames().length == 1 &&
            Seq("package", "schema", "name").contains(f.fieldNames()(0)) =>
        Some(f.fieldNames()(0))
      case _ => None
    }
    e match {
      case _: org.apache.spark.sql.connector.expressions.aggregate.CountStar =>
        Some(FbcAggCount)
      case m: org.apache.spark.sql.connector.expressions.aggregate.Min =>
        colOf(m.column).map(FbcAggMin)
      case m: org.apache.spark.sql.connector.expressions.aggregate.Max =>
        colOf(m.column).map(FbcAggMax)
      case _ => None
    }
  }

  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Boolean = {
    val groupable = agg.groupByExpressions().forall {
      case f: org.apache.spark.sql.connector.expressions.NamedReference =>
        f.fieldNames().length == 1 &&
          (f.fieldNames()(0) == "package" || f.fieldNames()(0) == "schema")
      case _ => false
    }
    groupable && agg.aggregateExpressions().nonEmpty &&
      agg.aggregateExpressions().forall(e => specOf(e).isDefined)
  }

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Boolean = {
    if (supportCompletePushDown(agg)) {
      aggSpecs = agg.aggregateExpressions().toSeq.map(e => specOf(e).get)
      groupCols = agg.groupByExpressions().toSeq.map {
        case f: org.apache.spark.sql.connector.expressions.NamedReference =>
          f.fieldNames()(0)
      }
      true
    } else false
  }

  /** LIMIT pushes into planning: one row per file means truncating the
    * pruned file walk to `n` IS the limit — a `LIMIT 5` listing stats
    * 5 files' names instead of the whole tree. Refused when a COUNT
    * aggregation was already pushed (aggregate pushdown runs first):
    * the limit then applies to the AGGREGATED rows, which
    * FbcCountScan does not truncate — accepting it would make Spark
    * drop its Limit operator and return every group.
    */
  override def pushLimit(n: Int): Boolean =
    if (aggSpecs.nonEmpty) false else { limit = Some(n); true }
  override def isPartiallyPushed(): Boolean = false

  /** Accept equality on the path-derived columns (fully applied by
    * directory/file-name pruning — no residual re-evaluation needed);
    * everything else stays with Spark.
    */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (accepted, rejected) = filters.partition {
      case EqualTo(a, _: String) =>
        a == "package" || a == "schema" || a == "name"
      case _ => false
    }
    pushed = accepted
    rejected
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit = {
    required = requiredSchema
  }

  override def build(): Scan =
    if (aggSpecs.nonEmpty) new FbcAggScan(root, pushed, groupCols, aggSpecs)
    else new FbcScan(root, pushed, required, limit)
}

/** One pushed-down aggregate: COUNT(*) or MIN/MAX over a path-derived
  * column — everything a directory listing can answer.
  */
sealed trait FbcAggSpec
case object FbcAggCount extends FbcAggSpec
case class FbcAggMin(col: String) extends FbcAggSpec
case class FbcAggMax(col: String) extends FbcAggSpec

/** Metadata-only aggregates (COUNT(*) / MIN / MAX of path-derived
  * columns), plain or grouped by directory columns: the pruned walk's
  * file lists fold into pre-aggregated rows — zero file bodies touched
  * at any stage (the name min/max is a listing fold, exactly the work
  * the reference's ReadDir-based endpoints do).
  */
class FbcAggScan(root: String, pushed: Array[Filter],
    groupCols: Seq[String], aggs: Seq[FbcAggSpec]) extends Scan with Batch {
  override def readSchema(): StructType = StructType(
    groupCols.map(c => StructField(c, StringType, nullable = false)) ++
      aggs.map {
        case FbcAggCount =>
          StructField("count", org.apache.spark.sql.types.LongType,
            nullable = false)
        case FbcAggMin(c) => StructField(s"min($c)", StringType,
          nullable = true)
        case FbcAggMax(c) => StructField(s"max($c)", StringType,
          nullable = true)
      })
  override def toBatch: Batch = this
  override def description(): String =
    s"FbcAggScan(root=$root, groupBy=${groupCols.mkString(",")}, " +
      s"aggs=${aggs.mkString(",")}, pushed=${pushed.mkString(",")})"
  private def colVals(c: String, p: FbcInputPartition): Seq[String] = c match {
    case "package" => p.files.toSeq.map(_ => p.pkg)
    case "schema" => p.files.toSeq.map(_ => p.sch)
    case "name" => p.files.toSeq.map(f =>
      Paths.get(f).getFileName.toString.stripSuffix(".json"))
  }
  override def planInputPartitions(): Array[InputPartition] = {
    val parts = new FbcScan(root, pushed, FbcDataSource.Schema, None)
      .planInputPartitions().map(_.asInstanceOf[FbcInputPartition])
    val rows = parts
      .groupBy(p => groupCols.map {
        case "package" => p.pkg
        case "schema" => p.sch
      })
      .map { case (key, ps) =>
        FbcAggRow(key, aggs.map {
          case FbcAggCount => ps.map(_.files.length.toLong).sum
          case FbcAggMin(c) =>
            val vs = ps.toSeq.flatMap(p => colVals(c, p))
            if (vs.isEmpty) null else vs.min
          case FbcAggMax(c) =>
            val vs = ps.toSeq.flatMap(p => colVals(c, p))
            if (vs.isEmpty) null else vs.max
        })
      }.toArray
    // Complete pushdown means Spark plans NO aggregate on top, so a
    // global aggregate over an empty/missing tree must still yield the
    // SQL-mandated single row (COUNT = 0, MIN/MAX = NULL) from the
    // source itself.
    val withGlobalZero =
      if (groupCols.isEmpty && rows.isEmpty)
        Array(FbcAggRow(Nil, aggs.map {
          case FbcAggCount => 0L
          case _ => null
        }))
      else rows
    Array(FbcAggPartition(withGlobalZero))
  }
  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      override def createReader(p: InputPartition)
          : PartitionReader[InternalRow] = new PartitionReader[InternalRow] {
        private val rows = p.asInstanceOf[FbcAggPartition].rows
        private var i = -1
        override def next(): Boolean = { i += 1; i < rows.length }
        override def get(): InternalRow =
          new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
            (rows(i).key.map(v => UTF8String.fromString(v): Any) ++
              rows(i).vals.map {
                case s: String => UTF8String.fromString(s): Any
                case other => other: Any
              }).toArray)
        override def close(): Unit = ()
      }
    }
}

case class FbcAggRow(key: Seq[String], vals: Seq[Any])
case class FbcAggPartition(rows: Array[FbcAggRow]) extends InputPartition

class FbcScan(root: String, pushed: Array[Filter], required: StructType,
    limit: Option[Int] = None) extends Scan with Batch
    with org.apache.spark.sql.connector.read.SupportsReportStatistics
    with org.apache.spark.sql.connector.read.SupportsRuntimeFiltering {

  override def readSchema(): StructType = required

  /** RUNTIME (DPP-style) filtering on the directory columns: when this
    * scan sits under a join whose other side filters selectively,
    * Spark materializes that side first and hands the observed key set
    * here as `In` filters — the walk then prunes to exactly the
    * directories a static planner could never know about. The dynamic
    * twin of the planning-time `pushFilters` pruning; together they
    * make package/schema behave like partition columns of a real
    * warehouse table.
    */
  /** A pushed LIMIT means Spark already removed its Limit operator on
    * the promise of "first n rows of the statically-filtered walk";
    * runtime filters removing rows that counted toward that n would
    * silently shrink the result, so the scan declares no filterable
    * attributes in that case (runtime filtering is an optimization the
    * source may decline, never a correctness contract).
    */
  override def filterAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    if (limit.isDefined)
      Array.empty[org.apache.spark.sql.connector.expressions.NamedReference]
    else Seq("package", "schema")
      // only columns that survived pruning: Spark resolves these refs
      // against the scan's OUTPUT schema and fails the query otherwise
      .filter(required.fieldNames.contains)
      .map(org.apache.spark.sql.connector.expressions.Expressions.column)
      .toArray

  @volatile private var runtimeFilters: Array[Filter] = Array.empty
  @volatile private var cachedPartitions: Array[FbcInputPartition] = _

  override def filter(filters: Array[Filter]): Unit = {
    runtimeFilters = filters
    cachedPartitions = null // re-walk under the narrowed key sets
  }

  /** Directory-level evaluation of a runtime filter (conservative:
    * unknown shapes keep the partition).
    */
  private def keepPartition(p: FbcInputPartition): Boolean =
    runtimeFilters.forall {
      case EqualTo("package", v: String) => p.pkg == v
      case EqualTo("schema", v: String) => p.sch == v
      case org.apache.spark.sql.sources.In("package", vs) =>
        vs.exists(_ == p.pkg)
      case org.apache.spark.sql.sources.In("schema", vs) =>
        vs.exists(_ == p.sch)
      case _ => true
    }

  /** TRUE statistics from the pruned walk — one row per file makes
    * rowCount exact, and sizeInBytes is the byte sum of exactly the
    * files this scan (post filter/limit pushdown) will read. Spark's
    * join planning consumes these through DataSourceV2ScanRelation, so
    * a filtered FBC side broadcasts when it is genuinely small instead
    * of defaulting to the conservative whole-table guess. Listing cost
    * is the same driver-side walk planning already pays (cached below:
    * Spark calls estimateStatistics and planInputPartitions
    * separately).
    */
  override def estimateStatistics()
      : org.apache.spark.sql.connector.read.Statistics = {
    val parts = plannedPartitions
    val bytes = parts.iterator.flatMap(_.files.iterator)
      .map(f => try Files.size(Paths.get(f)) catch { case _: Exception => 0L })
      .sum
    val rows = parts.iterator.map(_.files.length.toLong).sum
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(bytes)
      override def numRows(): java.util.OptionalLong =
        java.util.OptionalLong.of(rows)
    }
  }

  private def plannedPartitions: Array[FbcInputPartition] = {
    var parts = cachedPartitions
    if (parts == null) {
      // belt-and-braces with filterAttributes: never runtime-prune a
      // limited walk (the limit counted rows these filters would drop)
      parts = if (limit.isDefined) walkPartitions()
              else walkPartitions().filter(keepPartition)
      cachedPartitions = parts
    }
    parts
  }
  override def toBatch: Batch = this
  override def description(): String =
    s"FbcScan(root=$root, pushed=${pushed.mkString(",")}, " +
      s"columns=${required.fieldNames.mkString(",")}" +
      limit.map(n => s", limit=$n").getOrElse("") + ")"

  private def eqOn(col: String): Option[String] =
    pushed.collectFirst { case EqualTo(`col`, v: String) => v }

  /** Driver-side planning = the pruned directory walk. */
  override def planInputPartitions(): Array[InputPartition] =
    plannedPartitions.toArray[InputPartition]

  private def walkPartitions(): Array[FbcInputPartition] = {
    val rootP = Paths.get(root)
    if (!Files.isDirectory(rootP)) return Array.empty
    def subdirs(p: Path, keep: Option[String]): Seq[Path] = {
      val s = Files.list(p)
      try s.iterator().asScala.filter(Files.isDirectory(_))
        .filter(d => keep.forall(_ == d.getFileName.toString)).toSeq
      finally s.close()
    }
    val parts = for {
      pkgDir <- subdirs(rootP, eqOn("package"))
      schDir <- subdirs(pkgDir, eqOn("schema"))
    } yield {
      val s = Files.list(schDir)
      val files =
        try s.iterator().asScala
          .filter(f => Files.isRegularFile(f)
            && f.getFileName.toString.endsWith(".json"))
          .filter(f => eqOn("name").forall(
            _ == f.getFileName.toString.stripSuffix(".json")))
          .map(_.toString).toArray.sorted
        finally { s.close() }
      FbcInputPartition(pkgDir.getFileName.toString,
        schDir.getFileName.toString, files)
    }
    val nonEmpty = parts.filter(_.files.nonEmpty)
    // pushed LIMIT: one file = one row, so truncating the walk to the
    // first n files (in the deterministic pkg/schema/name walk order)
    // IS the limit
    val limited = limit match {
      case None => nonEmpty
      case Some(n) =>
        var remaining = n
        nonEmpty.flatMap { p =>
          if (remaining <= 0) None
          else {
            val take = math.min(remaining, p.files.length)
            remaining -= take
            Some(p.copy(files = p.files.take(take)))
          }
        }
    }
    limited.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new FbcReaderFactory(required.fieldNames)

  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new FbcMicroBatchStream(root, pushed, required)
}

/** Streaming READ of the cache tree — the reference's
  * If-Modified-Since refresh loop (cache.go:49-69) as a DSv2
  * MicroBatchStream: the offset is a modification-time WATERMARK, each
  * micro-batch processes exactly the files whose mtime moved past the
  * previous one. The connector thereby covers batch read, batch write,
  * and incremental tailing of a live reference deployment.
  *
  * Semantics contract: a file is included when `start < mtime ≤ end`,
  * with `latestOffset` reading the tree's current max mtime — files
  * REWRITTEN later re-emit (update semantics, matching the reference's
  * cache refresh, which re-serves changed content under the same
  * name). Files landing with an mtime ≤ an already-committed watermark
  * (an out-of-order writer) are missed by construction — the same
  * contract as If-Modified-Since itself; writers must move mtimes
  * forward (the connector's own write path does).
  */
class FbcMicroBatchStream(root: String, pushed: Array[Filter],
    required: StructType)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream {
  import org.apache.spark.sql.connector.read.streaming.Offset

  private def walk(): Seq[(String, String, String, Long)] = {
    val parts = new FbcScan(root, pushed, FbcDataSource.Schema, None)
      .planInputPartitions().map(_.asInstanceOf[FbcInputPartition])
    parts.toSeq.flatMap { p =>
      p.files.toSeq.map { f =>
        (p.pkg, p.sch, f, Files.getLastModifiedTime(Paths.get(f)).toMillis)
      }
    }
  }

  override def latestOffset(): Offset = {
    val files = walk()
    FbcOffset(if (files.isEmpty) 0L else files.map(_._4).max)
  }

  override def initialOffset(): Offset = FbcOffset(0L)

  override def deserializeOffset(json: String): Offset =
    FbcOffset(json.trim.toLong)

  override def commit(end: Offset): Unit = ()

  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset, end: Offset)
      : Array[InputPartition] = {
    val lo = start.asInstanceOf[FbcOffset].maxMtime
    val hi = end.asInstanceOf[FbcOffset].maxMtime
    walk()
      .filter { case (_, _, _, m) => m > lo && m <= hi }
      .groupBy(f => (f._1, f._2))
      .map { case ((pkg, sch), fs) =>
        FbcInputPartition(pkg, sch, fs.map(_._3).sorted.toArray)
      }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new FbcReaderFactory(required.fieldNames)
}

case class FbcOffset(maxMtime: Long)
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String = maxMtime.toString
}

case class FbcInputPartition(pkg: String, sch: String,
    files: Array[String]) extends InputPartition

class FbcReaderFactory(columns: Array[String])
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new FbcPartitionReader(p.asInstanceOf[FbcInputPartition], columns)
}

/** Emits one row per file; opens the file ONLY when `blob` was not
  * pruned away — the connector-level equivalent of the reference
  * answering listings from ReadDir without touching file bodies.
  */
class FbcPartitionReader(part: FbcInputPartition, columns: Array[String])
    extends PartitionReader[InternalRow] {

  private val needBlob = columns.contains("blob")
  private var i = -1

  override def next(): Boolean = { i += 1; i < part.files.length }

  override def get(): InternalRow = {
    val path = Paths.get(part.files(i))
    lazy val blob = {
      FbcDataSource.filesOpened.incrementAndGet()
      UTF8String.fromBytes(Files.readAllBytes(path))
    }
    val values: Array[Any] = columns.map {
      case "package" => UTF8String.fromString(part.pkg)
      case "schema" => UTF8String.fromString(part.sch)
      case "name" => UTF8String.fromString(
        path.getFileName.toString.stripSuffix(".json"))
      case "blob" => if (needBlob) blob else null
      case other => throw new IllegalArgumentException(s"unknown column $other")
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(values)
  }

  override def close(): Unit = ()
}

/** q237 — the DSv2 connector under the driver gate: the checked-in FBC
  * fixture materialized as the reference's file-per-row tree through
  * [[FbcDataSource.writeFileTree]], read back through the connector,
  * every column + verbatim blob bytes. The oracle reads the SAME tree
  * with DuckDB's `read_text` glob and re-derives (package, schema,
  * name) from the file path — so a connector bug in path parsing,
  * partition assembly, or byte fidelity breaks the hash.
  */
object FbcSource {

  import Entry.Q

  val FixtureRoot = Fixtures.path("fbcfs")

  /** Reads the fixture tree, built once per content of the source. */
  def read(s: SparkSession): DataFrame = {
    import graft.catalog.{CatalogOracle, FbcIngest}
    Fixtures.once("fbcfs", s"${CatalogOracle.sourceKey}:tree") {
      FbcDataSource.writeFileTree(FbcIngest.withPackageKey(
        FbcIngest.readMetaStream(s, CatalogOracle.FixtureSource)), FixtureRoot)
    }
    s.read.format(classOf[FbcDataSource].getName).load(FixtureRoot)
  }

  val q237FbcSource: Q = (s, _) => {
    import s.implicits._
    read(s).orderBy($"package", $"schema", $"name")
  }

  val q237Sql: String =
    s"""SELECT
       |  regexp_extract(filename, '([^/]+)/[^/]+/[^/]+$$', 1) AS package,
       |  regexp_extract(filename, '([^/]+)/[^/]+$$', 1) AS "schema",
       |  regexp_replace(regexp_extract(filename, '([^/]+)$$', 1),
       |    '\\.json$$', '') AS name,
       |  content AS blob
       |FROM read_text('$FixtureRoot/*/*/*.json')
       |ORDER BY package, "schema", name""".stripMargin

  /** q413 — the MIN/MAX pushdown as an oracle row: per package, the
    * file count and the lexical first/last schema-object name — all
    * answered by [[FbcAggScan]] from the directory walk (complete
    * pushdown, no Spark aggregate, zero bodies opened — the spec pins
    * the plan and the counter; this row pins the VALUES against
    * DuckDB's read of the same tree).
    */
  val q413FbcMinmax: Q = (s, _) => {
    import org.apache.spark.sql.functions.{count, lit, max, min}
    import s.implicits._
    read(s).groupBy($"package")
      .agg(count(lit(1)).as("n"), min($"name").as("min_name"),
        max($"name").as("max_name"))
      .orderBy($"package")
  }

  val q413Sql: String =
    s"""SELECT
       |  regexp_extract(filename, '([^/]+)/[^/]+/[^/]+$$', 1) AS package,
       |  COUNT(*) AS n,
       |  MIN(regexp_replace(regexp_extract(filename, '([^/]+)$$', 1),
       |    '\\.json$$', '')) AS min_name,
       |  MAX(regexp_replace(regexp_extract(filename, '([^/]+)$$', 1),
       |    '\\.json$$', '')) AS max_name
       |FROM read_text('$FixtureRoot/*/*/*.json')
       |GROUP BY package
       |ORDER BY package""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("q237_fbc_source", q237FbcSource, q237Sql),
    Entry("q413_fbc_minmax", q413FbcMinmax, q413Sql))
}
