package graft.core

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.scalatest.funsuite.AnyFunSuite

/** One way to do each thing: sessions come from `GraftSession.local`,
  * session confs are set only in `GraftSession`, frames are checkpointed
  * only through `PlanBridge.checkpointResetStats` and released only
  * through `PlanBridge.release`, persisted RDDs are swept only by
  * `PlanBridge.sweep`, entries are declared only as `Entry` records
  * (one `type Q`, no per-module query or SQL map), and the only mains
  * are the three entry points. Convergence loops read their stop value
  * off their checkpoint (`PlanBridge.checkpointMeasured`/`iterate`),
  * with no separate stop action, release bookkeeping or global round
  * counter, and two-level scans live in `QuantileNormalize`. Theta and
  * KLL sketches are Spark's built-ins (only `KllStream` holds
  * datasketches KLL state), and no graft SQL function takes a built-in
  * name. Catalog snapshots are opened only by `FbcIngest`: no parquet
  * read under `graft/catalog` elsewhere, and `CatalogQueries` lists
  * packages and schemas from the partition index, not with a distinct()
  * over a scan. On-disk fixtures go through `Fixtures`: no absolute
  * fixture path literal, fixture marker, recursive tree delete or
  * `Files.delete` elsewhere. The `file:` file system is chosen only in
  * `LocalFs`, and `FbcIngest`'s snapshot write passes its options.
  * Scans every Scala file under `src/` (mains, checkpoints, sweeps,
  * entries, loops, scans, sketches, snapshot opens and fixtures under
  * `src/main`).
  */
class SessionGuardSpec extends AnyFunSuite {

  private val factory = Paths.get("src/main/scala/graft/core/GraftSession.scala")
  private val bridge =
    Paths.get("src/main/scala/org/apache/spark/sql/graftbridge/PlanBridge.scala")
  private val entry = Paths.get("src/main/scala/graft/core/Entry.scala")
  private val registry = Paths.get("src/main/scala/graft/SparkEntry.scala")
  private val operators = Paths.get("src/main/scala/graft/operators")
  private val fixtures = Paths.get("src/main/scala/graft/core/Fixtures.scala")
  private val localFs = Paths.get("src/main/scala/graft/core/LocalFs.scala")
  private val ingest = Paths.get("src/main/scala/graft/catalog/FbcIngest.scala")

  private val sources: Seq[(Path, Seq[String])] = {
    val walk = Files.walk(Paths.get("src"))
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      .map(p => p -> Files.readAllLines(p).asScala.toSeq)
    finally walk.close()
  }

  /** (file, 0-based line) of every line matching `re`. */
  private def hits(re: String): Seq[(Path, Int)] = {
    val r = re.r
    for {
      (p, lines) <- sources
      (l, i) <- lines.zipWithIndex if r.findFirstIn(l).isDefined
    } yield (p, i)
  }

  test("the scan sees the source tree") {
    assert(sources.exists(_._1 == factory), s"no $factory under src/")
  }

  test("GraftSession.local is the only session builder") {
    val found = hits("""SparkSession\s*\.\s*builder""")
    assert(found.map(_._1) == Seq(factory), s"builders at: $found")
  }

  test("conf save/restore happens only inside withConfs") {
    val lines = sources.find(_._1 == factory).get._2
    val start = lines.indexWhere(_.contains("def withConfs"))
    val end = lines.indexWhere(_.startsWith("  }"), start)
    assert(start >= 0 && end > start, "withConfs not found in GraftSession")
    val outside = hits("""conf\s*\.\s*(getOption|unset)\b""")
      .filterNot { case (p, i) => p == factory && i > start && i < end }
    assert(outside.isEmpty, s"conf save/restore outside withConfs: $outside")
  }

  test("the only mains are Bench, Verify and Explain") {
    val mains = hits("""def main\(|extends App\b""")
      .collect { case (p, _) if p.startsWith("src/main") => p.getFileName.toString }
    assert(mains.sorted == Seq("Bench.scala", "Explain.scala", "Verify.scala"),
      s"mains: $mains")
  }

  test("session confs are set only in GraftSession") {
    val found = hits("""conf\s*\.\s*set\(""").filterNot(_._1 == factory)
    assert(found.isEmpty, s"conf.set outside GraftSession: $found")
  }

  test("localCheckpoint is called only inside the checkpoint primitive") {
    val found = hits("""\.localCheckpoint\(""")
      .filter(_._1.startsWith("src/main"))
    assert(found.map(_._1) == Seq(bridge), s"localCheckpoint at: $found")
  }

  test("checkpoint blocks are released only by PlanBridge.release") {
    val lines = sources.find(_._1 == bridge).get._2
    val start = lines.indexWhere(_.contains("def release"))
    val end = lines.indexWhere(_.trim.isEmpty, start)
    assert(start >= 0 && end > start, "release not found in PlanBridge")
    val found = hits("""\.rdd\s*\.\s*unpersist\b|def\s+dropCheckpoint\b""")
      .filterNot { case (p, i) => p == bridge && i > start && i < end }
    assert(found.isEmpty, s"leaf-walk unpersist outside release: $found")
  }

  test("persisted RDDs are swept only by PlanBridge.sweep") {
    val lines = sources.find(_._1 == bridge).get._2
    val start = lines.indexWhere(_.contains("def sweep"))
    val end = lines.indexWhere(_.startsWith("  }"), start)
    assert(start >= 0 && end > start, "sweep not found in PlanBridge")
    val found = hits("""getPersistentRDDs""")
      .filter(_._1.startsWith("src/main"))
      .filterNot { case (p, i) => p == bridge && i > start && i < end }
    assert(found.isEmpty, s"persisted-RDD sweep outside sweep: $found")
  }

  test("the entry type Q is declared once, in Entry") {
    val found = hits("""\btype\s+Q\s*=""").filter(_._1.startsWith("src/main"))
    assert(found.map(_._1) == Seq(entry), s"type Q at: $found")
  }

  test("queries and oracleSql maps are built only in SparkEntry") {
    val found = hits("""\b(val|def|var)\s+(oracleSql|queries)\s*[:=]\s*Map\b""")
      .filter(_._1.startsWith("src/main"))
    assert(found.map(_._1).distinct == Seq(registry), s"entry maps at: $found")
  }

  test("Observation is attached only by the fixpoint primitive and " +
      "q370's demo") {
    val found = hits("""\bObservation\b|\.observe\(""")
      .filter(_._1.startsWith("src/main")).map(_._1).distinct
    assert(found.toSet == Set(bridge,
      Paths.get("src/main/scala/graft/plans/PlanMetrics.scala")),
      s"Observation at: $found")
  }

  test("operators keep no release bookkeeping and no global round " +
      "counter") {
    val found = hits("""\bvar\s+retired\b|@volatile\s+var\s+last""")
      .filter(_._1.startsWith(operators))
    assert(found.isEmpty, s"retired / last* vars at: $found")
  }

  test("no convergence loop runs a separate isEmpty or count() stop " +
      "action") {
    val loopFiles = Seq("ConnectedComponents", "KCore", "KTruss",
      "Coreness", "JpColoring", "LubyMis", "Betweenness", "Bridges",
      "BoruvkaMst", "SccColoring", "Dbscan")
      .map(n => operators.resolve(s"$n.scala"))
    val found = for {
      p <- loopFiles
      lines = sources.find(_._1 == p).getOrElse(fail(s"no $p"))._2
      (l, i) <- lines.zipWithIndex if l.contains("while (")
      // the loop: its condition line through the line closing its body
      depth = lines.drop(i).scanLeft(0)((d, x) =>
        d + x.count(_ == '{') - x.count(_ == '}')).tail
      end = i + depth.indexWhere(_ <= 0, 1)
      j <- i to end if """\.isEmpty\b|\.count\(\)""".r
        .findFirstIn(lines(j)).isDefined
    } yield (p, j + 1)
    assert(found.isEmpty, s"stop actions inside loops at: $found")
  }

  test("datasketches theta and KLL are used in src/main only by KllStream") {
    val found = hits("""org\.apache\.datasketches\.(theta|kll)\b""")
      .filter(_._1.startsWith("src/main"))
      .filterNot(_._1.getFileName.toString == "KllStream.scala")
    assert(found.isEmpty, s"theta/kll sketch code at: $found")
  }

  test("no graft SQL function shadows a Spark built-in") {
    val shadowed = graft.functions.GraftFunctions.descriptions.map(_._1)
      .filter(FunctionRegistry.builtin.functionExists)
    assert(shadowed.isEmpty, s"built-in names re-registered: $shadowed")
  }

  test("catalog snapshots are opened only by FbcIngest") {
    val found = hits("""\.read\b.*\bparquet\(""")
      .filter(_._1.startsWith("src/main/scala/graft/catalog"))
      .filterNot(_._1.getFileName.toString == "FbcIngest.scala")
    assert(found.isEmpty, s"parquet reads under graft/catalog at: $found")
  }

  test("CatalogQueries lists packages and schemas from the partition " +
      "index, with no distinct() over them") {
    val queries = Paths.get("src/main/scala/graft/catalog/CatalogQueries.scala")
    val lines = sources.find(_._1 == queries).getOrElse(fail(s"no $queries"))._2
    val found = lines.zipWithIndex.collect {
      case (l, i) if l.contains("distinct()") &&
        lines.slice(i - 1, i + 1).exists(_.matches(""".*"(package|schema)".*""")) =>
        i + 1
    }
    assert(found.isEmpty, s"distinct() over package/schema at lines: $found")
  }

  test("src/main holds no absolute fixture or resource path literal") {
    val found = hits("\"/[^\"]*(target/fixtures|src/test/resources)")
      .filter(_._1.startsWith("src/main"))
    assert(found.isEmpty, s"absolute fixture paths at: $found")
  }

  test("fixture markers are read and written only by Fixtures.once") {
    val found = hits("""\.fixture_key""")
      .filter(_._1.startsWith("src/main")).filterNot(_._1 == fixtures)
    assert(found.isEmpty, s"fixture markers at: $found")
  }

  test("recursive tree deletes live only in Fixtures.deleteTree") {
    val found = hits("""Comparator\.reverseOrder|Files\.delete\(""")
      .filter(_._1.startsWith("src/main")).filterNot(_._1 == fixtures)
    assert(found.isEmpty, s"tree deletes at: $found")
  }

  test("the file: file system is chosen only in LocalFs") {
    val found = hits("""fs\.file\.impl|disable\.cache""")
      .filter(_._1.startsWith("src/main")).map(_._1).distinct
    assert(found == Seq(localFs), s"file system keys in: $found")
  }

  test("FbcIngest's snapshot write passes LocalFs's options") {
    val lines = sources.find(_._1 == ingest).getOrElse(fail(s"no $ingest"))._2
    val writes = lines.filter("""(?<!Files)\.write\b""".r.findFirstIn(_).isDefined)
    assert(writes.nonEmpty && writes.forall(_.contains(".options(LocalFs.options)")),
      s"batch writes: $writes")
  }

  test("two-level scans (range partition + partition id) live only in " +
      "QuantileNormalize, and in HodgesLehmann's value-domain probes") {
    val scans = sources.collect {
      case (p, lines) if p.startsWith("src/main") &&
          lines.exists(_.contains("repartitionByRange(")) &&
          lines.exists(_.contains("spark_partition_id()")) =>
        p.getFileName.toString
    }
    assert(scans.sorted == Seq("HodgesLehmann.scala",
      "QuantileNormalize.scala"), s"scans in: $scans")
  }
}
