package graft.core

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** One way to do each thing: sessions come from `GraftSession.local`,
  * session confs are set only in `GraftSession`, frames are checkpointed
  * only through `PlanBridge.checkpointResetStats` and released only
  * through `PlanBridge.release`, persisted RDDs are swept only by
  * `PlanBridge.sweep`, entries are declared only as `Entry` records
  * (one `type Q`, no per-module query or SQL map), and the only mains
  * are the three entry points. Scans every Scala file under `src/`
  * (mains, checkpoints, sweeps and entries under `src/main`).
  */
class SessionGuardSpec extends AnyFunSuite {

  private val factory = Paths.get("src/main/scala/graft/core/GraftSession.scala")
  private val bridge =
    Paths.get("src/main/scala/org/apache/spark/sql/graftbridge/PlanBridge.scala")
  private val entry = Paths.get("src/main/scala/graft/core/Entry.scala")
  private val registry = Paths.get("src/main/scala/graft/SparkEntry.scala")

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
}
