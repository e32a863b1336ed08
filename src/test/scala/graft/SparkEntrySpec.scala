package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.core.Entry
import graft.streaming.StreamBench

/** The entry registry: each entry declared once, as one [[Entry]], and
  * `queries`/`oracleSql` derived from the one list.
  */
class SparkEntrySpec extends AnyFunSuite {

  private val names = SparkEntry.entries.map(_.name)

  test("the registry holds 555 uniquely named entries") {
    assert(names.size == 555)
    assert(names.distinct.size == 555)
    assert(SparkEntry.queries.keySet == names.toSet)
    assert(SparkEntry.oracleSql.keySet == names.toSet)
  }

  test("every entry carries oracle SQL") {
    val blank = SparkEntry.entries.filter(_.sql.trim.isEmpty).map(_.name)
    assert(blank.isEmpty, s"blank SQL: $blank")
  }

  test("no entry name is also a streaming bench entry") {
    assert(StreamBench.benchOnly.size == 29)
    assert(names.toSet.intersect(StreamBench.benchOnly.keySet).isEmpty)
  }

  test("the bench sentinel and the benchmark's entries resolve") {
    val catbench = Seq("q522_jp_coloring", "q01_pricing_summary",
      "q361_deletion_join", "q319_naive_bayes")
    for (n <- Bench.SentinelQueries ++ catbench) {
      assert(SparkEntry.queries.contains(n), n)
      assert(SparkEntry.oracleSql.contains(n), n)
    }
  }

  test("a name declared twice fails the registry build, naming it") {
    val q: Entry.Q = (s, _) => s.emptyDataFrame
    val twice = intercept[IllegalArgumentException] {
      SparkEntry.registry(
        Seq(Entry("a", q, "SELECT 1"), Entry("b", q, "SELECT 2"),
          Entry("a", q, "SELECT 3")), Nil)
    }
    assert(twice.getMessage.contains("declared twice: a"))
    val clash = intercept[IllegalArgumentException] {
      SparkEntry.registry(Seq(Entry("qs01", q, "SELECT 1")), Seq("qs01"))
    }
    assert(clash.getMessage.contains("qs01"))
    assert(SparkEntry.registry(Seq(Entry("a", q, "SELECT 1")), Seq("b"))
      .map(_.name) == Seq("a"))
  }

  test("each entry name is written once under src/main, outside Bench") {
    val walk = Files.walk(Paths.get("src/main"))
    val text =
      try walk.iterator().asScala
        .filter(p => p.toString.endsWith(".scala") &&
          p.getFileName.toString != "Bench.scala")
        .map(Files.readString).toList
      finally walk.close()
    val literal = "\"(\\w+)\"".r
    val literals = text.flatMap(literal.findAllMatchIn(_).map(_.group(1)))
      .groupBy(identity).map { case (l, ls) => l -> ls.size }
    val counts = names.map(n => n -> literals.getOrElse(n, 0))
    val off = counts.filter(_._2 != 1)
    assert(off.isEmpty, s"name literals not written exactly once: $off")
  }

  test("the name selector keeps the substring semantics") {
    assert(Seq("q01_a", "q02_b", "qs01_c").forall(SparkEntry.selected(None)))
    val sel = SparkEntry.selected(Some("q01,qs"))
    assert(Seq("q01_a", "q02_b", "qs01_c").filter(sel) ==
      Seq("q01_a", "qs01_c"))
  }
}
