package catbench

import scala.util.Random

import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's own pure code: the generator, the order statistics
  * and the metric names. */
class HarnessSpec extends AnyFunSuite {

  test("the same seed renders a byte-identical source; another seed differs") {
    val shape = FbcGen.RefreshShape
    val a = FbcGen.render(FbcGen.generate(7, shape))
    val b = FbcGen.render(FbcGen.generate(7, shape))
    val c = FbcGen.render(FbcGen.generate(8, shape))
    assert(a.sameElements(b))
    assert(!a.sameElements(c))
  }

  test("a mutation's size does not depend on the seed") {
    def sizes(seed: Long) = {
      val rng = new Random(seed)
      (1 to 4).scanLeft(FbcGen.generate(seed, FbcGen.RefreshShape)) {
        (c, v) => FbcGen.mutate(c, rng, v)._1
      }.map(c => (c.pkgs.size, c.pkgs.values.map(_.versions.size).sum))
    }
    assert(sizes(1) == sizes(2))
  }

  test("mutations are a function of the seed") {
    def run(seed: Long) = {
      val rng = new Random(seed)
      (1 to 4).foldLeft(FbcGen.generate(seed, FbcGen.RefreshShape)) {
        (c, v) => FbcGen.mutate(c, rng, v)._1
      }
    }
    assert(FbcGen.render(run(3)).sameElements(FbcGen.render(run(3))))
  }

  test("a mutation adds a bundle to the package it names") {
    val c0 = FbcGen.generate(5, FbcGen.RefreshShape)
    val (c1, touched) = FbcGen.mutate(c0, new Random(5), 1)
    val before = new FbcGen.Answers(c0).objects(touched, FbcGen.SchemaBundle)
    val after = new FbcGen.Answers(c1).objects(touched, FbcGen.SchemaBundle)
    assert(after.size > before.size)
  }

  test("the snapshot has more package directories than the listing threshold") {
    val a = new FbcGen.Answers(FbcGen.generate(1, FbcGen.RefreshShape))
    assert(a.packages.size > 32)
    assert(a.packages.contains(FbcGen.GlobalKey))
  }

  test("a route schedule reads every route equally often, in a seeded order") {
    val s1 = CatalogBench.routeSchedule(20, new Random(1))
    val s2 = CatalogBench.routeSchedule(20, new Random(2))
    assert(s1.size == 20)
    assert(s1.groupBy(identity).values.map(_.size).toSet == Set(4))
    assert(s1.sorted == s2.sorted)
    assert(s1 != s2)
    assert(s1.toSet == Metrics.Routes.toSet)
    assertThrows[IllegalArgumentException](CatalogBench.routeSchedule(7, new Random(1)))
  }

  test("median of odd and even samples; geometric mean") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
    assert(math.abs(Stats.gmean(Seq(1.0, 4.0, 16.0)) - 4.0) < 1e-12)
  }

  test("every entry has a pinned digest") {
    assert(Metrics.Entries.map(_._2).toSet == AnalyticMix.Pinned.keySet)
  }

  test("every emitted name matches the allowed pattern and is unique") {
    val names = (Metrics.EndToEnd ++ Metrics.PerLayer).map(_._1)
    names.foreach(n => assert(n.matches("[A-Za-z0-9_.-]+"), n))
    assert(names.distinct.size == names.size)
  }

  test("the result line carries every metric of the mode and nothing else") {
    val line = Stats.resultLine(correct = true, 3, 0,
      Metrics.select(traced = false, Map("suite_s" -> 1.5, "catalog.gc_ms" -> 2.0)))
    Metrics.EndToEnd.foreach { case (n, u) =>
      assert(line.contains(s""""$n": {"value": """), n)
      assert(line.contains(s""""unit": "$u""""), u)
    }
    assert(!line.contains("catalog."))
    assertThrows[IllegalArgumentException](
      Metrics.select(traced = false, Map("no_such_metric" -> 1.0)))
  }

  test("the metric lists match BENCHMARK.json") {
    import com.fasterxml.jackson.databind.ObjectMapper
    import scala.jdk.CollectionConverters._
    val json = new ObjectMapper().readTree(new java.io.File("../BENCHMARK.json"))
    def names(key: String) = json.get(key).elements().asScala
      .map(m => (m.get("name").asText, m.get("unit").asText)).toSeq
    assert(names("end_to_end") == Metrics.EndToEnd)
    assert(names("per_layer") == Metrics.PerLayer)
    assert(json.get("workloads").elements().asScala.map(_.get("name").asText)
      .toSeq == Main.Workloads)
  }
}
