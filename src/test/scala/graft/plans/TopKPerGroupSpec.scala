package graft.plans

import graft.SparkSpec
import graft.core.GraftSession.withConfs
import org.apache.spark.sql.functions._

class TopKPerGroupSpec extends SparkSpec {
  import spark.implicits._

  private def fixture = Seq(
    ("a", 1L, 10.0), ("a", 2L, 30.0), ("a", 3L, 20.0), ("a", 4L, 30.0),
    ("b", 5L, 5.0), ("c", 6L, 1.0), ("c", 7L, 2.0), ("c", 8L, 3.0),
    ("c", 9L, 4.0)).toDF("g", "id", "v")

  test("keeps first k per group under a total order, ties by id") {
    val out = TopK.perGroup(fixture, Seq("g"),
        Seq("v" -> false, "id" -> true), k = 2)
      .orderBy($"g", $"v".desc, $"id")
      .as[(String, Long, Double)].collect().toSeq
    assert(out == Seq(
      ("a", 2L, 30.0), ("a", 4L, 30.0),
      ("b", 5L, 5.0),
      ("c", 9L, 4.0), ("c", 8L, 3.0)))
  }

  test("groups smaller than k are kept whole; matches the window spelling") {
    import org.apache.spark.sql.expressions.Window
    val df = fixture
    val custom = TopK.perGroup(df, Seq("g"), Seq("v" -> true, "id" -> true), 3)
      .select("g", "id").as[(String, Long)].collect().toSet
    val window = df.withColumn("rn", row_number().over(
        Window.partitionBy($"g").orderBy($"v".asc, $"id".asc)))
      .filter($"rn" <= 3).select("g", "id")
      .as[(String, Long)].collect().toSet
    assert(custom == window)
  }

  test("plan contains the custom exec node and one exchange on the group key") {
    val df = fixture
    val out = TopK.perGroup(df, Seq("g"), Seq("v" -> false, "id" -> true), 1)
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("TopKPerGroup"), s"custom node missing:\n$plan")
    assert(plan.contains("hashpartitioning(g"), s"group exchange missing:\n$plan")
  }

  test("group-key filters push below the node and into the parquet scan") {
    val dir = java.nio.file.Files.createTempDirectory("topk_pushdown").toString
    fixture.write.mode("overwrite").parquet(dir)
    val base = spark.read.parquet(dir)
    val topped = TopK.perGroup(base, Seq("g"), Seq("v" -> false, "id" -> true), 2)
    val filtered = topped.filter($"g" =!= "a")
    val plan = filtered.queryExecution.executedPlan.toString
    // the custom rule moved the filter under the node; built-in pushdown
    // then carried it into the scan
    assert(plan.contains("PushedFilters: [IsNotNull(g), Not(EqualTo(g,a))]")
      || plan.contains("Not(EqualTo(g,a))"), s"filter not pushed:\n$plan")
    // and the result equals filtering BEFORE the top-k (groups drop whole)
    val direct = TopK.perGroup(base.filter($"g" =!= "a"), Seq("g"),
      Seq("v" -> false, "id" -> true), 2)
    assert(filtered.select("g", "id").as[(String, Long)].collect().toSet ==
      direct.select("g", "id").as[(String, Long)].collect().toSet)
    // a filter on a NON-group column must NOT move below the node
    val nonGroup = topped.filter($"v" > 2.0)
    val ngPlan = nonGroup.queryExecution.optimizedPlan.toString
    assert(ngPlan.startsWith("Filter") || ngPlan.contains("Filter (v"),
      s"non-group filter must stay above:\n$ngPlan")
  }

  test("non-deterministic filters stay above the node (empty reference set)") {
    // rand() references no columns, so the reference-subset check alone
    // would push it below the heap — filtering rows before selection
    // instead of whole groups after it. The deterministic guard must
    // keep it put.
    val topped = TopK.perGroup(fixture, Seq("g"),
      Seq("v" -> false, "id" -> true), 2)
    val filtered = topped.filter(rand(7) < 0.5)
    val plan = filtered.queryExecution.optimizedPlan
    val topsUnderFilter = plan.collect {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter
          if !f.condition.deterministic =>
        f.child.collect { case t: TopKPerGroupNode => t }.size
    }
    assert(topsUnderFilter.sum == 1,
      s"non-deterministic filter must stay above the top-k node:\n$plan")
  }

  test("spill path (tiny threshold) matches the in-memory path row-for-row") {
    val n = 500
    val wide = (1 to n).map(i =>
      (s"g${i % 97}", i.toLong, (i * 37 % 101).toDouble)).toDF("g", "id", "v")
    def run(): Set[(String, Long, Double)] =
      TopK.perGroup(wide, Seq("g"), Seq("v" -> false, "id" -> true), 3)
        .as[(String, Long, Double)].collect().toSet
    val inMemory = run()
    // force many tiny runs
    withConfs(spark, TopK.SpillThresholdKey -> "7") {
      val spilled = run()
      assert(spilled == inMemory,
        s"spill path diverged: ${spilled.diff(inMemory)} vs ${inMemory.diff(spilled)}")
      assert(inMemory.size == 97 * 3)
    }
  }
}
