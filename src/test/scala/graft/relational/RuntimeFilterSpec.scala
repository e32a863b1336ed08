package graft.relational

import graft.SparkSpec
import graft.core.GraftSession.withConfs
import org.apache.spark.sql.functions._

/** Runtime bloom-filter join pruning — the 100 TB recipe where a
  * selective dim-side filter is turned into a bloom filter applied at
  * the fact-side scan, so most fact rows die before the join shuffle.
  * Spark's InjectRuntimeFilter does this when enabled; this spec pins
  * (a) that the plan actually contains the bloom probe under the confs
  * we document, and (b) that results are identical with and without it.
  */
class RuntimeFilterSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.01"

  private def join() = {
    val lineitem = graft.core.Tables.lineitem(spark, dir)
    val urgent = graft.core.Tables.orders(spark, dir)
      .filter($"o_orderpriority" === "1-URGENT" && $"o_totalprice" > 250000.0)
    lineitem.join(urgent, $"l_orderkey" === $"o_orderkey")
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n"), sum($"l_quantity").as("qty"))
  }

  test("selective dim filter injects a bloom probe into the fact side") {
    withConfs(spark,
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      // sf0.01 plans are far below the 10 GiB default application-side
      // threshold; drop it so the injection fires at test scale
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      // InjectRuntimeFilter only fires for probable SHUFFLE joins (with a
      // broadcast join the dim side already prunes at the probe) — turn
      // off auto-broadcast so the test join takes the shuffle path, which
      // is exactly the 100 TB regime the recipe targets
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val withFilter = join()
      val plan = withFilter.queryExecution.optimizedPlan.toString
      assert(plan.contains("might_contain"),
        s"no bloom runtime filter injected; optimized plan:\n$plan")
      val expected = withConfs(spark,
          "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "false") {
        join().as[(String, Long, Double)].collect().toSet
      }
      val got = withFilter.as[(String, Long, Double)].collect().toSet
      assert(got == expected && got.nonEmpty,
        s"bloom-pruned result diverged: $got vs $expected")
    }
  }

  test("registered q99 runs the bloom-pruned plan and restores session confs") {
    val keys = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.autoBroadcastJoinThreshold")
    // getAll holds only the keys set on the session: a leaked set shows
    // up here even when it sets a key to its default value
    val before = keys.map(spark.conf.getAll.get)
    val got = AnalyticalQueries.q99BloomPrunedJoin(spark, dir)
      .as[(String, Long, Double)].collect().toSet
    assert(keys.map(spark.conf.getAll.get) == before,
      "q99 leaked session confs")
    // same answer as the identical aggregate without the bloom confs
    // (decimal-path sum on both sides so the comparison is exact)
    val urgent = graft.core.Tables.orders(spark, dir)
      .filter($"o_orderpriority" === "1-URGENT" && $"o_totalprice" > 250000.0)
    val expected = graft.core.Tables.lineitem(spark, dir)
      .join(urgent, $"l_orderkey" === $"o_orderkey")
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n_lines"),
        graft.core.dsl.dsumExpr($"l_quantity").as("qty"))
      .as[(String, Long, Double)].collect().toSet
    assert(got == expected && got.nonEmpty, s"q99 diverged: $got vs $expected")
  }
}
