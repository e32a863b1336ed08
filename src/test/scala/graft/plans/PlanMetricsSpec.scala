package graft.plans

import graft.SparkSpec
import graft.core.GraftSession.withConfs
import org.apache.spark.sql.functions._

/** Runtime plan metrics: the generic operator listing carries faithful
  * numOutputRows, and AQE plans unwrap to their final tree.
  */
class PlanMetricsSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  test("filter numOutputRows equals the actual selected count") {
    val df = graft.core.Tables.lineitem(spark, sf)
      .filter($"l_quantity" < 5)
    val expected = df.count()
    df.collect()
    val rows = PlanMetrics.operatorRows(df)
    val filterRow = rows.find(_._1.toLowerCase.contains("filter"))
    assert(filterRow.isDefined, s"no filter operator in $rows")
    assert(filterRow.get._2 == expected,
      s"filter metric ${filterRow.get._2} != actual $expected")
  }

  test("AQE plans unwrap: joins under adaptive execution report metrics") {
    withConfs(spark, "spark.sql.adaptive.enabled" -> "true") {
      val li = graft.core.Tables.lineitem(spark, sf)
      val df = li.join(graft.core.Tables.orders(spark, sf),
          $"l_orderkey" === $"o_orderkey")
        .groupBy($"o_orderpriority").agg(count(lit(1)).as("n"))
      val expectedJoin = li.join(graft.core.Tables.orders(spark, sf),
        $"l_orderkey" === $"o_orderkey").count()
      df.collect()
      val rows = PlanMetrics.operatorRows(df)
      val joinRow = rows.find(_._1.toLowerCase.contains("join"))
      assert(joinRow.isDefined, s"no join operator in $rows")
      assert(joinRow.get._2 == expectedJoin,
        s"join metric ${joinRow.get._2} != actual $expectedJoin")
    }
  }
}
