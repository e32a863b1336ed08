package graft.core

import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.col

import graft.SparkSpec
import graft.core.GraftSession.withConfs

class WithConfsSpec extends SparkSpec {

  private val key = "spark.sql.autoBroadcastJoinThreshold"

  test("a key that was set gets its prior value back") {
    withConfs(spark, key -> "1234") {
      withConfs(spark, key -> "-1") {
        assert(spark.conf.get(key) == "-1")
      }
      assert(spark.conf.getAll.get(key).contains("1234"))
    }
  }

  test("a key that was not set is unset again") {
    assert(!spark.conf.getAll.contains(key))
    withConfs(spark, key -> "-1") {
      assert(spark.conf.get(key) == "-1")
    }
    assert(!spark.conf.getAll.contains(key))
  }

  test("confs are restored when the body throws") {
    withConfs(spark, key -> "1234") {
      intercept[IllegalStateException] {
        withConfs(spark, key -> "-1", "spark.sql.cbo.enabled" -> "true") {
          throw new IllegalStateException("boom")
        }
      }
      assert(spark.conf.getAll.get(key).contains("1234"))
      assert(!spark.conf.getAll.contains("spark.sql.cbo.enabled"))
    }
  }

  test("a DataFrame result is materialized inside the scope") {
    // AQE off so the scope's partition count is the plan's, uncoalesced
    val df = withConfs(spark, "spark.sql.adaptive.enabled" -> "false",
        "spark.sql.shuffle.partitions" -> "3") {
      spark.range(0, 100).groupBy((col("id") % 7).as("k")).count()
    }
    assert(df.queryExecution.analyzed.isInstanceOf[LogicalRDD],
      s"not checkpointed:\n${df.queryExecution.analyzed}")
    assert(df.rdd.getNumPartitions == 3)
    assert(df.count() == 7)
  }
}
