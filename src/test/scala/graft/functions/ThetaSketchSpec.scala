package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Contracts q257 relies on from Spark's theta sketches
  * (`theta_sketch_agg`, `theta_intersection`, `theta_sketch_estimate`):
  * exact mode below nominal entries, the estimation regime's error
  * band, intersection correctness on planted overlaps, and merge-order
  * independence across repartitionings.
  */
class ThetaSketchSpec extends SparkSpec {
  import spark.implicits._

  private def estimate(df: DataFrame, lgK: Int): Long =
    df.agg(theta_sketch_estimate(theta_sketch_agg(df.columns.head, lgK)))
      .first().getLong(0)

  test("exact mode: below 2^lgK distinct keys every estimate is exact") {
    val est = estimate((0L until 1000L).toDF("id"), 12)
    assert(est == 1000L, s"exact-mode estimate $est != 1000")
  }

  test("planted overlap: intersection recovers the shared keys exactly") {
    // A = [0, 600), B = [400, 1000) -> overlap 200, both sides exact
    val a = (0L until 600L).toDF("id")
      .agg(theta_sketch_agg($"id", 12).as("sk"))
    val b = (400L until 1000L).toDF("id")
      .agg(theta_sketch_agg($"id", 12).as("sk2"))
    val est = a.crossJoin(b)
      .select(theta_sketch_estimate(theta_intersection($"sk", $"sk2")))
      .first().getLong(0)
    assert(est == 200L, s"planted-overlap estimate $est != 200")
  }

  test("estimation regime: lgK=4 stays within a loose relative band") {
    val n = 20000L
    val est = estimate((0L until n).toDF("id"), 4)
    val rel = math.abs(est - n) / n.toDouble
    // 1/sqrt(16) ~ 25% std err; 3 sigma
    assert(rel < 0.75, s"lgK=4 estimate $est vs $n (rel err $rel)")
  }

  test("merge-order independence: estimates agree across partitionings") {
    val df = (0L until 5000L).toDF("id")
    val e1 = estimate(df.repartition(1), 12)
    val e32 = estimate(df.repartition(32), 12)
    assert(e1 == e32, s"partitioning changed the estimate: $e1 vs $e32")
  }

  test("string keys sketch and count") {
    val est = estimate((0 until 300).map(i => s"key-$i").toDF("k"), 12)
    assert(est == 300L, s"string-key estimate $est != 300")
  }
}
