package graft.operators

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.GraftSession.withConfs

/** Bin-bucketed interval join: must be pair-identical to the naive
  * inequality join (the binning is an execution strategy, never a
  * semantics change), including at window/bin boundaries.
  */
class IntervalJoinSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("binned interval join equals the naive inequality join") {
    val left = Seq(
      (1L, 10L, ts("2024-01-01 00:10:00")),
      (1L, 11L, ts("2024-01-01 00:20:00.000001")),
      (2L, 20L, ts("2024-01-01 00:10:00")),
      (3L, 30L, ts("2024-01-01 05:00:00")))
      .toDF("k", "lid", "lts")
    val right = Seq(
      (1L, 100L, ts("2024-01-01 00:00:00")),       // exactly lts-600 of lid=10 → IN
      (1L, 101L, ts("2024-01-01 00:09:59.999999")),// just inside lid=10
      (1L, 102L, ts("2024-01-01 00:10:00")),       // == lts of lid=10 → OUT (right-open); 1µs before lid=11's window start → OUT
      (1L, 103L, ts("2024-01-01 00:20:00")),       // inside lid=11's window
      (2L, 200L, ts("2024-01-01 00:10:00")),       // own key, == lts → OUT
      (2L, 201L, ts("2024-01-01 00:05:00")),       // IN for lid=20
      (3L, 300L, ts("2024-01-01 04:49:59.999999")),// just before window → OUT
      (9L, 900L, ts("2024-01-01 00:05:00")))       // key with no left → OUT
      .toDF("k", "rid", "rts")
    val got = IntervalJoin.intervalJoin(left, right, "k", "lts", "rts", 600L)
      .select($"lid", $"rid").as[(Long, Long)].collect().toSet
    val naive = left.join(right, Seq("k"))
      .filter($"rts" >= $"lts" - expr("INTERVAL 600 SECONDS")
        && $"rts" < $"lts")
      .select($"lid", $"rid").as[(Long, Long)].collect().toSet
    assert(got == naive, s"binned=$got naive=$naive")
    assert(got == Set((10L, 100L), (10L, 101L), (11L, 103L),
      (20L, 201L)), s"got=$got")
  }

  test("the range join plans as an equi-join, never a nested loop — " +
      "including in the shuffle regime") {
    withConfs(spark, "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val ev = graft.core.Tables.events(spark, "/root/testdata/sf0.001")
      val p = ev.filter($"event_type" === "purchase")
        .select($"user_id", $"event_id".as("pid"), $"ts".as("lts"))
      val v = ev.filter($"event_type" === "view")
        .select($"user_id", $"event_id".as("vid"), $"ts".as("rts"))
      val plan = IntervalJoin
        .intervalJoin(p, v, "user_id", "lts", "rts", 3600L)
        .queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
        s"expected a shuffled equi-join; plan:\n$plan")
      assert(!plan.contains("NestedLoop") && !plan.contains("Cartesian"),
        s"range join degenerated to a nested loop; plan:\n$plan")
    }
  }

  test("parity holds on the events fixture") {
    val ev = graft.core.Tables.events(spark, "/root/testdata/sf0.001")
    val p = ev.filter($"event_type" === "purchase")
      .select($"user_id", $"event_id".as("pid"), $"ts".as("lts"))
    val v = ev.filter($"event_type" === "view")
      .select($"user_id", $"event_id".as("vid"), $"ts".as("rts"))
    val got = IntervalJoin.intervalJoin(p, v, "user_id", "lts", "rts", 3600L)
      .select($"pid", $"vid").as[(Long, Long)].collect().toSet
    val naive = p.join(v, Seq("user_id"))
      .filter($"rts" >= $"lts" - expr("INTERVAL 3600 SECONDS")
        && $"rts" < $"lts")
      .select($"pid", $"vid").as[(Long, Long)].collect().toSet
    assert(got.nonEmpty, "fixture produced no pairs — dead test")
    assert(got == naive)
  }
}
