package graft.plans

import graft.SparkSpec
import graft.core.GraftSession
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.PlanBridge

/** Pins for the checkpoint primitive [[PlanBridge.checkpointResetStats]]
  * (only its size statistics differ from Spark's own `localCheckpoint`;
  * they are measured and do not compound; [[PlanBridge.release]] frees
  * the blocks) and for [[PlanBridge.checkpointKeepHashPartitioning]] (r17 advice):
  * the helper DECLARES HashPartitioning over the checkpointed RDD as
  * ground truth — if that claim were ever false (an AQE change
  * rewriting REPARTITION_BY_NUM shuffles, a column binding slip),
  * downstream exchange-free aggregation would return silently WRONG
  * results, not a slow plan. So the spec asserts result identity
  * against a plain localCheckpoint on a SKEWED fixture (one hot key
  * owning most rows — the regime where a falsified bucket map would
  * visibly split a group), plus the argument validation the helper
  * promises.
  */
class PlanBridgeSpec extends SparkSpec {

  private def skewed = {
    import spark.implicits._
    // hot key 0 owns ~70% of rows; 64 cold keys share the rest
    spark.range(0, 20000)
      .select(
        when($"id" % 10 < 7, 0L).otherwise($"id" % 64 + 1L).as("k"),
        ($"id" % 97).as("v"))
  }

  test("declared hash clustering gives identical groupBy results to a " +
      "plain localCheckpoint on a skewed frame") {
    import spark.implicits._
    val plain = skewed.localCheckpoint()
      .groupBy($"k").agg(count(lit(1)).as("n"), sum($"v").as("s"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1).toSeq
    val kept = PlanBridge
      .checkpointKeepHashPartitioning(skewed, Seq("k"), 8)
      .groupBy($"k").agg(count(lit(1)).as("n"), sum($"v").as("s"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1).toSeq
    assert(kept == plain, "exchange-free groupBy diverged from baseline")
  }

  test("declared hash clustering gives identical join results to a " +
      "plain localCheckpoint") {
    import spark.implicits._
    val right = spark.range(0, 65).select($"id".as("k"), ($"id" * 3).as("w"))
    def agg(df: org.apache.spark.sql.DataFrame) =
      df.join(right, "k").groupBy($"k").agg(sum($"v" + $"w").as("t"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(agg(PlanBridge.checkpointKeepHashPartitioning(skewed, Seq("k"), 8))
      == agg(skewed.localCheckpoint()),
      "exchange-free join diverged from baseline")
  }

  test("the kept clustering actually elides the aggregation exchange") {
    import spark.implicits._
    val kept = PlanBridge.checkpointKeepHashPartitioning(skewed, Seq("k"), 8)
      .groupBy($"k").agg(count(lit(1)).as("n"))
    kept.collect()
    val exchanges = kept.queryExecution.executedPlan.toString
      .linesIterator.count(_.contains("Exchange"))
    assert(exchanges == 0,
      s"groupBy over the kept clustering re-shuffled ($exchanges Exchange)")
  }

  test("empty or ambiguous clustering columns are rejected") {
    import spark.implicits._
    intercept[IllegalArgumentException] {
      PlanBridge.checkpointKeepHashPartitioning(skewed, Seq(), 8)
    }
    val dup = skewed.select($"k", $"v".as("k"))
    intercept[IllegalArgumentException] {
      PlanBridge.checkpointKeepHashPartitioning(dup, Seq("k"), 8)
    }
  }

  private def leaf(df: DataFrame): LogicalRDD =
    df.queryExecution.analyzed.collectFirst { case l: LogicalRDD => l }.get

  private def storedBytes(df: DataFrame): BigInt = {
    val id = leaf(df).rdd.id
    val i = spark.sparkContext.getRDDStorageInfo.find(_.id == id).get
    BigInt(i.memSize + i.diskSize)
  }

  test("the primitive declares what Spark's localCheckpoint declares on a " +
      "sorted, filtered frame") {
    import spark.implicits._
    for (aqe <- Seq("true", "false")) {
      val (own, ours) = GraftSession.withConfs(spark,
          "spark.sql.adaptive.enabled" -> aqe) {
        val df = skewed.filter($"v" > 3).orderBy($"k", $"v")
        (leaf(df.localCheckpoint()), leaf(PlanBridge.checkpointResetStats(df)))
      }
      assert(own.constraints.nonEmpty, s"no constraints to keep (aqe=$aqe)")
      assert(ours.outputPartitioning == own.outputPartitioning, s"aqe=$aqe")
      assert(ours.outputOrdering == own.outputOrdering, s"aqe=$aqe")
      assert(ours.constraints == own.constraints, s"aqe=$aqe")
    }
  }

  test("size stats stay the measured bytes across 8 checkpointed " +
      "self-join rounds") {
    import spark.implicits._
    var f = PlanBridge.checkpointResetStats(
      spark.range(0, 2000).select($"id".as("k"), ($"id" % 7).as("v")))
    val first = storedBytes(f)
    for (round <- 1 to 8) {
      f = PlanBridge.checkpointResetStats(f.as("a").join(f.as("b"), "k")
        .select($"k", (($"a.v" + $"b.v") % 7).as("v")))
      assert(f.queryExecution.optimizedPlan.stats.sizeInBytes ==
        storedBytes(f), s"round $round")
    }
    assert(storedBytes(f) <= first * 2, "same-shape frames, compounded size")
  }

  test("release frees the checkpoint's blocks") {
    val cp = PlanBridge.checkpointResetStats(skewed)
    val id = leaf(cp).rdd.id
    assert(spark.sparkContext.getPersistentRDDs.contains(id))
    PlanBridge.release(cp.select("k"))
    assert(!spark.sparkContext.getPersistentRDDs.contains(id),
      s"rdd $id still persisted after release")
  }
}
