package graft.plans

import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

import graft.SparkSpec
import graft.core.GraftSession
import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, Logger => CoreLogger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.{BlockProbe, PlanBridge}
import org.scalatest.concurrent.Eventually._

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
  * promises. The fixpoint primitives [[PlanBridge.checkpointMeasured]]
  * and [[PlanBridge.iterate]] read each round's stop value off the
  * round's own checkpoint job and release superseded rounds.
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
    // Spark's RDD.unpersist logs a WARN per locally checkpointed RDD
    val root = LogManager.getRootLogger.asInstanceOf[CoreLogger]
    val truncated = new AtomicInteger()
    val counter = new AbstractAppender("release-warn", null, null, true,
        Array.empty) {
      override def append(e: LogEvent): Unit =
        if (e.getMessage.getFormattedMessage.contains("was locally checkpointed"))
          truncated.incrementAndGet()
    }
    counter.start()
    root.addAppender(counter)
    try PlanBridge.release(cp.select("k"))
    finally { root.removeAppender(counter); counter.stop() }
    assert(!spark.sparkContext.getPersistentRDDs.contains(id),
      s"rdd $id still persisted after release")
    // the release is asynchronous (blocking = false)
    eventually(timeout(10.seconds), interval(50.millis)) {
      val blocks = BlockProbe.rddBlocks(spark.sparkContext, id)
      assert(blocks.isEmpty, s"blocks of rdd $id left after release: $blocks")
    }
    assert(truncated.get == 0, s"${truncated.get} lineage-truncated WARN lines")
  }

  private def toyInit: DataFrame = PlanBridge.checkpointResetStats(
    spark.range(0, 64, 1, 4).select(col("id").as("v")))

  /** Halves every value each round until all are 0: 63 → 0 in 6. */
  private def halving(init: DataFrame,
      observe: (DataFrame, Int) => Unit = (_, _) => ())
      : (DataFrame, Int, Long) = {
    import spark.implicits._
    PlanBridge.iterate(init, 10, "halving") { (f, r) =>
      observe(f, r)
      f.select(($"v" / 2).cast("long").as("v"))
    }(count(when($"v" > 0L, 1)), _ == 0)
  }

  test("iterate runs one job per round: the stop value comes from the " +
      "checkpoint's own job") {
    val init = toyInit
    val ((_, rounds, last), n) = jobsIn(halving(init))
    assert(rounds == 6 && last == 0L)
    assert(n == rounds, s"$n jobs for $rounds rounds")
  }

  test("iterate frees round n-2 once round n exists, keeps init and " +
      "the final round") {
    val seen = scala.collection.mutable.ArrayBuffer[Int]() // rdd of round r-1
    val persisted = () => spark.sparkContext.getPersistentRDDs.keySet
    val (last, rounds, _) = halving(toyInit, { (f, r) =>
      seen += leaf(f).rdd.id
      // the step of round r reads round r-1; rounds ≤ r-3 are gone
      val live = persisted()
      seen.zipWithIndex.foreach { case (id, k) => // id is round k's
        if (k >= 1 && k <= r - 3)
          assert(!live.contains(id), s"round $k still held at round $r")
        if (k >= r - 2 || k == 0)
          assert(live.contains(id), s"round $k freed early at round $r")
      }
    })
    assert(rounds == 6)
    val live = persisted()
    assert(live.contains(seen.head), "init was freed")
    assert(seen.tail.forall(id => !live.contains(id)),
      "a superseded round is still held after the loop")
    assert(live.contains(leaf(last).rdd.id), "final round was freed")
  }

  test("checkpointMeasured reads 0 from an empty frame without hanging, " +
      "AQE on and off") {
    import spark.implicits._
    for (aqe <- Seq("true", "false")) {
      val ns = GraftSession.withConfs(spark,
          "spark.sql.adaptive.enabled" -> aqe) {
        Await.result(Future {
          val filtered = spark.range(0, 100).filter($"id" < 0L)
          // a shuffle whose every stage is empty: AQE replaces it with
          // an empty relation
          val grouped = filtered.groupBy(($"id" % 7).as("k")).count()
          Seq(filtered.toDF(), grouped).map(f =>
            PlanBridge.checkpointMeasured(f, count(lit(1)))._2)
        }, 60.seconds)
      }
      assert(ns == Seq(0L, 0L), s"aqe=$aqe")
    }
  }

  test("checkpointMeasured reads a sum over no rows as 0, not null") {
    import spark.implicits._
    val (cp, m) = PlanBridge.checkpointMeasured(
      spark.range(0, 10).filter($"id" > 100L), sum($"id"))
    assert(m == 0L)
    assert(cp.count() == 0L)
    assert(PlanBridge.checkpointMeasured(spark.range(0, 10), sum($"id"))._2
      == 45L)
  }

  test("checkpointMeasured declares what checkpointResetStats declares " +
      "on a sorted, filtered frame") {
    import spark.implicits._
    for (aqe <- Seq("true", "false")) {
      val (plain, measured) = GraftSession.withConfs(spark,
          "spark.sql.adaptive.enabled" -> aqe) {
        val df = skewed.filter($"v" > 3).orderBy($"k", $"v")
        (leaf(PlanBridge.checkpointResetStats(df)),
          leaf(PlanBridge.checkpointMeasured(df, count(lit(1)))._1))
      }
      assert(plain.constraints.nonEmpty, s"no constraints to keep (aqe=$aqe)")
      assert(measured.outputPartitioning == plain.outputPartitioning,
        s"aqe=$aqe")
      assert(measured.outputOrdering == plain.outputOrdering, s"aqe=$aqe")
      assert(measured.constraints == plain.constraints, s"aqe=$aqe")
    }
  }
}
