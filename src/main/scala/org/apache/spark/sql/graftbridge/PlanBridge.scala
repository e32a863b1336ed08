package org.apache.spark.sql
package graftbridge

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.SparkStrategy

/** Bridge into the `private[sql]` Dataset/plan seams a library needs to
  * ship a custom logical operator: build a DataFrame from a LogicalPlan
  * (`Dataset.ofRows` is private[sql] on Spark 4), read a frame's
  * analyzed plan, and install a planner strategy on a LIVE session
  * (`spark.sql.extensions` covers only sessions built after the conf is
  * set; `experimental.extraStrategies` is the sanctioned runtime hook).
  */
object PlanBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  def analyzed(df: Dataset[Row]): LogicalPlan =
    df.asInstanceOf[classic.Dataset[Row]].queryExecution.analyzed

  /** Idempotently append a planner strategy to the live session. */
  def addStrategy(spark: SparkSession, strategy: SparkStrategy): Unit = {
    val exp = spark.asInstanceOf[classic.SparkSession].experimental
    if (!exp.extraStrategies.contains(strategy))
      exp.extraStrategies = exp.extraStrategies :+ strategy
  }

  /** Idempotently append an optimizer rule to the live session. */
  def addOptimization(spark: SparkSession,
      rule: org.apache.spark.sql.catalyst.rules.Rule[LogicalPlan]): Unit = {
    val exp = spark.asInstanceOf[classic.SparkSession].experimental
    if (!exp.extraOptimizations.contains(rule))
      exp.extraOptimizations = exp.extraOptimizations :+ rule
  }

  /** THE checkpoint of this library: Spark's own `localCheckpoint`,
    * with the checkpoint's `LogicalRDD` copied so that only its
    * `originStats` change — to the MEASURED size of the
    * just-materialized blocks. Declared output partitioning, output
    * ordering and constraints stay exactly what Spark declared, and a
    * typed `Dataset[T]` keeps its encoder.
    *
    * `Dataset.localCheckpoint` builds its `LogicalRDD` with
    * `originStats = optimizedPlan.stats`, so the size estimate of the
    * PREVIOUS iteration survives the checkpoint; Catalyst's
    * size-only join estimator then MULTIPLIES child estimates
    * (SizeInBytesOnlyStatsPlanVisitor.visitJoin), which means k
    * checkpointed join rounds compound into a sizeInBytes BigInt with
    * O(cᵏ) bits — measured on the NN-Descent serve loop: per-hop
    * driver time grew 0.7 s → 127 s purely in BigInteger
    * multiplications inside stats estimation, with every executor
    * idle. Measured bytes (BlockManager memSize + diskSize) cannot
    * compound — each checkpoint re-reads its own blocks, never the
    * previous estimate — and stay honest at ANY scale (a 100 TB frame
    * reports 100 TB and is never broadcast, a small one keeps its
    * broadcast-hash pick). If the storage info is missing the stats
    * fall back to None (`defaultSizeInBytes`). Same blocks, no
    * recompute, no extra job.
    */
  def checkpointResetStats[T](ds: Dataset[T]): Dataset[T] =
    checkpoint(ds)(_.outputPartitioning)

  /** [[checkpointResetStats]] that also returns one aggregate `measure`
    * over the checkpointed rows (`count(...)`, `sum(...)`; null reads
    * 0), read off the checkpoint's own job through a fresh
    * `Observation` at the plan's root — the one way a loop reads its
    * stop value, with no second action over the frame. The frame
    * declares what `checkpointResetStats` declares.
    */
  def checkpointMeasured[T](ds: Dataset[T], measure: Column)
      : (Dataset[T], Long) = {
    val obs = Observation()
    val cp = checkpoint(ds.observe(obs,
      functions.coalesce(measure.cast("long"), functions.lit(0L)).as("m"))
    )(_.outputPartitioning)
    (cp, obs.get("m").asInstanceOf[Long])
  }

  /** THE fixpoint loop of this library for a single-state iteration:
    * round r checkpoints `step(state, r)` through [[checkpointMeasured]]
    * and stops once `done(measure)`; a round past `maxRounds` fails
    * naming `what`. Round r−2's checkpoint is released once round r is
    * materialized, and round r−1's when the loop ends (`init` stays the
    * caller's). Returns the final state, the number of rounds run (at
    * least one) and the final round's measure.
    */
  def iterate[T](init: Dataset[T], maxRounds: Int, what: String)(
      step: (Dataset[T], Int) => Dataset[T])(
      measure: Column, done: Long => Boolean): (Dataset[T], Int, Long) = {
    var state = init
    var older: Option[Dataset[T]] = None // round r−2, once made here
    var r = 0
    var m = 0L
    while (r == 0 || !done(m)) {
      r += 1
      require(r <= maxRounds, s"$what did not converge in $maxRounds rounds")
      val (next, mr) = checkpointMeasured(step(state, r), measure)
      older.foreach(release)
      older = if (r > 1) Some(state) else None
      state = next
      m = mr
    }
    older.foreach(release)
    (state, r, m)
  }

  /** The `done` test of a monotone loop: the measure repeated the
    * previous round's (round 1 compares with `first`).
    */
  def settled(first: Long): Long => Boolean = {
    var last = first
    m => try m == last finally last = m
  }

  /** Free the storage blocks behind a checkpointed frame.
    * `Dataset.unpersist` only clears cache-manager entries (`.persist`);
    * checkpoint blocks live under the RDD inside the plan's `LogicalRDD`
    * leaves.
    */
  def release(df: Dataset[_]): Unit =
    df.queryExecution.analyzed.collectLeaves().foreach {
      case lr: execution.LogicalRDD => free(lr.rdd)
      case _ => ()
    }

  /** The sweep between two entries: free every persisted block and
    * cached plan of the session, so an entry never pays eviction churn
    * for the blocks an earlier one left behind.
    */
  def sweep(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(free)
    spark.catalog.clearCache()
  }

  /** Drop an RDD's blocks and its persistence entry. `RDD.unpersist`
    * does the same and then only logs (a WARN per locally checkpointed
    * RDD, whose lineage is gone by design) and resets the storage level
    * of an RDD that is never read again.
    */
  private def free(rdd: org.apache.spark.rdd.RDD[_]): Unit =
    rdd.sparkContext.unpersistRDD(rdd.id, blocking = false)

  /** `localCheckpoint`, then rebuild the frame over a copy of its
    * `LogicalRDD` whose `originStats` are the measured size of its blocks
    * (read for this one RDD, not for every persisted one) and whose
    * partitioning is `declare`d; ordering and constraints stay Spark's.
    */
  private def checkpoint[T](ds: Dataset[T])(
      declare: execution.LogicalRDD => catalyst.plans.physical.Partitioning)
      : Dataset[T] = {
    val cp = ds.asInstanceOf[classic.Dataset[T]].localCheckpoint()
    val spark = cp.sparkSession
    val lr = cp.logicalPlan.asInstanceOf[execution.LogicalRDD]
    val id = lr.rdd.id
    val stats = spark.sparkContext.getRDDStorageInfo(_.id == id).headOption
      .map(i => BigInt(i.memSize + i.diskSize)).filter(_ > 0)
      .map(s => catalyst.plans.logical.Statistics(sizeInBytes = s))
    classic.Dataset(spark, lr.copy(outputPartitioning = declare(lr))(
      spark, stats, Some(lr.constraints)))(cp.encoder)
  }

  /** localCheckpoint that KEEPS a hash clustering (r17 optimization,
    * guide §2.4 "two operations keyed the same way can share one
    * exchange").
    *
    * Under AQE (on by default) `Dataset.localCheckpoint` rebuilds the
    * frame with UnknownPartitioning — AdaptiveSparkPlanExec cannot
    * promise a partitioning before execution — so every consumer of a
    * checkpointed frame re-shuffles even when the frame was JUST
    * repartitioned by exactly the key the consumer needs (measured on
    * q312: 28-exchange plan, the 8M-row scoring fan-out re-shuffled
    * twice). This helper repartitions by `cols` into an EXPLICIT
    * partition count (explicit so AQE cannot coalesce it — a coalesced
    * exchange's bucket→partition map would falsify the claim below;
    * REPARTITION_BY_NUM shuffles are likewise exempt from AQE's
    * local-shuffle-read and skew-split rewrites, which only apply to
    * ENSURE_REQUIREMENTS exchanges), materializes, and rebuilds the
    * LogicalRDD declaring the TRUE HashPartitioning of the
    * materialized blocks. Downstream groupBy/window/join/top-k keyed
    * by any superset of `cols` then satisfies ClusteredDistribution
    * with no exchange. The declared-partitioning ⟺ true-layout
    * equivalence is pinned by PlanBridgeSpec on a skewed fixture (r17
    * advice): a silent falsification would return wrong results, not
    * a slow plan.
    *
    * `cols` must be non-empty and unambiguous in `df`'s output — an
    * empty clustering or a duplicate name would silently bind the
    * wrong attribute and declare a partitioning the blocks don't have.
    *
    * Stats discipline: same measured-size reset as
    * [[checkpointResetStats]] (originStats must not survive — see that
    * method's scaladoc for the O(cᵏ) compounding).
    */
  def checkpointKeepHashPartitioning(df: Dataset[Row], cols: Seq[String],
      numParts: Int): DataFrame = {
    require(cols.nonEmpty,
      "checkpointKeepHashPartitioning needs a non-empty clustering")
    cols.foreach { c =>
      val n = df.schema.count(_.name == c)
      require(n == 1, s"clustering column $c is " +
        s"${if (n == 0) "missing" else "ambiguous"} in " +
        df.schema.fieldNames.mkString("[", ", ", "]"))
    }
    checkpoint(df.repartition(numParts, cols.map(df.col): _*)) { lr =>
      val exprs = cols.map { c =>
        val hits = lr.output.filter(_.name == c)
        require(hits.size == 1,
          s"column $c is ${if (hits.isEmpty) "missing" else "ambiguous"} " +
            s"in ${lr.output.map(_.name)}")
        hits.head
      }
      catalyst.plans.physical.HashPartitioning(exprs, numParts)
    }
  }
}
