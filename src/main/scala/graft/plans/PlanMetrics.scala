package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FilterExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.{BaseAggregateExec, HashAggregateExec}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions._

import graft.core.{Entry, GraftSession, Tables => T}

/** RUNTIME plan instrumentation — per-operator ACTUAL row counts read
  * back from the executed plan's SQLMetrics. This is the observability
  * leg of the plan surface (q251 answers "where does this column come
  * from", this answers "what did each operator really process"): the
  * operational questions at 100 TB — did the join explode, did the
  * filter select what the planner guessed, how many groups came out —
  * are answered by `numOutputRows` accumulators Spark already
  * maintains for every operator, at zero extra cost. The q253 gate
  * proves those metrics are FAITHFUL: each extracted count must equal
  * the count DuckDB computes independently for the same logical stage,
  * so a metric wired to the wrong operator, double-counted under
  * retries, or dropped by codegen fusion breaks the hash.
  *
  * Mechanics: execute, unwrap AQE if present, then read
  * `metrics("numOutputRows")` off the relevant physical nodes.
  * Driver-side plan traversal only — the data path is untouched.
  */
object PlanMetrics {

  import Entry.Q

  /** Final physical plan after execution (AQE unwrapped). */
  def finalPlan(df: DataFrame): SparkPlan =
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }

  /** Every node including those hidden behind AQE's leaf-like stage
    * wrappers (QueryStageExec.children is Nil — the materialized stage
    * hangs off `.plan`, which plain `collect` never visits).
    */
  def allNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => a +: allNodes(a.executedPlan)
    case q: QueryStageExec => q +: allNodes(q.plan)
    case other => other +: other.children.flatMap(allNodes)
  }

  /** Generic listing: (node name, numOutputRows) for every operator
    * that carries the metric, in plan traversal order.
    */
  def operatorRows(df: DataFrame): Seq[(String, Long)] =
    allNodes(finalPlan(df)).collect {
      case p if p.metrics.contains("numOutputRows") =>
        p.nodeName -> p.metrics("numOutputRows").value
    }

  /** q253 — metric-faithfulness gate over a fixed filter→join→agg
    * query, AQE disabled for a stable single-tree plan (scoped by
    * `GraftSession.withConfs`). Three semantic extractions:
    * the lineitem filter's output rows, the join's output rows, and
    * the final aggregate's group count — each hash-compared against
    * DuckDB's independent recomputation of the same stage.
    */
  val q253PlanMetrics: Q = (s, dir) => {
    import s.implicits._
    GraftSession.withConfs(s, "spark.sql.adaptive.enabled" -> "false") {
      val df = T.lineitem(s, dir).filter($"l_quantity" < 10)
        .join(T.orders(s, dir), $"l_orderkey" === $"o_orderkey")
        .groupBy($"o_orderpriority").agg(count(lit(1)).as("n"))
      df.collect() // execute; output is ≤ |priorities| rows
      val plan = finalPlan(df)
      val filterRows = plan.collect {
        case f: FilterExec
            if f.condition.references.exists(_.name == "l_quantity") =>
          f.metrics("numOutputRows").value
      }.head
      val joinRows = plan.collect { case j: BaseJoinExec =>
        j.metrics("numOutputRows").value
      }.head
      val aggRows = plan.collect {
        case a: HashAggregateExec if a.aggregateExpressions.forall(e =>
            e.mode == org.apache.spark.sql.catalyst.expressions.aggregate.Final ||
            e.mode == org.apache.spark.sql.catalyst.expressions.aggregate.Complete) =>
          a.metrics("numOutputRows").value
      }.head
      Seq(("agg_groups", aggRows), ("filter_rows", filterRows),
        ("join_rows", joinRows))
        .toDF("op", "n_rows").orderBy($"op")
    }
  }

  val q253Sql: String =
    """SELECT 'agg_groups' AS op, CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT)
      |    AS n_rows
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |  WHERE l_quantity < 10
      |UNION ALL
      |SELECT 'filter_rows', COUNT(*) FROM lineitem WHERE l_quantity < 10
      |UNION ALL
      |SELECT 'join_rows', COUNT(*)
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |  WHERE l_quantity < 10
      |ORDER BY op""".stripMargin

  /** q370 — DECLARED inline metrics via the `observe()`/Observation
    * API (q253's sibling from the other direction: q253 reads back
    * the metrics Spark keeps per operator; this DECLARES custom
    * aggregates on a node and collects them during the SAME action —
    * the "audit while you run" shape: at 100 TB, full-scan telemetry
    * rides the job you were running anyway, no second pass). The
    * observe node sits BEFORE the filter, so one action yields both
    * the filtered business answer and whole-input quality metrics;
    * everything emitted is data-derivable, so the oracle recomputes
    * all three numbers — an observe node wired after the filter, or
    * double-counted under task retries, breaks the hash.
    */
  val q370ObservedMetrics: Q = (s, dir) => {
    import s.implicits._
    val obs = org.apache.spark.sql.Observation(s"q370_${System.nanoTime()}")
    val filtered = T.orders(s, dir)
      .observe(obs, count(lit(1)).as("n_rows"),
        sum(expr("CAST(FLOOR(100 * o_totalprice) AS BIGINT)"))
          .as("sum_cents"))
      .filter($"o_orderpriority" === "1-URGENT")
    val nUrgent = filtered.agg(count(lit(1))).head().getLong(0)
    val m = obs.get
    Seq((m("n_rows").asInstanceOf[Long],
      m("sum_cents").asInstanceOf[Long], nUrgent))
      .toDF("n_rows", "sum_cents", "n_urgent")
  }

  val q370Sql: String =
    """SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  CAST(SUM(CAST(FLOOR(100 * o_totalprice) AS BIGINT)) AS BIGINT)
      |    AS sum_cents,
      |  CAST((SELECT COUNT(*) FROM orders
      |        WHERE o_orderpriority = '1-URGENT') AS BIGINT) AS n_urgent
      |FROM orders""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("q253_plan_metrics", q253PlanMetrics, q253Sql),
    Entry("q370_observed_metrics", q370ObservedMetrics, q370Sql))
}
