package graft.plans

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference, Cast, Expression, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete, Count, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.PlanBridge

import graft.core.Entry

/** Optimizer rule #3 (next to TopKFilterPushdown and DistinctToBitmap):
  * MATERIALIZED-VIEW AGGREGATE REWRITE — the classic rollup-
  * compensation rewrite every warehouse engine ships (Goldstein–Larson
  * SIGMOD'01): an `Aggregate` over a registered BASE TABLE scan whose
  * grouping columns are a SUBSET of a registered rollup view's
  * grouping columns, and whose aggregates are all derivable from the
  * view's stored partials, is answered FROM THE VIEW — re-aggregating
  * the finer-grained partials (SUM(x) → SUM(view.sum_x), COUNT(*) →
  * SUM(view.cnt), MIN/MAX(x) → MIN/MAX(view.min/max_x)) instead of
  * re-scanning the fact table. At 100 TB the base scan is the whole
  * cost of the query; the view is groups-sized.
  *
  * Soundness: SUM/COUNT/MIN/MAX are all self-decomposable, the view
  * partitions the base rows by its (finer) grouping key, and the
  * re-aggregated result is CAST back to the original aggregate's
  * exact output type (Sum over a decimal partial widens the
  * precision; the value cannot exceed the original total by
  * construction). Output `NamedExpression`s keep the ORIGINAL exprIds
  * so the parent plan resolves unchanged. NULL grouping cells are
  * preserved: the view stores one partial row per base group
  * INCLUDING null keys, and hash re-aggregation groups nulls
  * together exactly as the base aggregate would.
  *
  * Narrow by contract (scaladoc'd, not hidden): the rewrite fires
  * only for an Aggregate DIRECTLY over the base scan (or an
  * attribute-only Project of it — the shape column pruning leaves);
  * any Filter or computed expression between them keeps Spark's plan.
  * Registered per-JVM, scoped onto the session via
  * `experimental.extraOptimizations` (the q279 discipline).
  */
object MatviewRewrite extends Rule[LogicalPlan] {

  /** A registered rollup view over one base table. */
  case class MatviewDef(
      viewPlan: LogicalPlan,
      groupCols: Set[String],
      sumCols: Map[String, String],
      cntCol: String,
      minCols: Map[String, String],
      maxCols: Map[String, String])

  /** base-path suffix (e.g. "<sfDir>/lineitem.parquet") → view. */
  private val registry = new ConcurrentHashMap[String, MatviewDef]()

  def register(basePathSuffix: String, defn: MatviewDef): Unit =
    registry.put(basePathSuffix, defn)

  private def baseDefOf(plan: LogicalPlan): Option[MatviewDef] =
    plan match {
      case Project(projList, child) if projList.forall(
          _.isInstanceOf[AttributeReference]) => baseDefOf(child)
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation =>
          val paths = fs.location.rootPaths.map(_.toString)
          import scala.jdk.CollectionConverters._
          registry.asScala.collectFirst {
            case (suffix, d) if paths.exists(_.endsWith(suffix)) => d
          }
        case _ => None
      }
      case _ => None
    }

  private def viewAttr(d: MatviewDef, name: String): Attribute =
    d.viewPlan.output.find(_.name == name).getOrElse(
      throw new IllegalStateException(s"matview lacks column $name"))

  /** The view-side replacement for one result expression, or None if
    * the expression is not derivable from the stored partials.
    */
  private def derive(e: NamedExpression, d: MatviewDef)
      : Option[NamedExpression] = {
    def reAgg(fn: Attribute => Expression, src: String): Expression =
      AggregateExpression(fn(viewAttr(d, src)).asInstanceOf[
        org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction],
        Complete, isDistinct = false, None, NamedExpression.newExprId)
    e match {
      case a: AttributeReference if d.groupCols.contains(a.name) =>
        Some(Alias(viewAttr(d, a.name), a.name)(exprId = a.exprId))
      case al @ Alias(a: AttributeReference, name)
          if d.groupCols.contains(a.name) =>
        Some(Alias(viewAttr(d, a.name), name)(exprId = al.exprId))
      case al @ Alias(AggregateExpression(f, _, false, None, _), name) =>
        val rewritten = f match {
          case Sum(c: AttributeReference, _) if d.sumCols.contains(c.name) =>
            Some(reAgg(Sum(_), d.sumCols(c.name)))
          case Count(Seq(Literal(_, _))) =>
            Some(reAgg(Sum(_), d.cntCol))
          case Count(Nil) =>
            Some(reAgg(Sum(_), d.cntCol))
          case Min(c: AttributeReference) if d.minCols.contains(c.name) =>
            Some(reAgg(Min(_), d.minCols(c.name)))
          case Max(c: AttributeReference) if d.maxCols.contains(c.name) =>
            Some(reAgg(Max(_), d.maxCols(c.name)))
          case _ => None
        }
        rewritten.map(r =>
          Alias(Cast(r, al.child.dataType), name)(exprId = al.exprId))
      case _ => None
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case agg @ Aggregate(groups, aggs, child, _) =>
      baseDefOf(child) match {
        case Some(d) if groups.forall {
          case a: AttributeReference => d.groupCols.contains(a.name)
          case _ => false
        } =>
          val derived = aggs.map(derive(_, d))
          if (derived.forall(_.isDefined)) {
            val newGroups = groups.map {
              case a: AttributeReference => viewAttr(d, a.name)
            }
            Aggregate(newGroups, derived.map(_.get), d.viewPlan)
          } else agg
        case _ => agg
      }
  }

  // ---------------------------------------------------------------
  // q523 — the rewrite under the driver gate
  // ---------------------------------------------------------------

  import Entry.Q

  /** Build-once EXACT-CENTS fact table (the house decimal-cents
    * discipline: the fixture's DOUBLE measures cannot be hash-gated
    * through order-dependent double sums, so the registered base is a
    * derived BIGINT-cents lineitem) + its rollup view at the finer
    * (returnflag, linestatus, linenumber) grain with SUM/COUNT/MIN/MAX
    * partials, both IndexStore durable tables; returns the base table
    * name.
    */
  def ensureMatview(s: SparkSession, dir: String): String = {
    import org.apache.spark.sql.functions._
    import s.implicits._
    val base = graft.core.IndexStore.ensure(s, "mvbase", dir) {
      graft.core.Tables.lineitem(s, dir).select(
        $"l_returnflag", $"l_linestatus", $"l_linenumber",
        expr("CAST(FLOOR(100 * l_quantity) AS BIGINT)").as("qty_c"),
        expr("CAST(FLOOR(100 * l_extendedprice) AS BIGINT)").as("price_c"),
        expr("CAST(FLOOR(100 * l_discount) AS BIGINT)").as("disc_c"))
    }
    val view = graft.core.IndexStore.ensure(s, "mvli", dir) {
      s.table(base)
        .groupBy($"l_returnflag", $"l_linestatus", $"l_linenumber")
        .agg(sum($"qty_c").as("sum_qty_c"),
          sum($"price_c").as("sum_price_c"),
          count(lit(1)).as("cnt"),
          min($"disc_c").as("min_disc_c"),
          max($"disc_c").as("max_disc_c"))
    }
    register(graft.core.IndexStore.tableFor("mvbase", dir), MatviewDef(
      viewPlan = s.table(view).queryExecution.optimizedPlan,
      groupCols = Set("l_returnflag", "l_linestatus", "l_linenumber"),
      sumCols = Map("qty_c" -> "sum_qty_c", "price_c" -> "sum_price_c"),
      cntCol = "cnt",
      minCols = Map("disc_c" -> "min_disc_c"),
      maxCols = Map("disc_c" -> "max_disc_c")))
    base
  }

  /** q523 — a coarser aggregate over the cents fact table, answered
    * from the view: the plan REQUIREs pin that the executed scan reads
    * the ROLLUP table and not the fact table, while the oracle
    * computes the same aggregate from raw lineitem in DuckDB — result
    * equality IS the rewrite-soundness gate (the q279 scoped-rule
    * discipline).
    */
  val q523MatviewRewrite: Q = (s, dir) => {
    import org.apache.spark.sql.functions._
    import s.implicits._
    val base = ensureMatview(s, dir)
    val prev = s.experimental.extraOptimizations
    if (!prev.contains(MatviewRewrite))
      s.experimental.extraOptimizations = prev :+ MatviewRewrite
    try {
      val df = s.table(base)
        .groupBy($"l_returnflag", $"l_linestatus")
        .agg(sum($"qty_c").as("sum_qty"),
          sum($"price_c").as("sum_price"),
          count(lit(1)).as("n"),
          min($"disc_c").as("min_disc"),
          max($"disc_c").as("max_disc"))
        .orderBy($"l_returnflag", $"l_linestatus")
      // logical-plan pin (AQE wraps the physical plan): the optimizer
      // output must scan the rollup relation only
      val scans = df.queryExecution.optimizedPlan.collect {
        case lr: LogicalRelation => lr.relation match {
          case fs: HadoopFsRelation => fs.location.rootPaths.map(_.toString)
          case _ => Seq.empty[String]
        }
      }.flatten
      require(scans.nonEmpty && scans.forall(_.contains("graft_mvli_")),
        s"matview rewrite did not fire; scans: $scans")
      require(!scans.exists(_.contains("graft_mvbase_")),
        s"base table still scanned: $scans")
      PlanBridge.checkpointResetStats(df) // materialize under the scoped rule
    } finally s.experimental.extraOptimizations = prev
  }

  val q523Sql: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(SUM(CAST(FLOOR(100 * l_quantity) AS BIGINT)) AS BIGINT)
      |    AS sum_qty,
      |  CAST(SUM(CAST(FLOOR(100 * l_extendedprice) AS BIGINT)) AS BIGINT)
      |    AS sum_price,
      |  CAST(COUNT(*) AS BIGINT) AS n,
      |  MIN(CAST(FLOOR(100 * l_discount) AS BIGINT)) AS min_disc,
      |  MAX(CAST(FLOOR(100 * l_discount) AS BIGINT)) AS max_disc
      |FROM lineitem
      |GROUP BY 1, 2
      |ORDER BY 1, 2""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("q523_matview_rewrite", q523MatviewRewrite, q523Sql))
}
