package graft.plans

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, AttributeSet, EqualTo, IsNotNull}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Join, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.plans.{Inner, LeftOuter}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.graftbridge.PlanBridge

import graft.core.{Entry, Tables => T}

/** Optimizer rule #4 (next to TopKFilterPushdown, DistinctToBitmap and
  * MatviewRewrite): PRIMARY-KEY / FOREIGN-KEY JOIN ELIMINATION — the
  * classic redundant-join removal every warehouse ships behind RELY
  * constraints (Oracle/Snowflake `RELY`, Calcite's
  * JoinRemoveRule): a join to a dimension whose columns are never
  * referenced above it is a NO-OP when the dim key is UNIQUE (no
  * fan-out) and — for INNER joins — referential integrity holds (no
  * fact-row loss). BI tools emit such joins constantly (a semantic
  * layer joins every dim; the dashboard reads two fact columns). At
  * 100 TB the eliminated join is a full shuffle or broadcast of the
  * dim per query — for free.
  *
  * Soundness contract (declared, not inferred — exactly how RELY
  * constraints work): `register(pathSuffix, pkCol)` asserts that the
  * dim's key column is unique AND every non-null fact key matches
  * (TPC-H guarantees both for orders/customer/part/supplier keys).
  * Under that contract:
  *   - LEFT OUTER fact⟕dim on pk: DROP the join outright (uniqueness
  *     alone — unmatched rows would survive anyway).
  *   - INNER fact⋈dim on pk: replace with `Filter(IsNotNull(fk))` —
  *     the exact inner-join semantics (null fact keys never match; RI
  *     covers everything else).
  * The rewrite fires only when the dim side resolves to a registered
  * scan (through attribute-only Projects), the condition is a single
  * equality on the registered pk, and NO dim attribute is referenced
  * by the parent (checked against the parent Project/Aggregate's
  * references). Chained redundant joins eliminate recursively.
  *
  * q536 pins the plan (ONLY the fact scan survives) while the oracle
  * executes the joins verbatim in DuckDB — result equality IS the
  * soundness gate (the q523 discipline).
  */
object JoinElimination extends Rule[LogicalPlan] {

  /** dim path suffix (e.g. "orders.parquet") → unique key column. */
  private val registry = new ConcurrentHashMap[String, String]()

  def register(pathSuffix: String, pkCol: String): Unit =
    registry.put(pathSuffix, pkCol)

  /** The registered pk attribute if `plan` is (a pruning Project
    * and/or an IsNotNull(pk)-only Filter over) a registered dim scan.
    * Constraint inference plants `Filter(isnotnull(pk))` under the
    * equi-join — semantically a no-op for elimination (a null dim key
    * can never match), so it is the ONE filter shape walked through;
    * any other dim filter makes the join row-restricting and keeps it.
    */
  private def dimPk(plan: LogicalPlan): Option[Attribute] = plan match {
    case Project(pl, child) if pl.forall(_.isInstanceOf[AttributeReference]) =>
      dimPk(child).filter(pk => plan.outputSet.contains(pk))
    case Filter(IsNotNull(a: AttributeReference), child) =>
      dimPk(child).filter(_.exprId == a.exprId)
    case lr: LogicalRelation => lr.relation match {
      case fs: HadoopFsRelation =>
        val paths = fs.location.rootPaths.map(_.toString)
        import scala.jdk.CollectionConverters._
        // Anchor the suffix at a path-separator boundary: a bare
        // endsWith would let a registration for "orders.parquet" also
        // claim an unrelated "customer_orders.parquet" scan and apply
        // the uniqueness/RI contract to the wrong table (r14 advice).
        registry.asScala.collectFirst {
          case (suffix, pk) if paths.exists(p =>
              p == suffix || p.endsWith("/" + suffix)) =>
            lr.output.find(_.name == pk)
        }.flatten
      case _ => None
    }
    case _ => None
  }

  /** Strip every redundant dim join under `plan`, given the attributes
    * the parent still needs.
    */
  private def eliminate(plan: LogicalPlan, required: AttributeSet)
      : LogicalPlan = plan match {
    case p @ Project(pl, child)
        if pl.forall(_.isInstanceOf[AttributeReference]) =>
      p.copy(child = eliminate(child, p.references))
    case j @ Join(l, r, joinType,
        Some(EqualTo(a: AttributeReference, b: AttributeReference)), _) =>
      def tryDrop(fact: LogicalPlan, dim: LogicalPlan): Option[LogicalPlan] =
        dimPk(dim).flatMap { pk =>
          val fk =
            if (a.exprId == pk.exprId) b
            else if (b.exprId == pk.exprId) a
            else return None
          if (!fact.outputSet.contains(fk)) return None
          if (dim.outputSet.exists(required.contains)) return None
          joinType match {
            case Inner =>
              Some(Filter(IsNotNull(fk),
                eliminate(fact, required ++ AttributeSet(fk))))
            case LeftOuter if fact eq l =>
              Some(eliminate(fact, required))
            case _ => None
          }
        }
      tryDrop(l, r).orElse(tryDrop(r, l)).getOrElse(j)
    case other => other
  }

  /** The rule fires only under a FULLY-PROJECTING parent (Project /
    * Aggregate): those are the nodes whose `references` are exactly
    * what flows upward, so "no dim attribute referenced" is decidable
    * locally. A bare `Filter(_, Join)` is NOT such a parent — a Filter
    * passes its child's whole output through, so attributes its OWN
    * parent needs (Project(dim_col, Filter(fact_col > 0, f ⋈ d)) — the
    * shape Spark's filter pushdown produces routinely) are invisible
    * in `f.references`, and eliminating on them alone yields an
    * unresolved-attribute plan (r14 advice, medium). Filters are
    * instead matched WITH their projecting parent, the filter's own
    * references added to the required set.
    */
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case p @ Project(_, f @ Filter(_, j: Join)) =>
      p.copy(child =
        f.copy(child = eliminate(j, p.references ++ f.references)))
    case a @ Aggregate(_, _, f @ Filter(_, j: Join), _) =>
      a.copy(child =
        f.copy(child = eliminate(j, a.references ++ f.references)))
    case p @ Project(_, j: Join) =>
      p.copy(child = eliminate(j, p.references))
    case a @ Aggregate(_, _, j: Join, _) =>
      a.copy(child = eliminate(j, a.references))
  }

  // ---------------------------------------------------------------
  // q536 — the elimination under the driver gate
  // ---------------------------------------------------------------

  import Entry.Q

  /** q536 — the BI-layer shape: revenue per returnflag THROUGH joins
    * to orders (inner, on its pk) and part (left, on its pk) that
    * reference no dim column. The optimized plan must scan ONLY
    * lineitem; DuckDB executes the joins verbatim.
    */
  val q536JoinElimination: Q = (s, dir) => {
    import org.apache.spark.sql.functions._
    import s.implicits._
    register("orders.parquet", "o_orderkey")
    register("part.parquet", "p_partkey")
    val prev = s.experimental.extraOptimizations
    if (!prev.contains(JoinElimination))
      s.experimental.extraOptimizations = prev :+ JoinElimination
    try {
      val li = T.lineitem(s, dir)
      val o = T.orders(s, dir)
      val p = T.part(s, dir)
      val df = li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(p, li("l_partkey") === p("p_partkey"), "left")
        .groupBy($"l_returnflag")
        .agg(sum(expr("CAST(FLOOR(100 * l_extendedprice) AS BIGINT)"))
          .as("rev_c"), count(lit(1)).as("n"))
        .orderBy($"l_returnflag")
      val scans = df.queryExecution.optimizedPlan.collect {
        case lr: LogicalRelation => lr.relation match {
          case fs: HadoopFsRelation => fs.location.rootPaths.map(_.toString)
          case _ => Seq.empty[String]
        }
      }.flatten
      require(scans.nonEmpty && scans.forall(_.endsWith("lineitem.parquet")),
        s"join elimination did not fire; scans: $scans")
      PlanBridge.checkpointResetStats(df) // materialize under the scoped rule
    } finally s.experimental.extraOptimizations = prev
  }

  val q536Sql: String =
    """SELECT l_returnflag,
      |  CAST(SUM(CAST(FLOOR(100 * l_extendedprice) AS BIGINT)) AS BIGINT)
      |    AS rev_c,
      |  CAST(COUNT(*) AS BIGINT) AS n
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |LEFT JOIN part ON l_partkey = p_partkey
      |GROUP BY 1
      |ORDER BY 1""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("q536_join_elimination", q536JoinElimination, q536Sql))
}
