package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.functions._

import graft.core.{Entry, Tables => T, dsl, OracleDsl => O}

/** COLUMN-LEVEL LINEAGE extracted from the ANALYZED Catalyst plan — for
  * every output column of a query, the set of physical leaf columns
  * (source table, source column) it transitively derives from. This is
  * the governance/debugging surface a warehouse engine owes its users
  * ("which raw columns feed this report column?"), and it falls out of
  * the same plan representation the optimizer runs on: no parser, no
  * string analysis — the analyzed `LogicalPlan`'s attribute graph IS
  * the lineage, keyed by `ExprId` so aliasing, self-joins, and name
  * shadowing can't confuse it. The reference has nothing comparable
  * (its "plan" is a directory walk, main.go:143-268); this is what the
  * extension tier can do once queries are first-class plans.
  *
  * Semantics: DATA lineage only — an output column depends on the
  * columns its value is computed from. Columns that influence results
  * through filters, join conditions, or sort order (control lineage)
  * are deliberately excluded; that is the standard projection-lineage
  * contract (Cui & Widom, VLDB J. 2000). Output columns with no leaf
  * source (e.g. `count(*)`, literals) emit one `('<none>','<none>')`
  * row so every output column appears exactly once or more.
  *
  * Mechanics: one bottom-up pass building `ExprId → Set[(table, col)]`.
  * Leaf relations name themselves (catalog table name, or the file
  * path's basename for path reads); `Alias` nodes in Project/Aggregate/
  * Window map their new ExprId to the union over their referenced
  * attributes; pass-through attributes keep their child entry (same
  * ExprId — exactly why attribute identity, not names, is the key);
  * Union/Expand merge positionally; Generate maps generator outputs to
  * the generator's references; scalar/EXISTS subqueries contribute the
  * lineage of their own plan's outputs. Cost: plan-sized, driver-side,
  * zero jobs — lineage of a 100-TB query costs the same as its
  * `explain`.
  */
object PlanLineage {

  import Entry.Q

  private type M = Map[ExprId, Set[(String, String)]]

  /** Lineage rows (out_col, src_table, src_col) for `df`'s output. */
  def lineage(df: DataFrame): Seq[(String, String, String)] = {
    val plan = df.queryExecution.analyzed
    val m = build(plan)
    plan.output.flatMap { a =>
      val srcs = m.getOrElse(a.exprId, Set.empty)
      if (srcs.isEmpty) Seq((a.name, "<none>", "<none>"))
      else srcs.toSeq.sorted.map { case (t, c) => (a.name, t, c) }
    }
  }

  /** The same lineage as a DataFrame (sorted, oracle-comparable). */
  def lineageDf(s: SparkSession, df: DataFrame): DataFrame = {
    import s.implicits._
    lineage(df).toDF("out_col", "src_table", "src_col")
      .orderBy($"out_col", $"src_table", $"src_col")
  }

  private def exprSources(e: Expression, m: M): Set[(String, String)] = {
    val direct = e.references.iterator
      .flatMap(a => m.getOrElse(a.exprId, Set.empty)).toSet
    val fromSubqueries = e.collect { case sq: SubqueryExpression => sq }
      .flatMap { sq =>
        val sm = build(sq.plan)
        sq.plan.output.flatMap(a => sm.getOrElse(a.exprId, Set.empty))
      }.toSet
    direct ++ fromSubqueries
  }

  private def named(list: Seq[NamedExpression], m: M): M =
    list.collect { case a: Alias => a.exprId -> exprSources(a.child, m) }.toMap

  private def build(plan: LogicalPlan): M = plan match {
    case SubqueryAlias(_, child) => build(child) // physical lineage: leaf names win
    case v: View => build(v.child)
    case l: LeafNode =>
      val t = leafName(l)
      l.output.map(a => a.exprId -> Set(t -> a.name)).toMap
    case Project(list, child) =>
      val c = build(child); c ++ named(list, c)
    case Aggregate(_, aggs, child, _) =>
      val c = build(child); c ++ named(aggs, c)
    case w: Window =>
      val c = build(w.child); c ++ named(w.windowExpressions, c)
    case g: Generate =>
      val c = build(g.child)
      c ++ g.generatorOutput.map(a => a.exprId -> exprSources(g.generator, c))
    case u: Union =>
      val childMaps = u.children.map(build)
      val positional = u.output.indices.map { i =>
        u.output(i).exprId -> u.children.zip(childMaps).flatMap {
          case (ch, cm) => cm.getOrElse(ch.output(i).exprId, Set.empty)
        }.toSet
      }.toMap
      childMaps.fold(Map.empty: M)(_ ++ _) ++ positional
    case e: Expand =>
      val c = build(e.child)
      c ++ e.output.indices.map { i =>
        e.output(i).exprId ->
          e.projections.flatMap(p => exprSources(p(i), c)).toSet
      }.toMap
    case other =>
      // joins, filters, sorts, limits, distinct, set ops over resolved
      // children: attributes pass through with their ExprIds intact, so
      // the merged child map already answers every output attribute
      other.children.map(build).fold(Map.empty: M)(_ ++ _)
  }

  private def leafName(l: LeafNode): String = l match {
    case lr: LogicalRelation =>
      lr.catalogTable.map(_.identifier.table).getOrElse(lr.relation match {
        case h: HadoopFsRelation =>
          h.location.rootPaths.headOption.map(_.getName)
            .getOrElse("relation")
            .replaceAll("\\.(parquet|orc|csv|json)$", "")
        case _ => "relation"
      })
    case d: DataSourceV2Relation => d.table.name()
    case _: LocalRelation => "values"
    case other => other.nodeName.toLowerCase
  }

  /** q251 — lineage of a representative report query under the driver
    * gate: join + filter + aggregate with a mixed-column revenue
    * expression. The oracle pins the hand-derived truth as literals
    * (the q180 pinned-literal convention): `revenue` must trace to BOTH
    * lineitem price columns, the grouping key to its orders column,
    * `n_lines` (count(*)) to `<none>`, and the filter column
    * o_orderstatus must NOT appear anywhere — a wrong edge, a missed
    * alias hop, or control-lineage leakage each breaks the hash.
    */
  val q251ColumnLineage: Q = (s, dir) => {
    import s.implicits._
    val report = T.lineitem(s, dir)
      .join(T.orders(s, dir), $"l_orderkey" === $"o_orderkey")
      .filter($"o_orderstatus" === "F")
      .groupBy($"o_orderpriority")
      .agg(
        dsl.dsumExpr($"l_extendedprice" * (lit(1.0) - $"l_discount"))
          .as("revenue"),
        count(lit(1)).as("n_lines"),
        max($"l_shipdate").as("last_ship"))
    lineageDf(s, report)
  }

  val q251Sql: String =
    """SELECT * FROM (VALUES
      |  ('last_ship', 'lineitem', 'l_shipdate'),
      |  ('n_lines', '<none>', '<none>'),
      |  ('o_orderpriority', 'orders', 'o_orderpriority'),
      |  ('revenue', 'lineitem', 'l_discount'),
      |  ('revenue', 'lineitem', 'l_extendedprice')
      |) AS t(out_col, src_table, src_col)
      |ORDER BY out_col, src_table, src_col""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("q251_column_lineage", q251ColumnLineage, q251Sql))
}
