package graft.relational

import org.apache.spark.sql.functions._

import graft.core.{Entry, Tables => T}

/** DYNAMIC PIVOT — the discovered-value-list form of q87's static
  * pivot (the spreadsheet-user expectation: "one column per priority,
  * whatever priorities exist"): pass 1 discovers the DISTINCT pivot
  * values, pass 2 pivots on them as literal columns. The discovery
  * collect is bounded BY DEFINITION of the operator — every
  * discovered value becomes a physical output column, so a value list
  * that doesn't fit on the driver doesn't fit in a schema either
  * (Spark's own no-values `pivot(col)` overload does exactly this
  * two-pass discovery with a 10k-value guard; spelling it explicitly
  * keeps the discovered list available to the gate).
  *
  * Missing cells: Spark's pivot-count yields NULL where DuckDB's
  * PIVOT yields 0 — coalesced to 0 so the engines agree on empty
  * combinations, not just populated ones.
  *
  * The oracle is DuckDB's own dynamic `PIVOT ... ON ... USING
  * COUNT(*)`, which discovers the value list independently — so the
  * compare checks BOTH the discovered schema (column names are the
  * values) and every cell.
  */
object DynamicPivot {

  import Entry.Q

  val q503DynamicPivot: Q = (s, dir) => {
    import s.implicits._
    val orders = T.orders(s, dir)
    // pass 1: discover (bounded — becomes literal columns)
    val vals = orders.select($"o_orderpriority").distinct()
      .as[String].collect().sorted.toSeq
    // pass 2: pivot on the discovered list
    val pv = orders.groupBy($"o_orderstatus")
      .pivot("o_orderpriority", vals)
      .agg(count(lit(1)))
    pv.select($"o_orderstatus" +:
      vals.map(v => coalesce(pv.col(v), lit(0L)).as(v)): _*)
      .orderBy($"o_orderstatus")
  }

  val q503Sql: String =
    """PIVOT orders ON o_orderpriority USING COUNT(*)
      |GROUP BY o_orderstatus
      |ORDER BY o_orderstatus""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("q503_dynamic_pivot", q503DynamicPivot, q503Sql))
}
