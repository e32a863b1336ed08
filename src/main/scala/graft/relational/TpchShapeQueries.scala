package graft.relational

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.core.{Entry, Tables => T, dsl, OracleDsl => O}

/** The remaining distinct TPC-H planner shapes (Q13/Q15/Q16/Q17/Q19/Q22)
  * not yet exercised by q01/q82/q83/q153/q165/q173/q181/q182 — each one
  * here hits a Catalyst surface none of the earlier queries touch:
  * double aggregation over an outer join (q191), an uncorrelated scalar
  * subquery against a reused CTE (q192), null-aware NOT IN anti join
  * (q193), a correlated AVG scalar subquery (q194), disjunctive
  * cross-table predicate splitting (q195), and NOT EXISTS plus a
  * cross-multiplied exact-decimal global-average compare (q196).
  *
  * The fixture has no partsupp/p_container/c_phone columns (reference
  * semantics: main.go routes only need the star core), so the shapes are
  * re-anchored on existing columns — the PLANNER feature under test is
  * preserved, the constants are not TPC-H official.
  *
  * Scale shapes: every subquery here decorrelates to one aggregate plus
  * an equi-join (never per-row re-execution); the disjunctive q195
  * predicate splits into per-side filters pushed to both scans; the
  * q196 global scalar is a 1-row broadcast. Nothing collects to the
  * driver.
  */
object TpchShapeQueries {

  import Entry.Q

  private def registerViews(s: SparkSession, dir: String): Unit = {
    T.part(s, dir).createOrReplaceTempView("part")
    T.supplier(s, dir).createOrReplaceTempView("supplier")
    T.lineitem(s, dir).createOrReplaceTempView("lineitem")
    T.customer(s, dir).createOrReplaceTempView("customer")
    T.orders(s, dir).createOrReplaceTempView("orders")
  }

  /** q191 — TPC-H Q13 shape: distribution of per-customer order counts
    * over a FILTERED LEFT join (the filter lives in the join condition,
    * so order-less customers survive with count 0), then a second
    * aggregation over the first's result. Integer-only output — no
    * float determinism concerns.
    *
    * Scale shape: two hash aggregations with different keys (c_custkey,
    * then c_count) — the second input is at most |customer| rows and its
    * key cardinality is tiny (max orders per customer), so the second
    * shuffle is negligible; the left join shuffles on the natural keys.
    */
  val q191OrderCountDist: Q = (s, dir) => {
    import s.implicits._
    val perCust = T.customer(s, dir)
      .join(
        T.orders(s, dir).filter($"o_orderpriority" =!= "1-URGENT"),
        $"c_custkey" === $"o_custkey", "left")
      .groupBy($"c_custkey")
      .agg(count($"o_orderkey").as("c_count"))
    perCust.groupBy($"c_count")
      .agg(count(lit(1)).as("custdist"))
      .orderBy($"custdist".desc, $"c_count".desc)
  }

  val q191Sql: String =
    """SELECT c_count, COUNT(*) AS custdist
      |FROM (
      |  SELECT c_custkey, COUNT(o_orderkey) AS c_count
      |  FROM customer LEFT JOIN orders
      |    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      |  GROUP BY c_custkey)
      |GROUP BY c_count
      |ORDER BY custdist DESC, c_count DESC""".stripMargin

  /** q192 — TPC-H Q15 shape: suppliers whose quarterly revenue equals
    * the maximum quarterly revenue — an UNCORRELATED scalar aggregate
    * subquery over the same derived relation the outer query joins
    * (TPC-H spells it as a view; here a CTE referenced twice). The
    * revenue doubles are exact via the decimal-sum path ([[dsl]]), so
    * the equality join on a double is cross-engine safe.
    *
    * Scale shape: the CTE is one shuffle aggregate over the filtered
    * quarter keyed by l_suppkey; the MAX over it is a 1-row broadcast
    * subquery; the supplier join broadcasts the (tiny) max-revenue
    * row set. Spark plans the two CTE references as separate scans of
    * the same aggregate — acceptable because the quarter filter has
    * already cut the input; at 100 TB you would localCheckpoint the
    * revenue frame (the q188 discipline) to scan it once.
    */
  val q192TopSupplier: Q = (s, dir) => {
    registerViews(s, dir)
    s.sql(q192Sql)
  }

  val q192Sql: String =
    s"""WITH revenue AS (
       |  SELECT l_suppkey AS supplier_no,
       |    ${O.dsumExpr("l_extendedprice * (1.0 - l_discount)")} AS total_revenue
       |  FROM lineitem
       |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
       |    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
       |  GROUP BY l_suppkey)
       |SELECT s_suppkey, s_name, total_revenue
       |FROM supplier JOIN revenue ON s_suppkey = supplier_no
       |WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
       |ORDER BY s_suppkey""".stripMargin

  /** q193 — TPC-H Q16 shape: distinct-supplier counts per part group,
    * excluding a denylist via NOT IN (SELECT ...) — the null-aware anti
    * join surface (Spark plans a NAAJ; q08's left_anti is the
    * NULL-oblivious cousin). Keys are non-null in the fixture, so both
    * engines agree on the NOT IN semantics.
    *
    * Scale shape: the denylist (negative-balance suppliers) is a tiny
    * broadcast; COUNT(DISTINCT) expands to a two-phase exact distinct
    * aggregate — partial per (group, l_suppkey), final per group.
    */
  val q193SupplierCnt: Q = (s, dir) => {
    registerViews(s, dir)
    s.sql(q193Sql)
  }

  val q193Sql: String =
    """SELECT p_brand, p_type, p_size,
      |  COUNT(DISTINCT l_suppkey) AS supplier_cnt
      |FROM lineitem JOIN part ON p_partkey = l_partkey
      |WHERE p_brand <> 'Brand#1'
      |  AND p_type NOT LIKE 'PROMO%'
      |  AND p_size IN (1, 4, 9, 14, 19, 24, 28, 36)
      |  AND l_suppkey NOT IN (
      |    SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0)
      |GROUP BY p_brand, p_type, p_size
      |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin

  /** q194 — TPC-H Q17 shape: revenue lost to small-quantity orders — a
    * correlated AVG scalar subquery (per-part mean quantity) feeding a
    * strict inequality. l_quantity is integral in the fixture
    * (TESTDATA probe: zero fractional rows), so AVG is an exact
    * integer-sum / count in both engines and 0.2·avg is the identical
    * double; the comparison is deterministic without decimal casts.
    *
    * Scale shape: Catalyst decorrelates the AVG into ONE aggregate over
    * lineitem keyed by l_partkey, joined back on the part key
    * (TpchShapeSpec pins zero surviving subquery expressions) — the
    * naive plan would re-scan lineitem per part row.
    */
  val q194SmallQtyRevenue: Q = (s, dir) => {
    registerViews(s, dir)
    s.sql(q194Sql)
  }

  val q194Sql: String =
    """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
      |    / 7.0 AS avg_yearly
      |FROM lineitem JOIN part ON p_partkey = l_partkey
      |WHERE p_brand = 'Brand#3'
      |  AND l_quantity < (
      |    SELECT 0.2 * AVG(l2.l_quantity)
      |    FROM lineitem l2 WHERE l2.l_partkey = p_partkey)""".stripMargin

  /** q195 — TPC-H Q19 shape: revenue under a DISJUNCTION of per-branch
    * conjunctions mixing both join sides. The planner surface: Catalyst
    * factors side-local implications out of the OR
    * (p_brand/p_size disjuncts reach the part scan, l_quantity
    * disjuncts reach the lineitem scan as pushed filters) so neither
    * side is scanned un-filtered — TpchShapeSpec pins an Or inside both
    * scans' PushedFilters. Single-row decimal-exact output.
    */
  val q195DisjunctiveRevenue: Q = (s, dir) => {
    registerViews(s, dir)
    s.sql(q195Sql)
  }

  val q195Sql: String =
    s"""SELECT ${O.dsumExpr("l_extendedprice * (1.0 - l_discount)")} AS revenue
       |FROM lineitem JOIN part ON p_partkey = l_partkey
       |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 10
       |       AND l_quantity BETWEEN 1 AND 11)
       |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 20
       |       AND l_quantity BETWEEN 10 AND 20)
       |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 30
       |       AND l_quantity BETWEEN 20 AND 30)""".stripMargin

  /** q196 — TPC-H Q22 shape: high-balance customers with no urgent
    * orders, grouped by a derived segment. Two decorrelation surfaces
    * in one query: NOT EXISTS → left-anti join, and a global-average
    * threshold — spelled as an exact cross-multiplied decimal compare
    * (bal·n > Σbal over the positive-balance population) because
    * AVG(DECIMAL) returns different intermediate types across engines
    * while SUM(DECIMAL) and COUNT are exact in both. (Every customer
    * has ≥1 order in this fixture, so the anti-join targets URGENT
    * orders specifically — a plain Q22 NOT EXISTS would be empty.)
    *
    * Scale shape: both scalar subqueries are 1-row broadcasts computed
    * in one pass over customer; the anti join shuffles on the customer
    * key with the urgent-order side pre-projected to its key column.
    */
  val q196HighBalanceNoUrgent: Q = (s, dir) => {
    registerViews(s, dir)
    s.sql(q196Sql)
  }

  val q196Sql: String =
    s"""SELECT c_nationkey % 5 AS seg, COUNT(*) AS numcust,
       |  ${O.dsum("c_acctbal")} AS totacctbal
       |FROM customer
       |WHERE c_nationkey % 5 IN (0, 1, 2)
       |  AND CAST(c_acctbal AS DECIMAL(18,2))
       |      * (SELECT COUNT(*) FROM customer
       |         WHERE c_acctbal > 0.0 AND c_nationkey % 5 IN (0, 1, 2))
       |    > (SELECT SUM(CAST(c_acctbal AS DECIMAL(18,2))) FROM customer
       |       WHERE c_acctbal > 0.0 AND c_nationkey % 5 IN (0, 1, 2))
       |  AND NOT EXISTS (
       |    SELECT 1 FROM orders
       |    WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
       |GROUP BY c_nationkey % 5
       |ORDER BY seg""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("q191_order_count_dist", q191OrderCountDist, q191Sql),
    Entry("q192_top_supplier", q192TopSupplier, q192Sql),
    Entry("q193_supplier_cnt", q193SupplierCnt, q193Sql),
    Entry("q194_small_qty_revenue", q194SmallQtyRevenue, q194Sql),
    Entry("q195_disjunctive_revenue", q195DisjunctiveRevenue, q195Sql),
    Entry("q196_high_balance_no_urgent", q196HighBalanceNoUrgent, q196Sql))
}
