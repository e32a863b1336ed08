package graft.relational

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.{Entry, Tables => T}

/** Data-quality audit — the pre-flight checks an ETL run executes
  * before publishing a snapshot (the reference publishes atomically,
  * main.go:91-119; auditing BEFORE the swap is what makes the atomic
  * swap safe to automate): key uniqueness, null rates, referential
  * orphans, domain-range violations, each as one row of a metrics
  * frame.
  *
  * Scale shape: every check is an aggregate or an anti-join the engine
  * already optimizes — uniqueness is count vs count(distinct) on the
  * key, orphan detection is a left-anti join on the FK (AQE
  * broadcast/shuffle as sizes dictate), range checks are codegen
  * filters. The checks union into one tiny metrics frame, so one audit
  * pass costs a handful of scans that all push down and prune.
  */
object QualityAuditQueries {

  import Entry.Q

  /** q107 — audit of orders/lineitem/customer: primary-key uniqueness,
    * FK orphan counts in both directions, null counts on required
    * columns, and a domain-range violation count. `violations == 0`
    * rows double as the assertion the pipeline would gate on.
    */
  val q107DqAudit: Q = (s, dir) => {
    import s.implicits._
    val orders = T.orders(s, dir)
    val lineitem = T.lineitem(s, dir)
    val customer = T.customer(s, dir)
    def metric(name: String, df: DataFrame): DataFrame =
      df.select(lit(name).as("check"), $"violations".cast("long"))
    val checks = Seq(
      // PK uniqueness: duplicates of o_orderkey
      metric("orders_pk_unique", orders.agg(
        (count(lit(1)) - countDistinct($"o_orderkey")).as("violations"))),
      metric("customer_pk_unique", customer.agg(
        (count(lit(1)) - countDistinct($"c_custkey")).as("violations"))),
      // referential integrity: lineitem rows whose order is missing,
      // and orders whose customer is missing
      metric("lineitem_order_fk", lineitem
        .join(orders, $"l_orderkey" === $"o_orderkey", "left_anti")
        .agg(count(lit(1)).as("violations"))),
      metric("orders_customer_fk", orders
        .join(customer, $"o_custkey" === $"c_custkey", "left_anti")
        .agg(count(lit(1)).as("violations"))),
      // completeness: required columns must be non-null
      metric("orders_date_not_null", orders.agg(
        sum(when($"o_orderdate".isNull, 1L).otherwise(0L)).as("violations"))),
      // domain ranges: quantities positive, discounts within [0, 1]
      metric("lineitem_qty_positive", lineitem.agg(
        sum(when($"l_quantity" <= 0.0, 1L).otherwise(0L)).as("violations"))),
      metric("lineitem_discount_range", lineitem.agg(
        sum(when($"l_discount" < 0.0 || $"l_discount" > 1.0, 1L)
          .otherwise(0L)).as("violations"))))
    checks.reduce(_ unionByName _)
      .withColumn("passed", $"violations" === 0L)
      .orderBy($"check")
  }

  val q107Sql: String =
    """SELECT "check", CAST(violations AS BIGINT) AS violations,
      |  violations = 0 AS passed FROM (
      |  SELECT 'orders_pk_unique' AS "check",
      |    COUNT(*) - COUNT(DISTINCT o_orderkey) AS violations FROM orders
      |  UNION ALL
      |  SELECT 'customer_pk_unique',
      |    COUNT(*) - COUNT(DISTINCT c_custkey) FROM customer
      |  UNION ALL
      |  SELECT 'lineitem_order_fk', COUNT(*) FROM lineitem
      |  WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)
      |  UNION ALL
      |  SELECT 'orders_customer_fk', COUNT(*) FROM orders
      |  WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)
      |  UNION ALL
      |  SELECT 'orders_date_not_null',
      |    SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) FROM orders
      |  UNION ALL
      |  SELECT 'lineitem_qty_positive',
      |    SUM(CASE WHEN l_quantity <= 0.0 THEN 1 ELSE 0 END) FROM lineitem
      |  UNION ALL
      |  SELECT 'lineitem_discount_range',
      |    SUM(CASE WHEN l_discount < 0.0 OR l_discount > 1.0
      |        THEN 1 ELSE 0 END) FROM lineitem)
      |ORDER BY "check"""".stripMargin

  /** q358 — BENFORD first-digit audit of order amounts (Benford 1938,
    * Nigrini's fraud-audit standard — the data-quality screen that
    * catches fabricated or truncated monetary columns: natural
    * multi-scale amounts put digit d first with probability
    * log₁₀(1+1/d)): exact first-digit counts of the cent amounts, the
    * Benford expectation n·ln(1+1/d)/ln 10 micro-quantized per digit
    * (the one double chain, spelled identically), and each digit's
    * χ²-style deviation term floor(10⁶·(o−e)²/e) — per-digit rows so
    * the audit shows WHICH digit is off, not just that something is
    * (the q230 chi-square convention, pointed at a reference law
    * instead of an independence null).
    *
    * Scale shape: one conditional-aggregation pass collapses the
    * corpus to 9 digit rows; every finish runs there.
    */
  val q358BenfordAudit: Q = (s, dir) => {
    import s.implicits._
    val digits = T.orders(s, dir)
      .select(expr("CAST(FLOOR(100 * o_totalprice) AS BIGINT)").as("c"))
      .filter($"c" > 0L)
      .select(substring($"c".cast("string"), 1, 1).cast("long").as("digit"))
      .groupBy($"digit").agg(count(lit(1)).as("n_obs"))
    val tot = digits.agg(sum($"n_obs").as("n"))
    digits.crossJoin(broadcast(tot))
      .select($"digit", $"n_obs",
        expr("""CAST(FLOOR(1000000.0 * CAST(n AS DOUBLE)
               |  * (LN(1.0 + 1.0 / CAST(digit AS DOUBLE)) / LN(10.0)))
               |  AS BIGINT)""".stripMargin).as("expected_micro"))
      .withColumn("dev_micro",
        expr("""CAST(FLOOR(1000000.0 *
               |  (CAST(n_obs AS DOUBLE)
               |   - CAST(expected_micro AS DOUBLE) / 1000000.0)
               |  * (CAST(n_obs AS DOUBLE)
               |     - CAST(expected_micro AS DOUBLE) / 1000000.0)
               |  / (CAST(expected_micro AS DOUBLE) / 1000000.0))
               |  AS BIGINT)""".stripMargin))
      .orderBy($"digit")
  }

  val q358Sql: String =
    """WITH d AS (
      |  SELECT CAST(substring(CAST(c AS VARCHAR), 1, 1) AS BIGINT) AS digit
      |  FROM (SELECT CAST(FLOOR(100 * o_totalprice) AS BIGINT) AS c
      |        FROM orders)
      |  WHERE c > 0),
      |g AS (SELECT digit, CAST(COUNT(*) AS BIGINT) AS n_obs
      |      FROM d GROUP BY digit),
      |t AS (SELECT CAST(SUM(n_obs) AS BIGINT) AS n FROM g),
      |e AS (
      |  SELECT digit, n_obs,
      |    CAST(FLOOR(1000000.0 * CAST(n AS DOUBLE)
      |      * (LN(1.0 + 1.0 / CAST(digit AS DOUBLE)) / LN(10.0)))
      |      AS BIGINT) AS expected_micro
      |  FROM g CROSS JOIN t)
      |SELECT digit, n_obs, expected_micro,
      |  CAST(FLOOR(1000000.0 *
      |    (CAST(n_obs AS DOUBLE) - CAST(expected_micro AS DOUBLE) / 1000000.0)
      |    * (CAST(n_obs AS DOUBLE) - CAST(expected_micro AS DOUBLE) / 1000000.0)
      |    / (CAST(expected_micro AS DOUBLE) / 1000000.0)) AS BIGINT)
      |    AS dev_micro
      |FROM e ORDER BY digit""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("q358_benford_audit", q358BenfordAudit, q358Sql),
    Entry("q107_dq_audit", q107DqAudit, q107Sql))
}
