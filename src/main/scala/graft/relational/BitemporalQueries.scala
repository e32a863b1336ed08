package graft.relational

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{Entry, Tables => T}

/** Bitemporal point-in-time queries — "what did we BELIEVE at
  * transaction time T about the state VALID at time V". One-axis
  * versioning exists twice in the repo already: q106 (SCD2 = the valid
  * axis) and q169 (snapshot time travel = the transaction axis); a
  * late-arriving correction is visible to NEITHER alone, which is the
  * whole reason warehouses keep both axes (Snodgrass; SQL:2011
  * system-versioned + application-time tables).
  */
object BitemporalQueries {

  import Entry.Q

  /** Valid-time point probed by both scenarios. */
  val ValidAt = "1995-06-30"

  /** Two transaction-time points: before and after most late
    * corrections land — the answer for the SAME valid instant differs
    * between them, which is the bitemporal semantics under test.
    */
  val TxEarly = "1995-08-01"
  val TxLate = "1998-12-31"

  /** q221 — bitemporal as-of resolution over a correction-delayed
    * version log: each order is a version of its customer's state,
    * valid from `o_orderdate`, ENTERED (transaction time) up to 89 days
    * later (`o_orderkey % 90` — deterministic late-arrival skew). For
    * each scenario (T, V): restrict to versions visible at T
    * (tx_from ≤ T), then resolve the latest version valid at V per
    * customer (valid_from ≤ V, max by valid_from with tx_from then
    * orderkey tie-breaks). Emitted for both [[TxEarly]] and
    * [[TxLate]]: customers whose resolved version CHANGES between the
    * scenarios are exactly those with a correction in flight at
    * [[TxEarly]] — rows one-axis systems get wrong.
    *
    * Scale shape: no interval chains are materialized (the SCD2
    * valid_to/tx_to build is q106's job) — resolution is one filter +
    * one per-key window over the filtered log; the two scenarios reuse
    * one scan via the union of literal scenario labels. The valid/tx
    * predicates are simple column comparisons; the o_orderdate half
    * reaches the parquet scan as PushedFilters.
    */
  val q221BitemporalAsOf: Q = (s, dir) => {
    import s.implicits._
    val versions = T.orders(s, dir).select(
      $"o_custkey", $"o_orderkey",
      $"o_orderdate".as("valid_from"),
      // o_orderdate is timestamp-typed in the fixture; stay in timestamps
      // (DuckDB's `+ to_days(...)` also yields one) so types hash-match
      expr("o_orderdate + make_dt_interval(CAST(o_orderkey % 90 AS INT), 0, 0, 0)")
        .as("tx_from"))
    def scenario(label: String, tx: String): DataFrame = {
      val w = Window.partitionBy($"o_custkey")
        .orderBy($"valid_from".desc, $"tx_from".desc, $"o_orderkey".desc)
      versions
        .filter($"tx_from" <= lit(tx) && $"valid_from" <= lit(ValidAt))
        .withColumn("rn", row_number().over(w))
        .filter($"rn" === 1)
        .select(lit(label).as("scenario"), $"o_custkey", $"o_orderkey",
          $"valid_from", $"tx_from")
    }
    scenario("early", TxEarly).unionByName(scenario("late", TxLate))
      .orderBy($"scenario", $"o_custkey")
  }

  val q221Sql: String =
    s"""WITH versions AS (
       |  SELECT o_custkey, o_orderkey, o_orderdate AS valid_from,
       |         o_orderdate + to_days(CAST(o_orderkey % 90 AS INTEGER)) AS tx_from
       |  FROM orders),
       |resolve AS (
       |  SELECT s.scenario, v.*,
       |         ROW_NUMBER() OVER (PARTITION BY s.scenario, v.o_custkey
       |           ORDER BY v.valid_from DESC, v.tx_from DESC, v.o_orderkey DESC) AS rn
       |  FROM versions v
       |  JOIN (SELECT 'early' AS scenario, DATE '$TxEarly' AS tx
       |        UNION ALL SELECT 'late', DATE '$TxLate') s
       |    ON v.tx_from <= s.tx AND v.valid_from <= DATE '$ValidAt')
       |SELECT scenario, o_custkey, o_orderkey, valid_from, tx_from
       |FROM resolve WHERE rn = 1
       |ORDER BY scenario, o_custkey""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("q221_bitemporal_asof", q221BitemporalAsOf, q221Sql))
}
