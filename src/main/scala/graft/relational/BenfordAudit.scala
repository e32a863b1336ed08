package graft.relational

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.PlanBridge

import graft.core.{Entry, Tables => T}

/** BENFORD'S-LAW FIRST-DIGIT AUDIT (Newcomb 1881 / Benford 1938; the
  * forensic-accounting screen every data-quality suite ships —
  * fabricated or truncated numeric columns betray themselves by a
  * first-digit distribution far from log10(1+1/d)): census the
  * leading digit of `l_extendedprice` (a genuinely multi-decade
  * positive amount) and report, per digit, the observed count, the
  * Benford-expected count, and the observed−expected proportion gap —
  * the audit REPORTS deviation, it does not presume conformity (real
  * TPC-H-ish prices are bounded-range, so their gap is honest data).
  *
  * Cross-engine exactness: the nine log10(1+1/d) constants are pinned
  * micro-integer LITERALS computed once here and interpolated into
  * BOTH engines' SQL, so expected counts ((n·c) div 1000000) and
  * proportion gaps ((1000000·obs) div n − c) are pure BIGINT
  * arithmetic — no transcendental evaluated at query time anywhere.
  *
  * Scale shape: one projection (first char of the floored amount) +
  * one 9-group census — a single partial-aggregated pass.
  */
object BenfordAudit {

  import Entry.Q

  /** Pinned micro-scaled Benford proportions log10(1+1/d), d=1..9. */
  val BenfordMicro: Seq[(Int, Long)] =
    (1 to 9).map(d => d -> math.round(math.log10(1.0 + 1.0 / d) * 1e6))

  val q476BenfordAudit: Q = (s, dir) => {
    import s.implicits._
    val digits = T.lineitem(s, dir)
      .filter($"l_extendedprice" >= 1.0)
      .select(substring(
        expr("CAST(CAST(FLOOR(l_extendedprice) AS BIGINT) AS STRING)"),
        1, 1).cast("int").as("digit"))
    val census = PlanBridge.checkpointResetStats(digits.groupBy($"digit")
      .agg(count(lit(1)).as("n_obs")))
    val n = census.agg(sum($"n_obs")).head().getLong(0)
    val exp = BenfordMicro.toDF("digit", "c_micro")
    census.join(broadcast(exp), Seq("digit"), "right")
      .na.fill(0L, Seq("n_obs"))
      .select($"digit".cast("long").as("digit"), $"n_obs",
        expr(s"($n * c_micro) div 1000000").as("n_expected"),
        expr(s"(1000000 * n_obs) div $n - c_micro").as("gap_micro"))
      .orderBy($"digit")
  }

  val q476Sql: String = {
    val cases = BenfordMicro
      .map { case (d, c) => s"($d, $c)" }.mkString(", ")
    s"""WITH census AS (
       |  SELECT CAST(substring(CAST(CAST(FLOOR(l_extendedprice) AS BIGINT)
       |      AS VARCHAR), 1, 1) AS INTEGER) AS digit,
       |    COUNT(*) AS n_obs
       |  FROM lineitem WHERE l_extendedprice >= 1.0
       |  GROUP BY 1),
       |n AS (SELECT SUM(n_obs) AS n FROM census),
       |exp(digit, c_micro) AS (VALUES $cases)
       |SELECT CAST(exp.digit AS BIGINT) AS digit,
       |  CAST(COALESCE(census.n_obs, 0) AS BIGINT) AS n_obs,
       |  CAST(((SELECT n FROM n) * exp.c_micro) // 1000000 AS BIGINT)
       |    AS n_expected,
       |  CAST((1000000 * COALESCE(census.n_obs, 0)) // (SELECT n FROM n)
       |    - exp.c_micro AS BIGINT) AS gap_micro
       |FROM exp LEFT JOIN census ON exp.digit = census.digit
       |ORDER BY digit""".stripMargin
  }

  val entries: Seq[Entry] = Seq(
    Entry("q476_benford_audit", q476BenfordAudit, q476Sql))
}
