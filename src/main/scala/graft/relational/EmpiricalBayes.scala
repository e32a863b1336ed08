package graft.relational

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.{Entry, Tables => T}

/** EMPIRICAL-BAYES RATE SHRINKAGE (Robbins'56 / Efron–Morris JASA'75
  * parametric EB; the beta-binomial moment fit every ranking system
  * uses to stop a 1-for-1 entity from outranking a 950-for-1000 one):
  * fit Beta(α, β) to the per-part return-rate population by METHOD OF
  * MOMENTS, then report each part's posterior-mean rate
  * (k + α)/(n + α + β) — low-volume parts shrink hard toward the
  * population mean, high-volume parts keep their own rate. Completes
  * the rate-smoothing family next to raking (q-Raking), isotonic
  * calibration and Platt scaling — those repair SCORES against
  * labels; this repairs RATES against volume.
  *
  * Exactness: sufficient statistics are exact integers — per-part
  * (n, k) counts and the micro-rate census Σ⌊10⁶k/n⌋, Σ⌊10⁶k/n⌋²
  * (DECIMAL(38,0)/HUGEINT) — and α, β, and the posterior mean finish
  * in ONE shared IEEE chain ([[PostExpr]]) evaluated inside the query
  * on BOTH engines (never literal-injected — a formatted double would
  * lose ulps in the string round-trip); the emitted posterior is
  * micro-FLOORED, so the full row hash-compares.
  *
  * Scale shape: one lineitem partial agg to the per-part census, one
  * 1-row moment agg broadcast back; top-25 is TakeOrdered.
  */
object EmpiricalBayes {

  import Entry.Q

  val EbTop = 25

  private val MExpr =
    "CAST(sum_r AS DOUBLE) / (1000000.0 * CAST(n_parts AS DOUBLE))"
  private val VExpr =
    s"CAST(sum_r2 AS DOUBLE) / (1000000.0 * 1000000.0 * " +
      s"CAST(n_parts AS DOUBLE)) - ($MExpr) * ($MExpr)"
  private val CExpr =
    s"($MExpr) * (1.0 - ($MExpr)) / ($VExpr) - 1.0"
  private val AlphaExpr = s"($MExpr) * ($CExpr)"
  private val BetaExpr = s"(1.0 - ($MExpr)) * ($CExpr)"
  /** Micro-floored Beta-posterior mean — shared verbatim. */
  val PostExpr: String =
    s"CAST(FLOOR(1000000.0 * (CAST(k AS DOUBLE) + ($AlphaExpr)) / " +
      s"(CAST(n AS DOUBLE) + ($AlphaExpr) + ($BetaExpr))) AS BIGINT)"

  /** Shrink a `(p, n, k)` count frame: per entity, raw micro-rate and
    * the moment-fit posterior micro-rate.
    */
  def ebShrink(counts: DataFrame): DataFrame = {
    val s = counts.sparkSession
    import s.implicits._
    val withR = counts.withColumn("r", expr("(1000000 * k) div n"))
    // sum_r2 ≤ n_parts·10¹² — guarded back to BIGINT on BOTH sides so
    // the VExpr int→double conversions stay single-rounding-correct
    // (< 2⁶³ holds to n_parts ≈ 9·10⁶ entities; the guard cast fails
    // loud past it — DuckDB throws, Spark nulls the column — instead
    // of flaking in the last ulp per build, the r16 q540 lesson)
    val stats = withR.agg(
      count(lit(1)).as("n_parts"),
      sum($"r").as("sum_r"),
      sum(expr("CAST(r AS DECIMAL(38,0)) * r")).cast("long").as("sum_r2"))
    withR.crossJoin(broadcast(stats))
      .select($"p", $"n", $"k", $"r".as("raw_micro"),
        expr(PostExpr).as("post_micro"))
  }

  val q526EmpiricalBayes: Q = (s, dir) => {
    import s.implicits._
    val counts = T.lineitem(s, dir)
      .groupBy($"l_partkey".as("p"))
      .agg(count(lit(1)).as("n"),
        sum(when($"l_returnflag" === "R", 1L).otherwise(0L)).as("k"))
    ebShrink(counts)
      .orderBy($"post_micro".desc, $"p")
      .limit(EbTop)
  }

  val q526Sql: String =
    s"""WITH counts AS MATERIALIZED (
      |  SELECT l_partkey AS p, CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS k
      |  FROM lineitem GROUP BY 1),
      |withr AS (SELECT p, n, k, (1000000 * k) // n AS r FROM counts),
      |stats AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n_parts,
      |    CAST(SUM(r) AS BIGINT) AS sum_r,
      |    CAST(SUM(CAST(r AS HUGEINT) * r) AS BIGINT) AS sum_r2
      |  FROM withr)
      |SELECT p, n, k, r AS raw_micro, $PostExpr AS post_micro
      |FROM withr CROSS JOIN stats
      |ORDER BY post_micro DESC, p
      |LIMIT $EbTop""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("q526_empirical_bayes", q526EmpiricalBayes, q526Sql))
}
