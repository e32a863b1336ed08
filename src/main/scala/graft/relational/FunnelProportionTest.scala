package graft.relational

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.PlanBridge

import graft.core.{Entry, Tables => T}

/** TWO-PROPORTION z-TEST over funnel stages (the pooled two-sample
  * proportion test, Fleiss ch.2 — THE A/B readout for conversion
  * funnels: q229's Welch answers continuous metrics, this answers the
  * binary stage-conversion ones; read next to q94's funnel counts,
  * q424's sample-ratio-mismatch gate and q551's per-rate intervals):
  * for each funnel transition (signup→view, view→purchase), does the
  * conversion rate differ between the two deterministic user cohorts
  * (user_id parity — the q229 variant convention)?
  *
  * Unit of analysis: the (user, day) SESSION — at user granularity
  * this fixture saturates (every long-lived user eventually fires
  * every type, p → 1 and the pooled variance degenerates), which is
  * exactly why real funnel readouts are per-session.
  *
  * Exactness: per (cohort, stage) the (n, k) census is exact BIGINT
  * (per-session reached-stage flags, one partial agg); the pooled z
  * finishes in ONE shared NULLIF-guarded formula with the pinned
  * two-sided 95% literal.
  *
  * Scale shape: one groupBy(user, day) partial agg (flags are max-of-
  * indicator — map-side combinable), one 4-row cohort census, 2-row
  * finish.
  */
object FunnelProportionTest {

  import Entry.Q

  val ZCrit2 = AnsariBradley.ZCrit2

  /** Pooled two-proportion z from the exact pieces — shared verbatim. */
  val ZFormula: String =
    "(CAST(k1 AS DOUBLE) / n1 - CAST(k2 AS DOUBLE) / n2) " +
      "/ NULLIF(SQRT((CAST(k1 + k2 AS DOUBLE) / (n1 + n2)) " +
      "* (1.0 - CAST(k1 + k2 AS DOUBLE) / (n1 + n2)) " +
      "* (1.0 / n1 + 1.0 / n2)), 0.0)"

  val q552FunnelProportion: Q = (s, dir) => {
    import s.implicits._
    val flags = T.events(s, dir)
      .groupBy($"user_id", to_date($"ts").as("d"))
      .agg(
        max(when($"event_type" === "signup", 1L).otherwise(0L)).as("s"),
        max(when($"event_type" === "view", 1L).otherwise(0L)).as("v"),
        max(when($"event_type" === "purchase", 1L).otherwise(0L)).as("p"))
      .withColumn("cohort", pmod($"user_id", lit(2L)))
    val census = PlanBridge.checkpointResetStats(flags.groupBy($"cohort")
      .agg(sum($"s").as("n_signup"),
        sum($"s" * $"v").as("k_signup_view"),
        sum($"v").as("n_view"),
        sum($"v" * $"p").as("k_view_purchase"))) // 2 rows; read twice below
    def stage(name: String, nCol: String, kCol: String): DataFrame = {
      val c0 = census.filter($"cohort" === 0L)
        .select(col(nCol).as("n1"), col(kCol).as("k1"))
      val c1 = census.filter($"cohort" === 1L)
        .select(col(nCol).as("n2"), col(kCol).as("k2"))
      c0.crossJoin(c1).select(lit(name).as("stage"),
        $"n1", $"k1", $"n2", $"k2")
    }
    stage("signup_to_view", "n_signup", "k_signup_view")
      .unionAll(stage("view_to_purchase", "n_view", "k_view_purchase"))
      .withColumn("z", expr(ZFormula))
      .withColumn("reject_95", expr(s"ABS($ZFormula) > $ZCrit2"))
      .orderBy($"stage")
  }

  val q552Sql: String =
    s"""WITH flags AS MATERIALIZED (
      |  SELECT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d,
      |    MAX(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS s,
      |    MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS v,
      |    MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS p,
      |    user_id % 2 AS cohort
      |  FROM events GROUP BY user_id, d),
      |census AS MATERIALIZED (
      |  SELECT cohort,
      |    CAST(SUM(s) AS BIGINT) AS n_signup,
      |    CAST(SUM(s * v) AS BIGINT) AS k_signup_view,
      |    CAST(SUM(v) AS BIGINT) AS n_view,
      |    CAST(SUM(v * p) AS BIGINT) AS k_view_purchase
      |  FROM flags GROUP BY 1),
      |stages AS (
      |  SELECT 'signup_to_view' AS stage,
      |    c0.n_signup AS n1, c0.k_signup_view AS k1,
      |    c1.n_signup AS n2, c1.k_signup_view AS k2
      |  FROM (SELECT * FROM census WHERE cohort = 0) c0,
      |       (SELECT * FROM census WHERE cohort = 1) c1
      |  UNION ALL
      |  SELECT 'view_to_purchase' AS stage,
      |    c0.n_view, c0.k_view_purchase, c1.n_view, c1.k_view_purchase
      |  FROM (SELECT * FROM census WHERE cohort = 0) c0,
      |       (SELECT * FROM census WHERE cohort = 1) c1)
      |SELECT stage, n1, k1, n2, k2, $ZFormula AS z,
      |  ABS($ZFormula) > $ZCrit2 AS reject_95
      |FROM stages ORDER BY stage""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("q552_funnel_proportion", q552FunnelProportion, q552Sql))
}
