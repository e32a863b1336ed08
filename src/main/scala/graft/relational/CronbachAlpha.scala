package graft.relational

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.PlanBridge

import graft.core.{Entry, Tables => T}

/** CRONBACH'S ALPHA (Cronbach Psychometrika'51 — internal-consistency
  * reliability: "do these k parallel measurements move together enough
  * to be averaged into one score?" — the gate a metrics platform runs
  * before blending k quality signals into one composite (exactly what
  * q247's curation blend does), and the classic scale-reliability
  * number; completes the variance-decomposition family next to ICC
  * q547, which it equals under the Spearman–Brown lift): items = the
  * five event types, subjects = days, values = daily revenue in whole
  * dollars.
  *
  * α = k/(k−1) · (1 − Σᵢ varᵢ / var_total) — the n-denominators cancel,
  * so the whole statistic is a ratio of the exact BIGINTs
  * v_items = Σᵢ (n·Qᵢ − Sᵢ²) and v_total = n·Qt − St² (per-item and
  * per-day-total cross sums off the 0-DENSIFIED day grid, q532's
  * discipline; DECIMAL(38,0) internally, the sf1 bound documented);
  * α finishes in ONE shared NULLIF-guarded formula (a zero-variance
  * total degrades to NULL in both engines).
  *
  * Scale shape: corpus → (type, day) in one partial agg; everything
  * after runs on the CALENDAR-bounded grid.
  */
object CronbachAlpha {

  import Entry.Q

  /** α from the exact pieces — shared verbatim. */
  val AlphaFormula: String =
    "(CAST(k AS DOUBLE) / (k - 1)) " +
      "* (1.0 - CAST(v_items AS DOUBLE) " +
      "/ NULLIF(CAST(v_total AS DOUBLE), 0.0))"

  val q549CronbachAlpha: Q = (s, dir) => {
    import s.implicits._
    alpha(T.events(s, dir)
      .groupBy($"event_type".as("t"), to_date($"ts").as("d"))
      .agg(sum(expr("CAST(FLOOR(value) AS BIGINT)")).as("v")))
  }

  /** α over a `(t, d, v)` daily frame (items = t, subjects = d). */
  def alpha(dailyIn: DataFrame): DataFrame = {
    val s = dailyIn.sparkSession
    import s.implicits._
    val daily = PlanBridge.checkpointResetStats(dailyIn)
    val grid = PlanBridge.checkpointResetStats(daily.select($"d").distinct()
      .crossJoin(daily.select($"t").distinct())
      .join(daily, Seq("d", "t"), "left")
      .select($"d", $"t", coalesce($"v", lit(0L)).as("v")))
    val n = grid.select($"d").distinct().count()
    val items = grid.groupBy($"t")
      .agg(sum($"v").as("si"),
        sum(expr("CAST(v AS DECIMAL(38,0)) * v")).as("qi"))
    val (k, vItems) = items.agg(count(lit(1)),
      sum(expr(s"${n}L * qi - CAST(si AS DECIMAL(38,0)) * si"))
        .cast("long")).as[(Long, Long)].head()
    val vTotal = grid.groupBy($"d").agg(sum($"v").as("td"))
      .agg((lit(n) * sum(expr("CAST(td AS DECIMAL(38,0)) * td"))
        - sum($"td").cast("decimal(38,0)")
          * sum($"td").cast("decimal(38,0)")).cast("long"))
      .as[Long].head()
    Seq((n, k, vItems, vTotal)).toDF("n_days", "k", "v_items", "v_total")
      .withColumn("alpha", expr(AlphaFormula))
  }

  val q549Sql: String =
    s"""WITH daily AS MATERIALIZED (
      |  SELECT event_type AS t, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d,
      |    CAST(SUM(CAST(FLOOR(value) AS BIGINT)) AS BIGINT) AS v
      |  FROM events GROUP BY 1, 2),
      |grid AS MATERIALIZED (
      |  SELECT dd.d, tt.t, COALESCE(daily.v, 0) AS v
      |  FROM (SELECT DISTINCT d FROM daily) dd
      |  CROSS JOIN (SELECT DISTINCT t FROM daily) tt
      |  LEFT JOIN daily ON daily.d = dd.d AND daily.t = tt.t),
      |nn AS (SELECT COUNT(DISTINCT d) AS n FROM grid),
      |items AS (
      |  SELECT t, CAST(SUM(v) AS HUGEINT) AS si,
      |    SUM(CAST(v AS HUGEINT) * v) AS qi
      |  FROM grid GROUP BY 1),
      |totals AS (
      |  SELECT d, CAST(SUM(v) AS HUGEINT) AS td FROM grid GROUP BY 1),
      |m AS (
      |  SELECT (SELECT CAST(n AS BIGINT) FROM nn) AS n_days,
      |    (SELECT CAST(COUNT(*) AS BIGINT) FROM items) AS k,
      |    (SELECT CAST(SUM((SELECT n FROM nn) * qi - si * si) AS BIGINT)
      |       FROM items) AS v_items,
      |    (SELECT CAST((SELECT n FROM nn) * SUM(td * td)
      |       - SUM(td) * SUM(td) AS BIGINT) FROM totals) AS v_total)
      |SELECT n_days, k, v_items, v_total, $AlphaFormula AS alpha
      |FROM m""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("q549_cronbach_alpha", q549CronbachAlpha, q549Sql))
}
