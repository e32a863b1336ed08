package graft.relational

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.PlanBridge

import graft.core.{Entry, Tables => T}

/** PAGE'S TREND TEST (Page JASA'63 — the ORDERED-alternative companion
  * of the blocked Friedman test q521, exactly as Jonckheere–Terpstra
  * q528 is the ordered companion of the unblocked Kruskal–Wallis q519:
  * "do the k treatments increase in the HYPOTHESIZED order, judged
  * within each day block?"): L = Σⱼ cⱼ·Rⱼ over the per-type rank sums
  * Rⱼ of the densified (day × type) grid, with cⱼ = the type's 1..k
  * position in the a-priori order (alphabetical type labels here — the
  * hypothesis must be fixed BEFORE the data, so it is a constant of
  * the query, not fitted).
  *
  * Exactness: rank sums ride the DOUBLED tie-averaged ranks of the
  * shared Friedman grid ([[FriedmanTest.rankedCells]]), so l2 = 2·L is
  * an exact BIGINT and E[l2] = n·k(k+1)²/2 is exact under doubling
  * (tie-averaging keeps the null mean exact; the classical no-tie
  * variance n·k²(k+1)(k²−1)/144 is the standard normal approximation —
  * densified 0-cells tie only on days missing ≥2 types, absent at
  * every fixture SF). z and the one-sided 95% verdict finish in ONE
  * shared formula string ([[ZFormula]]).
  *
  * Scale shape: the corpus collapses to (type, day) in one partial
  * agg; everything after rides the CALENDAR-bounded grid (q275/q292
  * admission) — the k-row rank-sum frame's ROW_NUMBER window is
  * k-bounded by definition.
  */
object PageTrend {

  import Entry.Q

  /** One-sided normal 95% critical value, pinned literal (q528's). */
  val ZCrit = JonckheereTerpstra.ZCrit

  /** Page z from the exact doubled pieces — shared verbatim. */
  val ZFormula: String =
    "(CAST(l2 AS DOUBLE) " +
      "- CAST(n_days AS DOUBLE) * k * (k + 1) * (k + 1) / 2.0) " +
      "/ NULLIF(2.0 * SQRT(CAST(n_days AS DOUBLE) * k * k * (k + 1) " +
      "* (k * k - 1) / 144.0), 0.0)"

  val q529PageTrend: Q = (s, dir) => {
    import s.implicits._
    page(T.events(s, dir)
      .groupBy($"event_type".as("t"), to_date($"ts").as("d"))
      .agg(sum(expr("CAST(FLOOR(100 * value) AS BIGINT)")).as("v")))
  }

  /** Page's L over a `(t, d, v)` frame; hypothesized order =
    * lexicographic t.
    */
  def page(dailyIn: DataFrame): DataFrame = {
    val s = dailyIn.sparkSession
    import s.implicits._
    val cells = PlanBridge.checkpointResetStats(
      FriedmanTest.rankedCells(dailyIn))
    val (nDays, k) = cells.agg(countDistinct($"d"), countDistinct($"t"))
      .as[(Long, Long)].head()
    // k-row frame: the window is treatment-count-bounded by definition
    val sums = cells.groupBy($"t").agg(sum($"rd").as("r2"))
      .withColumn("c", row_number().over(Window.orderBy($"t")).cast("long"))
    val l2 = sums.agg(sum($"c" * $"r2")).as[Long].head()
    Seq((nDays, k, l2)).toDF("n_days", "k", "l2")
      .withColumn("z", expr(ZFormula))
      .withColumn("reject_95", expr(s"$ZFormula > $ZCrit"))
  }

  val q529Sql: String =
    s"""WITH daily AS MATERIALIZED (
      |  SELECT event_type AS t, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d,
      |    CAST(SUM(CAST(FLOOR(100 * value) AS BIGINT)) AS BIGINT) AS v
      |  FROM events GROUP BY 1, 2),
      |grid AS MATERIALIZED (
      |  SELECT dd.d, tt.t, COALESCE(daily.v, 0) AS v
      |  FROM (SELECT DISTINCT d FROM daily) dd
      |  CROSS JOIN (SELECT DISTINCT t FROM daily) tt
      |  LEFT JOIN daily ON daily.d = dd.d AND daily.t = tt.t),
      |census AS (SELECT d, v, COUNT(*) AS cnt FROM grid GROUP BY 1, 2),
      |rk AS (
      |  SELECT d, v, 2 * COALESCE(SUM(cnt) OVER (PARTITION BY d ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |    + cnt + 1 AS rd
      |  FROM census),
      |cells AS MATERIALIZED (
      |  SELECT grid.d, grid.t, rk.rd FROM grid
      |  JOIN rk ON rk.d = grid.d AND rk.v = grid.v),
      |sums AS (
      |  SELECT t, CAST(SUM(rd) AS BIGINT) AS r2,
      |    CAST(ROW_NUMBER() OVER (ORDER BY t) AS BIGINT) AS c
      |  FROM cells GROUP BY 1),
      |m AS (
      |  SELECT
      |    (SELECT CAST(COUNT(DISTINCT d) AS BIGINT) FROM cells) AS n_days,
      |    (SELECT CAST(COUNT(*) AS BIGINT) FROM sums) AS k,
      |    (SELECT CAST(SUM(c * r2) AS BIGINT) FROM sums) AS l2)
      |SELECT n_days, k, l2, $ZFormula AS z,
      |  $ZFormula > $ZCrit AS reject_95
      |FROM m""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("q529_page_trend", q529PageTrend, q529Sql))
}
