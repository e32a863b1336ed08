package graft.relational

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.PlanBridge

import graft.core.{Entry, Tables => T}

/** WALD–WOLFOWITZ RUNS TEST (Wald–Wolfowitz AMS'40 — "is the series
  * RANDOM around its level, or does it drift/oscillate?": the
  * distribution-free randomness check run on monitoring series before
  * trusting any i.i.d.-assuming alarm; too FEW runs = persistent
  * drift (q292's CUSUM territory), too MANY = alternation; completes
  * the per-series diagnostics next to ACF q291 (linear memory) and
  * changepoints q514): per event type, the daily revenue series is
  * cut at its MEDIAN into a ± sequence, R = number of maximal
  * same-sign runs, judged against the exact conditional null moments
  * E[R] = 2·n⁺n⁻/N + 1 and Var[R] = 2n⁺n⁻(2n⁺n⁻ − N)/(N²(N−1)).
  *
  * Exactness: the doubled median med2 comes off exact order
  * statistics (the q527 hits convention) on the CALENDAR-bounded
  * daily frame; signs, run count (1 + sign changes via lag), n⁺/n⁻
  * are exact BIGINTs; z and the two-sided verdict finish in ONE
  * shared NULLIF-guarded formula. Median convention: strictly-above
  * is ⁺, ties with the median count ⁻ (2v > med2 — integer-exact).
  *
  * Scale shape: corpus → (type, day) in one partial agg; every window
  * after that runs on the calendar-bounded grid (q275/q292
  * admission).
  */
object RunsTest {

  import Entry.Q

  /** Two-sided normal 95% critical value (q535's). */
  val ZCrit2 = AnsariBradley.ZCrit2

  /** Runs z from the exact pieces — shared verbatim. */
  val ZFormula: String =
    "(CAST(runs AS DOUBLE) " +
      "- (2.0 * CAST(n_pos AS DOUBLE) * n_neg / n + 1.0)) " +
      "/ NULLIF(SQRT(2.0 * CAST(n_pos AS DOUBLE) * n_neg " +
      "* (2.0 * CAST(n_pos AS DOUBLE) * n_neg - n) " +
      "/ (CAST(n AS DOUBLE) * n * (n - 1))), 0.0)"

  val q539RunsTest: Q = (s, dir) => {
    import s.implicits._
    runsTest(T.events(s, dir)
      .groupBy($"event_type".as("t"), to_date($"ts").as("d"))
      .agg(sum(expr("CAST(FLOOR(100 * value) AS BIGINT)")).as("v")))
  }

  /** Per-series runs test over a `(t, d, v)` daily frame. */
  def runsTest(dailyIn: DataFrame): DataFrame = {
    val s = dailyIn.sparkSession
    import s.implicits._
    val daily = PlanBridge.checkpointResetStats(dailyIn)
    val wRank = Window.partitionBy($"t").orderBy($"v", $"d")
    val wAll = Window.partitionBy($"t")
    val med = daily
      .withColumn("r", row_number().over(wRank).cast("long"))
      .withColumn("n", count(lit(1)).over(wAll))
      .withColumn("hits",
        expr("IF(r = (n + 1) div 2, 1L, 0L) " +
          "+ IF(r = (n + 2) div 2, 1L, 0L)"))
      .filter($"hits" > 0L)
      .groupBy($"t").agg(sum($"v" * $"hits").as("med2"))
    val wDay = Window.partitionBy($"t").orderBy($"d")
    val signs = daily.join(med, "t")
      .withColumn("s", (lit(2L) * $"v" > $"med2").cast("long"))
      .withColumn("chg",
        when(lag($"s", 1).over(wDay).isNull, 1L)
          .when(lag($"s", 1).over(wDay) =!= $"s", 1L).otherwise(0L))
    signs.groupBy($"t")
      .agg(count(lit(1)).as("n"),
        sum($"s").as("n_pos"),
        (count(lit(1)) - sum($"s")).as("n_neg"),
        sum($"chg").as("runs"))
      .withColumn("z", expr(ZFormula))
      .withColumn("reject_95", expr(s"ABS($ZFormula) > $ZCrit2"))
      .orderBy($"t")
  }

  val q539Sql: String =
    s"""WITH daily AS MATERIALIZED (
      |  SELECT event_type AS t, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d,
      |    CAST(SUM(CAST(FLOOR(100 * value) AS BIGINT)) AS BIGINT) AS v
      |  FROM events GROUP BY 1, 2),
      |rk AS (
      |  SELECT t, v,
      |    ROW_NUMBER() OVER (PARTITION BY t ORDER BY v, d) AS r,
      |    COUNT(*) OVER (PARTITION BY t) AS n
      |  FROM daily),
      |med AS (
      |  SELECT t, CAST(SUM(v *
      |    ((CASE WHEN r = (n + 1) // 2 THEN 1 ELSE 0 END)
      |     + (CASE WHEN r = (n + 2) // 2 THEN 1 ELSE 0 END)))
      |    AS BIGINT) AS med2
      |  FROM rk GROUP BY 1),
      |signs AS (
      |  SELECT daily.t,
      |    CASE WHEN 2 * v > med2 THEN 1 ELSE 0 END AS s,
      |    CASE WHEN LAG(CASE WHEN 2 * v > med2 THEN 1 ELSE 0 END)
      |        OVER (PARTITION BY daily.t ORDER BY d) IS DISTINCT FROM
      |        (CASE WHEN 2 * v > med2 THEN 1 ELSE 0 END)
      |      THEN 1 ELSE 0 END AS chg
      |  FROM daily JOIN med ON med.t = daily.t),
      |m AS (
      |  SELECT t, COUNT(*) AS n,
      |    CAST(SUM(s) AS BIGINT) AS n_pos,
      |    CAST(COUNT(*) - SUM(s) AS BIGINT) AS n_neg,
      |    CAST(SUM(chg) AS BIGINT) AS runs
      |  FROM signs GROUP BY 1)
      |SELECT t, n, n_pos, n_neg, runs, $ZFormula AS z,
      |  ABS($ZFormula) > $ZCrit2 AS reject_95
      |FROM m ORDER BY t""".stripMargin

  val entries: Seq[Entry] = Seq(Entry("q539_runs_test", q539RunsTest, q539Sql))
}
