package graft.relational

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.PlanBridge

import graft.core.{Entry, Tables => T}

/** MOOD'S MEDIAN TEST (Mood'50 — the blunt-but-assumption-free
  * k-sample location test: χ² independence of the k × {above, ≤}
  * pooled-median table; keeps power under gross outliers and
  * censoring-at-detection-limit where rank tests (KW q519) read
  * artifacts, and is THE test practitioners reach for on heavily
  * rounded data; completes the k-sample location trio omnibus-rank /
  * ordered-rank / median-count next to q519/q528): do the five
  * priorities' order totals share a median?
  *
  * Exactness: the pooled DOUBLED median rides fullRank's exact order
  * statistics (the q527 hits convention); the k×2 table is exact
  * counts; χ² = Σ_g (N·a_g − n_g·A)² / (n_g·A·(N−A)) folds as the
  * exact per-group floor q_sum = Σ_g ⌊(N·a_g − n_g·A)²/n_g⌋ in
  * DECIMAL(38,0) (the q230/q519 order-free-fold rule; ≤ k·N²·…
  * — fits BIGINT through sf1, documented) and finishes with the
  * A(N−A) divisor in ONE shared NULLIF-guarded formula + the pinned
  * χ²₄ 95% verdict.
  *
  * Scale shape: one fullRank two-level scan for the pooled median,
  * one broadcast of the 1-row median, one partial agg to the k-row
  * census, 1-row finish.
  */
object MoodMedian {

  import Entry.Q

  /** χ²(k−1=4) 95% critical value (q519's pinned literal). */
  val ChiSq4Crit = KruskalWallis.ChiSq4Crit

  /** Mood χ² from the exact pieces — shared verbatim. */
  val ChiFormula: String =
    "CAST(q_sum AS DOUBLE) " +
      "/ NULLIF(CAST(a_tot AS DOUBLE) * (n - a_tot), 0.0)"

  val q542MoodMedian: Q = (s, dir) => {
    import s.implicits._
    moodTest(T.orders(s, dir).select($"o_orderpriority".as("grp"),
      expr("CAST(FLOOR(100 * o_totalprice) AS BIGINT)").as("v"),
      $"o_orderkey".as("uid")))
  }

  /** Mood's median test over a `(grp, v, uid)` frame. */
  def moodTest(rowsIn: DataFrame): DataFrame = {
    val s = rowsIn.sparkSession
    import s.implicits._
    val rows = PlanBridge.checkpointResetStats(rowsIn)
    val n = rows.count()
    val med2 = QuantileNormalize.fullRank(rows.select($"v", $"uid"),
      Seq(), Seq("v", "uid"), "r")
      .withColumn("hits",
        expr(s"IF(r = (${n}L + 1) div 2, 1L, 0L) " +
          s"+ IF(r = (${n}L + 2) div 2, 1L, 0L)"))
      .filter($"hits" > 0L)
      .agg(sum($"v" * $"hits")).as[Long].head()
    val census = rows
      .withColumn("above", (lit(2L) * $"v" > lit(med2)).cast("long"))
      .groupBy($"grp")
      .agg(count(lit(1)).as("n_g"), sum($"above").as("a_g"))
    val censusP = PlanBridge.checkpointResetStats(
      census) // k rows; two reads below
    val (k, aTot) = censusP.agg(count(lit(1)), sum($"a_g"))
      .as[(Long, Long)].head()
    // second fold over the k-row census once A is known
    val qSum = censusP
      .agg(sum(expr(s"CAST(${n}L * a_g - n_g * ${aTot}L AS DECIMAL(38,0)) " +
        s"* (${n}L * a_g - n_g * ${aTot}L) div n_g")).cast("long"))
      .as[Long].head()
    Seq((n, k, aTot, qSum)).toDF("n", "k", "a_tot", "q_sum")
      .withColumn("chi2", expr(ChiFormula))
      .withColumn("reject_95", expr(s"$ChiFormula > $ChiSq4Crit"))
  }

  val q542Sql: String =
    s"""WITH rows_ AS MATERIALIZED (
      |  SELECT o_orderpriority AS grp,
      |    CAST(FLOOR(100 * o_totalprice) AS BIGINT) AS v,
      |    o_orderkey AS uid
      |  FROM orders),
      |nn AS (SELECT COUNT(*) AS n FROM rows_),
      |rk AS (SELECT v, ROW_NUMBER() OVER (ORDER BY v, uid) AS r
      |  FROM rows_),
      |med AS (
      |  SELECT CAST(SUM(v *
      |    ((CASE WHEN r = ((SELECT n FROM nn) + 1) // 2
      |        THEN 1 ELSE 0 END)
      |     + (CASE WHEN r = ((SELECT n FROM nn) + 2) // 2
      |        THEN 1 ELSE 0 END))) AS BIGINT) AS med2
      |  FROM rk),
      |census AS MATERIALIZED (
      |  SELECT grp, COUNT(*) AS n_g,
      |    CAST(SUM(CASE WHEN 2 * v > (SELECT med2 FROM med)
      |      THEN 1 ELSE 0 END) AS BIGINT) AS a_g
      |  FROM rows_ GROUP BY 1),
      |m AS (
      |  SELECT (SELECT n FROM nn) AS n,
      |    (SELECT CAST(COUNT(*) AS BIGINT) FROM census) AS k,
      |    (SELECT CAST(SUM(a_g) AS BIGINT) FROM census) AS a_tot,
      |    (SELECT CAST(SUM(
      |       CAST((SELECT n FROM nn) * a_g
      |         - n_g * (SELECT SUM(a_g) FROM census) AS HUGEINT)
      |       * ((SELECT n FROM nn) * a_g
      |         - n_g * (SELECT SUM(a_g) FROM census)) // n_g)
      |       AS BIGINT) FROM census) AS q_sum)
      |SELECT n, k, a_tot, q_sum, $ChiFormula AS chi2,
      |  $ChiFormula > $ChiSq4Crit AS reject_95
      |FROM m""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("q542_mood_median", q542MoodMedian, q542Sql))
}
