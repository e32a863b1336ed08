package graft.relational

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.PlanBridge

import graft.core.{Entry, Tables => T}

/** LEAD–LAG CROSS-CORRELATION FUNCTION (Box–Jenkins'70 CCF — "does one
  * series LEAD the other, and by how many days?": the bivariate
  * completer of the time-series family — q291's ACF asks whether a
  * series repeats ITSELF, q524's DTW asks how far apart two shapes
  * are; the CCF asks at WHICH temporal offset two series co-move):
  * r(ℓ) = Pearson of (x_d, y_{d+ℓ}) over the overlapping days, for
  * ℓ ∈ −[[CcfMaxLag]]..+[[CcfMaxLag]] — positive-ℓ peaks mean x
  * (views) LEADS y (purchases).
  *
  * Exactness: both daily series are event COUNTS densified to 0 on
  * the shared day grid (missing days are real zeros, not dropped
  * pairs), so every sufficient statistic per lag (m, Σx, Σy, Σxy,
  * Σx², Σy²) is an exact BIGINT (counts² ≤ 4·10¹⁰ per day at sf1 —
  * fits through sf100); r finishes in ONE shared formula string
  * ([[CcfFormula]], q289's ρ discipline), NULLIF-guarded for the
  * constant-series degenerate case.
  *
  * Scale shape: the corpus collapses to (type, day) in one partial
  * agg (the only pass over the data — q291's discipline); the lag
  * cross-join and the per-lag moments run on the CALENDAR-bounded
  * grid (days × 15 lags), corpus-size-independent.
  */
object CrossCorrelation {

  import Entry.Q

  val CcfMaxLag = 7
  val CcfLeadType = "view"
  val CcfLagType = "purchase"

  /** Per-lag Pearson from the exact pieces — shared verbatim. */
  val CcfFormula: String =
    "(CAST(m AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy) " +
      "/ NULLIF(SQRT((CAST(m AS DOUBLE) * sxx " +
      "- CAST(sx AS DOUBLE) * sx) " +
      "* (CAST(m AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)), 0.0)"

  val q532CrossCorrelation: Q = (s, dir) => {
    import s.implicits._
    val daily = T.events(s, dir)
      .filter($"event_type".isin(CcfLeadType, CcfLagType))
      .groupBy($"event_type", to_date($"ts").as("d"))
      .agg(count(lit(1)).as("c"))
    ccf(daily)
  }

  /** CCF over a `(event_type, d, c)` daily frame holding the two
    * series [[CcfLeadType]] (x) and [[CcfLagType]] (y).
    */
  def ccf(daily: DataFrame): DataFrame = {
    val s = daily.sparkSession
    import s.implicits._
    // calendar-bounded; two join branches below
    val grid = PlanBridge.checkpointResetStats(daily.select($"d").distinct()
      .join(daily.filter($"event_type" === CcfLeadType)
        .select($"d", $"c".as("x")), Seq("d"), "left")
      .join(daily.filter($"event_type" === CcfLagType)
        .select($"d", $"c".as("y")), Seq("d"), "left")
      .select($"d", coalesce($"x", lit(0L)).as("x"),
        coalesce($"y", lit(0L)).as("y")))
    val lags = s.range(-CcfMaxLag.toLong, CcfMaxLag + 1L)
      .select($"id".as("lag"))
    val a = grid.select($"d", $"x")
    val b = grid.select($"d".as("d2"), $"y")
    a.crossJoin(broadcast(lags))
      .join(b, $"d2" === date_add($"d", $"lag".cast("int")))
      .groupBy($"lag")
      .agg(count(lit(1)).as("m"),
        sum($"x").as("sx"), sum($"y").as("sy"),
        sum($"x" * $"y").as("sxy"),
        sum($"x" * $"x").as("sxx"),
        sum($"y" * $"y").as("syy"))
      .withColumn("r", expr(CcfFormula))
      .orderBy($"lag")
  }

  val q532Sql: String =
    s"""WITH daily AS MATERIALIZED (
      |  SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d,
      |    CAST(COUNT(*) AS BIGINT) AS c
      |  FROM events
      |  WHERE event_type IN ('$CcfLeadType', '$CcfLagType')
      |  GROUP BY 1, 2),
      |grid AS MATERIALIZED (
      |  SELECT dd.d,
      |    COALESCE(xx.c, 0) AS x, COALESCE(yy.c, 0) AS y
      |  FROM (SELECT DISTINCT d FROM daily) dd
      |  LEFT JOIN (SELECT d, c FROM daily
      |    WHERE event_type = '$CcfLeadType') xx ON xx.d = dd.d
      |  LEFT JOIN (SELECT d, c FROM daily
      |    WHERE event_type = '$CcfLagType') yy ON yy.d = dd.d),
      |pairs AS (
      |  SELECT lag, COUNT(*) AS m,
      |    CAST(SUM(a.x) AS BIGINT) AS sx, CAST(SUM(b.y) AS BIGINT) AS sy,
      |    CAST(SUM(a.x * b.y) AS BIGINT) AS sxy,
      |    CAST(SUM(a.x * a.x) AS BIGINT) AS sxx,
      |    CAST(SUM(b.y * b.y) AS BIGINT) AS syy
      |  FROM grid a
      |  CROSS JOIN (SELECT UNNEST(range(-$CcfMaxLag, ${CcfMaxLag + 1}))
      |    AS lag) lags
      |  JOIN grid b ON b.d = a.d + CAST(lag AS INTEGER)
      |  GROUP BY 1)
      |SELECT CAST(lag AS BIGINT) AS lag, m, sx, sy, sxy, sxx, syy,
      |  $CcfFormula AS r
      |FROM pairs ORDER BY lag""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("q532_cross_correlation", q532CrossCorrelation, q532Sql))
}
