package graft.relational

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.{Entry, Tables => T}

/** PARTIAL CORRELATION (Yule 1907 — "are views and purchases related
  * BEYOND what overall site traffic explains?": the first-order
  * partial r_xy·z = (r_xy − r_xz·r_zy)/√((1−r_xz²)(1−r_zy²)) — the
  * confounder-removed member of the correlation family next to plain
  * Pearson q89, rank Spearman q492/Kendall q500, lagged CCF q532, and
  * the regression view q228; the workhorse behind every 'controlling
  * for' claim): daily view-count vs purchase-count controlling for
  * error-count (the load proxy).
  *
  * Exactness: the three series are 0-DENSIFIED daily COUNTS on the
  * shared day grid (q532's discipline), so all NINE sufficient
  * statistics (n, Σx, Σy, Σz, Σxy, Σxz, Σyz, Σx², Σy², Σz²) are exact
  * BIGINTs from ONE partial agg; the three pairwise r's and the
  * partial compose in ONE shared NULLIF-guarded formula string (a
  * single IEEE chain per engine — never r's rounded through literals,
  * the q526 rule).
  *
  * Scale shape: corpus → (type, day) in one partial agg; the pivot to
  * (x, y, z) columns and the moment agg run on the CALENDAR-bounded
  * grid.
  */
object PartialCorrelation {

  import Entry.Q

  private def r(sxy: String, sx: String, sy: String,
      sxx: String, syy: String): String =
    s"((CAST(n AS DOUBLE) * $sxy - CAST($sx AS DOUBLE) * $sy) " +
      s"/ NULLIF(SQRT((CAST(n AS DOUBLE) * $sxx " +
      s"- CAST($sx AS DOUBLE) * $sx) " +
      s"* (CAST(n AS DOUBLE) * $syy - CAST($sy AS DOUBLE) * $sy)), 0.0))"

  val RxyFormula: String = r("sxy", "sx", "sy", "sxx", "syy")
  val RxzFormula: String = r("sxz", "sx", "sz", "sxx", "szz")
  val RzyFormula: String = r("syz", "sz", "sy", "szz", "syy")

  /** The partial r_xy·z — shared verbatim, composed from the three
    * pairwise chains inline (one IEEE chain, no literal round-trip).
    */
  val PartialFormula: String =
    s"($RxyFormula - $RxzFormula * $RzyFormula) " +
      s"/ NULLIF(SQRT((1.0 - $RxzFormula * $RxzFormula) " +
      s"* (1.0 - $RzyFormula * $RzyFormula)), 0.0)"

  val q546PartialCorrelation: Q = (s, dir) => {
    import s.implicits._
    val daily = T.events(s, dir)
      .filter($"event_type".isin("view", "purchase", "error"))
      .groupBy($"event_type", to_date($"ts").as("d"))
      .agg(count(lit(1)).as("c"))
    partialCorr(daily, "view", "purchase", "error")
  }

  /** r_xy·z over a `(event_type, d, c)` daily frame. */
  def partialCorr(daily: DataFrame, xT: String, yT: String, zT: String)
      : DataFrame = {
    val s = daily.sparkSession
    import s.implicits._
    def side(t: String, as: String) =
      daily.filter($"event_type" === t).select($"d", $"c".as(as))
    val grid = daily.select($"d").distinct()
      .join(side(xT, "x"), Seq("d"), "left")
      .join(side(yT, "y"), Seq("d"), "left")
      .join(side(zT, "z"), Seq("d"), "left")
      .select(coalesce($"x", lit(0L)).as("x"),
        coalesce($"y", lit(0L)).as("y"), coalesce($"z", lit(0L)).as("z"))
    grid.agg(count(lit(1)).as("n"),
        sum($"x").as("sx"), sum($"y").as("sy"), sum($"z").as("sz"),
        sum($"x" * $"y").as("sxy"), sum($"x" * $"z").as("sxz"),
        sum($"y" * $"z").as("syz"),
        sum($"x" * $"x").as("sxx"), sum($"y" * $"y").as("syy"),
        sum($"z" * $"z").as("szz"))
      .withColumn("r_xy", expr(RxyFormula))
      .withColumn("r_partial", expr(PartialFormula))
  }

  val q546Sql: String =
    s"""WITH daily AS MATERIALIZED (
      |  SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d,
      |    CAST(COUNT(*) AS BIGINT) AS c
      |  FROM events
      |  WHERE event_type IN ('view', 'purchase', 'error')
      |  GROUP BY 1, 2),
      |grid AS (
      |  SELECT COALESCE(xx.c, 0) AS x, COALESCE(yy.c, 0) AS y,
      |    COALESCE(zz.c, 0) AS z
      |  FROM (SELECT DISTINCT d FROM daily) dd
      |  LEFT JOIN (SELECT d, c FROM daily WHERE event_type = 'view') xx
      |    ON xx.d = dd.d
      |  LEFT JOIN (SELECT d, c FROM daily WHERE event_type = 'purchase') yy
      |    ON yy.d = dd.d
      |  LEFT JOIN (SELECT d, c FROM daily WHERE event_type = 'error') zz
      |    ON zz.d = dd.d),
      |m AS (
      |  SELECT COUNT(*) AS n,
      |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
      |    CAST(SUM(z) AS BIGINT) AS sz,
      |    CAST(SUM(x * y) AS BIGINT) AS sxy,
      |    CAST(SUM(x * z) AS BIGINT) AS sxz,
      |    CAST(SUM(y * z) AS BIGINT) AS syz,
      |    CAST(SUM(x * x) AS BIGINT) AS sxx,
      |    CAST(SUM(y * y) AS BIGINT) AS syy,
      |    CAST(SUM(z * z) AS BIGINT) AS szz
      |  FROM grid)
      |SELECT n, sx, sy, sz, sxy, sxz, syz, sxx, syy, szz,
      |  $RxyFormula AS r_xy, $PartialFormula AS r_partial
      |FROM m""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("q546_partial_correlation", q546PartialCorrelation, q546Sql))
}
