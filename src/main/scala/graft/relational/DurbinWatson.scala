package graft.relational

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.PlanBridge

import graft.core.{Entry, Tables => T}

/** DURBIN–WATSON STATISTIC (Durbin–Watson Biometrika'50 — "are the
  * regression residuals serially correlated?": the diagnostic that
  * says whether q228's per-group OLS standard errors can be trusted on
  * a TIME-ordered series; dw ≈ 2 ⟹ independent, → 0 ⟹ positive
  * autocorrelation (q291's ACF territory), → 4 ⟹ alternation —
  * links the regression family to the time-series diagnostics next
  * to the runs test q539): per event type, x_t = daily revenue
  * (whole dollars) regressed on the day index t, dw =
  * Σ(e_t − e_{t−1})² / Σe_t².
  *
  * Exactness: residuals are scaled to the EXACT integers
  * E_t = n·D·e_t = n·D·x_t − A − n·B·t with D = n·Σt²−(Σt)²,
  * B = n·Σtx−Σt·Σx, A = D·Σx−Σt·B — the moment sums are exact BIGINTs
  * off one calendar-bounded pass, and EVERYTHING derived from them
  * (D, B, A, E_t, and the emitted bnum/dden columns) is computed in
  * 128-bit (DECIMAL(38,0) / HUGEINT) on BOTH sides: n·D alone is
  * ~n⁵/12 and A ~ D·Σx is ~n⁵·x̄, past Long for long high-volume
  * series, and a Long spelling of any of them would wrap silently
  * Spark-side only while DuckDB's SUM(BIGINT)→HUGEINT promotion does
  * not (the scale (n·D)² cancels in the ratio);
  * the two quadratic sums ride DECIMAL(38,0)/HUGEINT (ΣE² ≤
  * n·(n·D·x)² ≈ 10³⁵ at sf1 in dollars — the documented q516-style
  * bound) and the statistic is emitted as EXACT INTEGER MICRO-UNITS
  * dw_micro = ⌊10⁶·num/den⌋: NO wide-int→double conversion survives
  * to the output. The r16 driver red proved why — HUGEINT→DOUBLE is
  * not correctly rounded on every DuckDB build (upper·2⁶⁴ + lower in
  * double arithmetic = two roundings) while Spark's
  * DECIMAL(38,0)→DOUBLE via BigDecimal is, so the same bits diverge
  * per build (the q177/BASELINE trap). The ⌊10⁶·num/den⌋ floor is
  * computed by 128-bit LONG DIVISION in three 10³ digit groups
  * (q·10⁶ + m1·10³ + m2 with r0 = num mod den, m1 = ⌊r0·10³/den⌋,
  * r1 = r0·10³ mod den, m2 = ⌊r1·10³/den⌋) so every intermediate is
  * < den·10³ ≤ 10³⁸ — inside DECIMAL(38,0)/HUGEINT at the documented
  * ΣE² bound, where a naive num·10⁶ would overflow at 10⁴¹. All
  * operands are non-negative (sums of squares), so Spark `div`/`%`
  * ≡ DuckDB `//`/`%` with no floor-vs-truncate sign trap.
  *
  * Scale shape: corpus → (type, day) in one partial agg; index,
  * residuals and lags all run on the CALENDAR-bounded grid (q275/q292
  * admission).
  */
object DurbinWatson {

  import Entry.Q

  /** ⌊10⁶·num/den⌋ off the exact wide-integer pieces — the shared
    * [[graft.core.ExactDiv.microFloor]] digit-group long division,
    * with only the integer-divide token differing (`div` Spark, `//`
    * DuckDB). Expects `dnz = NULLIF(den, 0)` in scope; num ≥ 0 here
    * (a sum of squares), so the floor is plain truncation.
    */
  def dwMicroFormula(idiv: String): String =
    s"CAST(${graft.core.ExactDiv.microFloor("num", "dnz", idiv)} AS BIGINT)"

  val q540DurbinWatson: Q = (s, dir) => {
    import s.implicits._
    durbinWatson(T.events(s, dir)
      .groupBy($"event_type".as("t"), to_date($"ts").as("d"))
      .agg(sum(expr("CAST(FLOOR(value) AS BIGINT)")).as("x")))
  }

  /** Per-series DW over a `(t, d, x)` daily frame. */
  def durbinWatson(dailyIn: DataFrame): DataFrame = {
    val s = dailyIn.sparkSession
    import s.implicits._
    val wDay = Window.partitionBy($"t").orderBy($"d")
    val idx = PlanBridge.checkpointResetStats(dailyIn
      .withColumn("i", row_number().over(wDay).cast("long")))
    val moments = idx.groupBy($"t")
      .agg(count(lit(1)).as("n"), sum($"i").as("st"),
        sum($"i" * $"i").as("stt"), sum($"x").as("sx"),
        sum($"i" * $"x").as("sxt"))
      // dd, b and especially a = dd·sx − st·b ride DECIMAL(38,0) from
      // the FIRST product: a ~ D·Σx is the same ~n⁵ magnitude as the
      // n·D·x residual term below, and DuckDB computes all three in
      // HUGEINT (SUM(BIGINT) promotes), so a Long spelling here wraps
      // Spark-side only past the fixtures (r15 advice note).
      .withColumn("dd", expr(
        "CAST(n AS DECIMAL(38,0)) * stt - CAST(st AS DECIMAL(38,0)) * st"))
      .withColumn("b", expr(
        "CAST(n AS DECIMAL(38,0)) * sxt - CAST(st AS DECIMAL(38,0)) * sx"))
      .withColumn("a", expr("dd * sx - CAST(st AS DECIMAL(38,0)) * b"))
    // e rides DECIMAL(38,0) from the FIRST product on: n·dd alone is
    // ~n⁵/12, so a Long spelling wraps silently (ANSI off) at SFs
    // beyond the fixtures while the DuckDB oracle's HUGEINT does not —
    // the r14 advice note. 128-bit on BOTH sides keeps the engines
    // bit-identical wherever either is run.
    val resid = idx.join(broadcast(moments), "t")
      .withColumn("e", expr(
        """CAST(n AS DECIMAL(38,0)) * dd * x - a
          | - CAST(n AS DECIMAL(38,0)) * b * i""".stripMargin))
      .withColumn("ep", lag($"e", 1).over(wDay))
    // bnum/dden finish as BIGINT at the output boundary (r17 driver
    // red: DECIMAL(38,0)/HUGEINT OUTPUT columns fail the driver's
    // parquet hash gate; both are calendar-bounded — dd ~ n⁴/12 and
    // b ~ n²·x̄·n stay int64 for any day-count series the events
    // table can produce). The 128-bit num/den sums stay INTERNAL.
    resid.groupBy($"t")
      .agg(first($"n").as("n"),
        first($"b").cast("long").as("bnum"),
        first($"dd").cast("long").as("dden"),
        sum(when($"ep".isNotNull,
          expr("CAST(e - ep AS DECIMAL(38,0)) * (e - ep)"))
          .otherwise(expr("CAST(0 AS DECIMAL(38,0))"))).as("num"),
        sum(expr("CAST(e AS DECIMAL(38,0)) * e")).as("den"))
      .withColumn("dnz", expr("NULLIF(den, CAST(0 AS DECIMAL(38,0)))"))
      .withColumn("dw_micro", expr(dwMicroFormula("div")))
      .select($"t", $"n", $"bnum", $"dden", $"dw_micro")
      .orderBy($"t")
  }

  val q540Sql: String =
    s"""WITH daily AS (
      |  SELECT event_type AS t, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d,
      |    CAST(SUM(CAST(FLOOR(value) AS BIGINT)) AS BIGINT) AS x
      |  FROM events GROUP BY 1, 2),
      |idx AS MATERIALIZED (
      |  SELECT t, x,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY t ORDER BY d) AS BIGINT)
      |      AS i
      |  FROM daily),
      |mom AS (
      |  SELECT t, COUNT(*) AS n, SUM(i) AS st, SUM(i * i) AS stt,
      |    SUM(x) AS sx, SUM(i * x) AS sxt
      |  FROM idx GROUP BY 1),
      |mom2 AS (
      |  SELECT t, n, n * stt - st * st AS dd,
      |    n * sxt - st * sx AS b,
      |    (n * stt - st * st) * sx - st * (n * sxt - st * sx) AS a
      |  FROM mom),
      |resid AS (
      |  SELECT idx.t, n, b, dd,
      |    CAST(n AS HUGEINT) * dd * x - a
      |      - CAST(n AS HUGEINT) * b * i AS e,
      |    LAG(CAST(n AS HUGEINT) * dd * x - a
      |      - CAST(n AS HUGEINT) * b * i)
      |      OVER (PARTITION BY idx.t ORDER BY i) AS ep
      |  FROM idx JOIN mom2 ON mom2.t = idx.t),
      |m AS (
      |  SELECT t, MAX(n) AS n,
      |    CAST(MAX(b) AS BIGINT) AS bnum,
      |    CAST(MAX(dd) AS BIGINT) AS dden,
      |    SUM(CASE WHEN ep IS NOT NULL
      |      THEN CAST(e - ep AS HUGEINT) * (e - ep)
      |      ELSE CAST(0 AS HUGEINT) END) AS num,
      |    SUM(CAST(e AS HUGEINT) * e) AS den
      |  FROM resid GROUP BY 1),
      |m2 AS (
      |  SELECT t, n, bnum, dden, num, NULLIF(den, 0) AS dnz
      |  FROM m)
      |SELECT t, n, bnum, dden,
      |  ${dwMicroFormula("//")} AS dw_micro
      |FROM m2 ORDER BY t""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("q540_durbin_watson", q540DurbinWatson, q540Sql))
}
