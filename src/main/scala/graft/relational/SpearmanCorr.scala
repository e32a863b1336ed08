package graft.relational

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Entry, Tables => T}

/** SPEARMAN RANK CORRELATION, tie-aware and exact (the monotone-
  * association reading next to the family's linear r (q89 `corr`),
  * trend tests (q357 Mann–Kendall is S over TIME), and q329's use of
  * Spearman as an internal recovery metric — here it IS the operator):
  * ρ = Pearson on tie-averaged ranks. Association measured: customer
  * account balance vs the customer's total order spend.
  *
  * Exactness discipline: tie-averaged ranks are kept as DOUBLED
  * integers (`2·r̄(v) = 2·cum_before(v) + cnt(v) + 1`, the q285
  * convention), computed per DISTINCT value (never a raw-row window)
  * and joined back; all five moment sums accumulate in DECIMAL(38,0)
  * (q259/q354 precedent — rank products pass 10¹⁸ past sf0.1); the
  * single ρ double is evaluated from ONE SHARED FORMULA STRING over
  * exact integer sums, so both engines emit bit-identical bytes.
  * Doubling x-ranks and y-ranks scales numerator and denominator by
  * the same 4, leaving ρ unchanged.
  *
  * Scale shape: one keyed outer join (balances ⋈ spend agg), two
  * distinct-value rank maps (groupBy + the TWO-LEVEL cumulative scan
  * [[QuantileNormalize.fullCumSum]] — the y side has ~one distinct
  * value per customer, so the rank map is corpus-sized and a global
  * window would be one task), two value-keyed joins back, one moment
  * agg. No single-task windows anywhere.
  */
object SpearmanCorr {

  import Entry.Q

  /** Exact CENTERED moments off the raw rank sums (r17 sweep: the
    * uncentered spelling's n·sxy/n·sxx terms read ~n⁴ — past 2⁶³ at
    * sf1's 150k customers, where the HUGEINT→DOUBLE conversion is the
    * per-build two-rounding flake that turned q540 red in r16. The
    * recentring identity Σ(rx−m)(ry−m) = sxy − (m)(sx+sy) + n·m² with
    * m = n+1 — the doubled-rank mean, exact by construction — is
    * computed on the SAME exact integer sums and caps every operand
    * at ~6n³: conversions stay single-rounding-correct to n ≈ 1.3·10⁶
    * per series, vs 1.5·10⁵ before). `nw` is the 128-bit-widened n
    * (DECIMAL(38,0) Spark / HUGEINT DuckDB — spelled per engine
    * because DuckDB's `//`-family decimal arithmetic differs).
    */
  val CnumFormula: String =
    "sxy - (nw + 1) * (sx + sy) + nw * (nw + 1) * (nw + 1)"
  val DxxFormula: String =
    "sxx - 2 * (nw + 1) * sx + nw * (nw + 1) * (nw + 1)"
  val DyyFormula: String =
    "syy - 2 * (nw + 1) * sy + nw * (nw + 1) * (nw + 1)"

  /** The ρ formula over the centered exact moments, shared verbatim
    * by both engines. By the time it runs, cnum/dxx/dyy are BIGINT
    * (the r17 driver red: a DECIMAL(38,0)/HUGEINT OUTPUT column fails
    * the driver's parquet hash gate even when the integer values are
    * bit-identical — every r17-red query emitted one and no green
    * query did, so wide anchors are finished as BIGINT at the output
    * boundary; int64→double is a single exact IEEE conversion on both
    * engines, unlike the per-build HUGEINT→DOUBLE rounding).
    */
  val RhoFormula: String =
    "CAST(cnum AS DOUBLE) " +
      "/ SQRT(CAST(dxx AS DOUBLE) * CAST(dyy AS DOUBLE))"

  /** Doubled tie-averaged rank per distinct value of `c`, joined back
    * onto `df` as column `rName`.
    */
  private[graft] def withDoubledRank(df: DataFrame, c: String, rName: String)
      : DataFrame = {
    val s = df.sparkSession
    import s.implicits._
    val byVal = df.groupBy(col(c)).agg(count(lit(1)).as("cnt"))
    // cumulative on the TWO-LEVEL scan (fullCumSum): "distinct values"
    // is no bound at scale — the y side here has ~one distinct value
    // per customer, i.e. the rank map IS corpus-sized, so the old
    // one-task Window.orderBy would funnel the corpus through a single
    // task. 2·cum_before + cnt + 1 = 2·(cum_incl − cnt) + cnt + 1.
    val ranks = QuantileNormalize.fullCumSum(byVal, Seq(col(c)), "cnt" -> "cum")
      .withColumn(rName, lit(2L) * ($"cum" - $"cnt") + $"cnt" + lit(1L))
      .drop("cnt", "cum")
    df.join(ranks, c)
  }

  /** (grp-free) paired frame: (c_custkey, x = balance cents,
    * y = total spend cents, 0 when orderless).
    */
  def pairs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val spend = T.orders(s, dir).groupBy($"o_custkey".as("c_custkey"))
      .agg(sum(expr("CAST(FLOOR(100 * o_totalprice) AS BIGINT)")).as("y"))
    T.customer(s, dir)
      .select($"c_custkey",
        expr("CAST(FLOOR(100 * c_acctbal) AS BIGINT)").as("x"))
      .join(spend, Seq("c_custkey"), "left")
      .select($"c_custkey", $"x", coalesce($"y", lit(0L)).as("y"))
  }

  val q492Spearman: Q = (s, dir) => {
    import s.implicits._
    val ranked = withDoubledRank(
      withDoubledRank(pairs(s, dir), "x", "rx"), "y", "ry")
    centeredMoments(ranked.agg(
      count(lit(1)).as("n"),
      sum($"rx".cast("decimal(38,0)")).as("sx"),
      sum($"ry".cast("decimal(38,0)")).as("sy"),
      sum(($"rx".cast("decimal(38,0)") * $"rx")).as("sxx"),
      sum(($"ry".cast("decimal(38,0)") * $"ry")).as("syy"),
      sum(($"rx".cast("decimal(38,0)") * $"ry")).as("sxy")))
  }

  /** `(n, cnum, dxx, dyy, rho)` off a raw `(n, sx, sy, sxx, syy,
    * sxy)` moment row — the centered exact integers anchor the oracle
    * compare; rho finishes as one shared double formula over them.
    */
  def centeredMoments(m: DataFrame): DataFrame =
    m.withColumn("nw", expr("CAST(n AS DECIMAL(38,0))"))
      // BIGINT at the output boundary: |cnum|, dxx, dyy ≤ ~6n³ —
      // int64-exact to n ≈ 1.1·10⁶ per series (documented bound; the
      // 128-bit widening above is only for the INTERNAL products)
      .withColumn("cnum", expr(s"CAST($CnumFormula AS BIGINT)"))
      .withColumn("dxx", expr(s"CAST($DxxFormula AS BIGINT)"))
      .withColumn("dyy", expr(s"CAST($DyyFormula AS BIGINT)"))
      .select(col("n"), col("cnum"), col("dxx"), col("dyy"),
        expr(RhoFormula).as("rho"))

  val q492Sql: String =
    s"""WITH spend AS (
      |  SELECT o_custkey AS c_custkey,
      |    CAST(SUM(CAST(FLOOR(100 * o_totalprice) AS BIGINT)) AS BIGINT)
      |      AS y
      |  FROM orders GROUP BY 1),
      |p AS (
      |  SELECT c.c_custkey,
      |    CAST(FLOOR(100 * c_acctbal) AS BIGINT) AS x,
      |    COALESCE(y, 0) AS y
      |  FROM customer c LEFT JOIN spend USING (c_custkey)),
      |rxm AS (
      |  SELECT x, 2 * COALESCE(SUM(cnt) OVER (ORDER BY x
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |    + cnt + 1 AS rx
      |  FROM (SELECT x, COUNT(*) AS cnt FROM p GROUP BY 1)),
      |rym AS (
      |  SELECT y, 2 * COALESCE(SUM(cnt) OVER (ORDER BY y
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |    + cnt + 1 AS ry
      |  FROM (SELECT y, COUNT(*) AS cnt FROM p GROUP BY 1)),
      |ranked AS (
      |  SELECT rx, ry FROM p JOIN rxm USING (x) JOIN rym USING (y)),
      |m AS (
      |  SELECT COUNT(*) AS n,
      |    SUM(CAST(rx AS HUGEINT)) AS sx,
      |    SUM(CAST(ry AS HUGEINT)) AS sy,
      |    SUM(CAST(rx AS HUGEINT) * rx) AS sxx,
      |    SUM(CAST(ry AS HUGEINT) * ry) AS syy,
      |    SUM(CAST(rx AS HUGEINT) * ry) AS sxy
      |  FROM ranked),
      |mw AS (SELECT m.*, CAST(n AS HUGEINT) AS nw FROM m),
      |c AS (
      |  SELECT n, CAST($CnumFormula AS BIGINT) AS cnum,
      |    CAST($DxxFormula AS BIGINT) AS dxx,
      |    CAST($DyyFormula AS BIGINT) AS dyy
      |  FROM mw)
      |SELECT n, cnum, dxx, dyy,
      |  $RhoFormula AS rho
      |FROM c""".stripMargin

  val entries: Seq[Entry] = Seq(Entry("q492_spearman", q492Spearman, q492Sql))
}
