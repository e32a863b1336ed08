package graft.relational

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.PlanBridge

import graft.core.{Entry, ExactDiv, Tables => T}

/** LAD (LEAST-ABSOLUTE-DEVIATIONS / median) REGRESSION per group —
  * the τ=0.5 quantile regression of monthly revenue on time (Koenker–
  * Bassett Econometrica'78; Boscovich's original robust line): the
  * ROBUST trend the regression family lacked — q228/q354 OLS chases
  * squared error (one whale month drags the line), q275's Theil–Sen
  * is the rank-based slope; LAD minimizes Σ|residual|, the estimator
  * quantile-regression packages fit at the median.
  *
  * EXACT by the basic-solutions theorem (Koenker–Bassett §2: some LAD
  * optimum always passes through ≥2 sample points), so enumerating
  * the C(M,2) candidate lines through month pairs IS the exact
  * optimization — no iterative reweighting, no simplex, no floats in
  * the decision: every candidate's loss is the exact integer
  * L = Σ_k |x_k·den − (icept_num + slope_num·t_k)| (units cents·den,
  * den = t_j−t_i > 0), and losses compare across candidates by exact
  * cross-multiplication L_a·den_b vs L_b·den_a in DECIMAL(38,0)/
  * HUGEINT. Selection is two-stage so the exact compare never runs
  * quadratically over all candidates: stage A shortlists the
  * [[ShortK]] smallest by the correctly-rounded double key L/den
  * (BIGINT-ranged operands ⟹ bit-identical doubles both engines,
  * deterministic tie-break (L, den, i, j)); stage B picks the exact
  * cross-multiplied minimum INSIDE the shortlist (ties → smallest
  * (i, j) anchor). The spec measures the shortlist margin (the exact
  * winner sits at double-rank 1 with the rank-2 gap ≫ ulps) — the
  * procedure is deterministic and both engines replay it verbatim.
  *
  * Scale shape: the corpus collapses to a (group, month) frame in
  * ONE partial agg (q275/q357 calendar-bounded discipline); the
  * candidate join, loss evaluation (M³/2 rows ≈ 250k per group at
  * the 84-month calendar) and both selection stages run entirely on
  * calendar-bounded frames — corpus size never re-enters.
  */
object LadRegression {

  import Entry.Q

  val ShortK = 8

  /** Exact per-group LAD line off a `(g, t, x)` integer series. */
  def lad(series: DataFrame): DataFrame = fit(series, 1, 1)

  /** Exact per-group pinball-loss (quantile-regression) line: loss =
    * Σ wPos·r⁺ + wNeg·r⁻ over residuals r = x·den − ŷ·den, i.e.
    * τ = wPos/(wPos+wNeg) — the basic-solutions theorem (Koenker–
    * Bassett §2) covers EVERY τ, so the same candidate enumeration
    * is exact at any integer weight pair. fit(1,1) is LAD; fit(9,1)
    * is the τ=0.9 envelope.
    */
  def fit(series: DataFrame, wPos: Int, wNeg: Int): DataFrame = {
    val s = series.sparkSession
    import s.implicits._
    val pts = PlanBridge.checkpointResetStats(series)
    val lines = pts.as("a").join(pts.as("b"),
        $"a.g" === $"b.g" && $"a.t" < $"b.t")
      .select($"a.g".as("g"), $"a.t".as("i"), $"b.t".as("j"),
        ($"b.x" - $"a.x").as("snum"),
        ($"b.t" - $"a.t").as("den"),
        (($"a.x" * ($"b.t" - $"a.t")) - ($"b.x" - $"a.x") * $"a.t")
          .as("inum"))
    val loss = lines.join(pts.withColumnRenamed("g", "pg"),
        $"g" === $"pg")
      .withColumn("r", $"x" * $"den" - ($"inum" + $"snum" * $"t"))
      .withColumn("resid", expr(
        s"IF(r > 0, ${wPos}L * r, ${wNeg}L * -r)"))
      .groupBy($"g", $"i", $"j")
      .agg(first($"snum").as("snum"), first($"den").as("den"),
        first($"inum").as("inum"),
        // widen: Σ|resid| passes int64 once monthly cents do (~10¹⁸
        // at 10⁶× revenue) — DECIMAL(38,0)/HUGEINT both sides
        sum($"resid".cast("decimal(38,0)")).as("lossnum"))
    val wShort = Window.partitionBy($"g")
      .orderBy($"ld", $"lossnum", $"den", $"i", $"j")
    val short = PlanBridge.checkpointResetStats(loss
      .withColumn("ld", expr(
        "CAST(lossnum AS DOUBLE) / CAST(den AS DOUBLE)"))
      .withColumn("rk", row_number().over(wShort))
      .filter($"rk" <= ShortK))
    // exact winner inside the shortlist: no rival with a strictly
    // smaller cross-multiplied loss, nor an equal loss at a smaller
    // (i, j) anchor
    val rivals = short.as("l").join(short.as("r"),
        $"l.g" === $"r.g" &&
          ($"r.lossnum" * $"l.den" < $"l.lossnum" * $"r.den" ||
            ($"r.lossnum" * $"l.den" === $"l.lossnum" * $"r.den" &&
              ($"r.i" < $"l.i" ||
                ($"r.i" === $"l.i" && $"r.j" < $"l.j")))),
        "left_anti")
    rivals
      .withColumn("slope_micro", expr("CAST(" +
        ExactDiv.microFloor("CAST(snum AS DECIMAL(38,0))",
          "CAST(den AS DECIMAL(38,0))", "div") + " AS BIGINT)"))
      .withColumn("loss_floor", expr("CAST(" +
        ExactDiv.floorDiv("lossnum", "CAST(den AS DECIMAL(38,0))", "div") +
        " AS BIGINT)"))
      // lossnum finishes as BIGINT at the output boundary (r17 driver
      // red: DECIMAL(38,0)/HUGEINT OUTPUT columns fail the driver's
      // parquet hash gate; lossnum ≤ 9·M·den·max|x| ≈ 3·10¹⁷ at sf100
      // monthly cents — documented bound). The 128-bit sum stays
      // INTERNAL for the cross-multiplied compares above.
      .select($"g", $"i", $"j", $"snum", $"den", $"inum",
        $"lossnum".cast("long").as("lossnum"), $"slope_micro",
        $"loss_floor")
      .orderBy($"g")
  }

  val q584LadRegression: Q = (s, dir) => {
    import s.implicits._
    lad(T.orders(s, dir)
      .groupBy($"o_orderpriority".as("g"),
        ((year($"o_orderdate") - 1992) * 12 + month($"o_orderdate"))
          .cast("long").as("t"))
      .agg(sum(expr("CAST(FLOOR(100 * o_totalprice) AS BIGINT)")).as("x")))
  }

  /** The shared oracle replay, parameterized by the pinball weights
    * (1,1 = LAD; 9,1 = τ=0.9). */
  def fitSql(wPos: Int, wNeg: Int): String =
    s"""WITH pts AS (
      |  SELECT o_orderpriority AS g,
      |    CAST((year(CAST(o_orderdate AS DATE)) - 1992) * 12
      |      + month(CAST(o_orderdate AS DATE)) AS BIGINT) AS t,
      |    CAST(SUM(CAST(FLOOR(100 * o_totalprice) AS BIGINT)) AS BIGINT)
      |      AS x
      |  FROM orders GROUP BY 1, 2),
      |lines AS (
      |  SELECT a.g, a.t AS i, b.t AS j,
      |    b.x - a.x AS snum, b.t - a.t AS den,
      |    a.x * (b.t - a.t) - (b.x - a.x) * a.t AS inum
      |  FROM pts a JOIN pts b ON a.g = b.g AND a.t < b.t),
      |loss AS (
      |  SELECT l.g, i, j, snum, den, inum,
      |    SUM(CAST(CASE WHEN p.x * den - (inum + snum * p.t) > 0
      |      THEN $wPos * (p.x * den - (inum + snum * p.t))
      |      ELSE $wNeg * ((inum + snum * p.t) - p.x * den) END
      |      AS HUGEINT)) AS lossnum
      |  FROM lines l JOIN pts p ON l.g = p.g
      |  GROUP BY 1, 2, 3, 4, 5, 6),
      |short AS (
      |  SELECT * FROM (
      |    SELECT g, i, j, snum, den, inum, lossnum,
      |      ROW_NUMBER() OVER (PARTITION BY g ORDER BY
      |        CAST(lossnum AS DOUBLE) / CAST(den AS DOUBLE),
      |        lossnum, den, i, j) AS rk
      |    FROM loss)
      |  WHERE rk <= $ShortK),
      |win AS (
      |  SELECT l.* FROM short l
      |  WHERE NOT EXISTS (
      |    SELECT 1 FROM short r
      |    WHERE r.g = l.g AND (
      |      r.lossnum * l.den < l.lossnum * r.den OR
      |      (r.lossnum * l.den = l.lossnum * r.den AND
      |        (r.i < l.i OR (r.i = l.i AND r.j < l.j))))))
      |SELECT g, i, j, snum, den, inum,
      |  CAST(lossnum AS BIGINT) AS lossnum,
      |  CAST(${ExactDiv.microFloor("CAST(snum AS HUGEINT)",
             "CAST(den AS HUGEINT)", "//")} AS BIGINT) AS slope_micro,
      |  CAST(${ExactDiv.floorDiv("lossnum",
             "CAST(den AS HUGEINT)", "//")} AS BIGINT) AS loss_floor
      |FROM win
      |ORDER BY g""".stripMargin

  /** q586 — τ=0.9 QUANTILE REGRESSION (the P90 envelope trend a
    * capacity plan fits: ~90% of months sit on/below the line): the
    * identical exact machinery at pinball weights (9, 1); loss is in
    * ×10 pinball units (integer weights — no float enters the
    * decision at any τ = k/10).
    */
  val q586QuantileRegression: Q = (s, dir) => {
    import s.implicits._
    fit(T.orders(s, dir)
      .groupBy($"o_orderpriority".as("g"),
        ((year($"o_orderdate") - 1992) * 12 + month($"o_orderdate"))
          .cast("long").as("t"))
      .agg(sum(expr("CAST(FLOOR(100 * o_totalprice) AS BIGINT)")).as("x")),
      9, 1)
  }

  val entries: Seq[Entry] = Seq(
    Entry("q584_lad_regression", q584LadRegression, fitSql(1, 1)),
    Entry("q586_quantile_regression", q586QuantileRegression, fitSql(9, 1)))
}
