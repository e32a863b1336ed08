package graft.relational

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.{Entry, ExactDiv, Tables => T}

/** HIGHER STANDARDIZED MOMENTS — skewness β₁ (with sign) and Pearson
  * kurtosis β₂ per group (Pearson Phil.Trans.1905's moment-ratio
  * system; Fisher's g-statistics are monotone maps of these): the
  * shape diagnostics the moments family lacked — q89 stops at
  * variance/correlation, q90/q110/q561 are quantile-side shape, and
  * no row measured tail weight (β₂) or asymmetry (β₁) at all. A
  * curation pass reads these before choosing a clip (q110 winsorize)
  * or a transform (q369 quantile-normalize): β₂ says whether the
  * tails are heavy enough to matter, sign(β₁^½) says which side.
  *
  * Exactness (the q492 recentering discipline, one pass): x is
  * recentered at the CONSTANT mid-domain anchor a = 25 (quantity ∈
  * [1,50], so y = x−25 ∈ [−24,25] and Σy⁴ ≤ n·25⁴ stays BIGINT to
  * n ≈ 2·10¹³), raw power sums T₁..T₄ are exact integers off ONE
  * partial-agged pass, and the anchor-invariant central combinations
  *   M2 = n·T₂ − T₁²                       (= n²·m₂)
  *   M3 = n²·T₃ − 3n·T₁·T₂ + 2T₁³          (= n³·m₃)
  *   M4 = n³·T₄ − 4n²·T₁·T₃ + 6n·T₁²·T₂ − 3T₁⁴  (= n⁴·m₄)
  * ride DECIMAL(38,0)/HUGEINT on BOTH sides. The n-powers cancel in
  * the emitted ratios, so every output is scale-free and finishes as
  * EXACT INTEGER MICRO-UNITS via [[ExactDiv]] (no wide-int→double
  * conversion anywhere — the q540 lesson):
  *   var_micro     = ⌊10⁶·M2/n²⌋                    (= 10⁶·m₂)
  *   kurt_b2_micro = ⌊10⁶·M4/M2²⌋                   (= 10⁶·m₄/m₂²)
  *   skew_b1_micro = sign(M3)·⌊10⁶·w²/M2⌋, w = ⌊|M3|/M2⌋
  * β₁ = m₃²/m₂³ would need M3² (~10⁵⁴ — far past 128 bits), so the
  * fraction is split: w = ⌊|M3|/M2⌋ = ⌊n·|m₃|/m₂⌋ is an exact BIGINT
  * whose relative truncation error ≤ 1/w shrinks with n, and
  * w²/M2 = β₁·(1 ∓ ≤2/w) — a DETERMINISTIC quantization (both
  * engines floor the same integers; the q576 "≤2 micro below
  * unquantized, identical every build" convention). The exact M2/M3/
  * M4 anchors are emitted alongside, so the oracle compare still
  * pins full precision.
  *
  * Bounds (q516-style, documented not guessed): M4 ≤ n⁴·25⁴ and the
  * microFloor den M2² ≤ 10³⁵ require n ≤ ~3.9·10⁷ per group at this
  * domain — 100× the sf1 group size; past that the at-scale path is
  * per-partition partial moment merging (Chan et al. pairwise
  * update) in doubles, traded scaladoc'd exactness for range.
  *
  * Scale shape: ONE partial-agged groupBy over the corpus (map-side
  * combine on the 5 power sums); everything after runs on the
  * |groups|-bounded frame. No window, no join, no second pass.
  */
object HigherMoments {

  import Entry.Q

  /** Mid-domain anchor for l_quantity ∈ [1, 50]. */
  val Anchor = 25

  /** 10¹⁸ digit-group split of a NON-NEGATIVE exact 128-bit integer
    * into two int64 pieces: x = hi·10¹⁸ + lo, 0 ≤ lo < 10¹⁸ (r17
    * driver red: DECIMAL(38,0)/HUGEINT OUTPUT columns fail the
    * driver's parquet hash gate, so the wide anchors are emitted as
    * BIGINT pairs — full precision kept, m4_hi ≤ 9·10¹⁷ at the
    * documented n ≤ 3.9·10⁷ bound). Operands are non-negative, so
    * Spark `div`/`%` ≡ DuckDB `//`/`%` — no floor-vs-truncate trap.
    */
  private def splitHi(x: String, idiv: String, wide: String): String =
    s"CAST($x $idiv CAST(1000000000000000000 AS $wide) AS BIGINT)"
  private def splitLo(x: String, wide: String): String =
    s"CAST($x % CAST(1000000000000000000 AS $wide) AS BIGINT)"

  /** Per-group (n, m2_hi/lo, m3_hi/lo, m4_hi/lo, var_micro, skew_sign,
    * skew_b1_micro, kurt_b2_micro) off a `(g, y)` frame of recentered
    * BIGINT values — the wide anchors as 10¹⁸-split BIGINT pairs.
    */
  def moments(recentered: DataFrame): DataFrame = {
    val s = recentered.sparkSession
    import s.implicits._
    recentered.groupBy($"g")
      .agg(count(lit(1)).as("n"),
        sum($"y".cast("decimal(38,0)")).as("t1"),
        sum(($"y" * $"y").cast("decimal(38,0)")).as("t2"),
        sum(($"y" * $"y" * $"y").cast("decimal(38,0)")).as("t3"),
        sum((($"y" * $"y") * ($"y" * $"y")).cast("decimal(38,0)"))
          .as("t4"))
      .withColumn("nw", expr("CAST(n AS DECIMAL(38,0))"))
      .withColumn("m2", expr("nw * t2 - t1 * t1"))
      .withColumn("m3", expr("nw * nw * t3 - 3 * nw * t1 * t2" +
        " + 2 * t1 * t1 * t1"))
      .withColumn("m4", expr("nw * nw * nw * t4" +
        " - 4 * nw * nw * t1 * t3 + 6 * nw * t1 * t1 * t2" +
        " - 3 * t1 * t1 * t1 * t1"))
      .withColumn("m2nz", expr("NULLIF(m2, CAST(0 AS DECIMAL(38,0)))"))
      .withColumn("var_micro", expr("CAST(" +
        ExactDiv.microFloor("m2", "nw * nw", "div") + " AS BIGINT)"))
      // div on DECIMAL operands lands in LongType; w ≤ 50n can reach
      // ~2·10⁹ at the documented n bound, so w² must be re-widened to
      // DECIMAL(38,0) BEFORE the multiply or it wraps Long at w>3·10⁹
      .withColumn("w", expr("CAST(abs(m3) div m2nz AS DECIMAL(38,0))"))
      .withColumn("skew_sign", expr("CAST(sign(m3) AS INT)"))
      .withColumn("skew_b1_micro", expr("CAST(sign(m3) AS BIGINT) * CAST(" +
        ExactDiv.microFloor("w * w", "m2nz", "div") + " AS BIGINT)"))
      .withColumn("kurt_b2_micro", expr("CAST(" +
        ExactDiv.microFloor("m4", "m2nz * m2nz", "div") + " AS BIGINT)"))
      // m2/m4 ≥ 0 by construction (n²·m₂, n⁴·m₄); m3's sign is pinned
      // by skew_sign, so |m3| splits — m3 = skew_sign·(m3_hi·10¹⁸+m3_lo)
      .withColumn("m3a", expr("abs(m3)"))
      .select($"g", $"n",
        expr(splitHi("m2", "div", "DECIMAL(38,0)")).as("m2_hi"),
        expr(splitLo("m2", "DECIMAL(38,0)")).as("m2_lo"),
        expr(splitHi("m3a", "div", "DECIMAL(38,0)")).as("m3_hi"),
        expr(splitLo("m3a", "DECIMAL(38,0)")).as("m3_lo"),
        expr(splitHi("m4", "div", "DECIMAL(38,0)")).as("m4_hi"),
        expr(splitLo("m4", "DECIMAL(38,0)")).as("m4_lo"),
        $"var_micro", $"skew_sign", $"skew_b1_micro", $"kurt_b2_micro")
      .orderBy($"g")
  }

  val q580HigherMoments: Q = (s, dir) => {
    import s.implicits._
    moments(T.lineitem(s, dir).select($"l_returnflag".as("g"),
      (expr("CAST(l_quantity AS BIGINT)") - lit(Anchor)).as("y")))
  }

  val q580Sql: String = {
    def micro(num: String, den: String) =
      ExactDiv.microFloor(num, den, "//")
    s"""WITH y AS (
      |  SELECT l_returnflag AS g,
      |    CAST(l_quantity AS BIGINT) - $Anchor AS y
      |  FROM lineitem),
      |t AS (
      |  SELECT g, COUNT(*) AS n,
      |    SUM(CAST(y AS HUGEINT)) AS t1,
      |    SUM(CAST(y AS HUGEINT) * y) AS t2,
      |    SUM(CAST(y AS HUGEINT) * y * y) AS t3,
      |    SUM((CAST(y AS HUGEINT) * y) * (y * y)) AS t4
      |  FROM y GROUP BY 1),
      |m AS (
      |  SELECT g, n, CAST(n AS HUGEINT) AS nw, t1, t2, t3, t4,
      |    CAST(n AS HUGEINT) * t2 - t1 * t1 AS m2,
      |    CAST(n AS HUGEINT) * n * t3
      |      - 3 * CAST(n AS HUGEINT) * t1 * t2
      |      + 2 * t1 * t1 * t1 AS m3,
      |    CAST(n AS HUGEINT) * n * n * t4
      |      - 4 * CAST(n AS HUGEINT) * n * t1 * t3
      |      + 6 * CAST(n AS HUGEINT) * t1 * t1 * t2
      |      - 3 * t1 * t1 * t1 * t1 AS m4
      |  FROM t),
      |f AS (
      |  SELECT g, n, nw, m2, m3, m4,
      |    NULLIF(m2, CAST(0 AS HUGEINT)) AS m2nz,
      |    abs(m3) // NULLIF(m2, CAST(0 AS HUGEINT)) AS w
      |  FROM m)
      |SELECT g, n,
      |  ${splitHi("m2", "//", "HUGEINT")} AS m2_hi,
      |  ${splitLo("m2", "HUGEINT")} AS m2_lo,
      |  ${splitHi("abs(m3)", "//", "HUGEINT")} AS m3_hi,
      |  ${splitLo("abs(m3)", "HUGEINT")} AS m3_lo,
      |  ${splitHi("m4", "//", "HUGEINT")} AS m4_hi,
      |  ${splitLo("m4", "HUGEINT")} AS m4_lo,
      |  CAST(${micro("m2", "nw * nw")} AS BIGINT) AS var_micro,
      |  CAST(sign(m3) AS INT) AS skew_sign,
      |  CAST(sign(m3) AS BIGINT)
      |    * CAST(${micro("w * w", "m2nz")} AS BIGINT) AS skew_b1_micro,
      |  CAST(${micro("m4", "m2nz * m2nz")} AS BIGINT) AS kurt_b2_micro
      |FROM f
      |ORDER BY g""".stripMargin
  }

  val entries: Seq[Entry] = Seq(
    Entry("q580_higher_moments", q580HigherMoments, q580Sql))
}
