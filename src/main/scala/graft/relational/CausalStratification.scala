package graft.relational

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Entry, Tables => T}

/** PROPENSITY-SCORE STRATIFICATION ATE (Rosenbaum–Rubin 1983/84
  * subclassification — the observational-causal leg completing the
  * experimentation family: q229 significance, q331 CUPED, q343 balance,
  * q401 DiD all assume RANDOMIZED assignment; this one corrects a
  * CONFOUNDED one): treatment uptake depends on the stratum, the
  * stratum drives the outcome, so the naive treated-vs-control
  * difference is biased — stratifying on the (known) propensity stratum
  * and weighting per-stratum differences by stratum share removes it.
  *
  * Construction (planted-truth validation, the planted-twin
  * discipline): strata = order SIZE CLASS (1-2 / 3-4 / 5+ lineitems);
  * outcome baseline = the order's LINEITEM REVENUE SUM, which grows
  * with item count BY CONSTRUCTION (o_totalprice is independent of
  * size in this synthetic data — measured, which is why it is NOT the
  * outcome here); treatment
  * = md5 coin with stratum-dependent rate (20/50/80% — md5 is
  * engine-independent, so DuckDB rebuilds the identical assignment);
  * outcome = order cents + a planted τ·T (τ = [[TauCents]]). Within a
  * stratum the coin is independent of the outcome, so each stratum's
  * treated−control mean gap estimates τ; the naive pooled gap absorbs
  * the uptake-size correlation on top.
  *
  * Exactness: per-stratum means micro-floored from exact integer sums
  * (`(10⁶·S) DIV n`), differences and stratum weights BIGINT; output =
  * one full-value row per stratum. The spec recovers τ from the
  * stratified estimator and shows the naive one biased away.
  *
  * Scale shape: one lineitem partial agg (per-order size + revenue)
  * and one per-stratum conditional agg — no join, no window, no
  * driver state.
  */
object CausalStratification {

  import Entry.Q

  /** Planted uniform treatment effect, in cents. */
  val TauCents = 1000000L

  /** ⌊10⁶·S/n⌋ split into quotient + remainder parts so the product
    * never leaves int64 at any SF (10⁶·S alone overflows past sf0.1).
    * The identity is exact: 10⁶·(S div n) + (10⁶·(S mod n)) div n.
    * Spark `div`/`%` and DuckDB `//`/`%` agree on non-negative ints.
    */
  private def microMean(sCol: String, nCol: String): String =
    s"1000000 * ($sCol div $nCol) + (1000000 * ($sCol % $nCol)) div $nCol"

  private def microMeanDuck(sCol: String, nCol: String): String =
    s"1000000 * ($sCol // $nCol) + (1000000 * ($sCol % $nCol)) // $nCol"

  /** Per-stratum (stratum, n1, n0, mean1_micro, mean0_micro,
    * diff_micro) — public for the spec's ATE computation.
    */
  def strata(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = T.lineitem(s, dir).groupBy($"l_orderkey".as("o_orderkey"))
      .agg(count(lit(1)).as("n_items"),
        sum(expr("CAST(FLOOR(100 * l_extendedprice) AS BIGINT)"))
          .as("cents"))
      .select($"o_orderkey",
        when($"n_items" <= 2, "S").when($"n_items" <= 4, "M")
          .otherwise("L").as("stratum"),
        $"cents")
      .withColumn("rate",
        when($"stratum" === "S", 20L).when($"stratum" === "M", 50L)
          .otherwise(80L))
      .withColumn("t",
        (pmod(conv(substring(md5(concat(lit("tr:"),
          $"o_orderkey".cast("string"))), 1, 4), 16, 10).cast("long"),
          lit(100L)) < $"rate").cast("long"))
      .withColumn("y", $"cents" + lit(TauCents) * $"t")
    base.groupBy($"stratum")
      .agg(sum($"t").as("n1"),
        sum(lit(1L) - $"t").as("n0"),
        sum($"y" * $"t").as("s1"),
        sum($"y" * (lit(1L) - $"t")).as("s0"))
      .select($"stratum", $"n1", $"n0",
        expr(microMean("s1", "n1")).as("mean1_micro"),
        expr(microMean("s0", "n0")).as("mean0_micro"),
        (expr(microMean("s1", "n1")) - expr(microMean("s0", "n0")))
          .as("diff_micro"))
      .orderBy($"stratum")
  }

  val q490StratifiedAte: Q = (s, dir) => strata(s, dir)

  val q490Sql: String =
    s"""WITH sizes AS (
      |  SELECT l_orderkey AS o_orderkey, COUNT(*) AS n_items,
      |    CAST(SUM(CAST(FLOOR(100 * l_extendedprice) AS BIGINT)) AS BIGINT)
      |      AS cents
      |  FROM lineitem GROUP BY 1),
      |base AS (
      |  SELECT o_orderkey,
      |    CASE WHEN n_items <= 2 THEN 'S'
      |         WHEN n_items <= 4 THEN 'M' ELSE 'L' END AS stratum,
      |    cents
      |  FROM sizes),
      |assigned AS (
      |  SELECT stratum, cents,
      |    CASE WHEN CAST('0x' || substring(
      |        md5('tr:' || CAST(o_orderkey AS VARCHAR)), 1, 4) AS BIGINT)
      |        % 100 <
      |      CASE stratum WHEN 'S' THEN 20 WHEN 'M' THEN 50 ELSE 80 END
      |    THEN 1 ELSE 0 END AS t
      |  FROM base),
      |yd AS (SELECT stratum, t, cents + $TauCents * t AS y FROM assigned),
      |agg AS (
      |  SELECT stratum,
      |    CAST(SUM(t) AS BIGINT) AS n1,
      |    CAST(SUM(1 - t) AS BIGINT) AS n0,
      |    CAST(SUM(y * t) AS BIGINT) AS s1,
      |    CAST(SUM(y * (1 - t)) AS BIGINT) AS s0
      |  FROM yd GROUP BY 1)
      |SELECT stratum, n1, n0,
      |  ${microMeanDuck("s1", "n1")} AS mean1_micro,
      |  ${microMeanDuck("s0", "n0")} AS mean0_micro,
      |  (${microMeanDuck("s1", "n1")}) - (${microMeanDuck("s0", "n0")})
      |    AS diff_micro
      |FROM agg
      |ORDER BY stratum""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("q490_stratified_ate", q490StratifiedAte, q490Sql))
}
