package graft.relational

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.PlanBridge

import graft.core.{Entry, Tables => T}

/** BROWN–FORSYTHE TEST (Brown–Forsythe JASA'74 — the robust Levene-type
  * variance-homogeneity test: "do the k groups have the same SPREAD?",
  * the pre-flight check behind every pooled-variance procedure the
  * library already ships — q229's Welch exists precisely because this
  * test often REJECTS; completes the test battery next to location
  * tests KW q519 / MW q285 and the blocked Friedman q521): one-way
  * ANOVA F computed on the absolute deviations from each group's
  * MEDIAN (the median centring is what makes it robust to heavy tails
  * vs classic Levene's mean centring).
  *
  * Exactness: order totals in whole dollars; each group's DOUBLED
  * median med2 = v(⌊(n+1)/2⌋) + v(⌈(n+1)/2⌉) comes off the fullRank
  * two-level scan (exact order statistics, no float percentile), so
  * the doubled deviations z2 = |2v − med2| are exact BIGINTs; the
  * between-group piece Σ S_g²/n_g folds as the exact per-group floor
  * Σ⌊S_g²/n_g⌋ (the q230/q519 order-free-fold rule) and the
  * within-group piece Σ z2² rides DECIMAL(38,0); the 4× from doubling
  * cancels in the F ratio. F and the verdict finish in ONE shared
  * formula string ([[FFormula]]) — identical IEEE chains. Σ z2² fits
  * BIGINT through sf1 (≤ N·(2·max$)² ≈ 1.5e6·1.2e12 ≈ 2e18; internal
  * arithmetic is DECIMAL(38,0)/HUGEINT regardless — the q516 bound
  * discipline).
  *
  * Scale shape: medians and ranks ride fullRank's two-level scan (32
  * range partitions + broadcast pid offsets — no single-task window);
  * the rest is one broadcast join of the k-row median table, two
  * partial aggs, and a 1-row finish. k is fixed-cardinality (5
  * priorities).
  *
  * Verdict: F is compared against F(4, ∞) at 95% = χ²₄crit/4 (exact
  * relation; df₂ ≥ 6e4 at every fixture SF, where F(4, df₂) agrees
  * with F(4, ∞) to 4 decimals — pinned literal like q519's χ²₄).
  */
object BrownForsythe {

  import Entry.Q

  /** F(k−1=4, ∞) 95% critical value = χ²₄crit / 4, pinned literal. */
  val F4InfCrit = "2.3719322591952886"

  /** The BF F statistic from the exact pieces — shared verbatim.
    * NULLIF guards the degenerate zero-within-variance case (all
    * deviations identical): both engines emit NULL instead of one
    * crashing and the other dividing by zero (the q514 boundary
    * lesson).
    */
  val FFormula: String =
    "((CAST(n AS DOUBLE) - k) * (CAST(q_sum AS DOUBLE) " +
      "- CAST(s_tot AS DOUBLE) * s_tot / n)) " +
      "/ NULLIF((CAST(k AS DOUBLE) - 1.0) " +
      "* (CAST(q2 AS DOUBLE) - CAST(q_sum AS DOUBLE)), 0.0)"

  val q527BrownForsythe: Q = (s, dir) => {
    import s.implicits._
    bfTest(T.orders(s, dir).select($"o_orderpriority".as("grp"),
      expr("CAST(FLOOR(o_totalprice) AS BIGINT)").as("v"),
      $"o_orderkey".as("uid")))
  }

  /** Brown–Forsythe over a `(grp, v, uid)` frame (uid = unique
    * tie-break so both engines pick identical median rows).
    */
  def bfTest(rowsIn: DataFrame): DataFrame = {
    val s = rowsIn.sparkSession
    import s.implicits._
    val rows = PlanBridge.checkpointResetStats(rowsIn)
    val ranked = QuantileNormalize.fullRank(rows, Seq("grp"),
      Seq("v", "uid"), "r")
    val ng = rows.groupBy($"grp").agg(count(lit(1)).as("n_g"))
    // doubled median: the ⌊(n+1)/2⌋ and ⌈(n+1)/2⌉ order statistics
    // (odd n hits the same row twice — the hits factor carries it)
    val med = ranked.join(broadcast(ng), "grp")
      .withColumn("hits",
        expr("IF(r = (n_g + 1) div 2, 1L, 0L) " +
          "+ IF(r = (n_g + 2) div 2, 1L, 0L)"))
      .filter($"hits" > 0L)
      .groupBy($"grp").agg(sum($"v" * $"hits").as("med2"))
    val z = PlanBridge.checkpointResetStats(rows.join(broadcast(med), "grp")
      .select($"grp", abs(lit(2L) * $"v" - $"med2").as("z2")))
    val g = z.groupBy($"grp")
      .agg(sum($"z2").as("s"), count(lit(1)).as("cnt"))
    val (sTot, qSum, k) = g
      .agg(sum($"s").cast("long"),
        sum(expr("CAST(s AS DECIMAL(38,0)) * s div cnt")).cast("long"),
        count(lit(1)))
      .as[(Long, Long, Long)].head()
    val (n, q2) = z
      .agg(count(lit(1)),
        sum(expr("CAST(z2 AS DECIMAL(38,0)) * z2")).cast("long"))
      .as[(Long, Long)].head()
    Seq((n, k, sTot, qSum, q2)).toDF("n", "k", "s_tot", "q_sum", "q2")
      .withColumn("f", expr(FFormula))
      .withColumn("reject_95", expr(s"$FFormula > $F4InfCrit"))
  }

  val q527Sql: String =
    s"""WITH rows_ AS MATERIALIZED (
      |  SELECT o_orderpriority AS grp,
      |    CAST(FLOOR(o_totalprice) AS BIGINT) AS v, o_orderkey AS uid
      |  FROM orders),
      |rk AS (
      |  SELECT grp, v,
      |    ROW_NUMBER() OVER (PARTITION BY grp ORDER BY v, uid) AS r
      |  FROM rows_),
      |ng AS (SELECT grp, COUNT(*) AS n_g FROM rows_ GROUP BY 1),
      |med AS (
      |  SELECT grp, CAST(SUM(v *
      |    ((CASE WHEN r = (n_g + 1) // 2 THEN 1 ELSE 0 END)
      |     + (CASE WHEN r = (n_g + 2) // 2 THEN 1 ELSE 0 END)))
      |    AS BIGINT) AS med2
      |  FROM rk JOIN ng USING (grp) GROUP BY 1),
      |z AS MATERIALIZED (
      |  SELECT rows_.grp, ABS(2 * v - med2) AS z2
      |  FROM rows_ JOIN med USING (grp)),
      |g AS (
      |  SELECT grp, CAST(SUM(z2) AS HUGEINT) AS s, COUNT(*) AS cnt
      |  FROM z GROUP BY 1),
      |m AS (
      |  SELECT (SELECT COUNT(*) FROM z) AS n,
      |    (SELECT CAST(COUNT(*) AS BIGINT) FROM g) AS k,
      |    (SELECT CAST(SUM(s) AS BIGINT) FROM g) AS s_tot,
      |    (SELECT CAST(SUM(s * s // cnt) AS BIGINT) FROM g) AS q_sum,
      |    (SELECT CAST(SUM(CAST(z2 AS HUGEINT) * z2) AS BIGINT) FROM z)
      |      AS q2)
      |SELECT n, k, s_tot, q_sum, q2, $FFormula AS f,
      |  $FFormula > $F4InfCrit AS reject_95
      |FROM m""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("q527_brown_forsythe", q527BrownForsythe, q527Sql))
}
