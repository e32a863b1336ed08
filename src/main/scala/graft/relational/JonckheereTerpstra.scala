package graft.relational

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.PlanBridge

import graft.core.{Entry, Tables => T}

/** JONCKHEERE–TERPSTRA TEST (Jonckheere Biometrika'54 / Terpstra
  * Indag. Math.'52 — the ORDERED-alternative k-sample test: where
  * Kruskal–Wallis q519 asks "do the k groups differ at all?", JT asks
  * "do they increase IN THE HYPOTHESIZED ORDER?" — strictly more
  * powerful when the order is real; completes the ordered half of the
  * rank-test family next to Page's blocked trend): JT = Σ over ordered
  * group pairs i<j of the Mann–Whitney count #(xᵢ < xⱼ) + ½#(xᵢ = xⱼ),
  * here over order totals with priorities 1-URGENT … 5-LOW as the
  * hypothesized increasing order.
  *
  * Exactness: the DOUBLED statistic jt2 = 2·JT is an exact BIGINT:
  * per distinct value v the census carries each group's count nᵢ(v)
  * and below-count bᵢ(<v) (one [[QuantileNormalize.fullCumSum]] scan
  * with k running sums in the same window pass), and jt2 folds as Σ_v Σ_j nⱼ(v)·(2·Σ_{i<j} bᵢ +
  * Σ_{i<j} nᵢ) in DECIMAL(38,0). The null mean is the exact integer
  * mean2 = 2·E[JT] = (N² − Σn_g²)/2 (always even by the multinomial
  * square identity); the TIE-CORRECTED null variance (Hollander–Wolfe
  * eq. 6.19) is assembled from six exact integer censuses (per-group
  * and per-value Σ t(t−1), Σ t(t−1)(t−2), Σ t(t−1)(2t+5)); z finishes
  * in ONE shared formula string ([[ZFormula]]) — identical IEEE
  * chains. jt2 ≤ N²/2 fits BIGINT through sf10.
  *
  * Scale shape: one partial agg to the value census, ONE two-level
  * cumulative scan (range partitions + broadcast pid offsets — no
  * single-task window, k sums share the pass), two census aggs, 1-row
  * finish. k is fixed-cardinality (5 priorities).
  *
  * Verdict: one-sided z > 1.645 at 95% (the alternative IS directional
  * — that is the point of the test).
  */
object JonckheereTerpstra {

  import Entry.Q

  /** One-sided normal 95% critical value, pinned literal. */
  val ZCrit = "1.6448536269514722"

  /** Tie-corrected JT z-score from the exact pieces — shared verbatim.
    * Doubling: z = (jt2 − mean2) / (2·σ).
    */
  val ZFormula: String =
    "(CAST(jt2 AS DOUBLE) - mean2) / NULLIF(2.0 * SQRT(" +
      "(CAST(n AS DOUBLE) * (n - 1) * (2 * n + 5) - ag - at) / 72.0 " +
      "+ CAST(bg AS DOUBLE) * bt " +
      "/ NULLIF(36.0 * n * (n - 1) * (n - 2), 0.0) " +
      "+ CAST(cg AS DOUBLE) * ct / NULLIF(8.0 * n * (n - 1), 0.0)), 0.0)"

  val q528Jonckheere: Q = (s, dir) => {
    import s.implicits._
    jtTest(T.orders(s, dir).select(
      expr("CAST(substring(o_orderpriority, 1, 1) AS INT)").as("g"),
      expr("CAST(FLOOR(o_totalprice) AS BIGINT)").as("v")), 5)
  }

  /** JT over a `(g ∈ 1..k, v)` frame with the increasing-in-g
    * alternative.
    */
  def jtTest(rowsIn: DataFrame, k: Int): DataFrame = {
    val s = rowsIn.sparkSession
    import s.implicits._
    val rows = PlanBridge.checkpointResetStats(rowsIn)
    val ns = (1 to k).map(i => s"n$i")
    val census = rows.groupBy($"v").agg(
      sum(when($"g" === 1, 1L).otherwise(0L)).as("n1"),
      (2 to k).map(i =>
        sum(when($"g" === i, 1L).otherwise(0L)).as(s"n$i")): _*)
    val withB = QuantileNormalize.fullCumSum(census, Seq(col("v")),
      ns.map(c => c -> s"cum_$c"): _*)
    // below-count bᵢ = inclusive cum − own count
    val contrib = (2 to k).map { j =>
      val below = (1 until j).map(i => s"(cum_n$i - n$i)").mkString(" + ")
      val same = (1 until j).map(i => s"n$i").mkString(" + ")
      s"CAST(n$j AS DECIMAL(38,0)) * (2 * ($below) + ($same))"
    }.mkString(" + ")
    val jt2 = withB.agg(sum(expr(contrib)).cast("long")).as[Long].head()
    // per-group tie pieces (k rows) + per-value tie pieces (value census)
    val gp = rows.groupBy($"g").agg(count(lit(1)).as("t"))
    val Seq(sumsq, ag, bg, cg) = tiePieces(gp)
    val vp = census.select(((1 to k).map(i => col(s"n$i"))
      .reduce(_ + _)).as("t"))
    val Seq(_, at, bt, ct) = tiePieces(vp)
    val n = rows.count()
    val mean2 = (n * n - sumsq) / 2
    Seq((n, k.toLong, jt2, mean2, ag, at, bg, bt, cg, ct))
      .toDF("n", "k", "jt2", "mean2", "ag", "at", "bg", "bt", "cg", "ct")
      .withColumn("z", expr(ZFormula))
      .withColumn("reject_95", expr(s"$ZFormula > $ZCrit"))
  }

  /** (Σt², Σt(t−1)(2t+5), Σt(t−1)(t−2), Σt(t−1)) over a `t` frame. */
  private def tiePieces(tf: DataFrame): Seq[Long] = {
    val s = tf.sparkSession
    import s.implicits._
    val r = tf.agg(
      sum(expr("CAST(t AS DECIMAL(38,0)) * t")).cast("long"),
      sum(expr("CAST(t AS DECIMAL(38,0)) * (t - 1) * (2 * t + 5)"))
        .cast("long"),
      sum(expr("CAST(t AS DECIMAL(38,0)) * (t - 1) * (t - 2)")).cast("long"),
      sum(expr("CAST(t AS DECIMAL(38,0)) * (t - 1)")).cast("long"))
      .as[(Long, Long, Long, Long)].head()
    Seq(r._1, r._2, r._3, r._4)
  }

  val q528Sql: String = {
    val k = 5
    val nsSel = (1 to k).map(i =>
      s"CAST(SUM(CASE WHEN g = $i THEN 1 ELSE 0 END) AS BIGINT) AS n$i")
      .mkString(", ")
    val cums = (1 to k).map(i =>
      s"SUM(n$i) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING " +
        s"AND CURRENT ROW) AS cum_n$i").mkString(",\n      |    ")
    val contrib = (2 to k).map { j =>
      val below = (1 until j).map(i => s"(cum_n$i - n$i)").mkString(" + ")
      val same = (1 until j).map(i => s"n$i").mkString(" + ")
      s"CAST(n$j AS HUGEINT) * (2 * ($below) + ($same))"
    }.mkString("\n      |      + ")
    val tsum = (1 to k).map(i => s"n$i").mkString(" + ")
    s"""WITH rows_ AS MATERIALIZED (
      |  SELECT CAST(substring(o_orderpriority, 1, 1) AS INT) AS g,
      |    CAST(FLOOR(o_totalprice) AS BIGINT) AS v
      |  FROM orders),
      |census AS MATERIALIZED (
      |  SELECT v, $nsSel
      |  FROM rows_ GROUP BY 1),
      |wb AS (
      |  SELECT *,
      |    $cums
      |  FROM census),
      |gp AS (SELECT g, COUNT(*) AS t FROM rows_ GROUP BY 1),
      |vp AS (SELECT $tsum AS t FROM census),
      |m AS (
      |  SELECT
      |    (SELECT COUNT(*) FROM rows_) AS n,
      |    CAST($k AS BIGINT) AS k,
      |    (SELECT CAST(SUM($contrib) AS BIGINT) FROM wb) AS jt2,
      |    (SELECT CAST(SUM(CAST(t AS HUGEINT) * (t - 1) * (2 * t + 5))
      |       AS BIGINT) FROM gp) AS ag,
      |    (SELECT CAST(SUM(CAST(t AS HUGEINT) * (t - 1) * (2 * t + 5))
      |       AS BIGINT) FROM vp) AS at,
      |    (SELECT CAST(SUM(CAST(t AS HUGEINT) * (t - 1) * (t - 2))
      |       AS BIGINT) FROM gp) AS bg,
      |    (SELECT CAST(SUM(CAST(t AS HUGEINT) * (t - 1) * (t - 2))
      |       AS BIGINT) FROM vp) AS bt,
      |    (SELECT CAST(SUM(CAST(t AS HUGEINT) * (t - 1)) AS BIGINT)
      |       FROM gp) AS cg,
      |    (SELECT CAST(SUM(CAST(t AS HUGEINT) * (t - 1)) AS BIGINT)
      |       FROM vp) AS ct,
      |    (SELECT (COUNT(*) * COUNT(*)
      |       - (SELECT CAST(SUM(CAST(t AS HUGEINT) * t) AS BIGINT) FROM gp))
      |       // 2 FROM rows_) AS mean2)
      |SELECT n, k, jt2, mean2, ag, at, bg, bt, cg, ct,
      |  $ZFormula AS z, $ZFormula > $ZCrit AS reject_95
      |FROM m""".stripMargin
  }

  val entries: Seq[Entry] = Seq(
    Entry("q528_jonckheere", q528Jonckheere, q528Sql))
}
