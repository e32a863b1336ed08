package graft.relational

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.PlanBridge

import graft.core.{Entry, Tables => T}

/** KRUSKAL–WALLIS H test (Kruskal–Wallis JASA'52 — the k-sample
  * generalization of the Mann–Whitney rank test the library already
  * reads as AUC (q285/q512): "do these k groups draw from the same
  * distribution?", by ranks, no normality assumption; completes the
  * rank-test family next to Spearman q492, Kendall q500/q386 and the
  * two-sample KS q290): order totals ranked across ALL orders, H from
  * the per-priority rank sums.
  *
  * Exactness: tie-averaged ranks ride the DOUBLED-rank integers
  * (withDoubledRank — rd = 2·avg-rank, the q285/q492/q512 machinery),
  * so the per-group sums S_i = Σ rd are exact BIGINTs; the
  * order-statistic sum Σ R_i²/n_i = Σ S_i²/(4 n_i) is folded as the
  * EXACT integer Σ ⌊S_i²/(4 n_i)⌋ (per-group floor — deterministic in
  * both engines, relative error ≤ k/q_sum ~ 10⁻¹⁵ — the q230
  * order-free-fold rule: never sum raw doubles across groups); the tie
  * correction Σ(t³−t) is exact from the value census; H and the tie-
  * corrected H′ finish in ONE shared formula string ([[HFormula]]) —
  * identical IEEE chains, hash-equal doubles. q_sum fits BIGINT
  * through sf1 (≈ N²·n_i; documented like q516's bound; internal
  * arithmetic is DECIMAL(38,0)/HUGEINT regardless).
  *
  * Scale shape: ranks come from the fullCumSum two-level scan (NO
  * single-task window — the value census is corpus-NDV-sized); the
  * rest is two partial aggs (group sums, tie census) and a 1-row
  * finish. Group count is fixed-cardinality (5 priorities).
  */
object KruskalWallis {

  import Entry.Q

  /** χ²(k−1=4) 95% critical value, pinned literal. */
  val ChiSq4Crit = "9.487729036781154"

  /** Tie-corrected H from the exact pieces — shared verbatim. */
  val HFormula: String =
    "(12.0 / (CAST(n AS DOUBLE) * (n + 1)) * CAST(q_sum AS DOUBLE) " +
      "- 3.0 * (n + 1)) / " +
      "(1.0 - CAST(tie_sum AS DOUBLE) / (CAST(n AS DOUBLE) * n * n - n))"

  val q519KruskalWallis: Q = (s, dir) => {
    import s.implicits._
    kwTest(T.orders(s, dir).select($"o_orderpriority".as("grp"),
      expr("CAST(FLOOR(100 * o_totalprice) AS BIGINT)").as("v")))
  }

  /** Tie-corrected Kruskal–Wallis over a `(grp, v)` frame. */
  def kwTest(rowsIn: DataFrame): DataFrame = {
    val s = rowsIn.sparkSession
    import s.implicits._
    val rows = PlanBridge.checkpointResetStats(rowsIn)
    val ranked = SpearmanCorr.withDoubledRank(rows, "v", "rd")
    val (qSum, k) = ranked.groupBy($"grp")
      .agg(sum($"rd").as("s"), count(lit(1)).as("cnt"))
      .agg(sum(expr("CAST(s AS DECIMAL(38,0)) * s div (4 * cnt)"))
        .cast("long"), count(lit(1)))
      .as[(Long, Long)].head()
    val tieSum = rows.groupBy($"v").agg(count(lit(1)).as("t"))
      .agg(sum(expr("CAST(t AS DECIMAL(38,0)) * t * t - t")).cast("long"))
      .as[Long].head()
    val n = rows.count()
    Seq((n, k, qSum, tieSum)).toDF("n", "k", "q_sum", "tie_sum")
      .withColumn("h", expr(HFormula))
      .withColumn("reject_95", expr(s"$HFormula > $ChiSq4Crit"))
  }

  val q519Sql: String =
    s"""WITH rows_ AS MATERIALIZED (
      |  SELECT o_orderpriority AS grp,
      |    CAST(FLOOR(100 * o_totalprice) AS BIGINT) AS v
      |  FROM orders),
      |cnts AS MATERIALIZED (SELECT v, COUNT(*) AS cnt FROM rows_ GROUP BY 1),
      |rk AS (
      |  SELECT v, 2 * COALESCE(SUM(cnt) OVER (ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |    + cnt + 1 AS rd
      |  FROM cnts),
      |g AS (
      |  SELECT grp, CAST(SUM(rd) AS HUGEINT) AS s, COUNT(*) AS cnt
      |  FROM rows_ JOIN rk USING (v) GROUP BY 1),
      |m AS (
      |  SELECT (SELECT COUNT(*) FROM rows_) AS n,
      |    (SELECT CAST(COUNT(*) AS BIGINT) FROM g) AS k,
      |    (SELECT CAST(SUM(s * s // (4 * cnt)) AS BIGINT) FROM g) AS q_sum,
      |    (SELECT CAST(SUM(CAST(cnt AS HUGEINT) * cnt * cnt - cnt)
      |       AS BIGINT) FROM cnts) AS tie_sum)
      |SELECT n, k, q_sum, tie_sum, $HFormula AS h,
      |  $HFormula > $ChiSq4Crit AS reject_95
      |FROM m""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("q519_kruskal_wallis", q519KruskalWallis, q519Sql))
}
