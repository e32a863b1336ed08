package graft.relational

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.PlanBridge

import graft.core.{Entry, Tables => T}

/** INTRACLASS CORRELATION ICC(1,1) (Fisher'25 / Shrout–Fleiss
  * Psych. Bull.'79 one-way-random form — "how much of the variance
  * lives BETWEEN groups?": the clustering-strength number behind
  * every design-effect correction — an A/B experiment randomized by
  * CUSTOMER with ICC-correlated orders has far fewer effective
  * samples than rows, which is exactly when q229's Welch t on raw
  * rows overstates significance; completes the variance-decomposition
  * family next to q422's two-way ANOVA and q527's dispersion test):
  * ICC = (MSB − MSW)/(MSB + (n₀−1)·MSW) over order totals grouped by
  * customer, with n₀ the unbalanced-design group-size constant
  * (N − Σn_g²/N)/(k−1).
  *
  * Exactness: the four sufficient statistics — N, k, Σn_g², the
  * between piece q_sum = Σ⌊S_g²/n_g⌋ (the q230/q519 per-group floor
  * fold), the total square sum Σv² — are exact BIGINTs off two
  * partial aggs (values in whole dollars, DECIMAL(38,0) internally,
  * the q527 bound discipline); MSB/MSW/n₀/ICC compose in ONE shared
  * NULLIF-guarded formula string.
  *
  * Scale shape: one groupBy to the per-customer frame, one census
  * agg, 1-row finish — no window anywhere.
  */
object IntraclassCorrelation {

  import Entry.Q

  /** ICC(1,1) from the exact pieces — shared verbatim.
    * MSB = (q_sum − s²/N)/(k−1), MSW = (q2 − q_sum)/(N−k),
    * n₀ = (N − nsq/N)/(k−1).
    */
  val IccFormula: String = {
    val msb = "((CAST(q_sum AS DOUBLE) - CAST(s_tot AS DOUBLE) * s_tot / n)" +
      " / (CAST(k AS DOUBLE) - 1.0))"
    val msw = "((CAST(q2 AS DOUBLE) - CAST(q_sum AS DOUBLE))" +
      " / (CAST(n AS DOUBLE) - k))"
    val n0 = "((CAST(n AS DOUBLE) - CAST(nsq AS DOUBLE) / n)" +
      " / (CAST(k AS DOUBLE) - 1.0))"
    s"($msb - $msw) / NULLIF($msb + ($n0 - 1.0) * $msw, 0.0)"
  }

  val q547Icc: Q = (s, dir) => {
    import s.implicits._
    iccTest(T.orders(s, dir).select($"o_custkey".as("grp"),
      expr("CAST(FLOOR(o_totalprice) AS BIGINT)").as("v")))
  }

  /** ICC(1,1) over a `(grp, v)` frame. */
  def iccTest(rowsIn: DataFrame): DataFrame = {
    val s = rowsIn.sparkSession
    import s.implicits._
    val rows = PlanBridge.checkpointResetStats(rowsIn)
    val g = rows.groupBy($"grp")
      .agg(sum($"v").as("sg"), count(lit(1)).as("cnt"))
    val (k, sTot, nsq, qSum) = g.agg(
      count(lit(1)),
      sum($"sg").cast("long"),
      sum($"cnt" * $"cnt").cast("long"),
      sum(expr("CAST(sg AS DECIMAL(38,0)) * sg div cnt")).cast("long"))
      .as[(Long, Long, Long, Long)].head()
    val (n, q2) = rows.agg(count(lit(1)),
      sum(expr("CAST(v AS DECIMAL(38,0)) * v")).cast("long"))
      .as[(Long, Long)].head()
    Seq((n, k, sTot, nsq, qSum, q2))
      .toDF("n", "k", "s_tot", "nsq", "q_sum", "q2")
      .withColumn("icc", expr(IccFormula))
  }

  val q547Sql: String =
    s"""WITH rows_ AS MATERIALIZED (
      |  SELECT o_custkey AS grp,
      |    CAST(FLOOR(o_totalprice) AS BIGINT) AS v
      |  FROM orders),
      |g AS (
      |  SELECT grp, CAST(SUM(v) AS HUGEINT) AS sg, COUNT(*) AS cnt
      |  FROM rows_ GROUP BY 1),
      |m AS (
      |  SELECT
      |    (SELECT COUNT(*) FROM rows_) AS n,
      |    (SELECT CAST(COUNT(*) AS BIGINT) FROM g) AS k,
      |    (SELECT CAST(SUM(sg) AS BIGINT) FROM g) AS s_tot,
      |    (SELECT CAST(SUM(cnt * cnt) AS BIGINT) FROM g) AS nsq,
      |    (SELECT CAST(SUM(sg * sg // cnt) AS BIGINT) FROM g) AS q_sum,
      |    (SELECT CAST(SUM(CAST(v AS HUGEINT) * v) AS BIGINT) FROM rows_)
      |      AS q2)
      |SELECT n, k, s_tot, nsq, q_sum, q2, $IccFormula AS icc
      |FROM m""".stripMargin

  val entries: Seq[Entry] = Seq(Entry("q547_icc", q547Icc, q547Sql))
}
