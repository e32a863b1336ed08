package graft.relational

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.{Entry, Tables => T}

/** WILSON SCORE INTERVAL (Wilson JASA'27 — the binomial-rate CI that
  * stays honest at small n and extreme rates where the naive Wald
  * interval collapses to zero width or escapes [0,1]; THE dashboard
  * rate-with-error-bars primitive, and the deterministic closed-form
  * sibling of the q454 bootstrap and q526's EB point shrinkage — EB
  * moves the point, Wilson widths the uncertainty): per priority, the
  * returned-order rate with its 95% interval.
  *
  * Exactness: the per-group (k, n) census is exact BIGINT (the q541
  * return-flag outcome); center (k + z²/2)/(n + z²) and half-width
  * z·√(k(n−k)/n + z²/4)/(n + z²) finish in ONE shared formula chain
  * each with the pinned z literal — identical IEEE chains,
  * NULLIF-guarded for the n = 0 degenerate group.
  *
  * Scale shape: one left-semi join + one partial agg; k-row output.
  */
object WilsonInterval {

  import Entry.Q

  /** Two-sided 95% normal quantile, pinned literal (q535's). */
  val Z95 = AnsariBradley.ZCrit2

  val CenterFormula: String =
    s"(CAST(k AS DOUBLE) + $Z95 * $Z95 / 2.0) " +
      s"/ NULLIF(CAST(n AS DOUBLE) + $Z95 * $Z95, 0.0)"

  val HalfFormula: String =
    s"$Z95 * SQRT(CAST(k AS DOUBLE) * (n - k) / NULLIF(CAST(n AS DOUBLE), " +
      s"0.0) + $Z95 * $Z95 / 4.0) " +
      s"/ NULLIF(CAST(n AS DOUBLE) + $Z95 * $Z95, 0.0)"

  val q551WilsonInterval: Q = (s, dir) => {
    import s.implicits._
    val returned = T.lineitem(s, dir)
      .filter($"l_returnflag" === "R")
      .select($"l_orderkey".as("o_orderkey"))
    val flagged = T.orders(s, dir)
      .join(returned, Seq("o_orderkey"), "left_semi")
      .select($"o_orderkey", lit(1L).as("y"))
    wilson(T.orders(s, dir)
      .join(flagged, Seq("o_orderkey"), "left")
      .select($"o_orderpriority".as("grp"), coalesce($"y", lit(0L)).as("y")))
  }

  /** Per-group Wilson 95% interval over a `(grp, y ∈ {0,1})` frame. */
  def wilson(rows: DataFrame): DataFrame = {
    val s = rows.sparkSession
    import s.implicits._
    rows.groupBy($"grp")
      .agg(count(lit(1)).as("n"), sum($"y").as("k"))
      .withColumn("center", expr(CenterFormula))
      .withColumn("lo", expr(s"$CenterFormula - ($HalfFormula)"))
      .withColumn("hi", expr(s"$CenterFormula + ($HalfFormula)"))
      .orderBy($"grp")
  }

  val q551Sql: String =
    s"""WITH flagged AS (
      |  SELECT o_orderpriority AS grp,
      |    CASE WHEN EXISTS (
      |      SELECT 1 FROM lineitem
      |      WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
      |    THEN 1 ELSE 0 END AS y
      |  FROM orders),
      |m AS (
      |  SELECT grp, COUNT(*) AS n, CAST(SUM(y) AS BIGINT) AS k
      |  FROM flagged GROUP BY 1)
      |SELECT grp, n, k, $CenterFormula AS center,
      |  $CenterFormula - ($HalfFormula) AS lo,
      |  $CenterFormula + ($HalfFormula) AS hi
      |FROM m ORDER BY grp""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("q551_wilson_interval", q551WilsonInterval, q551Sql))
}
