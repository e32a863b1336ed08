package graft.relational

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.PlanBridge

import graft.core.{Entry, Tables => T}

/** MULTIPLE-CHANGEPOINT detection by BINARY SEGMENTATION (Scott–Knott
  * '74; Killick–Fearnhead–Eckley JASA'12 frame it as the standard
  * baseline PELT improves on) — the multi-breakpoint member of the
  * changepoint family: q292's CUSUM finds THE single peak-deviation
  * day; binary segmentation recursively splits at the SSE-OPTIMAL day
  * (depth 2 here → up to 4 level-mean segments), the piecewise-mean
  * summary of a drifting series.
  *
  * Exactness: maximizing the SSE gain at split i reduces (constant
  * terms drop) to maximizing f(i) = S_L²/n_L + S_R²/n_R; the argmax
  * is taken over g(i) = (S_L²·n_R + S_R²·n_L) div (n_L·n_R) — one
  * exact integer per candidate (DECIMAL(38,0) / HUGEINT cross-
  * products, the q497 overflow-safe-split discipline; whole currency
  * units keep S² inside 38 digits through sf1), ties to the earliest
  * day in BOTH engines. The oracle replays all three argmaxes and the
  * leaf-segment stats full-value.
  *
  * Scale shape: the corpus collapses to (day, revenue) in one partial
  * agg; every window after runs on the CALENDAR-BOUNDED frame (q292's
  * admission rule); the three split picks are bounded TakeOrdered
  * heads; leaf stats are one distributed agg.
  */
object Changepoints {

  import Entry.Q

  /** Binary segmentation (depth 2) over a `(d, v)` daily frame.
    * Boundary-degenerate level-2 splits — the level-1 argmax landing at
    * i1 = 1 or i1 = n−1 leaves that side's candidate set EMPTY — fall
    * back to the parent boundary as a no-op split (headOption, not
    * head), so the affected segment is simply absent from the output;
    * the oracle mirrors with COALESCE over the empty LIMIT-1 CTE. Both
    * engines then agree on boundary-split data instead of diverging by
    * crash vs empty result.
    */
  def segment(dailyIn: DataFrame): DataFrame = {
    val s = dailyIn.sparkSession
    import s.implicits._
    val daily = PlanBridge.checkpointResetStats(dailyIn)
    val w = Window.orderBy($"d") // calendar-bounded frame (q292 rule)
    val idx = PlanBridge.checkpointResetStats(daily.select($"d", $"v",
      row_number().over(w).cast("long").as("i"),
      sum($"v").over(w.rowsBetween(Window.unboundedPreceding, 0)).as("cs")))
    val (n, sTot) = idx.agg(max($"i"), max($"cs")).as[(Long, Long)].head()
    require(n >= 4, "binary segmentation needs at least 4 days")
    def best(lo: Long, loCs: Long, hi: Long, hiCs: Long): (Long, Long) =
      idx.filter($"i" > lo && $"i" < hi)
        .select($"i", $"cs", expr(
          s"(CAST(cs - ${loCs}L AS DECIMAL(38,0)) * (cs - ${loCs}L) " +
            s"* (${hi}L - i) " +
            s"+ CAST(${hiCs}L - cs AS DECIMAL(38,0)) * (${hiCs}L - cs) " +
            s"* (i - ${lo}L)) " +
            s"div (CAST(i - ${lo}L AS DECIMAL(38,0)) * (${hi}L - i))")
          .as("g"))
        .orderBy($"g".desc, $"i")
        .limit(1).select($"i", $"cs").as[(Long, Long)]
        .collect().headOption.getOrElse((lo, loCs))
    val (i1, cs1) = best(0, 0, n, sTot)
    val (i2l, _) = best(0, 0, i1, cs1)
    val (i2r, _) = best(i1, cs1, n, sTot)
    idx.withColumn("seg_id",
      when($"i" <= i2l, 1L).when($"i" <= i1, 2L)
        .when($"i" <= i2r, 3L).otherwise(4L))
      .groupBy($"seg_id")
      .agg(min($"d").as("d_start"), max($"d").as("d_end"),
        count(lit(1)).as("n_days"), sum($"v").as("sum_units"))
      .orderBy($"seg_id")
  }

  val q514Changepoints: Q = (s, dir) => {
    import s.implicits._
    segment(T.orders(s, dir)
      .groupBy(to_date($"o_orderdate").as("d"))
      .agg(sum(expr("CAST(FLOOR(o_totalprice) AS BIGINT)")).as("v")))
  }

  val q514Sql: String =
    """WITH daily AS MATERIALIZED (
      |  SELECT CAST(o_orderdate AS DATE) AS d,
      |    CAST(SUM(CAST(FLOOR(o_totalprice) AS BIGINT)) AS BIGINT) AS v
      |  FROM orders GROUP BY 1),
      |idx AS MATERIALIZED (
      |  SELECT d, v, CAST(ROW_NUMBER() OVER (ORDER BY d) AS BIGINT) AS i,
      |    CAST(SUM(v) OVER (ORDER BY d) AS BIGINT) AS cs
      |  FROM daily),
      |tot AS (SELECT MAX(i) AS n, MAX(cs) AS s FROM idx),
      |s1 AS MATERIALIZED (
      |  SELECT i AS i1, cs AS cs1 FROM idx, tot
      |  WHERE i > 0 AND i < n
      |  ORDER BY (CAST(cs AS HUGEINT) * cs * (n - i)
      |      + CAST(s - cs AS HUGEINT) * (s - cs) * i)
      |    // (CAST(i AS HUGEINT) * (n - i)) DESC, i
      |  LIMIT 1),
      |s2l AS MATERIALIZED (
      |  SELECT COALESCE(MIN(i), 0) AS i2l FROM (
      |    SELECT i FROM idx, s1
      |    WHERE i > 0 AND i < i1
      |    ORDER BY (CAST(cs AS HUGEINT) * cs * (i1 - i)
      |        + CAST(cs1 - cs AS HUGEINT) * (cs1 - cs) * i)
      |      // (CAST(i AS HUGEINT) * (i1 - i)) DESC, i
      |    LIMIT 1)),
      |s2r AS MATERIALIZED (
      |  SELECT COALESCE(MIN(i), (SELECT i1 FROM s1)) AS i2r FROM (
      |    SELECT i FROM idx, s1, tot
      |    WHERE i > i1 AND i < n
      |    ORDER BY (CAST(cs - cs1 AS HUGEINT) * (cs - cs1) * (n - i)
      |        + CAST(s - cs AS HUGEINT) * (s - cs) * (i - i1))
      |      // (CAST(i - i1 AS HUGEINT) * (n - i)) DESC, i
      |    LIMIT 1))
      |SELECT CAST(seg_id AS BIGINT) AS seg_id, MIN(d) AS d_start,
      |  MAX(d) AS d_end, CAST(COUNT(*) AS BIGINT) AS n_days,
      |  CAST(SUM(v) AS BIGINT) AS sum_units
      |FROM (
      |  SELECT CASE WHEN i <= i2l THEN 1 WHEN i <= i1 THEN 2
      |    WHEN i <= i2r THEN 3 ELSE 4 END AS seg_id, d, v
      |  FROM idx, s1, s2l, s2r)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("q514_changepoints", q514Changepoints, q514Sql))
}
