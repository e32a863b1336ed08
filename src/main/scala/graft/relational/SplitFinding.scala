package graft.relational

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{Entry, Tables => T}

/** Histogram-based decision-tree SPLIT FINDING — the distributed
  * kernel of every gradient-boosting system (XGBoost's approx/hist
  * algorithm, Chen & Guestrin KDD'16; LightGBM, Ke et al. NIPS'17):
  * bin each feature, build per-bin label histograms in ONE aggregation
  * pass, scan prefix sums for the Gini-gain-optimal threshold. One
  * boosting round's heart, isolated as an operator: the full-data
  * sort-based exact split is the thing this EXISTS to avoid at scale.
  *
  * Exactness: features quantize to integers (cents/permille), bin ids
  * are pure integer arithmetic ((v−min)·B div (max−min+1)), histogram
  * counts are BIGINTs; the Gini gain is finished with one identically
  * spelled double expression per engine (the q228 discipline) and the
  * argmax tie-breaks to the smallest bin — hash-exact end to end.
  *
  * Scale shape: the melt is a narrow 4-way stack (no shuffle); bounds
  * are a 4-row broadcast aggregate; the ONLY corpus-sized shuffle is
  * the (feature, bin) histogram partial-agg — 4×[[SplitBins]] result
  * rows; the prefix-sum window and argmax run on that bounded frame
  * (the q291 "windows never see corpus rows" discipline).
  */
object SplitFinding {

  import Entry.Q

  val SplitBins = 32

  val q330SplitFinding: Q = (s, dir) => {
    import s.implicits._
    val li = T.lineitem(s, dir)
      .select(
        ($"l_returnflag" === "R").cast("long").as("y"),
        expr("CAST(FLOOR(l_quantity) AS BIGINT)").as("f_quantity"),
        expr("CAST(FLOOR(100 * l_extendedprice) AS BIGINT)").as("f_price"),
        expr("CAST(FLOOR(1000 * l_discount) AS BIGINT)").as("f_discount"),
        expr("CAST(FLOOR(1000 * l_tax) AS BIGINT)").as("f_tax"))
    val melted = li.select($"y", expr(
      """stack(4, 'quantity', f_quantity, 'price', f_price,
        |  'discount', f_discount, 'tax', f_tax)""".stripMargin)
      .as(Seq("feature", "v")))
    val bounds = melted.groupBy($"feature")
      .agg(min($"v").as("lo"), max($"v").as("hi"))
    val hist = melted.join(broadcast(bounds), "feature")
      .select($"feature", $"y",
        expr(s"CAST((v - lo) * $SplitBins div (hi - lo + 1) AS BIGINT)")
          .as("bin"))
      .groupBy($"feature", $"bin")
      .agg(count(lit(1)).as("n"), sum($"y").as("p"))
    val wCum = Window.partitionBy($"feature").orderBy($"bin")
    val wAll = Window.partitionBy($"feature")
    val splits = hist
      .withColumn("nl", sum($"n").over(wCum))
      .withColumn("pl", sum($"p").over(wCum))
      .withColumn("nt", sum($"n").over(wAll))
      .withColumn("pt", sum($"p").over(wAll))
      .filter($"nl" > 0 && $"nl" < $"nt") // both children non-empty
      .withColumn("gain", expr(
        """(1.0
          |  - (CAST(pt AS DOUBLE) / CAST(nt AS DOUBLE)) * (CAST(pt AS DOUBLE) / CAST(nt AS DOUBLE))
          |  - (CAST(nt - pt AS DOUBLE) / CAST(nt AS DOUBLE)) * (CAST(nt - pt AS DOUBLE) / CAST(nt AS DOUBLE)))
          | - (CAST(nl AS DOUBLE) / CAST(nt AS DOUBLE))
          |   * (1.0
          |      - (CAST(pl AS DOUBLE) / CAST(nl AS DOUBLE)) * (CAST(pl AS DOUBLE) / CAST(nl AS DOUBLE))
          |      - (CAST(nl - pl AS DOUBLE) / CAST(nl AS DOUBLE)) * (CAST(nl - pl AS DOUBLE) / CAST(nl AS DOUBLE)))
          | - (CAST(nt - nl AS DOUBLE) / CAST(nt AS DOUBLE))
          |   * (1.0
          |      - (CAST(pt - pl AS DOUBLE) / CAST(nt - nl AS DOUBLE)) * (CAST(pt - pl AS DOUBLE) / CAST(nt - nl AS DOUBLE))
          |      - (CAST((nt - nl) - (pt - pl) AS DOUBLE) / CAST(nt - nl AS DOUBLE)) * (CAST((nt - nl) - (pt - pl) AS DOUBLE) / CAST(nt - nl AS DOUBLE)))""".stripMargin))
    splits
      .groupBy($"feature")
      .agg(min(struct((-$"gain").as("ng"), $"bin".as("b"), $"nl".as("l"),
        $"pl".as("q"), $"nt".as("t"), $"pt".as("u"))).as("best"))
      .select($"feature", $"best.b".as("split_bin"),
        $"best.l".as("n_left"), ($"best.t" - $"best.l").as("n_right"),
        $"best.q".as("pos_left"), ($"best.u" - $"best.q").as("pos_right"),
        (-$"best.ng").as("gain"))
      .orderBy($"feature")
  }

  val q330Sql: String =
    s"""WITH base AS (
       |  SELECT CAST(l_returnflag = 'R' AS BIGINT) AS y,
       |    CAST(FLOOR(l_quantity) AS BIGINT) AS f_quantity,
       |    CAST(FLOOR(100 * l_extendedprice) AS BIGINT) AS f_price,
       |    CAST(FLOOR(1000 * l_discount) AS BIGINT) AS f_discount,
       |    CAST(FLOOR(1000 * l_tax) AS BIGINT) AS f_tax
       |  FROM lineitem),
       |melted AS (
       |  SELECT y, 'quantity' AS feature, f_quantity AS v FROM base
       |  UNION ALL SELECT y, 'price', f_price FROM base
       |  UNION ALL SELECT y, 'discount', f_discount FROM base
       |  UNION ALL SELECT y, 'tax', f_tax FROM base),
       |bounds AS (
       |  SELECT feature, MIN(v) AS lo, MAX(v) AS hi
       |  FROM melted GROUP BY feature),
       |hist AS (
       |  SELECT m.feature, (v - lo) * $SplitBins // (hi - lo + 1) AS bin,
       |    COUNT(*) AS n, SUM(y) AS p
       |  FROM melted m JOIN bounds b ON m.feature = b.feature
       |  GROUP BY 1, 2),
       |cum AS (
       |  SELECT feature, bin,
       |    SUM(n) OVER (PARTITION BY feature ORDER BY bin) AS nl,
       |    SUM(p) OVER (PARTITION BY feature ORDER BY bin) AS pl,
       |    SUM(n) OVER (PARTITION BY feature) AS nt,
       |    SUM(p) OVER (PARTITION BY feature) AS pt
       |  FROM hist),
       |gains AS (
       |  SELECT feature, bin, nl, pl, nt, pt,
       |    (1.0
       |      - (CAST(pt AS DOUBLE) / CAST(nt AS DOUBLE)) * (CAST(pt AS DOUBLE) / CAST(nt AS DOUBLE))
       |      - (CAST(nt - pt AS DOUBLE) / CAST(nt AS DOUBLE)) * (CAST(nt - pt AS DOUBLE) / CAST(nt AS DOUBLE)))
       |     - (CAST(nl AS DOUBLE) / CAST(nt AS DOUBLE))
       |       * (1.0
       |          - (CAST(pl AS DOUBLE) / CAST(nl AS DOUBLE)) * (CAST(pl AS DOUBLE) / CAST(nl AS DOUBLE))
       |          - (CAST(nl - pl AS DOUBLE) / CAST(nl AS DOUBLE)) * (CAST(nl - pl AS DOUBLE) / CAST(nl AS DOUBLE)))
       |     - (CAST(nt - nl AS DOUBLE) / CAST(nt AS DOUBLE))
       |       * (1.0
       |          - (CAST(pt - pl AS DOUBLE) / CAST(nt - nl AS DOUBLE)) * (CAST(pt - pl AS DOUBLE) / CAST(nt - nl AS DOUBLE))
       |          - (CAST((nt - nl) - (pt - pl) AS DOUBLE) / CAST(nt - nl AS DOUBLE)) * (CAST((nt - nl) - (pt - pl) AS DOUBLE) / CAST(nt - nl AS DOUBLE)))
       |      AS gain
       |  FROM cum WHERE nl > 0 AND nl < nt),
       |best AS (
       |  SELECT feature, bin AS split_bin, nl AS n_left, nt - nl AS n_right,
       |    pl AS pos_left, pt - pl AS pos_right, gain,
       |    ROW_NUMBER() OVER (PARTITION BY feature
       |      ORDER BY gain DESC, bin ASC) AS rk
       |  FROM gains)
       |SELECT feature, split_bin,
       |  CAST(n_left AS BIGINT) AS n_left, CAST(n_right AS BIGINT) AS n_right,
       |  CAST(pos_left AS BIGINT) AS pos_left,
       |  CAST(pos_right AS BIGINT) AS pos_right, gain
       |FROM best WHERE rk = 1 ORDER BY feature""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("q330_split_finding", q330SplitFinding, q330Sql))
}
