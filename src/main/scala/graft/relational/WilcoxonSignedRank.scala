package graft.relational

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{Entry, Tables => T}

/** WILCOXON SIGNED-RANK TEST per group (Wilcoxon Biometrics'45 — the
  * PAIRED nonparametric location test the family lacked: q285/q290
  * compare two INDEPENDENT samples, q229 is parametric; this is the
  * pre/post shape — "did the same customers spend more in the late
  * half than the early half?"): per customer d = late − early spend,
  * zero differences dropped (Wilcoxon's original convention; Pratt's
  * keep-zeros variant is an input-filter swap), |d| tie-average-
  * ranked, W⁺ = Σ ranks of positive d tested against its exact null
  * moments conditional on the observed tie pattern.
  *
  * Exactness: ranks ride the q285/q492 DOUBLED tie-averaged-rank
  * convention (2r̄ = 2·cum_before + cnt + 1 — always an integer), so
  * w2_pos = 2W⁺, its null mean e2 = n(n+1)/2 and the ×12-scaled
  * tie-corrected variance var12 = 12·Var(2W⁺) = 2n(n+1)(2n+1) −
  * Σ(t³−t) are ALL exact integers; the two-sided α=0.05 verdict is
  * an exact cross-multiplication — |z| > 1.96 with the ±1 continuity
  * correction (in doubled units) spelled 120000·(|w2_pos−e2|−1)² >
  * 38416·var12 in DECIMAL(38,0)/HUGEINT (the products pass int64
  * near n ≈ 10⁵ pairs). No doubles anywhere.
  *
  * Scale shape: the corpus collapses to one row per customer in ONE
  * conditional partial agg; the rank map runs per DISTINCT |d| on
  * the q492 two-level scan (fullCumSum — no one-task global window;
  * per-group offsets are a |groups|-row broadcast); the moment agg
  * is one more partial pass. No raw-row window, no self-join.
  */
object WilcoxonSignedRank {

  import Entry.Q

  /** Calendar midpoint of the TPC-H order range — the pre/post split. */
  val SplitDate = "1995-07-01"

  /** Per-group signed-rank table off a `(g, d)` frame of exact
    * integer paired differences.
    */
  def wilcoxon(diffs: DataFrame): DataFrame = {
    val s = diffs.sparkSession
    import s.implicits._
    val dd = diffs.filter($"d" =!= 0L).withColumn("ad", abs($"d"))
    val byVal = dd.groupBy($"g", $"ad")
      .agg(count(lit(1)).as("cnt"),
        sum(when($"d" > 0, 1L).otherwise(0L)).as("pos"))
    // global lexicographic (g, ad) cumulative on the two-level scan;
    // within-group cum_before = global inclusive cum − cnt − the mass
    // of all PRIOR groups (a |groups|-row broadcast)
    val cum = QuantileNormalize.fullCumSum(byVal,
      Seq($"g", $"ad"), "cnt" -> "cum")
    // r18 (verdict item 5): |groups|-row frame — triangular join, not
    // a partition-less window
    val goff = QuantileNormalize.exclusivePrefix(
        byVal.groupBy($"g").agg(sum($"cnt").as("gm")),
        Seq(), "g", Seq("gm"))
      .withColumnRenamed("gm_off", "goff")
    cum.join(broadcast(goff), "g")
      .withColumn("r2", lit(2L) * ($"cum" - $"cnt" - $"goff")
        + $"cnt" + lit(1L))
      .groupBy($"g")
      .agg(sum($"cnt").as("n"),
        sum($"pos" * $"r2").as("w2_pos"),
        // the cubic terms ride DECIMAL(38,0)/HUGEINT — a Long var12
        // wraps Spark-side only past n ≈ 1.3·10⁶ pairs (the r17
        // ADVICE trap class); the final BIGINT cast then NULLs loud
        // on Spark exactly where DuckDB's BIGINT cast throws loud
        sum(($"cnt".cast("decimal(38,0)") * $"cnt" * $"cnt" - $"cnt"))
          .as("ties3"))
      .withColumn("e2", expr("n * (n + 1) div 2"))
      .withColumn("var12w", expr(
        "CAST(2 AS DECIMAL(38,0)) * n * (n + 1) * (2 * n + 1) - ties3"))
      .withColumn("verdict", expr(
        """CASE
          |  WHEN var12w <= 0 OR abs(w2_pos - e2) <= 1 THEN 'none'
          |  WHEN CAST(120000 AS DECIMAL(38,0))
          |      * (abs(w2_pos - e2) - 1) * (abs(w2_pos - e2) - 1)
          |      > CAST(38416 AS DECIMAL(38,0)) * var12w
          |    THEN IF(w2_pos > e2, 'greater', 'less')
          |  ELSE 'none'
          |END""".stripMargin))
      .select($"g", $"n", $"w2_pos", $"e2",
        expr("CAST(var12w AS BIGINT)").as("var12"), $"verdict")
      .orderBy($"g")
  }

  val q583WilcoxonSignedRank: Q = (s, dir) => {
    import s.implicits._
    val spend = T.orders(s, dir)
      .groupBy($"o_custkey")
      .agg(
        sum(when($"o_orderdate" < lit(SplitDate).cast("date"),
          expr("CAST(FLOOR(100 * o_totalprice) AS BIGINT)"))
          .otherwise(0L)).as("early"),
        sum(when($"o_orderdate" >= lit(SplitDate).cast("date"),
          expr("CAST(FLOOR(100 * o_totalprice) AS BIGINT)"))
          .otherwise(0L)).as("late"))
    val diffs = T.customer(s, dir)
      .select($"c_custkey".as("o_custkey"), $"c_mktsegment".as("g"))
      .join(spend, "o_custkey")
      .select($"g", ($"late" - $"early").as("d"))
    wilcoxon(diffs)
  }

  val q583Sql: String =
    s"""WITH spend AS (
      |  SELECT o_custkey,
      |    SUM(CASE WHEN CAST(o_orderdate AS DATE) < DATE '$SplitDate'
      |      THEN CAST(FLOOR(100 * o_totalprice) AS BIGINT)
      |      ELSE 0 END) AS early,
      |    SUM(CASE WHEN CAST(o_orderdate AS DATE) >= DATE '$SplitDate'
      |      THEN CAST(FLOOR(100 * o_totalprice) AS BIGINT)
      |      ELSE 0 END) AS late
      |  FROM orders GROUP BY 1),
      |diffs AS (
      |  SELECT c.c_mktsegment AS g, late - early AS d
      |  FROM customer c JOIN spend s ON c.c_custkey = s.o_custkey
      |  WHERE late - early <> 0),
      |by_val AS (
      |  SELECT g, abs(d) AS ad, COUNT(*) AS cnt,
      |    SUM(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS pos
      |  FROM diffs GROUP BY 1, 2),
      |ranked AS (
      |  SELECT g, cnt, pos,
      |    2 * COALESCE(SUM(cnt) OVER (PARTITION BY g ORDER BY ad
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |    + cnt + 1 AS r2
      |  FROM by_val),
      |m AS (
      |  SELECT g, SUM(cnt) AS n, SUM(pos * r2) AS w2_pos,
      |    SUM(CAST(cnt AS HUGEINT) * cnt * cnt - cnt) AS ties3
      |  FROM ranked GROUP BY 1),
      |v AS (
      |  SELECT g, n, w2_pos, n * (n + 1) // 2 AS e2,
      |    CAST(2 AS HUGEINT) * n * (n + 1) * (2 * n + 1) - ties3
      |      AS var12w
      |  FROM m)
      |SELECT g, CAST(n AS BIGINT) AS n,
      |  CAST(w2_pos AS BIGINT) AS w2_pos,
      |  CAST(e2 AS BIGINT) AS e2,
      |  CAST(var12w AS BIGINT) AS var12,
      |  CASE
      |    WHEN var12w <= 0 OR abs(w2_pos - e2) <= 1 THEN 'none'
      |    WHEN CAST(120000 AS HUGEINT)
      |        * (abs(w2_pos - e2) - 1) * (abs(w2_pos - e2) - 1)
      |        > CAST(38416 AS HUGEINT) * var12w
      |      THEN CASE WHEN w2_pos > e2 THEN 'greater' ELSE 'less' END
      |    ELSE 'none'
      |  END AS verdict
      |FROM v
      |ORDER BY g""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("q583_wilcoxon_signed_rank", q583WilcoxonSignedRank, q583Sql))
}
