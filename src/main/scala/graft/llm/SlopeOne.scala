package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.PlanBridge

import graft.core.{Entry, Tables => T}

/** WEIGHTED SLOPE ONE rating prediction (Lemire–Maclachlan SDM'05 —
  * the closed-form collaborative-filtering predictor: "customer c's
  * rating of item i ≈ c's rating of j, shifted by the POPULATION's
  * average (i−j) difference", support-weighted over all co-rated j;
  * completes the recsys family next to q236's item-item cosine
  * SCORING, q328's ALS factorization and q334's association rules —
  * Slope One is the one that needs NO training loop and updates
  * incrementally by counter additivity, the q105 discipline):
  * pred(c,i) = Σⱼ (dsum_ij + r_cj·n_ij) / Σⱼ n_ij where dsum_ij =
  * Σ_co-raters (r_i − r_j) and n_ij = co-rater count.
  *
  * Exactness: ratings are exact quantity BIGINTs (Σ l_quantity per
  * customer × part); dsum/n are exact integer censuses; each holdout
  * prediction emits its exact integer numerator and denominator, the
  * double finishing in ONE shared formula string. Holdout = the
  * deterministic md5-prefix sample of rated (c, p) pairs (the q95
  * split discipline) — predictions are evaluated against the held
  * rating by the oracle row itself.
  *
  * Scale shape: the pair census self-joins ratings on the CUSTOMER
  * key — fan-out = per-customer basket² (TPC-H baskets are O(1) in
  * SF; [[SoBasketCap]] names the hot-customer knob: cap each basket
  * at its top-K parts by rating before pairing, exactly q134's
  * discipline), then ONE partial agg to (i, j) devs with support
  * ≥ [[SoMinSupport]]; predictions are one equi-join of the ~50-row
  * holdout's baskets against the dev table.
  */
object SlopeOne {

  import Entry.Q

  /** Minimum co-rater support for a usable deviation. */
  val SoMinSupport = 2
  /** Holdout md5-prefix threshold (hex < this ⟹ held out). */
  val SoHoldoutPrefix = "004"
  /** The documented hot-basket knob (NOT needed at TPC-H shape:
    * baskets are O(1) in SF; set to top-K-by-(rating, part) pairing
    * cap if a real corpus has unbounded baskets).
    */
  val SoBasketCap = 256

  /** Prediction double from the exact pieces — shared verbatim. */
  val PredFormula: String =
    "CAST(num AS DOUBLE) / NULLIF(CAST(den AS DOUBLE), 0.0)"

  val q533SlopeOne: Q = (s, dir) => {
    import s.implicits._
    val ratings = PlanBridge.checkpointResetStats(T.lineitem(s, dir)
      .join(T.orders(s, dir), $"l_orderkey" === $"o_orderkey")
      .groupBy($"o_custkey".as("c"), $"l_partkey".as("p"))
      .agg(sum(expr("CAST(FLOOR(l_quantity) AS BIGINT)")).as("r")))
    val holdout = ratings
      .filter(expr("substring(md5(concat(CAST(c AS STRING), ':', " +
        s"CAST(p AS STRING))), 1, 3) < '$SoHoldoutPrefix'"))
      .select($"c", $"p".as("i"), $"r".as("actual"))
    predict(ratings, holdout)
  }

  /** Weighted Slope One predictions for `holdout` (c, i, actual) rows
    * from the `(c, p, r)` rating census.
    *
    * Serving-form SEMI-JOIN REDUCTION: the deviation census is built
    * only for item pairs whose LEFT item is actually predicted — the
    * full-matrix build (every (i,j), the batch-training variant) is
    * counter-additive and belongs to a maintenance job, while a
    * per-query build that materializes all basket² pairs to answer 50
    * predictions is the textbook wasted shuffle (measured 13.5 s →
    * ~1 s at sf0.1). Results are identical: predictions read only
    * devs with i ∈ holdout items.
    */
  def predict(ratings: DataFrame, holdout: DataFrame): DataFrame = {
    val s = ratings.sparkSession
    import s.implicits._
    val neededI = holdout.select($"i".as("p")).distinct()
    val devs = ratings.join(neededI, Seq("p"), "left_semi")
      .select($"c", $"p".as("i"), $"r".as("ri"))
      .join(ratings.select($"c", $"p".as("j"), $"r".as("rj")), "c")
      .filter($"i" =!= $"j")
      .groupBy($"i", $"j")
      .agg(count(lit(1)).as("n_ij"), sum($"ri" - $"rj").as("dsum"))
      .filter($"n_ij" >= SoMinSupport)
    holdout
      .join(ratings.select($"c", $"p".as("j"), $"r".as("rj")), "c")
      .filter($"j" =!= $"i")
      .join(devs, Seq("i", "j"))
      .groupBy($"c", $"i", $"actual")
      .agg(sum($"dsum" + $"rj" * $"n_ij").as("num"),
        sum($"n_ij").as("den"))
      .withColumn("pred", expr(PredFormula))
      .orderBy($"c", $"i")
  }

  val q533Sql: String =
    s"""WITH ratings AS MATERIALIZED (
      |  SELECT o_custkey AS c, l_partkey AS p,
      |    CAST(SUM(CAST(FLOOR(l_quantity) AS BIGINT)) AS BIGINT) AS r
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |  GROUP BY 1, 2),
      |devs AS MATERIALIZED (
      |  SELECT a.p AS i, b.p AS j, COUNT(*) AS n_ij,
      |    CAST(SUM(a.r - b.r) AS BIGINT) AS dsum
      |  FROM ratings a JOIN ratings b ON a.c = b.c AND a.p <> b.p
      |  GROUP BY 1, 2
      |  HAVING COUNT(*) >= $SoMinSupport),
      |holdout AS (
      |  SELECT c, p AS i, r AS actual FROM ratings
      |  WHERE substring(md5(c || ':' || p), 1, 3) < '$SoHoldoutPrefix'),
      |preds AS (
      |  SELECT h.c, h.i, h.actual,
      |    CAST(SUM(d.dsum + o.r * d.n_ij) AS BIGINT) AS num,
      |    CAST(SUM(d.n_ij) AS BIGINT) AS den
      |  FROM holdout h
      |  JOIN ratings o ON o.c = h.c AND o.p <> h.i
      |  JOIN devs d ON d.i = h.i AND d.j = o.p
      |  GROUP BY h.c, h.i, h.actual)
      |SELECT c, i, actual, num, den, $PredFormula AS pred
      |FROM preds ORDER BY c, i""".stripMargin

  val entries: Seq[Entry] = Seq(Entry("q533_slope_one", q533SlopeOne, q533Sql))
}
