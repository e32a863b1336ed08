package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.PlanBridge

import graft.core.Entry

/** DISPARITY-FILTER BACKBONE (Serrano–Boguñá–Vespignani PNAS'09 —
  * the multiscale weighted-graph sparsifier: an edge survives iff its
  * weight is a statistically surprising share of EITHER endpoint's
  * strength, (1 − w/s)^(d−1) < α — unlike a global weight threshold
  * it keeps locally-dominant edges of weak nodes and prunes the
  * uniform fan-out of hubs; THE standard preprocessing before
  * visualizing or mining a dense co-occurrence graph, here the q134
  * part co-purchase graph): emits the surviving backbone edges.
  *
  * Exactness: the significance test clears to the INTEGER comparison
  * [[DfAlphaInv]]·(s − w)^e < s^e with e = min(d − 1, [[DfExpCap]]) —
  * both sides exact DECIMAL(38,0)/128-bit (part strengths are
  * SF-stable ≈ 10², so s^8 ≈ 10¹⁶; the cap is the exactness-vs-
  * fidelity knob: past it the test only becomes MORE conservative,
  * and α^... no float enters the filter at all). The power is built
  * as a shared CASE-by-bit SQUARING CHAIN string ([[powExpr]]) —
  * identical in both engines; d = 1 pendant edges are kept by the
  * paper's convention (p = 1 is untestable).
  *
  * Scale shape: per-order pair fan-out is basket²-bounded (the q134
  * discipline); strengths are one partial agg; the filter is one
  * broadcast-sized strength join + a map-side integer test.
  */
object DisparityFilter {

  import Entry.Q

  /** 1/α for the significance level (α = 1/16). */
  val DfAlphaInv = 16L
  /** Exponent cap keeping both powers inside 128-bit integers. */
  val DfExpCap = 8L

  /** `base^e` for e ∈ 0..[[DfExpCap]] as an exact squaring chain —
    * shared verbatim by both engines (DECIMAL(38,0) is the common
    * 128-bit type name).
    */
  def powExpr(base: String, e: String): String = {
    val b1 = s"CAST($base AS DECIMAL(38,0))"
    val b2 = s"($b1 * $b1)"
    val b4 = s"($b2 * $b2)"
    val b8 = s"($b4 * $b4)"
    // bit tests spelled with % and >= only — `/` divides as DOUBLE in
    // one engine and as integer in the other, so it never appears
    s"((CASE WHEN ($e) % 2 = 1 THEN $b1 ELSE CAST(1 AS DECIMAL(38,0)) END)" +
      s" * (CASE WHEN ($e) % 4 >= 2 THEN $b2" +
      s" ELSE CAST(1 AS DECIMAL(38,0)) END)" +
      s" * (CASE WHEN ($e) % 8 >= 4 THEN $b4" +
      s" ELSE CAST(1 AS DECIMAL(38,0)) END)" +
      s" * (CASE WHEN ($e) >= 8 THEN $b8" +
      s" ELSE CAST(1 AS DECIMAL(38,0)) END))"
  }

  /** keep-predicate for one endpoint: pendant OR significant. */
  def sigExpr(s: String, d: String, w: String): String = {
    val e = s"LEAST($d - 1, $DfExpCap)"
    s"($d = 1 OR $DfAlphaInv * ${powExpr(s"$s - $w", e)} " +
      s"< ${powExpr(s, e)})"
  }

  /** Backbone of a weighted canonical edge list `(i, j, w)`. */
  def backbone(wedges: DataFrame): DataFrame = {
    val s = wedges.sparkSession
    import s.implicits._
    val edges = PlanBridge.checkpointResetStats(wedges)
    val strength = edges
      .select($"i".as("n"), $"w")
      .unionAll(edges.select($"j".as("n"), $"w"))
      .groupBy($"n")
      .agg(sum($"w").as("st"), count(lit(1)).as("deg"))
    edges
      .join(strength.select($"n".as("i"), $"st".as("si"),
        $"deg".as("di")), "i")
      .join(strength.select($"n".as("j"), $"st".as("sj"),
        $"deg".as("dj")), "j")
      .filter(expr(sigExpr("si", "di", "w")) ||
        expr(sigExpr("sj", "dj", "w")))
      .select($"i", $"j", $"w")
      .orderBy($"i", $"j")
  }

  /** q554 — backbone of the block-local graph under HEAVY-TAILED md5
    * edge weights, w = 1 + (md5₁₆ mod 20)² ∈ 1..362 (the q509/q513
    * synthetic-graph discipline extended to weights: every weighted
    * graph this fixture DATA yields — part co-purchase, bigram
    * co-occurrence — is near-uniform by construction, where the
    * correct backbone is EMPTY at any honest α; the filter needs
    * weight skew to have something to decide, so the skew is planted
    * deterministically; measured backbone ≈ 10% of edges at sf0.01).
    */
  val q554DisparityBackbone: Q = (s, dir) => {
    import s.implicits._
    val wedges = KTruss.ktEdges(s, dir).filter($"u" < $"v")
      .select($"u".as("i"), $"v".as("j"))
      .withColumn("w",
        expr("1L + CAST(POW(CAST(conv(substring(md5(concat('dfw:', " +
          "CAST(i AS STRING), ':', CAST(j AS STRING))), 1, 4), 16, 10) " +
          "AS BIGINT) % 20, 2) AS BIGINT)"))
    backbone(wedges)
  }

  val q554Sql: String =
    s"""WITH outs AS (
      |  SELECT c_custkey AS v,
      |    (c_custkey // ${KTruss.KtBlock}) * ${KTruss.KtBlock} +
      |    CAST('0x' || substring(md5('kt' || k || ':' || c_custkey), 1, 4)
      |      AS BIGINT) % ${KTruss.KtBlock} AS w
      |  FROM customer,
      |    (SELECT UNNEST(range(1, ${KTruss.KtOutEdges + 1})) AS k)),
      |ff AS (SELECT v, w FROM outs WHERE v <> w),
      |sym AS (
      |  SELECT DISTINCT u, v FROM (
      |    SELECT v AS u, w AS v FROM ff
      |    UNION ALL SELECT w AS u, v AS v FROM ff)),
      |wedges AS MATERIALIZED (
      |  SELECT u AS i, v AS j,
      |    1 + CAST(POW(CAST('0x' || substring(md5('dfw:' || u || ':' || v),
      |      1, 4) AS BIGINT) % 20, 2) AS BIGINT) AS w
      |  FROM sym WHERE u < v),
      |strength AS MATERIALIZED (
      |  SELECT n, CAST(SUM(w) AS BIGINT) AS st,
      |    CAST(COUNT(*) AS BIGINT) AS deg
      |  FROM (
      |    SELECT i AS n, w FROM wedges
      |    UNION ALL SELECT j AS n, w FROM wedges)
      |  GROUP BY 1),
      |joined AS (
      |  SELECT wedges.i, wedges.j, wedges.w,
      |    si.st AS si, si.deg AS di, sj.st AS sj, sj.deg AS dj
      |  FROM wedges
      |  JOIN strength si ON si.n = wedges.i
      |  JOIN strength sj ON sj.n = wedges.j)
      |SELECT i, j, w FROM joined
      |WHERE ${sigExpr("si", "di", "w")}
      |   OR ${sigExpr("sj", "dj", "w")}
      |ORDER BY i, j""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("q554_disparity_backbone", q554DisparityBackbone, q554Sql))
}
