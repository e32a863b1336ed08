package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.PlanBridge

import graft.core.Entry

/** DEGREE ASSORTATIVITY (Newman PRL'02 — "do hubs attach to hubs?":
  * the Pearson correlation of endpoint degrees over the edge list; the
  * one-number mixing summary every graph report leads with, computed
  * here over the q509/q515/q517 block-local graph. Positive = social-
  * network-like core periphery, negative = technological hub-and-spoke
  * (the star is exactly −1, spec-pinned); completes the global-graph-
  * statistics family next to q318's modularity (community mixing) and
  * q495's HyperBall distances).
  *
  * Exactness: over the SYMMETRIZED directed edge list, Σ d_u = Σ d_v
  * and Σ d_u² = Σ d_v², so r collapses to the single-variable Pearson
  * (M·Σd_u·d_v − (Σd_u)²)/(M·Σd_u² − (Σd_u)²) — four exact BIGINT
  * cross-sums (block degree ≤ 31, every sum ≤ 31²·2M), one shared
  * formula string ([[RFormula]], the q289 discipline), NULLIF-guarded
  * for the regular-graph degenerate case (zero degree variance).
  *
  * Scale shape: one degree census (partial agg), two broadcast-sized
  * joins of the census back onto the edges (degree table is
  * node-count-sized — shuffle equi-joins at scale, AQE-broadcast at
  * fixture), one 1-row agg.
  */
object Assortativity {

  import Entry.Q

  /** Edge-degree Pearson from the exact pieces — shared verbatim. */
  val RFormula: String =
    "(CAST(m2 AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sx) " +
      "/ NULLIF(CAST(m2 AS DOUBLE) * sxx " +
      "- CAST(sx AS DOUBLE) * sx, 0.0)"

  val q530Assortativity: Q = (s, dir) =>
    assortativity(KTruss.ktEdges(s, dir))

  /** Degree-assortativity pieces over a symmetrized `(u, v)` list. */
  def assortativity(edges0: DataFrame): DataFrame = {
    val s = edges0.sparkSession
    import s.implicits._
    val edges = PlanBridge.checkpointResetStats(edges0)
    val deg = edges.groupBy($"u").agg(count(lit(1)).as("d"))
    val paired = edges
      .join(deg.select($"u", $"d".as("du")), "u")
      .join(deg.select($"u".as("v"), $"d".as("dv")), "v")
    val (m2, sx, sxy, sxx) = paired.agg(
      count(lit(1)),
      sum($"du"),
      sum($"du" * $"dv"),
      sum($"du" * $"du")).as[(Long, Long, Long, Long)].head()
    Seq((m2, sx, sxy, sxx)).toDF("m2", "sx", "sxy", "sxx")
      .withColumn("r", expr(RFormula))
      .withColumn("assortative", expr(s"$RFormula > 0.0"))
  }

  val q530Sql: String =
    s"""WITH outs AS (
      |  SELECT c_custkey AS v,
      |    (c_custkey // ${KTruss.KtBlock}) * ${KTruss.KtBlock} +
      |    CAST('0x' || substring(md5('kt' || k || ':' || c_custkey), 1, 4)
      |      AS BIGINT) % ${KTruss.KtBlock} AS w
      |  FROM customer,
      |    (SELECT UNNEST(range(1, ${KTruss.KtOutEdges + 1})) AS k)),
      |f AS (SELECT v, w FROM outs WHERE v <> w),
      |le0 AS MATERIALIZED (
      |  SELECT DISTINCT u, v FROM (
      |    SELECT v AS u, w AS v FROM f
      |    UNION ALL SELECT w AS u, v AS v FROM f)),
      |deg AS (SELECT u, COUNT(*) AS d FROM le0 GROUP BY 1),
      |m AS (
      |  SELECT COUNT(*) AS m2,
      |    CAST(SUM(du.d) AS BIGINT) AS sx,
      |    CAST(SUM(du.d * dv.d) AS BIGINT) AS sxy,
      |    CAST(SUM(du.d * du.d) AS BIGINT) AS sxx
      |  FROM le0
      |  JOIN deg du ON du.u = le0.u
      |  JOIN deg dv ON dv.u = le0.v)
      |SELECT m2, sx, sxy, sxx, $RFormula AS r,
      |  $RFormula > 0.0 AS assortative
      |FROM m""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("q530_assortativity", q530Assortativity, q530Sql))
}
