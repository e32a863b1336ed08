package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.PlanBridge

import graft.core.Entry

/** LOCAL CLUSTERING COEFFICIENT census + GLOBAL TRANSITIVITY
  * (Watts–Strogatz Nature'98 / Newman SIAM'03 — "how clique-ish is
  * each node's neighborhood?": the per-NODE refinement of q147's
  * single global triangle count, and the classic small-world
  * diagnostic read next to degree assortativity q530; transitivity =
  * 3·triangles/wedges is the wedge-weighted global form): per node,
  * cc_ppm = ⌊10⁶ · 2·tri(v) / (d(v)·(d(v)−1))⌋.
  *
  * Exactness: per-node triangle counts ride q147's degree-ordered
  * node-iterator (Suri–Vassilvitskii WWW'11) — each triangle is
  * generated EXACTLY once at its (degree, id)-minimal vertex, then
  * credited to all three corners in one explode; degrees, wedge
  * counts and the ppm floor are exact BIGINTs (the q230 fold rule).
  * Isolated-by-degree nodes (d ≤ 1) emit cc_ppm = 0 by the NULLIF-free
  * integer guard (d·(d−1) = 0 → explicit 0, spec-pinned).
  *
  * Scale shape: q147's shape — degree census, oriented self-join
  * bounded by out-degree ≤ O(√|E|), closure equi-join — plus ONE
  * explode-to-3 and a partial agg; on the block-local graph
  * ([[KTruss.ktEdges]]) everything is block-degree-bounded.
  */
object LocalClustering {

  import Entry.Q

  /** (v, deg, tri, cc_ppm) census over canonical (u < v) edges. */
  def localClustering(canonEdges: DataFrame): DataFrame = {
    val s = canonEdges.sparkSession
    import s.implicits._
    val edges = PlanBridge.checkpointResetStats(canonEdges)
    val deg = edges.select($"u".as("n"))
      .unionAll(edges.select($"v".as("n")))
      .groupBy($"n").agg(count(lit(1)).as("d"))
    val withDeg = edges
      .join(deg.select($"n".as("u"), $"d".as("du")), "u")
      .join(deg.select($"n".as("v"), $"d".as("dv")), "v")
    val oriented = withDeg.select(
      when($"du" < $"dv" || ($"du" === $"dv" && $"u" < $"v"), $"u")
        .otherwise($"v").as("src"),
      when($"du" < $"dv" || ($"du" === $"dv" && $"u" < $"v"), $"v")
        .otherwise($"u").as("dst"))
    val w = oriented.as("e1").join(oriented.as("e2"),
        $"e1.src" === $"e2.src" && $"e1.dst" < $"e2.dst")
      .select($"e1.src".as("a"), $"e1.dst".as("b"), $"e2.dst".as("c"))
    val closed = w.join(edges, $"b" === $"u" && $"c" === $"v", "left_semi")
    val perNode = closed
      .select(explode(array($"a", $"b", $"c")).as("n"))
      .groupBy($"n").agg(count(lit(1)).as("tri"))
    deg.join(perNode, Seq("n"), "left")
      .select($"n".as("v"), $"d".as("deg"),
        coalesce($"tri", lit(0L)).as("tri"))
      .withColumn("cc_ppm",
        expr("IF(deg <= 1, 0L, (1000000L * 2 * tri) div (deg * (deg - 1)))"))
      .orderBy($"v")
  }

  val q544LocalClustering: Q = (s, dir) => {
    import s.implicits._
    localClustering(KTruss.ktEdges(s, dir).filter($"u" < $"v"))
  }

  val q544Sql: String =
    s"""WITH outs AS (
      |  SELECT c_custkey AS v,
      |    (c_custkey // ${KTruss.KtBlock}) * ${KTruss.KtBlock} +
      |    CAST('0x' || substring(md5('kt' || k || ':' || c_custkey), 1, 4)
      |      AS BIGINT) % ${KTruss.KtBlock} AS w
      |  FROM customer,
      |    (SELECT UNNEST(range(1, ${KTruss.KtOutEdges + 1})) AS k)),
      |f AS (SELECT v, w FROM outs WHERE v <> w),
      |sym AS (
      |  SELECT DISTINCT u, v FROM (
      |    SELECT v AS u, w AS v FROM f
      |    UNION ALL SELECT w AS u, v AS v FROM f)),
      |edges AS MATERIALIZED (SELECT u, v FROM sym WHERE u < v),
      |deg AS MATERIALIZED (
      |  SELECT n, COUNT(*) AS d FROM (
      |    SELECT u AS n FROM edges UNION ALL SELECT v AS n FROM edges)
      |  GROUP BY 1),
      |ori AS MATERIALIZED (
      |  SELECT CASE WHEN du.d < dv.d OR (du.d = dv.d AND u < v)
      |      THEN u ELSE v END AS src,
      |    CASE WHEN du.d < dv.d OR (du.d = dv.d AND u < v)
      |      THEN v ELSE u END AS dst
      |  FROM edges
      |  JOIN deg du ON du.n = edges.u
      |  JOIN deg dv ON dv.n = edges.v),
      |tris AS MATERIALIZED (
      |  SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
      |  FROM ori e1 JOIN ori e2
      |    ON e1.src = e2.src AND e1.dst < e2.dst
      |  WHERE EXISTS (SELECT 1 FROM edges
      |    WHERE u = e1.dst AND v = e2.dst)),
      |per AS (
      |  SELECT n, CAST(COUNT(*) AS BIGINT) AS tri FROM (
      |    SELECT a AS n FROM tris
      |    UNION ALL SELECT b AS n FROM tris
      |    UNION ALL SELECT c AS n FROM tris)
      |  GROUP BY 1)
      |SELECT deg.n AS v, deg.d AS deg, COALESCE(per.tri, 0) AS tri,
      |  CASE WHEN deg.d <= 1 THEN 0
      |    ELSE (1000000 * 2 * COALESCE(per.tri, 0)) // (deg.d * (deg.d - 1))
      |  END AS cc_ppm
      |FROM deg LEFT JOIN per ON per.n = deg.n
      |ORDER BY v""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("q544_local_clustering", q544LocalClustering, q544Sql))
}
