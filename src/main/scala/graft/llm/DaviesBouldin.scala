package graft.llm

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.PlanBridge

import graft.core.{Entry, Tables => T}
import graft.llm.ClusterEval.SilScale

/** DAVIES–BOULDIN cluster separation (Davies & Bouldin PAMI'79 — the
  * second standard INTERNAL cluster-quality readout next to q341's
  * silhouette: silhouette scores each POINT's placement, DB scores
  * each CLUSTER's worst overlap R_i = max_{j≠i} (s_i + s_j)/d(c_i,c_j)
  * — the number that says WHICH cluster pair a k-picker should worry
  * about, where silhouette only says that some pair overlaps): per
  * label of the embedding partition, its scatter and worst-pair ratio
  * on the q341 2-axis projection.
  *
  * Exactness (the q341 discipline verbatim): coordinates are
  * [[ClusterEval.SilScale]]-quantized BIGINTs; centroids are exact
  * integer sums finished by one division per axis; per-point distances
  * to the OWN centroid are micro-floored to BIGINT before the per-label
  * sum (a double SUM commits to no order — the quantize-then-integer-
  * sum rule), so scatter s_i enters the ratio as the exact pieces
  * (s_sum_micro, n); centroid pair distances are identically spelled
  * SQRT chains and R_i finishes as ONE shared formula, NULLIF-guarded
  * against coincident centroids. The final corpus-mean DB = (1/k)ΣR_i
  * is deliberately NOT emitted as a column — a double sum over labels
  * commits to an order; the per-label frame IS the readout (q293's
  * no-exact-product reasoning, applied to sums of doubles).
  *
  * Scale shape: one partial-agg centroid pass, one broadcast-centroid
  * distance pass (corpus×1 rows), then everything is labels²-bounded.
  */
object DaviesBouldin {

  import Entry.Q

  /** R_ij from the exact pieces — shared verbatim. */
  val DbFormula: String =
    """(CAST(si_sum AS DOUBLE) / CAST(ni AS DOUBLE) / 1000000.0
      | + CAST(sj_sum AS DOUBLE) / CAST(nj AS DOUBLE) / 1000000.0)
      | / NULLIF(SQRT((cxi - cxj) * (cxi - cxj)
      |   + (cyi - cyj) * (cyi - cyj)), 0.0)""".stripMargin
      .replace("\n", "")

  val q567DaviesBouldin: Q = (s, dir) => {
    import s.implicits._
    val pts = T.embeddings(s, dir)
      .select($"vec_id", $"label",
        expr(s"CAST(FLOOR($SilScale * embedding[0]) AS BIGINT)").as("x"),
        expr(s"CAST(FLOOR($SilScale * embedding[1]) AS BIGINT)").as("y"))
    val cent = PlanBridge.checkpointResetStats(pts.groupBy($"label")
      .agg(count(lit(1)).as("n"), sum($"x").as("sx"), sum($"y").as("sy"))
      .select($"label", $"n",
        expr("CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)").as("cx"),
        expr("CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)").as("cy")))
    val scatter = pts.join(broadcast(cent.select($"label", $"cx", $"cy")),
        "label")
      .withColumn("d_micro", expr(
        """CAST(FLOOR(1000000.0 *
          |  SQRT((CAST(x AS DOUBLE) - cx) * (CAST(x AS DOUBLE) - cx)
          |   + (CAST(y AS DOUBLE) - cy) * (CAST(y AS DOUBLE) - cy)))
          | AS BIGINT)""".stripMargin))
      .groupBy($"label").agg(sum($"d_micro").as("s_sum_micro"))
    val ci = cent.join(scatter, "label")
      .select($"label".as("li"), $"n".as("ni"),
        $"s_sum_micro".as("si_sum"), $"cx".as("cxi"), $"cy".as("cyi"))
    val cj = cent.join(scatter, "label")
      .select($"label".as("lj"), $"n".as("nj"),
        $"s_sum_micro".as("sj_sum"), $"cx".as("cxj"), $"cy".as("cyj"))
    ci.join(cj, $"li" =!= $"lj")
      .withColumn("r", expr(DbFormula))
      .groupBy($"li").agg(first($"ni").as("n"),
        first($"si_sum").as("s_sum_micro"), max($"r").as("r_max"))
      .select($"li".cast("long").as("label"), $"n", $"s_sum_micro",
        $"r_max")
      .orderBy($"label")
  }

  val q567Sql: String =
    s"""WITH pts AS (
       |  SELECT vec_id, label,
       |    CAST(FLOOR($SilScale * embedding[1]) AS BIGINT) AS x,
       |    CAST(FLOOR($SilScale * embedding[2]) AS BIGINT) AS y
       |  FROM embeddings),
       |cent AS (
       |  SELECT label, CAST(COUNT(*) AS BIGINT) AS n,
       |    CAST(SUM(x) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS cx,
       |    CAST(SUM(y) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS cy
       |  FROM pts GROUP BY label),
       |scat AS (
       |  SELECT p.label,
       |    CAST(SUM(CAST(FLOOR(1000000.0 *
       |      SQRT((CAST(p.x AS DOUBLE) - c.cx) * (CAST(p.x AS DOUBLE) - c.cx)
       |       + (CAST(p.y AS DOUBLE) - c.cy) * (CAST(p.y AS DOUBLE) - c.cy)))
       |     AS BIGINT)) AS BIGINT) AS s_sum_micro
       |  FROM pts p JOIN cent c ON p.label = c.label
       |  GROUP BY p.label),
       |cc AS (
       |  SELECT c.label, c.n, s.s_sum_micro, c.cx, c.cy
       |  FROM cent c JOIN scat s ON c.label = s.label),
       |pairs AS (
       |  SELECT a.label AS li, a.n AS ni, a.s_sum_micro AS si_sum,
       |    a.cx AS cxi, a.cy AS cyi,
       |    b.n AS nj, b.s_sum_micro AS sj_sum, b.cx AS cxj, b.cy AS cyj
       |  FROM cc a JOIN cc b ON a.label <> b.label)
       |SELECT CAST(li AS BIGINT) AS label, MAX(ni) AS n,
       |  MAX(si_sum) AS s_sum_micro,
       |  MAX($DbFormula) AS r_max
       |FROM pairs GROUP BY li ORDER BY label""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("q567_davies_bouldin", q567DaviesBouldin, q567Sql))
}
