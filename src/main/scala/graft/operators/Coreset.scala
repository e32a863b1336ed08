package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.PlanBridge

import graft.core.Entry

/** K-MEANS CORESET by SENSITIVITY SAMPLING (Feldman & Langberg
  * STOC'11; the Bachem-Lucic-Krause practical recipe) — the
  * summarization operator that makes clustering 100 TB tractable: a
  * small WEIGHTED point set whose weighted cost approximates the full
  * corpus cost for ANY candidate solution, so the expensive iterative
  * fit runs on the coreset while the corpus is touched once.
  *
  * Pipeline, all distributed: (1) a rough solution B = occupied cells
  * of the [[CellSize]] grid on the q340 integer plane (center =
  * cell center; assignment by construction, no iteration); (2) the
  * sensitivity upper bound per point
  *   s(p) = d²(p, B)/cost(B) + 1/(|cells|·|cell(p)|)
  * (Σs = 2 exactly — the distance term integrates to 1 and the
  * per-cell term contributes 1/|cells| per cell); (3) keep point p
  * with probability q(p) = min(1, [[TargetM]]·s(p)/2) by a pinned
  * md5 coin (exact 2^32-scale threshold), weight 1/q(p) — so the
  * weighted coreset cost is an UNBIASED estimator of the full cost
  * with the heavy-sensitivity tail kept deterministically (q = 1).
  *
  * Gate (engine-internal randomness, the q86 ok convention): for TWO
  * fixed evaluation solutions — the grid centers themselves and the
  * half-cell-SHIFTED grid (a solution the sample was NOT built
  * around) — the weighted coreset cost is within
  * [[TolPermille]]‰ of the exact full-corpus cost, plus coverage
  * (every occupied cell of the rough solution keeps ≥ 1
  * representative among deterministically-kept points ∪ sampled
  * ones is NOT required — the distance term alone bounds the
  * estimator) and size sanity (m within 4× of [[TargetM]]).
  *
  * Scale shape: two corpus passes (cell census + coin/weight
  * projection) and four aggregates; no corpus-sized collect, no
  * window — the coreset itself (≤ ~4·[[TargetM]] rows) is the only
  * small artifact.
  */
object Coreset {

  import Entry.Q

  /** Grid cell edge on the q340 integer plane (2× the DBSCAN eps —
    * coarse is fine: B only needs to be a constant-factor rough
    * solution). */
  val CellSize = 2L * Dbscan.DbEps
  val TargetM = 256L
  val TolPermille = 150L

  /** (n, m, fullCost0, coreCost0, fullCost1, coreCost1) — public for
    * the spec; solution 0 = grid centers, solution 1 = shifted grid.
    */
  def coresetStats(s: SparkSession, dir: String)
      : (Long, Long, Double, Double, Double, Double) = {
    import s.implicits._
    val pts = PlanBridge.checkpointResetStats(
      graft.core.Tables.embeddings(s, dir)
        .select($"vec_id",
          expr(s"CAST(FLOOR(${Dbscan.DbScale} * embedding[0]) AS BIGINT)")
            .as("x"),
          expr(s"CAST(FLOOR(${Dbscan.DbScale} * embedding[1]) AS BIGINT)")
            .as("y")))
    val n = pts.count()
    val g = CellSize
    // rough solution B: occupied grid cells, center at cell middle
    val withCell = pts.select($"vec_id", $"x", $"y",
      expr(s"CAST(FLOOR(CAST(x AS DOUBLE) / $g) AS BIGINT)").as("cx"),
      expr(s"CAST(FLOOR(CAST(y AS DOUBLE) / $g) AS BIGINT)").as("cy"))
    val cells = PlanBridge.checkpointResetStats(withCell.groupBy($"cx", $"cy")
      .agg(count(lit(1)).as("cnt")))
    val nCells = cells.count()
    // d²(p, its cell center) — exact integers ×4 (center at g/2 off
    // the cell corner: use 2x−(2cx·g+g) halves to stay integral)
    val withD = PlanBridge.checkpointResetStats(
      withCell.join(cells, Seq("cx", "cy"))
        .select($"vec_id", $"x", $"y", $"cx", $"cy", $"cnt",
          ((($"x" * 2 - ($"cx" * (2 * g) + g)) *
            ($"x" * 2 - ($"cx" * (2 * g) + g))) +
            (($"y" * 2 - ($"cy" * (2 * g) + g)) *
              ($"y" * 2 - ($"cy" * (2 * g) + g)))).as("d4")))
    val costB4 = withD.agg(sum($"d4")).head().getLong(0)
    // sensitivity and keep-probability per point (doubles; the coin
    // threshold is re-derived identically at scoring time)
    val sens = withD.select($"vec_id", $"x", $"y",
      (($"d4".cast("double") / costB4.toDouble) +
        lit(1.0) / (lit(nCells.toDouble) * $"cnt".cast("double"))).as("sv"))
      .withColumn("q",
        least(lit(1.0), lit(TargetM.toDouble) * $"sv" / 2.0))
      .withColumn("coin",
        conv(substring(md5(concat(lit("cs:"), $"vec_id".cast("string"))),
          1, 8), 16, 10).cast("double") / 4294967296.0)
    val core = PlanBridge.checkpointResetStats(sens.filter($"coin" < $"q")
      .select($"vec_id", $"x", $"y", (lit(1.0) / $"q").as("w")))
    val m = core.count()
    // evaluation solutions: grid centers (sol 0) and half-cell shift
    // (sol 1) — cost(P, C) = Σ min-center d²; computed EXACTLY the
    // same way for full corpus and weighted coreset
    def cost(points: DataFrame, weighted: Boolean, shift: Long): Double = {
      val cx = expr(s"CAST(FLOOR((CAST(x AS DOUBLE) - $shift) / $g) AS BIGINT)")
      val cy = expr(s"CAST(FLOOR((CAST(y AS DOUBLE) - $shift) / $g) AS BIGINT)")
      val d4 = points.select($"x", $"y",
        (if (weighted) $"w" else lit(1.0)).as("w"),
        cx.as("cx"), cy.as("cy"))
        .select((($"x" * 2 - ($"cx" * (2 * g) + g + 2 * shift)) *
          ($"x" * 2 - ($"cx" * (2 * g) + g + 2 * shift)) +
          ($"y" * 2 - ($"cy" * (2 * g) + g + 2 * shift)) *
            ($"y" * 2 - ($"cy" * (2 * g) + g + 2 * shift)))
          .cast("double").as("d4"), $"w")
      d4.agg(sum($"d4" * $"w")).head().getDouble(0) / 4.0
    }
    val full0 = cost(pts, weighted = false, 0L)
    val core0 = cost(core, weighted = true, 0L)
    val full1 = cost(pts, weighted = false, g / 2)
    val core1 = cost(core, weighted = true, g / 2)
    (n, m, full0, core0, full1, core1)
  }

  val q473CoresetSample: Q = (s, dir) => {
    import s.implicits._
    val (n, m, full0, core0, full1, core1) = coresetStats(s, dir)
    def close(f: Double, c: Double): Boolean =
      math.abs(c - f) * 1000.0 <= TolPermille * math.max(f, 1e-9)
    val ok = n > 0L && m > 0L && m <= 4L * TargetM &&
      close(full0, core0) && close(full1, core1)
    Seq((n, m > 0L && ok)).toDF("n_points", "ok")
  }

  val q473Sql: String =
    """SELECT CAST(COUNT(*) AS BIGINT) AS n_points, TRUE AS ok
      |FROM embeddings""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("q473_coreset_sample", q473CoresetSample, q473Sql))
}
