package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.PlanBridge

import graft.core.Entry

/** q434 — DeLong PAIRED AUC comparison (DeLong, DeLong &
  * Clarke-Pearson 1988) of the two trained text classifiers on the
  * SHARED held-out split: the score-level complement of q387's
  * label-level κ/McNemar agreement. NaiveBayes contributes its exact
  * integer micro-nat posterior margin (classScores — the surface
  * predictions() argmaxes away), LogisticRegression its raw linear
  * margin quantized to micro units (NOT the sigmoid: sigmoid
  * saturates to exactly 1.0 at large |margin| and would pool distinct
  * ranks into a spurious tie class).
  *
  * The statistic is built from DeLong's STRUCTURAL COMPONENTS, kept
  * exact-integer as long as possible (the q285/q342 rank-statistic
  * discipline): for positives X (m of them) and negatives Y (n),
  * ψ(x,y) = 1/½/0 for x>y / x=y / x<y, and
  *   v10₂(Xᵢ) = Σⱼ 2ψ(Xᵢ,Yⱼ) = 2·nn_below(sᵢ) + nn_tied(sᵢ)
  *   v01₂(Yⱼ) = Σᵢ 2ψ(Xᵢ,Yⱼ) = 2·np_above(sⱼ) + np_tied(sⱼ)
  * — per-doc BIGINTs computed from ONE distinct-score prefix window
  * (values-bounded, the q291 discipline), joined back per doc so the
  * PAIRED covariance S₁₀ᴬᴮ sees (v2ᴬ, v2ᴮ) on the same document.
  * AUC = Σ v10₂ / (2mn); Var(AUCᴬ−AUCᴮ) = (s₁₀ᴬᴬ+s₁₀ᴮᴮ−2s₁₀ᴬᴮ)/m +
  * (s₀₁ᴬᴬ+s₀₁ᴮᴮ−2s₀₁ᴬᴮ)/n; z = ΔAUC/√Var.
  *
  * The gate folds the EXACT-INTEGER structural identity — for each
  * classifier, Σ_{positives} v10₂ == Σ_{negatives} v01₂ (both count
  * 2·Σψ over all m·n pairs; any window/join slip breaks the equality
  * exactly) — plus: both AUCs ≥ [[AucFloorMicro]]µ (measured: NB
  * 1000000µ everywhere, LR 965838µ/997198µ/987317µ at
  * sf0.001/0.01/0.1 — near-ceiling on the planted concept), Var ≥ 0
  * (a Cauchy–Schwarz consequence per class, so a negative reading is
  * a bug), and the DIRECTIONAL check aucNB ≥ aucLR (NB keys on the
  * marker tokens exactly, so it is perfect on the planted concept by
  * construction; LR pays 64-bucket hash collisions). Deliberately NOT
  * a |z| non-significance cap: the z statistic GROWS with the test
  * split (measured |z| 1.43/0.71/2.43 at sf0.001/0.01/0.1 and ~30 on
  * the ×100 sf1 slice) because the NB-over-LR gap is REAL and more
  * data makes a real gap significant — capping z would pin the gate
  * to one sample size, the q345-eps class of mistake.
  *
  * Scale shape: two distinct-score windows (values-bounded) + two
  * equi-joins back + one per-class partial agg; driver traffic is the
  * 2-row moment frame. The v2 moment sums are BIGINT-exact here
  * (v2 ≤ 2·max(m,n); Σv2² fits Long through sf1 with 10⁹ headroom);
  * a 100 TB deployment would center v2 before the second moment or
  * widen to DECIMAL(38,0) — noted, not needed at tested SFs.
  *
  * Reference scope: joelanford/console-etl has no model-eval surface
  * (main.go:91-333 is catalog plumbing); this is north-star scope.
  */
object DelongAuc {

  import Entry.Q

  /** Both AUCs must clear this (micro units). Measured: NB 1000000µ
    * everywhere; LR 965838µ / 997198µ / 987317µ at sf0.001/0.01/0.1.
    */
  val AucFloorMicro = 950000L

  /** Paired per-doc margins on the held-out split:
    * (doc_id, y, sa, sb) — sa the NB integer micro-nat two-class
    * margin, sb the LR margin in integer micro units.
    */
  def pairedScores(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val nbm = NaiveBayes.classScores(s, dir)
      .groupBy($"doc_id", $"true_lang")
      .agg(sum(when($"lang" === "pro_join", $"score")
        .otherwise(-$"score")).as("sa"))
      .select($"doc_id",
        ($"true_lang" === "pro_join").cast("long").as("y"), $"sa")
    val lr = LogisticRegression.fitEval(s, dir).scored
      .select($"doc_id", $"y".cast("long").as("y"),
        floor($"m" * 1000000.0).cast("long").as("sb"))
    nbm.join(lr, Seq("doc_id", "y"))
  }

  /** Per-doc structural components for the score column `sc` of
    * `paired` (doc_id, y, <sc>): (doc_id, y, v2) with v2 = v10₂ for
    * positives, v01₂ for negatives (both scaled by 2 to stay integer
    * through the ½-tie term).
    */
  private[llm] def components(paired: DataFrame, sc: String): DataFrame = {
    val s = paired.sparkSession
    import s.implicits._
    val byScore = paired.groupBy(col(sc).as("s"))
      .agg(sum($"y").as("np_s"), (count(lit(1)) - sum($"y")).as("nn_s"))
    // the two-level prefix sums (the r10 verdict's scale note: a bare
    // Window.orderBy(s) is one task over LR's near-per-doc-distinct
    // margins): nn_below is the exclusive prefix of nn, np_above falls
    // out as total_np − inclusive-prefix(np)
    val pre = graft.relational.QuantileNormalize
      .fullCumSum(byScore, Seq($"s"), "nn_s" -> "nn_cum", "np_s" -> "np_cum")
      .crossJoin(broadcast(byScore.agg(sum($"np_s").as("total_np"))))
      .withColumn("nn_below", $"nn_cum" - $"nn_s")
      .withColumn("np_above", $"total_np" - $"np_cum")
    paired.select($"doc_id", $"y", col(sc).as("s"))
      .join(pre, "s")
      .select($"doc_id", $"y",
        when($"y" === 1L, $"nn_below" * 2 + $"nn_s")
          .otherwise($"np_above" * 2 + $"np_s").as("v2"))
  }

  /** All q434 numbers: (m, n, aucAMicro, aucBMicro, zMicro,
    * identityOkA, identityOkB, varNonNeg).
    */
  def delongStats(s: SparkSession, dir: String)
      : (Long, Long, Long, Long, Long, Boolean, Boolean, Boolean) = {
    import s.implicits._
    val paired = PlanBridge.checkpointResetStats(pairedScores(s, dir))
    val j = components(paired, "sa").withColumnRenamed("v2", "va")
      .join(components(paired, "sb").withColumnRenamed("v2", "vb"),
        Seq("doc_id", "y"))
    // 2-row exact-moment frame (per class): the only driver traffic.
    val rows = j.groupBy($"y").agg(
      count(lit(1)).as("cnt"),
      sum($"va").as("s_a"), sum($"vb").as("s_b"),
      sum($"va" * $"va").as("s_aa"), sum($"vb" * $"vb").as("s_bb"),
      sum($"va" * $"vb").as("s_ab"))
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    val (_, m, pA, pB, pAA, pBB, pAB) =
      rows.getOrElse(1L, (1L, 0L, 0L, 0L, 0L, 0L, 0L))
    val (_, n, qA, qB, qAA, qBB, qAB) =
      rows.getOrElse(0L, (0L, 0L, 0L, 0L, 0L, 0L, 0L))
    // Exact structural identity: Σ_pos v10₂ == Σ_neg v01₂ (= 2Σψ).
    val idA = pA == qA
    val idB = pB == qB
    val aucA = pA.toDouble / (2.0 * m * n)
    val aucB = pB.toDouble / (2.0 * m * n)
    // Sample covariances of V10 = v2/(2n) over positives, V01 = v2/(2m)
    // over negatives (doubles only from here — the rank counting above
    // is already exact).
    def cov(sum1: Long, sum2: Long, sum12: Long, cnt: Long,
        scale: Double): Double =
      if (cnt < 2) 0.0
      else (sum12.toDouble - sum1.toDouble * sum2.toDouble / cnt) /
        ((cnt - 1).toDouble * scale * scale)
    val s10aa = cov(pA, pA, pAA, m, 2.0 * n)
    val s10bb = cov(pB, pB, pBB, m, 2.0 * n)
    val s10ab = cov(pA, pB, pAB, m, 2.0 * n)
    val s01aa = cov(qA, qA, qAA, n, 2.0 * m)
    val s01bb = cov(qB, qB, qBB, n, 2.0 * m)
    val s01ab = cov(qA, qB, qAB, n, 2.0 * m)
    val variance = (s10aa + s10bb - 2.0 * s10ab) / m +
      (s01aa + s01bb - 2.0 * s01ab) / n
    val z =
      if (variance > 0.0) (aucA - aucB) / math.sqrt(variance) else 0.0
    (m, n, math.floor(1000000.0 * aucA).toLong,
      math.floor(1000000.0 * aucB).toLong,
      math.floor(1000000.0 * math.abs(z)).toLong,
      idA, idB, variance >= 0.0)
  }

  val q434DelongPairedAuc: Q = (s, dir) => {
    import s.implicits._
    val (m, n, aucA, aucB, _, idA, idB, varOk) = delongStats(s, dir)
    val ok = idA && idB && varOk &&
      aucA >= AucFloorMicro && aucB >= AucFloorMicro && aucA >= aucB
    Seq((m, n, ok)).toDF("n_pos", "n_neg", "ok")
  }

  /** Oracle: the data-derivable held-out class sizes (the q321 gate
    * convention — model internals can't be replayed in DuckDB, the
    * counts and `ok` can).
    */
  val q434Sql: String =
    s"""WITH planted AS (
       |  SELECT doc_id, cj > cs AS pos FROM (SELECT doc_id,
       |      (length(text) - length(replace(text, 'join', ''))) / 4 AS cj,
       |      (length(text) - length(replace(text, 'scan', ''))) / 4 AS cs
       |    FROM documents)
       |  WHERE abs(cj - cs) >= ${NaiveBayes.ConceptMargin})
       |SELECT
       |  (SELECT COUNT(*) FROM planted WHERE doc_id % 5 = 0 AND pos)
       |    AS n_pos,
       |  (SELECT COUNT(*) FROM planted WHERE doc_id % 5 = 0 AND NOT pos)
       |    AS n_neg,
       |  TRUE AS ok""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("q434_delong_paired_auc", q434DelongPairedAuc, q434Sql))
}
