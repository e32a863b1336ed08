package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.PlanBridge

import graft.core.{Entry, Tables => T}

/** Alternating least squares matrix factorization (Koren/Bell/Volinsky
  * 2009; Zhou et al. 2008 — THE canonical distributed-Spark workload)
  * over the customer×part purchase matrix: rank-[[Rank]] factors fit
  * by alternating ridge solves, the TRAINED-model leg of the recsys
  * family (q236 neighborhood model, q312 evaluation harness).
  *
  * Each half-sweep solves one side's per-entity ridge regression
  * exactly: A_u = Σ f_j f_jᵀ + λI, b_u = Σ r f_j, w_u = A_u⁻¹ b_u via
  * an in-closure 8×8 Cholesky — per-row bounded work on a
  * collect_list of the entity's OWN ratings (history-bounded, the
  * q284 discipline), never a driver solve. Item factors initialize
  * from a splitmix-style integer hash — deterministic, no RNG.
  *
  * The gate leans on ALS's own theorem: every half-sweep minimizes the
  * regularized objective exactly in its block, so the objective is
  * monotonically non-increasing — checked across all measured sweeps
  * (float-noise tolerance only), plus final observed-RMSE beating the
  * global-mean baseline and finite factors. Oracle is the q267 gate
  * convention (data-derivable counts + TRUE).
  *
  * Scale shape: per half-sweep ONE equi-join (ratings ⋈ current side's
  * factors on the shared key) + ONE partial-agged groupBy collect to
  * history-bounded lists; objective eval is one more join + sum. No
  * broadcast of either factor matrix (both scale with entities), no
  * driver-side matrix beyond the 8×8 per-row solve.
  */
object Als {

  import Entry.Q

  val Rank = 8
  val Lambda = 0.01
  val Sweeps = 2
  /** The fit must beat the global-mean baseline by ≥2× on the planted
    * rank-2 target (measured ≤ ~250‰ at sf0.001/sf0.01; a broken
    * solver sits at 1000‰). */
  val MaxRmseRatioPermille = 500L

  /** Planted rank-2 value on the REAL sparsity pattern: the fixture's
    * purchase counts are near-constant (no latent structure — ALS
    * measured WORSE than the mean baseline on them, ratio 1201‰), so
    * the observed (cust, part) cells keep their real positions but
    * carry a deterministic low-rank value the solver must RECOVER —
    * the planted-concept discipline (q319) applied to factorization.
    */
  private[llm] def plantedRating(cust: Long, part: Long): Double =
    2.0 * u01(cust, 1) * u01(part, 3) + u01(cust, 2) * u01(part, 4)

  private def u01(id: Long, salt: Int): Double = {
    var z = id * 0x9E3779B97F4A7C15L + salt * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z = z ^ (z >>> 31)
    (z.toDouble / Long.MaxValue.toDouble + 1.0) / 2.0
  }

  private def hashInit(id: Long, d: Int): Double = {
    var z = id * 0x9E3779B97F4A7C15L + d * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z = z ^ (z >>> 31)
    // [-0.5, 0.5) scaled down so initial predictions are small
    ((z.toDouble / Long.MaxValue.toDouble) / 2.0) / Rank
  }

  /** Solve (A + λI) x = b for the packed upper-triangular A (rank×rank
    * symmetric) via Cholesky — the per-entity ridge solve.
    */
  private def ridgeSolve(a: Array[Double], b: Array[Double],
      lambda: Double): Array[Double] = {
    val n = b.length
    val m = Array.ofDim[Double](n, n)
    var off = 0
    for (i <- 0 until n; j <- i until n) {
      m(i)(j) = a(off); m(j)(i) = a(off); off += 1
    }
    for (i <- 0 until n) m(i)(i) += lambda
    // Cholesky decomposition m = L Lᵀ
    val l = Array.ofDim[Double](n, n)
    for (i <- 0 until n; j <- 0 to i) {
      var s = m(i)(j)
      for (k <- 0 until j) s -= l(i)(k) * l(j)(k)
      if (i == j) l(i)(i) = math.sqrt(math.max(s, 1e-12))
      else l(i)(j) = s / l(j)(j)
    }
    // forward then backward substitution
    val y = new Array[Double](n)
    for (i <- 0 until n) {
      var s = b(i)
      for (k <- 0 until i) s -= l(i)(k) * y(k)
      y(i) = s / l(i)(i)
    }
    val x = new Array[Double](n)
    for (i <- (n - 1) to 0 by -1) {
      var s = y(i)
      for (k <- (i + 1) until n) s -= l(k)(i) * x(k)
      x(i) = s / l(i)(i)
    }
    x
  }

  /** One half-sweep: solve `side` factors from fixed `other` factors.
    * ratings: (k_solve, k_fixed, r); other: (k_fixed, f).
    */
  private def halfSweep(ratings: DataFrame, other: DataFrame): DataFrame = {
    val s = ratings.sparkSession
    import s.implicits._
    ratings.join(other, "k_fixed")
      .select($"k_solve", $"r", $"f")
      .as[(Long, Double, Array[Double])]
      .groupByKey(_._1)
      .mapGroups { (k, it) =>
        val n = Rank
        val a = new Array[Double](n * (n + 1) / 2)
        val b = new Array[Double](n)
        it.foreach { case (_, r, f) =>
          var off = 0
          var i = 0
          while (i < n) {
            b(i) += r * f(i)
            var j = i
            while (j < n) { a(off) += f(i) * f(j); j += 1; off += 1 }
            i += 1
          }
        }
        (k, ridgeSolve(a, b, Lambda))
      }
      .toDF("k_solve", "f")
  }

  private def sqNorm(factors: DataFrame): Double = {
    val s = factors.sparkSession
    import s.implicits._
    factors.select($"f").as[Array[Double]]
      .map(f => { var n = 0.0; var i = 0
        while (i < f.length) { n += f(i) * f(i); i += 1 }; n })
      .reduce(_ + _)
  }

  private def sqErr(ratings: DataFrame, users: DataFrame,
      items: DataFrame): Double = {
    val s = ratings.sparkSession
    import s.implicits._
    ratings
      .join(users.select($"k_solve".as("cust"), $"f".as("fu")), "cust")
      .join(items.select($"k_solve".as("part"), $"f".as("fi")), "part")
      .select($"r", $"fu", $"fi").as[(Double, Array[Double], Array[Double])]
      .map { case (r, fu, fi) =>
        var d = 0.0
        var i = 0
        while (i < Rank) { d += fu(i) * fi(i); i += 1 }
        val e = r - d
        e * e
      }.reduce(_ + _)
  }

  final case class Fit(nUsers: Long, nItems: Long, nObs: Long,
    objs: Seq[Double], rmse: Double, baseRmse: Double,
    ratioPermille: Long, monotone: Boolean, finite: Boolean)

  def fitEval(s: SparkSession, dir: String): Fit = {
    import s.implicits._
    val ratings = PlanBridge.checkpointResetStats(T.lineitem(s, dir)
      .join(T.orders(s, dir), $"l_orderkey" === $"o_orderkey")
      .select($"o_custkey".as("cust"), $"l_partkey".as("part")).distinct()
      .as[(Long, Long)]
      .map { case (c, p) => (c, p, plantedRating(c, p)) }
      .toDF("cust", "part", "r"))
    val nObs = ratings.count()
    val nUsers = ratings.select($"cust").distinct().count()
    val nItems = ratings.select($"part").distinct().count()

    var items = PlanBridge.checkpointResetStats(
      ratings.select($"part".as("k_solve")).distinct()
        .map { r =>
          val id = r.getLong(0)
          (id, Array.tabulate(Rank)(d => hashInit(id, d)))
        }.toDF("k_solve", "f"))
    var users: DataFrame = null

    val objs = collection.mutable.ArrayBuffer[Double]()
    for (_ <- 1 to Sweeps) {
      users = PlanBridge.checkpointResetStats(halfSweep(
        ratings.select($"cust".as("k_solve"), $"part".as("k_fixed"), $"r"),
        items.select($"k_solve".as("k_fixed"), $"f")))
      items = PlanBridge.checkpointResetStats(halfSweep(
        ratings.select($"part".as("k_solve"), $"cust".as("k_fixed"), $"r"),
        users.select($"k_solve".as("k_fixed"), $"f")))
      // The REGULARIZED objective — the quantity ALS provably never
      // increases (raw SE alone carries no such guarantee).
      objs += sqErr(ratings, users, items) +
        Lambda * (sqNorm(users) + sqNorm(items))
    }

    val finalSqErr = sqErr(ratings, users, items)
    val rmse = math.sqrt(finalSqErr / nObs)
    // Baseline: predict the global mean rating everywhere.
    val stats = ratings.agg(sum($"r").as("s"), sum($"r" * $"r").as("s2")).head()
    val mean = stats.getDouble(0) / nObs
    val baseRmse = math.sqrt(
      math.max(stats.getDouble(1) / nObs - mean * mean, 1e-12))
    val ratioPermille = (1000.0 * rmse / baseRmse).toLong

    val monotone = objs.toSeq.sliding(2).forall {
      case Seq(a: Double, b: Double) => b <= a * (1 + 1e-9) + 1e-9
      case _ => true
    }
    val finite = users.select($"f").as[Array[Double]]
      .map(f => f.forall(x => !x.isNaN && !x.isInfinite)).reduce(_ && _) &&
      items.select($"f").as[Array[Double]]
        .map(f => f.forall(x => !x.isNaN && !x.isInfinite)).reduce(_ && _)
    Fit(nUsers, nItems, nObs, objs.toSeq, rmse, baseRmse, ratioPermille,
      monotone, finite)
  }

  val q328AlsGate: Q = (s, dir) => {
    val f = fitEval(s, dir)
    val ok = f.monotone && f.finite &&
      f.ratioPermille <= MaxRmseRatioPermille
    s.createDataFrame(Seq(
      (f.nUsers, f.nItems, f.nObs, Rank.toLong, ok)
    )).toDF("n_users", "n_items", "n_obs", "rank", "ok")
  }

  val q328Sql: String =
    s"""WITH r AS (
       |  SELECT o_custkey AS cust, l_partkey AS part
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |  GROUP BY 1, 2)
       |SELECT
       |  (SELECT COUNT(DISTINCT cust) FROM r) AS n_users,
       |  (SELECT COUNT(DISTINCT part) FROM r) AS n_items,
       |  (SELECT COUNT(*) FROM r) AS n_obs,
       |  CAST($Rank AS BIGINT) AS rank, TRUE AS ok""".stripMargin

  val entries: Seq[Entry] = Seq(Entry("q328_als_gate", q328AlsGate, q328Sql))
}
