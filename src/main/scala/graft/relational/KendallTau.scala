package graft.relational

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.PlanBridge

import graft.core.Entry

/** KENDALL τ-b at ROW scale via DISTRIBUTED INVERSION COUNTING (Kendall
  * 1938; Knight JASA'66 for the O(n log n) inversion form) — the
  * pairwise complement to q492's Spearman on the SAME paired frame
  * (customer balance vs total spend). q386 already reads τ-b between
  * two DAILY series, where the calendar bounds the quadratic pair
  * join; at row scale (n = customers) no pair join survives, so the
  * discordant count D comes from merge-sort inversion counting,
  * decomposed to run distributed and EXACT:
  *
  * Rows get rank-derived bucket ids bx (rank by (x, y, uid)) and by
  * (rank by (y, x, uid)), [[TauBuckets]] equal-size buckets each way.
  * Then D = #{x_i<x_j ∧ y_i>y_j} splits into three disjoint,
  * correction-free parts:
  *
  *   - SAME bx: per x-bucket, inversions of the y sequence sorted by
  *     (x, y, uid) — same-x pairs sit y-ascending, so strict y_i>y_j
  *     never counts a tie;
  *   - SAME by, different bx: per y-bucket stripe, inversions of the
  *     y sequence sorted by (bx, y, uid) — same-bx pairs are handled
  *     above and sit y-ascending here (zero double count);
  *   - DIFFERENT bx and by: the B×B cell census — every such pair is
  *     discordant. Tie groups straddling a bucket boundary cannot leak
  *     in: within an x-tie group bx order follows (y, uid), so
  *     bx_i<bx_j ⟹ y_i≤y_j, killing y_i>y_j; within an (x,y)-tie
  *     group BOTH bucket orders follow uid, so bx_i<bx_j ∧ by_i>by_j
  *     is a contradiction. Hence the grid term needs no correction.
  *
  * Concordant pairs come from the exact identity
  * C = n(n−1)/2 − D − (T_x + T_y − T_xy) with the three tie censuses
  * as distributed aggs — and the DuckDB oracle computes C and D
  * DIRECTLY from the quadratic pair join, so the identity itself is
  * oracle-checked. τ_b = (C−D)/√((n₀−T_x)(n₀−T_y)) is ONE SHARED
  * FORMULA STRING over the exact integers (the q492 convention).
  *
  * Scale shape: two fullRank passes (two-level scan, no single-task
  * window), two mapGroups passes over [[TauBuckets]] groups of n/B
  * rows each (the merge sort is O(m log m) time / O(m) memory per
  * group — B scales ∝ n/executor-memory on a cluster; the grid census
  * is B² rows on the driver), three tie censuses. All counts BIGINT
  * (exact through n < 4.3·10⁹, the same n₀ bound int64 itself has).
  */
object KendallTau {

  import Entry.Q

  /** Buckets per axis: 32 locally (= shuffle partitions); raise ∝ n on
    * a cluster — per-group memory is n/B rows, grid census B² rows. */
  val TauBuckets = 32

  /** The τ-b formula, shared verbatim by both engines. */
  val TauFormula: String =
    "(CAST(n_c AS DOUBLE) - CAST(n_d AS DOUBLE)) " +
      "/ SQRT((CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1) / 2 " +
      "- CAST(tie_x AS DOUBLE)) " +
      "* (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1) / 2 " +
      "- CAST(tie_y AS DOUBLE)))"

  /** Strict inversions (pairs i<j with ys(i) > ys(j)) by merge sort —
    * O(m log m), runs once per bucket inside mapGroups. Mutates `ys`.
    */
  def countInversions(ys: Array[Long]): Long = {
    val buf = new Array[Long](ys.length)
    def go(lo: Int, hi: Int): Long = { // [lo, hi)
      if (hi - lo <= 1) return 0L
      val mid = (lo + hi) >>> 1
      var inv = go(lo, mid) + go(mid, hi)
      var i = lo; var j = mid; var k = lo
      while (i < mid && j < hi) {
        if (ys(i) <= ys(j)) { buf(k) = ys(i); i += 1 }
        else { buf(k) = ys(j); inv += (mid - i); j += 1 }
        k += 1
      }
      while (i < mid) { buf(k) = ys(i); i += 1; k += 1 }
      while (j < hi) { buf(k) = ys(j); j += 1; k += 1 }
      System.arraycopy(buf, lo, ys, lo, hi - lo)
      inv
    }
    go(0, ys.length)
  }

  /** (n, n0, n_c, n_d, tie_x, tie_y, tie_xy) over a (x, y, uid) frame
    * — public for the spec, which cross-checks n_d against a
    * brute-force quadratic count on tie-heavy synthetic data.
    */
  def tauStats(df: DataFrame): (Long, Long, Long, Long, Long, Long, Long) = {
    val s = df.sparkSession
    import s.implicits._
    val n = df.count()
    require(n > 1, "tau needs at least two rows")
    val b = TauBuckets
    val ranked = PlanBridge.checkpointResetStats(QuantileNormalize.fullRank(
      QuantileNormalize.fullRank(df, Seq(), Seq("x", "y", "uid"), "rx"),
      Seq(), Seq("y", "x", "uid"), "ry")
      .withColumn("bx", expr(s"((rx - 1) * $b) div ${n}L"))
      .withColumn("by", expr(s"((ry - 1) * $b) div ${n}L")))
    // same-bx inversions: sorted by (x, y, uid), strict y-inversions
    val dX = ranked.select($"bx", $"x", $"y", $"uid")
      .as[(Long, Long, Long, Long)]
      .groupByKey(_._1)
      .mapGroups { (_, it) =>
        val a = it.toArray
        scala.util.Sorting.quickSort(a)(Ordering.by(t => (t._2, t._3, t._4)))
        countInversions(a.map(_._3))
      }.reduce(_ + _)
    // same-by/different-bx inversions: sorted by (bx, y, uid)
    val dY = ranked.select($"by", $"bx", $"y", $"uid")
      .as[(Long, Long, Long, Long)]
      .groupByKey(_._1)
      .mapGroups { (_, it) =>
        val a = it.toArray
        scala.util.Sorting.quickSort(a)(Ordering.by(t => (t._2, t._3, t._4)))
        countInversions(a.map(_._3))
      }.reduce(_ + _)
    // grid: every (bx_i<bx_j, by_i>by_j) cross-cell pair is discordant
    val m = Array.ofDim[Long](b, b)
    ranked.groupBy($"bx", $"by").agg(count(lit(1)).as("c"))
      .as[(Long, Long, Long)].collect()
      .foreach { case (bx, by, c) => m(bx.toInt)(by.toInt) = c }
    // S(bx, by) = Σ_{bx'≤bx, by'≥by} m — 2-D prefix/suffix DP
    val sArr = Array.ofDim[Long](b, b)
    for (bx <- 0 until b; by <- (b - 1) to 0 by -1) {
      sArr(bx)(by) = m(bx)(by) +
        (if (bx > 0) sArr(bx - 1)(by) else 0L) +
        (if (by < b - 1) sArr(bx)(by + 1) else 0L) -
        (if (bx > 0 && by < b - 1) sArr(bx - 1)(by + 1) else 0L)
    }
    var dGrid = 0L
    for (bx <- 1 until b; by <- 0 until b - 1)
      dGrid += m(bx)(by) * sArr(bx - 1)(by + 1)
    val nd = dX + dY + dGrid
    // tie censuses (distributed aggs, exact BIGINT)
    def tiePairs(cols: Seq[String]): Long = df
      .groupBy(cols.map(col): _*).agg(count(lit(1)).as("c"))
      .agg(coalesce(sum(expr("c * (c - 1) div 2")), lit(0L)))
      .as[Long].head()
    val n1 = tiePairs(Seq("x"))
    val n2 = tiePairs(Seq("y"))
    val n12 = tiePairs(Seq("x", "y"))
    val n0 = n * (n - 1) / 2
    val nc = n0 - nd - n1 - n2 + n12
    (n, n0, nc, nd, n1, n2, n12)
  }

  val q500KendallTau: Q = (s, dir) => {
    import s.implicits._
    val p = SpearmanCorr.pairs(s, dir)
      .select($"x", $"y", $"c_custkey".as("uid"))
    val (n, _, nc, nd, n1, n2, n12) = tauStats(p)
    Seq((n, nc, nd, n1, n2, n12))
      .toDF("n", "n_c", "n_d", "tie_x", "tie_y", "tie_xy")
      .select($"n", $"n_c", $"n_d", $"tie_x", $"tie_y", $"tie_xy",
        expr(TauFormula).as("tau_b"))
  }

  val q500Sql: String =
    s"""WITH spend AS MATERIALIZED (
      |  SELECT o_custkey AS c_custkey,
      |    CAST(SUM(CAST(FLOOR(100 * o_totalprice) AS BIGINT)) AS BIGINT)
      |      AS y
      |  FROM orders GROUP BY 1),
      |p AS MATERIALIZED (
      |  SELECT c.c_custkey AS uid,
      |    CAST(FLOOR(100 * c_acctbal) AS BIGINT) AS x,
      |    COALESCE(y, 0) AS y
      |  FROM customer c LEFT JOIN spend USING (c_custkey)),
      |cd AS MATERIALIZED (
      |  SELECT
      |    CAST(SUM(CASE WHEN (a.x < b.x AND a.y < b.y)
      |      OR (a.x > b.x AND a.y > b.y) THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_c,
      |    CAST(SUM(CASE WHEN (a.x < b.x AND a.y > b.y)
      |      OR (a.x > b.x AND a.y < b.y) THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_d
      |  FROM p a JOIN p b ON a.uid < b.uid),
      |tx AS (SELECT CAST(SUM(c * (c - 1) // 2) AS BIGINT) AS tie_x
      |  FROM (SELECT COUNT(*) AS c FROM p GROUP BY x)),
      |ty AS (SELECT CAST(SUM(c * (c - 1) // 2) AS BIGINT) AS tie_y
      |  FROM (SELECT COUNT(*) AS c FROM p GROUP BY y)),
      |txy AS (SELECT CAST(SUM(c * (c - 1) // 2) AS BIGINT) AS tie_xy
      |  FROM (SELECT COUNT(*) AS c FROM p GROUP BY x, y)),
      |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM p)
      |SELECT n, n_c, n_d, tie_x, tie_y, tie_xy, $TauFormula AS tau_b
      |FROM nn, cd, tx, ty, txy""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("q500_kendall_tau", q500KendallTau, q500Sql))
}
