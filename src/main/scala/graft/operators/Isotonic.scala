package graft.operators

import org.apache.spark.sql.functions._

import graft.core.{Entry, Tables => T}

/** Grouped ISOTONIC regression via pool-adjacent-violators (PAVA,
  * Barlow et al. 1972 — the public textbook algorithm): fit the best
  * monotone-nondecreasing sequence to each group's daily series in
  * least squares. The ML-pipeline face of this operator is classifier
  * CALIBRATION (isotonic calibration of model scores); the analytics
  * face is monotone trend extraction that, unlike a fitted line,
  * never inverts locally.
  *
  * Exact-arithmetic discipline: inputs are exact BIGINT cents, and
  * PAVA blocks are kept as (sum, count) RATIONALS — block means are
  * never materialized as doubles, comparisons cross-multiply in
  * BigInt — so the fit, its invariants, and the gate are all integer
  * exact (the q208 num/den convention applied to an iterative
  * algorithm).
  *
  * Scale shape: one (group, day) partial aggregation is the only
  * corpus-sized job; PAVA itself runs per group over the
  * calendar-bounded daily sequence inside `mapGroups` — the typed
  * KeyValueGroupedDataset seam for genuinely sequential per-group
  * logic (single forward pass with a block stack, O(days) per group).
  */
object Isotonic {

  import Entry.Q

  /** PAVA over (x, y) pairs sorted by x: returns blocks as
    * (sum, count) with strictly increasing means. Pure and
    * deterministic — the spec pins textbook cases.
    */
  def pava(ys: Seq[Long]): Seq[(Long, Long)] = {
    val stack = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    ys.foreach { y =>
      var (s, c) = (y, 1L)
      // merge while the new block's mean <= previous block's mean
      // (s/c <= ps/pc  <=>  s*pc <= ps*c, exact in BigInt)
      while (stack.nonEmpty && {
        val (ps, pc) = stack.last
        BigInt(s) * pc <= BigInt(ps) * c
      }) {
        val (ps, pc) = stack.remove(stack.length - 1)
        s += ps; c += pc
      }
      stack += ((s, c))
    }
    stack.toSeq
  }

  /** PAVA over PRE-POOLED points — each input is a (sum, weight) cell
    * of points sharing one x value. Pooling ties BEFORE the fit is
    * what makes the fitted step function single-valued at every x
    * (unpooled PAVA can split a tie run across blocks, giving tied
    * scores two different fitted values). Returns merged blocks as
    * (sum, weight, nInputCells) so callers can walk the input sequence
    * to recover each block's first x. Same exact BigInt mean
    * comparison as [[pava]]; `pava(ys)` ≡ `pavaPooled(ys.map((_, 1)))`
    * modulo the cell counter.
    */
  def pavaPooled(pts: Seq[(Long, Long)]): Seq[(Long, Long, Int)] = {
    val stack = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Int)]
    pts.foreach { case (s0, c0) =>
      var (s, c, k) = (s0, c0, 1)
      while (stack.nonEmpty && {
        val (ps, pc, _) = stack.last
        BigInt(s) * pc <= BigInt(ps) * c
      }) {
        val (ps, pc, pk) = stack.remove(stack.length - 1)
        s += ps; c += pc; k += pk
      }
      stack += ((s, c, k))
    }
    stack.toSeq
  }

  /** q277 — the isotonic-fit gate, the q74 (n, ok) convention: per
    * event type, PAVA over the exact daily-cents series; `ok` requires
    *   - TOTAL PRESERVATION: Σ block sums == Σ raw cents (PAVA pools
    *     by averaging, so totals must survive exactly);
    *   - COUNT PRESERVATION: Σ block counts == number of days;
    *   - STRICT MONOTONICITY of block means (adjacent pooled blocks
    *     with equal-or-inverted means would have merged — the PAVA
    *     structural invariant, cross-multiplied in BigInt);
    *   - nonempty blocks.
    * `n_days` is the per-type day count DuckDB recomputes
    * independently.
    */
  val q277IsotonicGate: Q = (s, dir) => {
    import s.implicits._
    val daily = T.events(s, dir)
      .select($"event_type", to_date($"ts").as("day"),
        expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)").as("c"))
      .groupBy($"event_type", $"day").agg(sum($"c").as("y"))
      .select($"event_type", $"day".cast("string").as("day"), $"y")
      .as[(String, String, Long)]
    daily.groupByKey(_._1)
      .mapGroups { (tpe, it) =>
        val ys = it.toSeq.sortBy(_._2).map(_._3)
        val blocks = pava(ys)
        val totalOk = blocks.map(_._1).sum == ys.sum
        val countOk = blocks.map(_._2).sum == ys.length.toLong
        val strictOk = blocks.zip(blocks.tail).forall {
          case ((s1, c1), (s2, c2)) => BigInt(s1) * c2 < BigInt(s2) * c1
        }
        val nonEmpty = blocks.nonEmpty && blocks.forall(_._2 > 0)
        (tpe, ys.length.toLong, totalOk && countOk && strictOk && nonEmpty)
      }
      .toDF("event_type", "n_days", "ok")
      .orderBy($"event_type")
  }

  val q277Sql: String =
    """SELECT event_type,
      |  CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_days,
      |  TRUE AS ok
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("q277_isotonic_gate", q277IsotonicGate, q277Sql))
}
