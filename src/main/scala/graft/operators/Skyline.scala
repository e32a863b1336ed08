package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.{Entry, Tables => T}

/** 2-D skyline (Pareto frontier) — the "best tradeoff" operator: keep
  * rows no other row dominates, where q dominates p iff q is ≤ on the
  * minimized axis AND ≥ on the maximized axis AND strictly better on at
  * least one. Equal points do not dominate each other (both survive).
  *
  * Relational engines have no skyline primitive (the NOT EXISTS
  * spelling is a quadratic self-join); the scalable algorithm rides
  * skyline's decomposability: skyline(A ∪ B) = skyline(skyline(A) ∪
  * skyline(B)). Phase 1 computes each partition's frontier in a
  * map-only `mapPartitions` (sort by (min asc, max desc), one linear
  * scan) — a massive data reduction with NO shuffle; phase 2 runs the
  * identical routine once over the union of local frontiers in a
  * single task (`repartition(1)` — an executor task, not a driver
  * collect). The final input is Σ|local frontiers|, which for
  * correlated/independent dimensions is tiny; only adversarially
  * ANTI-correlated data degrades toward |input| (the standard skyline
  * caveat — at that point the answer itself is that large).
  *
  * mapPartitions is justified here (the (d) fallback of the custom-op
  * preference order): the per-partition scan keeps running state (best
  * max-axis value seen among strictly-cheaper groups) that SQL window
  * frames only express over a GLOBAL sort — which would funnel the
  * whole relation through one range-window partition. SkylineSpec pins
  * parity against both that window spelling and a brute-force oracle.
  */
object Skyline {

  import Entry.Q

  /** One linear frontier scan over (id, minAxis, maxAxis) tuples.
    * Survivors: within each minAxis group, the rows carrying the group
    * max of maxAxis, kept only if that beats every strictly-cheaper
    * group's best.
    */
  private[operators] def frontierScan(
      rows: Array[(Long, Double, Double)]): Iterator[(Long, Double, Double)] = {
    if (rows.isEmpty) return Iterator.empty
    val sorted = rows.sortBy { case (_, mn, mx) => (mn, -mx) }
    val out = Array.newBuilder[(Long, Double, Double)]
    var i = 0
    var bestStrict = Double.NegativeInfinity
    while (i < sorted.length) {
      val mn = sorted(i)._2
      // group = run of equal minAxis; sorted desc by maxAxis
      val groupMax = sorted(i)._3
      if (groupMax > bestStrict) {
        var j = i
        while (j < sorted.length && sorted(j)._2 == mn &&
            sorted(j)._3 == groupMax) {
          out += sorted(j)
          j += 1
        }
      }
      // skip rest of the group
      while (i < sorted.length && sorted(i)._2 == mn) i += 1
      bestStrict = math.max(bestStrict, groupMax)
    }
    out.result().iterator
  }

  /** Distributed skyline of `df(idCol minimized-axis maximized-axis)`:
    * local frontier per partition, then one final frontier task.
    */
  def frontier2d(df: DataFrame, idCol: String, minCol: String,
      maxCol: String): DataFrame = {
    val s = df.sparkSession
    import s.implicits._
    val typed = df.select(
      col(idCol).cast("long"), col(minCol).cast("double"),
      col(maxCol).cast("double")).as[(Long, Double, Double)]
    val local = typed.mapPartitions(it => frontierScan(it.toArray))
    local.repartition(1)
      .mapPartitions(it => frontierScan(it.toArray))
      .toDF(idCol, minCol, maxCol)
  }

  /** q198 — price/size Pareto frontier of the part table: parts where
    * no part is both cheaper-or-equal and larger-or-equal (strictly
    * better in one). Raw-column output (a 2-decimal double and two
    * integers) — the oracle compare has no float-aggregation surface
    * at all; the NOT EXISTS oracle is the quadratic spelling this
    * operator replaces.
    */
  val q198Skyline: Q = (s, dir) => {
    val part = T.part(s, dir)
    frontier2d(part, "p_partkey", "p_retailprice", "p_size")
      .selectExpr("p_partkey", "p_retailprice",
        "CAST(p_size AS INT) AS p_size")
      .orderBy("p_partkey")
  }

  val q198Sql: String =
    """SELECT p_partkey, p_retailprice, p_size
      |FROM part p
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM part q
      |  WHERE q.p_retailprice <= p.p_retailprice AND q.p_size >= p.p_size
      |    AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size))
      |ORDER BY p_partkey""".stripMargin

  val entries: Seq[Entry] = Seq(Entry("q198_skyline", q198Skyline, q198Sql))
}
