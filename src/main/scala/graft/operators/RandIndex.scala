package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.PlanBridge

import graft.core.{Entry, Tables => T}

/** ADJUSTED RAND INDEX between two labelings (Hubert–Arabie J.
  * Classification'85 — THE chance-corrected EXTERNAL clustering
  * agreement measure: the cluster-eval family scores one labeling
  * against geometry (silhouette q341) or against a graph (modularity
  * q318, conductance q560) but had nothing that compares TWO
  * labelings; ARI is what answers "did another round of the algorithm
  * actually change the partition?" and "do two clusterers agree beyond
  * chance?"): ARI between the 2-round and 3-round LPA labelings of the
  * gear co-purchase graph — the convergence-agreement diagnostic of
  * the q239 fixpoint (1.0 ⟺ round 3 changed nothing).
  *
  * Exactness: every sufficient statistic is an exact BIGINT — the
  * contingency pair sum Σᵢⱼ C(nᵢⱼ,2), the marginal pair sums
  * Σᵢ C(aᵢ,2) and Σⱼ C(bⱼ,2), and the total C(n,2); C(x,2) is spelled
  * `x*(x−1) div 2` (x(x−1) is always even and non-negative — the
  * positive floor-div rule). ARI finishes as ONE shared IEEE formula
  * over the four pieces (the expected-index products run in DOUBLE —
  * at 10⁹ rows the integer product ΣC(a,2)·ΣC(b,2) would need
  * DECIMAL(38,0), scaladoc'd; the emitted pieces stay exact), with the
  * denominator NULLIF-guarded: two identical single-cluster labelings
  * have max-index = expected-index and degrade to NULL in BOTH engines
  * (the q514 boundary rule).
  *
  * Scale shape: one equi-join of the two labelings on the node key +
  * three partial-aggregated censuses (contingency, two marginals) —
  * every frame is labels²-bounded after the first agg; no window, no
  * driver loop.
  */
object RandIndex {

  import Entry.Q

  /** ARI from the exact pair-count pieces — shared verbatim. */
  val AriFormula: String =
    """(CAST(sum_nij AS DOUBLE)
      | - CAST(sum_a AS DOUBLE) * CAST(sum_b AS DOUBLE)
      |   / CAST(tot AS DOUBLE))
      | / NULLIF((CAST(sum_a AS DOUBLE) + CAST(sum_b AS DOUBLE)) / 2.0
      |   - CAST(sum_a AS DOUBLE) * CAST(sum_b AS DOUBLE)
      |     / CAST(tot AS DOUBLE), 0.0)""".stripMargin.replace("\n", "")

  /** One-row (n, sum_nij, sum_a, sum_b, tot, ari) for two
    * `(node, label)` assignments over the same node universe.
    */
  def ari(la: DataFrame, lb: DataFrame): DataFrame = {
    val s = la.sparkSession
    import s.implicits._
    val joined = PlanBridge.checkpointResetStats(
      la.select($"node", $"label".as("lab_a"))
        .join(lb.select($"node", $"label".as("lab_b")), "node"))
    val cells = joined.groupBy($"lab_a", $"lab_b")
      .agg(count(lit(1)).as("nij"))
    val sumNij = cells.agg(
      sum(expr("nij * (nij - 1) div 2")).as("sum_nij"))
    val sumA = joined.groupBy($"lab_a").agg(count(lit(1)).as("ai"))
      .agg(sum(expr("ai * (ai - 1) div 2")).as("sum_a"),
        sum($"ai").as("n"))
    val sumB = joined.groupBy($"lab_b").agg(count(lit(1)).as("bj"))
      .agg(sum(expr("bj * (bj - 1) div 2")).as("sum_b"))
    sumNij.crossJoin(sumA).crossJoin(sumB)
      .withColumn("tot", expr("n * (n - 1) div 2"))
      .withColumn("ari", expr(AriFormula))
      .select($"n", $"sum_nij", $"sum_a", $"sum_b", $"tot", $"ari")
  }

  /** q566 — ARI(LPA round 2, LPA round 3) on the gear graph. */
  val q566AriLpa: Q = (s, dir) => {
    import s.implicits._
    val gl = T.lineitem(s, dir)
      .join(T.part(s, dir), $"l_partkey" === $"p_partkey")
      .filter($"p_name".like("%gear%"))
      .select($"l_orderkey", $"l_partkey")
    val edges = PlanBridge.checkpointResetStats(gl.as("a").join(gl.as("b"),
        $"a.l_orderkey" === $"b.l_orderkey" &&
          $"a.l_partkey" =!= $"b.l_partkey")
      .select($"a.l_partkey".as("u"), $"b.l_partkey".as("v"))
      .distinct())
    ari(LabelPropagation.propagate(edges, 2),
      LabelPropagation.propagate(edges, 3))
  }

  val q566Sql: String = {
    def round(prev: String, out: String): String =
      s"""$out AS (
         |  SELECT u AS node, label FROM (
         |    SELECT e.u, l.label, COUNT(*) AS n,
         |      row_number() OVER (PARTITION BY e.u
         |        ORDER BY COUNT(*) DESC, l.label ASC) AS rn
         |    FROM ed e JOIN $prev l ON e.v = l.node
         |    GROUP BY e.u, l.label) q
         |  WHERE rn = 1)""".stripMargin
    s"""WITH gl AS (
       |  SELECT l_orderkey, l_partkey FROM lineitem
       |  JOIN part ON l_partkey = p_partkey
       |  WHERE p_name LIKE '%gear%'),
       |ed AS (
       |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
       |  FROM gl a JOIN gl b
       |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
       |l0 AS (SELECT DISTINCT u AS node, u AS label FROM ed),
       |${round("l0", "l1")},
       |${round("l1", "l2")},
       |${round("l2", "l3")},
       |j AS MATERIALIZED (
       |  SELECT a.node, a.label AS lab_a, b.label AS lab_b
       |  FROM l2 a JOIN l3 b ON a.node = b.node),
       |cells AS (
       |  SELECT lab_a, lab_b, CAST(COUNT(*) AS BIGINT) AS nij
       |  FROM j GROUP BY 1, 2),
       |p1 AS (SELECT CAST(SUM(nij * (nij - 1) // 2) AS BIGINT) AS sum_nij
       |       FROM cells),
       |p2 AS (SELECT CAST(SUM(ai * (ai - 1) // 2) AS BIGINT) AS sum_a,
       |         CAST(SUM(ai) AS BIGINT) AS n
       |       FROM (SELECT CAST(COUNT(*) AS BIGINT) AS ai
       |             FROM j GROUP BY lab_a)),
       |p3 AS (SELECT CAST(SUM(bj * (bj - 1) // 2) AS BIGINT) AS sum_b
       |       FROM (SELECT CAST(COUNT(*) AS BIGINT) AS bj
       |             FROM j GROUP BY lab_b)),
       |m AS (SELECT n, sum_nij, sum_a, sum_b,
       |        n * (n - 1) // 2 AS tot
       |      FROM p1 CROSS JOIN p2 CROSS JOIN p3)
       |SELECT n, sum_nij, sum_a, sum_b, tot, $AriFormula AS ari
       |FROM m""".stripMargin
  }

  val entries: Seq[Entry] = Seq(Entry("q566_ari_lpa", q566AriLpa, q566Sql))
}
