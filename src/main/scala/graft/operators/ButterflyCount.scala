package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.PlanBridge

import graft.core.{Entry, Tables => T}

/** BUTTERFLY COUNTING on the bipartite customer×part co-purchase
  * graph (Wang–Fu–Cheng VLDB'14; Sanei-Mehri et al. KDD'18) — the
  * bipartite clustering primitive q147's triangle counting cannot
  * express (a bipartite graph has NO triangles; its smallest cycle is
  * the 4-cycle "butterfly" (c1, p1, c2, p2), and butterfly density is
  * the standard cohesion signal for user×item graphs).
  *
  * Counting identity: butterflies = Σ_{c1<c2} C(w, 2) where w is the
  * pair's co-purchased-part count — so the whole computation is wedge
  * generation (per part, its customer pairs) + one (c1, c2) census +
  * one Σ w(w−1)/2 agg. The q147 degree-ordered discipline applied to
  * 4-cycles: each wedge is generated ONCE (c1 < c2), and wedge
  * fan-out per part is bounded by the SUPPORT CAP [[BfDegCap]] —
  * parts co-bought by more than the cap's distinct customers leave
  * the graph before wedge generation (at 100 TB a hub part with 10⁶
  * buyers would alone emit 5·10¹¹ wedges; the cap is the per-
  * wedge-endpoint bound the r12 verdict convention requires, and it
  * binds ~1% of parts at every fixture SF — max degree 53 vs cap 44).
  *
  * Everything is SQL-expressible, so the oracle replays the ENTIRE
  * pipeline (same cap, same census) in DuckDB — a full-value check,
  * not a weak pin.
  */
object ButterflyCount {

  import Entry.Q

  /** Support cap on part degree (distinct customers) — the p99 of the
    * fixture degree distribution, so the cap path is exercised at
    * every SF while dropping ~1% of parts.
    */
  val BfDegCap = 44L

  /** Distinct (c, p) edges with the support cap applied. */
  def cappedEdges(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = T.lineitem(s, dir).select($"l_orderkey", $"l_partkey")
      .join(T.orders(s, dir).select($"o_orderkey", $"o_custkey"),
        $"l_orderkey" === $"o_orderkey")
      .select($"o_custkey".as("c"), $"l_partkey".as("p"))
      .distinct()
    val deg = e.groupBy($"p").agg(count(lit(1)).as("d"))
    e.join(deg.filter($"d" <= BfDegCap).select($"p"), "p")
  }

  val q502Butterflies: Q = (s, dir) => {
    import s.implicits._
    val keep = PlanBridge.checkpointResetStats(cappedEdges(s, dir))
    val nEdges = keep.count()
    // Σw over the pair census equals Σ_p C(d_p, 2) — read it from the
    // degree census, never the 8.7M-row wedge explode
    val nWedges = keep.groupBy($"p").agg(count(lit(1)).as("d"))
      .agg(coalesce(sum(expr("d * (d - 1) div 2")), lit(0L)))
      .as[Long].head()
    // wedges once per (c1 < c2), generated ARRAY-LOCALLY as PACKED
    // longs (custkeys < 2³¹): the support cap bounds each part's
    // customer set at BfDegCap, so the pair set is a ≤C(44,2)-element
    // HOF over the sorted per-part array — one groupBy(p) shuffle +
    // the (c1,c2) census, which is the irreducible exact-count work
    val nButterflies = keep.groupBy($"p")
      .agg(sort_array(collect_set($"c")).as("cs"))
      .select(explode(expr(
        "flatten(transform(cs, (x, i) -> " +
          "transform(slice(cs, i + 2, size(cs)), " +
          "y -> x * 4294967296L + y)))")).as("pk"))
      .groupBy($"pk").agg(count(lit(1)).as("w"))
      .agg(coalesce(sum(expr("w * (w - 1) div 2")), lit(0L)))
      .as[Long].head()
    Seq((nEdges, nWedges, nButterflies))
      .toDF("n_edges", "n_wedges", "n_butterflies")
  }

  val q502Sql: String =
    s"""WITH e AS MATERIALIZED (
      |  SELECT DISTINCT o_custkey AS c, l_partkey AS p
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      |deg AS (SELECT p, COUNT(*) AS d FROM e GROUP BY 1),
      |keep AS MATERIALIZED (
      |  SELECT c, p FROM e JOIN deg USING (p) WHERE d <= $BfDegCap),
      |w AS MATERIALIZED (
      |  SELECT a.c AS c1, b.c AS c2, COUNT(*) AS w
      |  FROM keep a JOIN keep b ON a.p = b.p AND a.c < b.c
      |  GROUP BY 1, 2)
      |SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM keep) AS n_edges,
      |  (SELECT CAST(COALESCE(SUM(w), 0) AS BIGINT) FROM w) AS n_wedges,
      |  (SELECT CAST(COALESCE(SUM(w * (w - 1) // 2), 0) AS BIGINT) FROM w)
      |    AS n_butterflies""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("q502_butterflies", q502Butterflies, q502Sql))
}
