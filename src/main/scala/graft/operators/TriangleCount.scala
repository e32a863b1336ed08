package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.PlanBridge

import graft.core.{Entry, Tables => T}

/** Distributed triangle counting — the third graph operator next to
  * [[ConnectedComponents]] (connectivity) and [[PageRank]] (importance):
  * triangles measure local clustering, the signal behind community
  * detection and link-spam screens.
  *
  * Algorithm: degree-ordered node-iterator (the MapReduce-era standard,
  * Suri & Vassilvitskii's "Counting Triangles and the Curse of the Last
  * Reducer", WWW'11 — public literature). Every undirected edge is
  * oriented from its lower-(degree, id) endpoint to the higher one;
  * wedges are generated only at each edge's LOWER endpoint, so a
  * degree-D hub generates no wedges itself — per-node wedge work is
  * bounded by the out-degree, which the orientation caps at O(√|E|)
  * for any graph. Each triangle has exactly one vertex that precedes
  * the other two in the (degree, id) order, so it is generated and
  * matched exactly once — no /3 correction, no double counting.
  *
  * Scale shape: degrees are ONE partial-aggregated groupBy; the wedge
  * generation is a self-equi-join of oriented edges on the source
  * (hash-partitioned on node id); the closing check is one equi-join of
  * wedges against oriented edges on the (v, w) pair. No collect, no
  * broadcast of anything that scales with the graph; the output is a
  * single global count plus the graph's size stats.
  *
  * The graph here is the co-purchase part graph with support ≥ 2 (two
  * parts are linked when ≥2 distinct orders contain both — the same
  * support floor q134 reports), which keeps edge density
  * corpus-meaningful: random one-off co-occurrence does not repeat, so
  * the support filter removes noise edges at any scale. The reference
  * has no graph surface (its catalog is a directory tree —
  * main.go:176-199); north-star [N] analytics row.
  */
object TriangleCount {

  import Entry.Q

  val SupportMin = 2

  /** Count triangles in an undirected simple graph given as canonical
    * edges (u < v, no duplicates). Returns one row:
    * (n_nodes, n_edges, n_wedges, n_triangles).
    */
  def triangles(edges: DataFrame): DataFrame = {
    val s = edges.sparkSession
    import s.implicits._
    // degree of every endpoint (edges are canonical u<v, count both ends)
    val deg = edges.select($"u".as("n")).union(edges.select($"v".as("n")))
      .groupBy($"n").agg(count(lit(1)).as("d"))
    // orient each edge from lower-(degree, id) to higher-(degree, id)
    val withDeg = edges
      .join(deg.withColumnRenamed("n", "u").withColumnRenamed("d", "du"), "u")
      .join(deg.withColumnRenamed("n", "v").withColumnRenamed("d", "dv"), "v")
    val oriented = withDeg.select(
      when($"du" < $"dv" || ($"du" === $"dv" && $"u" < $"v"), $"u")
        .otherwise($"v").as("src"),
      when($"du" < $"dv" || ($"du" === $"dv" && $"u" < $"v"), $"v")
        .otherwise($"u").as("dst"))
    // wedges at the low-rank endpoint: (a -> b, a -> c), emitted as the
    // ID-ordered open pair (b, c) — each unordered pair once. The wedge
    // frame is consumed twice (census count + closure) and deliberately
    // NOT checkpointed: wedges are the one frame that can be orders of
    // magnitude larger than the edge list, so recomputing one self-join
    // beats materializing it — the opposite call from the (bounded)
    // edge frame below.
    val w = oriented.as("e1").join(oriented.as("e2"),
        $"e1.src" === $"e2.src" && $"e1.dst" < $"e2.dst")
      .select($"e1.dst".as("b"), $"e2.dst".as("c"))
    // a wedge closes iff its (b, c) pair is an edge; the input edge set
    // is already ID-canonical (u < v), so closure is a pure EQUI-join —
    // never an OR-condition nested loop
    val closed = w.join(edges,
      $"b" === $"u" && $"c" === $"v", "left_semi")
    // one declarative plan for all four stats (no driver-side counts)
    deg.agg(count(lit(1)).as("n_nodes"))
      .crossJoin(edges.agg(count(lit(1)).as("n_edges")))
      .crossJoin(w.agg(count(lit(1)).as("n_wedges")))
      .crossJoin(closed.agg(count(lit(1)).as("n_triangles")))
  }

  /** q147 — triangle census of the support-≥2 co-purchase part graph. */
  val q147Triangles: Q = (s, dir) => {
    import s.implicits._
    val op = T.lineitem(s, dir)
      .select($"l_orderkey", $"l_partkey").distinct()
    val edges = PlanBridge.checkpointResetStats(op.as("a").join(op.as("b"),
        $"a.l_orderkey" === $"b.l_orderkey" && $"a.l_partkey" < $"b.l_partkey")
      .groupBy($"a.l_partkey".as("u"), $"b.l_partkey".as("v"))
      .agg(count(lit(1)).as("supp"))
      .filter($"supp" >= SupportMin)
      .select($"u", $"v")) // reused by 4 downstream counts; one generation
    triangles(edges)
  }

  val q147Sql: String =
    s"""WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       |edges AS (
       |  SELECT a.l_partkey AS u, b.l_partkey AS v
       |  FROM op a JOIN op b
       |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
       |  GROUP BY u, v
       |  HAVING COUNT(*) >= $SupportMin),
       |deg AS (
       |  SELECT n, COUNT(*) AS d FROM (
       |    SELECT u AS n FROM edges UNION ALL SELECT v FROM edges)
       |  GROUP BY n),
       |oriented AS (
       |  SELECT CASE WHEN du.d < dv.d OR (du.d = dv.d AND e.u < e.v)
       |              THEN e.u ELSE e.v END AS src,
       |         CASE WHEN du.d < dv.d OR (du.d = dv.d AND e.u < e.v)
       |              THEN e.v ELSE e.u END AS dst
       |  FROM edges e JOIN deg du ON e.u = du.n JOIN deg dv ON e.v = dv.n),
       |wedges AS (
       |  SELECT e1.dst AS b, e2.dst AS c
       |  FROM oriented e1 JOIN oriented e2
       |    ON e1.src = e2.src AND e1.dst < e2.dst),
       |closed AS (
       |  SELECT * FROM wedges w
       |  WHERE EXISTS (SELECT 1 FROM edges e
       |    WHERE w.b = e.u AND w.c = e.v))
       |SELECT (SELECT COUNT(*) FROM deg) AS n_nodes,
       |  (SELECT COUNT(*) FROM edges) AS n_edges,
       |  (SELECT COUNT(*) FROM wedges) AS n_wedges,
       |  (SELECT COUNT(*) FROM closed) AS n_triangles""".stripMargin

  val entries: Seq[Entry] = Seq(Entry("q147_triangles", q147Triangles, q147Sql))
}
