package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.PlanBridge

import graft.core.{Entry, Tables => T}

/** Integer-arithmetic PageRank over the customer–supplier co-purchase
  * graph — the second iterative graph operator next to
  * [[ConnectedComponents]] (label propagation gives components; power
  * iteration gives importance).
  *
  * Determinism: ranks are scaled BIGINTs (1.0 → 1,000,000) and every
  * step is integer division (`div` / DuckDB `//`) and integer sums, so
  * three power iterations produce bit-identical ranks in both engines —
  * no float damping, no summation-order sensitivity. The update is
  *   r'(u) = 150000 + (850000 · Σ_{v→u} (r(v) div deg(v))) div 1000000
  * i.e. the classic d=0.85 damped update in fixed-point arithmetic.
  *
  * Scale shape: the edge list and degree table are computed once and
  * `localCheckpoint`ed (two bounded frames; the expensive
  * lineitem⋈orders distinct never re-executes across iterations). Each
  * iteration is ONE equi-join (edges ⋈ ranks, hash-partitioned on the
  * node id — the same partitioning every iteration, so AQE reuses the
  * exchange layout) plus ONE partial-aggregated groupBy. Per-iteration
  * driver traffic is zero; the iteration count is a compile-time
  * constant, not data-driven. The graph is undirected (each co-purchase
  * edge inserted both ways), so no dangling-mass redistribution step is
  * needed. Supplier node ids are offset by [[PageRank.SupplierOffset]]
  * to disjoint the two key spaces.
  *
  * Reference anchor: the reference ranks nothing — its catalog listing
  * is alphabetical (main.go:176-199); importance ranking over the
  * co-access graph is a north-star [N] analytics row.
  */
object PageRank {

  import Entry.Q

  val SupplierOffset = 10000000L
  val Iterations = 3
  val TopK = 20

  /** Fixed-point PageRank over an undirected graph given as directed
    * half-edges (u, v): each half is mirrored, then [[Iterations]]-many
    * damped power iterations run in scaled-BIGINT arithmetic. Returns
    * (u, r) for every node.
    */
  def ranks(halfEdges: DataFrame, iterations: Int = Iterations): DataFrame = {
    val s = halfEdges.sparkSession
    import s.implicits._
    val ed = PlanBridge.checkpointResetStats(halfEdges.select($"u", $"v")
      .union(halfEdges.select($"v".as("u"), $"u".as("v"))))
    val deg = PlanBridge.checkpointResetStats(
      ed.groupBy($"u").agg(count(lit(1)).as("d")))
    var r = deg.select($"u", lit(1000000L).as("r"))
    for (_ <- 1 to iterations) {
      val contrib = ed.join(r, "u").join(deg, "u")
        .select($"v".as("u"), expr("r div d").as("c"))
        .groupBy($"u").agg(sum($"c").as("sc"))
      r = deg.select($"u")
        .join(contrib, Seq("u"), "left")
        .select($"u",
          expr("150000 + (850000 * coalesce(sc, 0)) div 1000000").as("r"))
    }
    r
  }

  /** q138 — top-[[TopK]] nodes by fixed-point PageRank after
    * [[Iterations]] undirected power iterations.
    */
  val q138PageRank: Q = (s, dir) => {
    import s.implicits._
    val half = T.lineitem(s, dir)
      .join(T.orders(s, dir), $"l_orderkey" === $"o_orderkey")
      .select($"o_custkey".as("u"), ($"l_suppkey" + SupplierOffset).as("v"))
      .distinct()
    ranks(half)
      .select($"u".as("node_id"), $"r".as("pr"))
      .orderBy($"pr".desc, $"node_id".asc)
      .limit(TopK)
  }

  val q138Sql: String =
    s"""WITH half AS (
       |  SELECT DISTINCT o_custkey AS u, l_suppkey + $SupplierOffset AS v
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |ed AS (SELECT u, v FROM half UNION ALL SELECT v AS u, u AS v FROM half),
       |deg AS (SELECT u, COUNT(*) AS d FROM ed GROUP BY u),
       |r0 AS (SELECT u, CAST(1000000 AS BIGINT) AS r FROM deg),
       |s1 AS (SELECT ed.v AS u, CAST(SUM(r0.r // deg.d) AS BIGINT) AS sc
       |       FROM ed JOIN r0 ON ed.u = r0.u JOIN deg ON ed.u = deg.u GROUP BY ed.v),
       |r1 AS (SELECT deg.u,
       |         CAST(150000 + (850000 * COALESCE(s1.sc, 0)) // 1000000 AS BIGINT) AS r
       |       FROM deg LEFT JOIN s1 ON deg.u = s1.u),
       |s2 AS (SELECT ed.v AS u, CAST(SUM(r1.r // deg.d) AS BIGINT) AS sc
       |       FROM ed JOIN r1 ON ed.u = r1.u JOIN deg ON ed.u = deg.u GROUP BY ed.v),
       |r2 AS (SELECT deg.u,
       |         CAST(150000 + (850000 * COALESCE(s2.sc, 0)) // 1000000 AS BIGINT) AS r
       |       FROM deg LEFT JOIN s2 ON deg.u = s2.u),
       |s3 AS (SELECT ed.v AS u, CAST(SUM(r2.r // deg.d) AS BIGINT) AS sc
       |       FROM ed JOIN r2 ON ed.u = r2.u JOIN deg ON ed.u = deg.u GROUP BY ed.v),
       |r3 AS (SELECT deg.u,
       |         CAST(150000 + (850000 * COALESCE(s3.sc, 0)) // 1000000 AS BIGINT) AS r
       |       FROM deg LEFT JOIN s3 ON deg.u = s3.u)
       |SELECT u AS node_id, r AS pr FROM r3
       |ORDER BY pr DESC, node_id ASC
       |LIMIT $TopK""".stripMargin

  /** q474 seed nation (the restart set is that nation's customers). */
  val PprSeedNation = 7L

  /** q474 — PERSONALIZED PAGERANK (topic-sensitive restart, Haveliwala
    * WWW'02): q138's fixed-point power iteration with the uniform
    * restart replaced by a SEED VECTOR concentrated on one nation's
    * customers — the "importance relative to THIS cohort" ranking
    * retrieval and recommendation serve from (random-walk-with-restart
    * proximity), vs q138's global importance. All arithmetic stays
    * scaled-BIGINT: e(u) = 1000000 div |S| on seeds (remainder dropped
    * identically in both engines), update
    *   r'(u) = (150000·e(u)) div 1000000
    *         + (850000·Σ_{v→u} (r(v) div deg(v))) div 1000000,
    * r₀ = e — three iterations, bit-identical in DuckDB's unrolled
    * replay. Nodes unreachable from the seeds stay at exact 0 and are
    * excluded from the ranked output (score desc, node asc, top-20).
    *
    * Scale shape: identical to q138 — per iteration one edges⋈ranks
    * equi-join on a stable partitioning + one partial-agg groupBy; the
    * seed vector is one broadcast-size filter of the degree table.
    */
  val q474PersonalizedPageRank: Q = (s, dir) => {
    import s.implicits._
    val half = T.lineitem(s, dir)
      .join(T.orders(s, dir), $"l_orderkey" === $"o_orderkey")
      .select($"o_custkey".as("u"), ($"l_suppkey" + SupplierOffset).as("v"))
      .distinct()
    val seeds = PlanBridge.checkpointResetStats(T.customer(s, dir)
      .filter($"c_nationkey" === PprSeedNation)
      .select($"c_custkey".as("u")))
    val nSeeds = seeds.count()
    val ed = PlanBridge.checkpointResetStats(half.select($"u", $"v")
      .union(half.select($"v".as("u"), $"u".as("v"))))
    val deg = PlanBridge.checkpointResetStats(
      ed.groupBy($"u").agg(count(lit(1)).as("d")))
    val e = PlanBridge.checkpointResetStats(deg.select($"u")
      .join(seeds.select($"u", lit(1L).as("is_seed")), Seq("u"), "left")
      .select($"u",
        when($"is_seed".isNotNull, lit(1000000L / nSeeds))
          .otherwise(lit(0L)).as("e")))
    var r = e.select($"u", $"e".as("r"))
    for (_ <- 1 to Iterations) {
      val contrib = ed.join(r, "u").join(deg, "u")
        .select($"v".as("u"), expr("r div d").as("c"))
        .groupBy($"u").agg(sum($"c").as("sc"))
      r = e
        .join(contrib, Seq("u"), "left")
        .select($"u",
          expr("(150000 * e) div 1000000 + " +
            "(850000 * coalesce(sc, 0)) div 1000000").as("r"))
    }
    r.filter($"r" > 0L)
      .select($"u".as("node_id"), $"r".as("ppr"))
      .orderBy($"ppr".desc, $"node_id".asc)
      .limit(TopK)
  }

  val q474Sql: String =
    s"""WITH half AS (
       |  SELECT DISTINCT o_custkey AS u, l_suppkey + $SupplierOffset AS v
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |ed AS (SELECT u, v FROM half UNION ALL SELECT v AS u, u AS v FROM half),
       |deg AS (SELECT u, COUNT(*) AS d FROM ed GROUP BY u),
       |seeds AS (SELECT c_custkey AS u FROM customer
       |          WHERE c_nationkey = $PprSeedNation),
       |e AS (SELECT deg.u,
       |        CASE WHEN seeds.u IS NOT NULL
       |          THEN 1000000 // (SELECT COUNT(*) FROM seeds)
       |          ELSE 0 END AS e
       |      FROM deg LEFT JOIN seeds ON deg.u = seeds.u),
       |r0 AS (SELECT u, CAST(e AS BIGINT) AS r FROM e),
       |s1 AS (SELECT ed.v AS u, CAST(SUM(r0.r // deg.d) AS BIGINT) AS sc
       |       FROM ed JOIN r0 ON ed.u = r0.u JOIN deg ON ed.u = deg.u GROUP BY ed.v),
       |r1 AS (SELECT e.u,
       |         CAST((150000 * e.e) // 1000000
       |           + (850000 * COALESCE(s1.sc, 0)) // 1000000 AS BIGINT) AS r
       |       FROM e LEFT JOIN s1 ON e.u = s1.u),
       |s2 AS (SELECT ed.v AS u, CAST(SUM(r1.r // deg.d) AS BIGINT) AS sc
       |       FROM ed JOIN r1 ON ed.u = r1.u JOIN deg ON ed.u = deg.u GROUP BY ed.v),
       |r2 AS (SELECT e.u,
       |         CAST((150000 * e.e) // 1000000
       |           + (850000 * COALESCE(s2.sc, 0)) // 1000000 AS BIGINT) AS r
       |       FROM e LEFT JOIN s2 ON e.u = s2.u),
       |s3 AS (SELECT ed.v AS u, CAST(SUM(r2.r // deg.d) AS BIGINT) AS sc
       |       FROM ed JOIN r2 ON ed.u = r2.u JOIN deg ON ed.u = deg.u GROUP BY ed.v),
       |r3 AS (SELECT e.u,
       |         CAST((150000 * e.e) // 1000000
       |           + (850000 * COALESCE(s3.sc, 0)) // 1000000 AS BIGINT) AS r
       |       FROM e LEFT JOIN s3 ON e.u = s3.u)
       |SELECT u AS node_id, r AS ppr FROM r3 WHERE r > 0
       |ORDER BY ppr DESC, node_id ASC
       |LIMIT $TopK""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("q138_pagerank", q138PageRank, q138Sql),
    Entry("q474_personalized_pagerank", q474PersonalizedPageRank, q474Sql))
}
