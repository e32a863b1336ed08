package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.PlanBridge

import graft.core.{Entry, Tables => T}

/** CONDUCTANCE / NORMALIZED CUT per community (Kannan–Vempala–Vetta
  * JACM'04 for conductance; Shi–Malik PAMI'00 for the normalized cut —
  * the OTHER standard community-quality number next to Newman
  * modularity: q318/q452 answer "is this labeling better than chance",
  * conductance answers "how leaky is each community's boundary" —
  * φ(c) = cut(c) / min(vol(c), vol(V∖c)), the quantity every
  * community readout reports alongside Q and the objective spectral
  * partitioning bounds via Cheeger's inequality; r14 verdict missing
  * item #3): for each community of the LPA labeling over the gear
  * co-purchase graph, the exact integer boundary census.
  *
  * Exactness: on a symmetric directed edge list (2m rows), cut(c) =
  * #{(u,v) : label(u)=c, label(v)≠c} and vol(c) = #{(u,v) :
  * label(u)=c} are EXACT integers off one tagged-edge join;
  * conductance_ppm = (10⁶·cut) div min(vol, 2m−vol) is a positive
  * integer floor division (identical in both engines — the
  * floor-div-negatives trap never arises), NULL when one community
  * holds every edge (NULLIF, the q555 guarded-formula discipline); the
  * normalized-cut score finishes as ONE shared IEEE formula string.
  *
  * Scale shape: labels ⋈ edges twice on the node key (the same hash
  * partitioning the LPA rounds use), then ONE partial-aggregated
  * groupBy on the community key computing vol and cut together (cut
  * as a conditional count — not a second join); 2m is a 1-row
  * aggregate cross-joined into the projection. At 100 TB this is two
  * equi-joins + one hash agg over the edge list — the same cost
  * envelope as q318's modularity, and the two readouts share the
  * tagged frame when run together.
  */
object Conductance {

  import Entry.Q

  /** Normalized-cut score from the exact census — shared verbatim.
    * ncut(c) = cut/vol(c) + cut/vol(V∖c); both denominators NULLIF-
    * guarded so a degenerate labeling degrades to NULL in BOTH engines
    * (the r13 crash-vs-empty lesson).
    */
  val NcutFormula: String =
    "CAST(cut AS DOUBLE) / NULLIF(CAST(vol AS DOUBLE), 0.0)" +
      " + CAST(cut AS DOUBLE) / NULLIF(CAST(two_m - vol AS DOUBLE), 0.0)"

  /** Per-community (n_nodes, cut, vol, conductance_ppm, ncut) for a
    * symmetric `(u, v)` edge list and a `(node, label)` assignment —
    * labeling-AGNOSTIC: q560 feeds it the LPA labeling, the spec also
    * drives it with a Louvain-refined labeling and hand graphs.
    */
  def conductanceOf(edges: DataFrame, labels: DataFrame): DataFrame = {
    val s = edges.sparkSession
    import s.implicits._
    val lu = labels.select($"node".as("u"), $"label".as("cu"))
    val lv = labels.select($"node".as("v"), $"label".as("cv"))
    val census = edges.join(lu, "u").join(lv, "v")
      .groupBy($"cu".as("community"))
      .agg(count(lit(1)).as("vol"),
        sum(when($"cu" =!= $"cv", 1L).otherwise(0L)).as("cut"))
    val sizes = labels.groupBy($"label".as("community"))
      .agg(count(lit(1)).as("n_nodes"))
    val twoM = edges.agg(count(lit(1)).as("two_m"))
    sizes
      .join(census, Seq("community"), "left")
      .na.fill(0L, Seq("vol", "cut"))
      .crossJoin(broadcast(twoM))
      .withColumn("conductance_ppm",
        expr("CAST(1000000 * cut AS BIGINT)" +
          " div NULLIF(LEAST(vol, two_m - vol), 0)"))
      .withColumn("ncut", expr(NcutFormula))
      .select($"community", $"n_nodes", $"cut", $"vol",
        $"conductance_ppm", $"ncut")
      .orderBy($"community")
  }

  /** q560 — conductance + normalized cut of the q239 LPA communities
    * on the gear co-purchase graph. The oracle replays the 3
    * synchronous LPA rounds (the q239 round CTE) and the boundary
    * census value for value.
    */
  val q560Conductance: Q = (s, dir) => {
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
    conductanceOf(edges, LabelPropagation.propagate(edges))
  }

  val q560Sql: String = {
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
       |census AS (
       |  SELECT lu.label AS community,
       |    CAST(COUNT(*) AS BIGINT) AS vol,
       |    CAST(SUM(CASE WHEN lu.label <> lv.label THEN 1 ELSE 0 END)
       |      AS BIGINT) AS cut
       |  FROM ed e JOIN l3 lu ON e.u = lu.node JOIN l3 lv ON e.v = lv.node
       |  GROUP BY 1),
       |sizes AS (
       |  SELECT label AS community, CAST(COUNT(*) AS BIGINT) AS n_nodes
       |  FROM l3 GROUP BY label),
       |tm AS (SELECT CAST(COUNT(*) AS BIGINT) AS two_m FROM ed),
       |m AS (
       |  SELECT s.community, s.n_nodes,
       |    COALESCE(c.cut, 0) AS cut, COALESCE(c.vol, 0) AS vol, two_m
       |  FROM sizes s
       |  LEFT JOIN census c ON s.community = c.community
       |  CROSS JOIN tm)
       |SELECT community, n_nodes, cut, vol,
       |  (1000000 * cut) // NULLIF(LEAST(vol, two_m - vol), 0)
       |    AS conductance_ppm,
       |  $NcutFormula AS ncut
       |FROM m ORDER BY community""".stripMargin
  }

  val entries: Seq[Entry] = Seq(
    Entry("q560_conductance", q560Conductance, q560Sql))
}
