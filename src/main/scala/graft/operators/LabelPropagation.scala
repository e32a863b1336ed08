package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.PlanBridge

import graft.core.{Entry, Tables => T}

/** Synchronous label-propagation COMMUNITY detection (Raghavan et al.
  * 2007) — the density-structure sibling of the connectivity fixpoints:
  * [[ConnectedComponents]] answers "which nodes can reach each other at
  * all", LPA answers "which nodes cluster together", converging to
  * dense groups even inside one giant connected component (every
  * co-purchase graph is one component; its COMMUNITIES are the signal).
  *
  * Determinism contract (what makes 3 engine-independent rounds
  * hash-comparable): rounds are SYNCHRONOUS (all nodes update from the
  * same previous labeling — asynchronous LPA is order-dependent by
  * construction), the vote is the exact integer count of neighbor
  * labels, and ties break to the smallest label. Fixed round count
  * rather than convergence detection, the q138/q231 bounded-fixpoint
  * convention that keeps the SQL oracle terminating and exact.
  *
  * Scale shape (Pregel spelled in DataFrames): edges localCheckpoint'ed
  * once; each round is ONE equi-join (labels ⋈ edges on the node id —
  * the same hash partitioning every round) + TWO partial-aggregated
  * groupBys on node keys (vote counts, then the min-struct argmax).
  * Zero driver traffic per round; working set is one row per node.
  */
object LabelPropagation {


  import Entry.Q

  val Rounds = 3

  /** `edges` is a symmetric (u, v) frame (pass it MATERIALIZED — it is
    * re-joined every round); returns (node, community) after [[Rounds]]
    * synchronous votes from labels(node) = node.
    */
  def propagate(edges: DataFrame, rounds: Int = Rounds): DataFrame = {
    val s = edges.sparkSession
    import s.implicits._
    var labels = edges.select($"u".as("node")).distinct()
      .withColumn("label", $"node")
    for (_ <- 1 to rounds) {
      val votes = edges
        .join(labels.withColumnRenamed("node", "v"), "v")
        .groupBy($"u", $"label").agg(count(lit(1)).as("n"))
      labels = PlanBridge.checkpointResetStats(votes
        .groupBy($"u".as("node"))
        .agg(min(struct((-$"n").as("nn"), $"label".as("l")))
          .getField("l").as("label")))
    }
    labels
  }

  /** q239 — communities of the gear-family co-purchase graph (q231's
    * symmetric edge list, unweighted votes), with per-community size
    * attached to every node row.
    */
  val q239Communities: Q = (s, dir) => {
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
    val labels = propagate(edges)
    val sizes = labels.groupBy($"label").agg(count(lit(1)).as("community_n"))
    labels.join(sizes, "label")
      .select($"node", $"label".as("community"), $"community_n")
      .orderBy($"node")
  }

  val q239Sql: String = {
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
       |sizes AS (SELECT label, COUNT(*) AS community_n FROM l3 GROUP BY label)
       |SELECT node, l3.label AS community, community_n
       |FROM l3 JOIN sizes ON l3.label = sizes.label
       |ORDER BY node""".stripMargin
  }

  /** q318 — Newman MODULARITY of the q239 communities (Newman & Girvan
    * 2004): the quality score that turns "here is a labeling" into "is
    * this labeling better than chance". For community c on a symmetric
    * directed edge list (each undirected edge counted twice, 2m rows):
    *   Q_c = e_c/2m − (d_c/2m)²
    * with e_c = directed edges internal to c and d_c = summed degree of
    * c's nodes — both EXACT integers, so the only doubles are the final
    * divide/multiply/subtract (correctly-rounded IEEE ops, the q228
    * discipline; no transcendentals).
    *
    * Scale shape: labels ⋈ edges twice on the node key (same hash
    * partitioning as the LPA rounds themselves), then two partial-
    * aggregated groupBys on the community key; 2m is a 1-row aggregate
    * broadcast into the projection. No window, no driver loop — at
    * 100 TB this is two equi-joins + two hash aggs over the edge list.
    */
  /** Per-community modularity frame for a symmetric (u, v) edge list
    * and a (node, label) assignment — the exact-integer core shared by
    * q318 and the spec's hand graphs.
    */
  def modularityOf(edges: DataFrame, labels: DataFrame): DataFrame = {
    val s = edges.sparkSession
    import s.implicits._
    val lu = labels.select($"node".as("u"), $"label".as("cu"))
    val lv = labels.select($"node".as("v"), $"label".as("cv"))
    val tagged = edges.join(lu, "u").join(lv, "v")
    val internal = tagged.filter($"cu" === $"cv")
      .groupBy($"cu".as("community")).agg(count(lit(1)).as("internal_edges"))
    val degree = tagged
      .groupBy($"cu".as("community")).agg(count(lit(1)).as("degree_sum"))
    val sizes = labels.groupBy($"label".as("community"))
      .agg(count(lit(1)).as("n_nodes"))
    val twoM = edges.agg(count(lit(1)).as("two_m"))
    sizes
      .join(degree, Seq("community"), "left")
      .join(internal, Seq("community"), "left")
      .na.fill(0L, Seq("degree_sum", "internal_edges"))
      .crossJoin(broadcast(twoM))
      .withColumn("q_contrib",
        expr("""CAST(internal_edges AS DOUBLE) / CAST(two_m AS DOUBLE)
               | - (CAST(degree_sum AS DOUBLE) / CAST(two_m AS DOUBLE))
               |   * (CAST(degree_sum AS DOUBLE) / CAST(two_m AS DOUBLE))""".stripMargin))
      .select($"community", $"n_nodes", $"degree_sum", $"internal_edges",
        $"q_contrib")
      .orderBy($"community")
  }

  val q318Modularity: Q = (s, dir) => {
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
    modularityOf(edges, propagate(edges))
  }

  val q318Sql: String = {
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
       |tagged AS (
       |  SELECT e.u, e.v, lu.label AS cu, lv.label AS cv
       |  FROM ed e JOIN l3 lu ON e.u = lu.node JOIN l3 lv ON e.v = lv.node),
       |internal AS (
       |  SELECT cu AS community, COUNT(*) AS internal_edges
       |  FROM tagged WHERE cu = cv GROUP BY cu),
       |degree AS (
       |  SELECT cu AS community, COUNT(*) AS degree_sum FROM tagged GROUP BY cu),
       |sizes AS (SELECT label AS community, COUNT(*) AS n_nodes FROM l3 GROUP BY label),
       |tm AS (SELECT COUNT(*) AS two_m FROM ed)
       |SELECT s.community, s.n_nodes,
       |  COALESCE(d.degree_sum, 0) AS degree_sum,
       |  COALESCE(i.internal_edges, 0) AS internal_edges,
       |  CAST(COALESCE(i.internal_edges, 0) AS DOUBLE) / CAST(two_m AS DOUBLE)
       |    - (CAST(COALESCE(d.degree_sum, 0) AS DOUBLE) / CAST(two_m AS DOUBLE))
       |      * (CAST(COALESCE(d.degree_sum, 0) AS DOUBLE) / CAST(two_m AS DOUBLE)) AS q_contrib
       |FROM sizes s
       |LEFT JOIN degree d ON s.community = d.community
       |LEFT JOIN internal i ON s.community = i.community
       |CROSS JOIN tm
       |ORDER BY s.community""".stripMargin
  }

  val entries: Seq[Entry] = Seq(
    Entry("q239_lpa_communities", q239Communities, q239Sql),
    Entry("q318_modularity", q318Modularity, q318Sql))
}
