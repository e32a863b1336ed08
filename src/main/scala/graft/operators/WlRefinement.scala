package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.PlanBridge

import graft.core.Entry

/** WEISFEILER–LEMAN COLOR REFINEMENT (1-WL / color refinement —
  * Weisfeiler–Leman 1968; the node-signature iteration under graph
  * isomorphism tests, GIN expressiveness, and structural-role
  * discovery): every node's color refines to
  * `md5(color ‖ sorted multiset of neighbor colors)` per round; after
  * t rounds two nodes share a color iff their t-hop unfolded
  * neighborhoods are indistinguishable — the census of color classes
  * is the graph's structural fingerprint.
  *
  * Determinism discipline: the multiset is a SORTED collect of
  * neighbor color strings joined with '|' and prefixed by the node's
  * own color — both engines hash the identical string (md5, the q95
  * convention), so every intermediate color matches byte-for-byte and
  * the oracle replays all [[WlRounds]] rounds as UNROLLED MATERIALIZED
  * CTEs. Initial color = degree (as a string).
  *
  * Output: per round-[[WlRounds]] color class, its size + the MIN
  * member node (a canonical representative), largest classes first —
  * full-value checked.
  *
  * Scale shape: each round is ONE keyed shuffle (neighbor colors
  * grouped per node) + a sorted-array projection; collect_list is
  * bounded by the [[KTruss.KtBlock]]-local degree. Rounds are fixed
  * (t = [[WlRounds]]), not data-dependent.
  */
object WlRefinement {

  import Entry.Q

  val WlRounds = 2
  val WlTop = 20

  val q510WlRefinement: Q = (s, dir) => {
    import s.implicits._
    val edges = PlanBridge.checkpointResetStats(KTruss.ktEdges(s, dir))
    // color_0 = degree
    var colors = edges.groupBy($"u".as("node"))
      .agg(count(lit(1)).cast("string").as("color"))
    for (_ <- 1 to WlRounds) {
      colors = edges
        .join(colors.withColumnRenamed("node", "v"), "v")
        .groupBy($"u".as("node"))
        .agg(sort_array(collect_list($"color")).as("nc"))
        .join(colors, "node")
        .select($"node",
          md5(concat($"color", lit("|"),
            array_join($"nc", "|"))).as("color"))
    }
    colors.groupBy($"color")
      .agg(count(lit(1)).as("class_size"), min($"node").as("min_node"))
      .orderBy($"class_size".desc, $"color")
      .limit(WlTop)
  }

  val q510Sql: String = {
    val base =
      s"""WITH outs AS (
        |  SELECT c_custkey AS v,
        |    (c_custkey // ${KTruss.KtBlock}) * ${KTruss.KtBlock} +
        |    CAST('0x' || substring(md5('kt' || k || ':' || c_custkey), 1, 4)
        |      AS BIGINT) % ${KTruss.KtBlock} AS w
        |  FROM customer,
        |    (SELECT UNNEST(range(1, ${KTruss.KtOutEdges + 1})) AS k)),
        |f AS (SELECT v, w FROM outs WHERE v <> w),
        |e AS MATERIALIZED (
        |  SELECT DISTINCT u, v FROM (
        |    SELECT v AS u, w AS v FROM f
        |    UNION ALL SELECT w AS u, v AS v FROM f)),
        |c0 AS MATERIALIZED (
        |  SELECT u AS node, CAST(COUNT(*) AS VARCHAR) AS color
        |  FROM e GROUP BY 1)""".stripMargin
    val rounds = (1 to WlRounds).map { r =>
      s"""c$r AS MATERIALIZED (
        |  SELECT own.node,
        |    md5(own.color || '|' || string_agg(nb.color, '|'
        |      ORDER BY nb.color)) AS color
        |  FROM e JOIN c${r - 1} nb ON nb.node = e.v
        |    JOIN c${r - 1} own ON own.node = e.u
        |  GROUP BY own.node, own.color)""".stripMargin
    }.mkString(",\n")
    s"""$base,
      |$rounds
      |SELECT color, CAST(COUNT(*) AS BIGINT) AS class_size,
      |  MIN(node) AS min_node
      |FROM c$WlRounds
      |GROUP BY color
      |ORDER BY class_size DESC, color
      |LIMIT $WlTop""".stripMargin
  }

  val entries: Seq[Entry] = Seq(
    Entry("q510_wl_refinement", q510WlRefinement, q510Sql))
}
