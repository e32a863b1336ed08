package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.PlanBridge

import graft.core.Entry

/** JONES–PLASSMANN GREEDY GRAPH COLORING (Jones–Plassmann SISC'93 —
  * the distributed coloring workhorse: schedule conflict-free
  * parallel work, register allocation, timetabling; the
  * symmetry-breaking SIBLING of q517's Luby MIS — one STATIC priority
  * per node instead of per-round draws, and winners take a COLOR
  * instead of leaving the graph): each round, every uncolored node
  * that strictly beats all its UNCOLORED neighbors under the static
  * (md5 priority, id) total order colors itself with the MEX — the
  * minimum color not used by its already-colored neighbors. Colors ≤
  * degree + 1 by construction (the greedy bound), and adjacent nodes
  * never color in the same round (two adjacent winners would each
  * have to beat the other).
  *
  * MEX without loops: `array_min(array_except(sequence(1, deg + 1),
  * neighbor_colors))` — deg+1 candidate colors always contain a free
  * one, computed codegen-side over the block-degree-bounded collected
  * neighbor-color array (DuckDB mirror: `MIN(c)` over the per-node
  * `range(1, deg + 2)` anti-joined against neighbor colors).
  *
  * Graph: the q509/q515/q517/q520 block-local md5 graph
  * ([[KTruss.ktEdges]]); priority = md5 integer of 'jp:v' (15-hex
  * q513 convention) — identical draws in both engines, strict total
  * order via the id tie-break.
  *
  * Oracle: [[JpUnrolledRounds]] rounds UNROLLED as MATERIALIZED CTEs
  * (the q517 replay discipline) — every node is colored within the
  * unroll at the oracle SFs (extra rounds are no-ops on an empty
  * uncolored set); FULL (v, color) table value-checked, and the spec
  * independently re-verifies propriety (no monochromatic edge) plus
  * the greedy color bound.
  *
  * Scale shape: per round, one equi-join for the uncolored-neighbor
  * priority max, one for the colored-neighbor color sets (both
  * block-degree-bounded) + anti-joins; rounds are checkpointed;
  * round count is O(log n / log log n) w.h.p. for random priorities.
  */
object JpColoring {

  import Entry.Q

  /** ≥ measured rounds-to-drain + margin at the oracle SFs (measured
    * via the emitted round column: max 12 / 14 at sf0.001 / sf0.01 —
    * JP removes only the WINNER each round, not its neighborhood, so
    * it drains in more rounds than Luby's 4; rounds track the longest
    * decreasing-priority path, O(log n / log log n) w.h.p.).
    */
  val JpUnrolledRounds = 18
  /** Runaway guard for the in-engine loop. */
  val JpMaxRounds = 48

  private val prio =
    expr("CAST(conv(substring(md5(concat('jp:', CAST(v AS STRING))), " +
      "1, 15), 16, 10) AS BIGINT)")

  /** Greedy coloring of the symmetrized edge list `edges0` (both
    * directions, no self-loops; node set = endpoints): one row
    * (v, color, r) per node, and the rounds run.
    */
  def jpColoring(edges0: DataFrame): (DataFrame, Int) = {
    val s = edges0.sparkSession
    import s.implicits._
    val edges = PlanBridge.checkpointResetStats(edges0)
    // ONE state frame per round (v, p, deg, color, r) — color null =
    // uncolored; a round is one edges⋈state neighbor read, one agg
    // (uncolored-neighbor max + colored-neighbor color set in the same
    // pass), one update join, one checkpoint.
    val state0 = PlanBridge.checkpointResetStats(
      edges.groupBy($"u".as("v")).agg(count(lit(1)).as("deg"))
        .withColumn("p", prio)
        .select($"v", $"p", $"deg",
          lit(null).cast("long").as("color"), lit(0L).as("r")))
    val (state, r, _) = PlanBridge.iterate(state0, JpMaxRounds,
        "JP coloring") { (state, r) =>
      val agg = edges
        .join(state.select($"v".as("w"), $"p".as("pw"), $"color".as("cw")),
          $"w" === $"v")
        .drop($"v")
        .groupBy($"u").agg(
          max(when($"cw".isNull, struct($"pw", $"w"))).as("mx"),
          collect_set($"cw").as("used"))
      state.join(agg, state("v") === agg("u"), "left")
        .withColumn("win", state("color").isNull &&
          ($"mx".isNull || struct(state("p"), state("v")) >
            struct($"mx.pw", $"mx.w")))
        .select(state("v"), state("p"), state("deg"),
          when(state("color").isNotNull, state("color"))
            .when($"win", array_min(array_except(
              sequence(lit(1L), state("deg") + 1L),
              coalesce($"used", array().cast("array<bigint>")))))
            .as("color"),
          when(state("color").isNotNull, state("r"))
            .when($"win", lit(r.toLong)).otherwise(lit(0L)).as("r"))
    }(count(when($"color".isNull, 1)), _ == 0)
    Seq(edges, state0).foreach(PlanBridge.release)
    (state.select($"v", $"color", $"r").orderBy($"v"), r)
  }

  val q522JpColoring: Q = (s, dir) =>
    jpColoring(PlanBridge.checkpointResetStats(KTruss.ktEdges(s, dir)))._1

  val q522Sql: String = {
    val base =
      s"""WITH outs AS (
        |  SELECT c_custkey AS v,
        |    (c_custkey // ${KTruss.KtBlock}) * ${KTruss.KtBlock} +
        |    CAST('0x' || substring(md5('kt' || k || ':' || c_custkey), 1, 4)
        |      AS BIGINT) % ${KTruss.KtBlock} AS w
        |  FROM customer,
        |    (SELECT UNNEST(range(1, ${KTruss.KtOutEdges + 1})) AS k)),
        |f AS (SELECT v, w FROM outs WHERE v <> w),
        |e0 AS MATERIALIZED (
        |  SELECT DISTINCT u, v FROM (
        |    SELECT v AS u, w AS v FROM f
        |    UNION ALL SELECT w AS u, v AS v FROM f)),
        |deg AS MATERIALIZED (SELECT u AS v, COUNT(*) AS deg FROM e0 GROUP BY 1),
        |pl AS MATERIALIZED (
        |  SELECT u AS v,
        |    CAST('0x' || substring(md5('jp:' || u), 1, 15) AS BIGINT) AS p
        |  FROM (SELECT DISTINCT u FROM e0)),
        |u0 AS MATERIALIZED (SELECT v, p FROM pl),
        |col0 AS MATERIALIZED (
        |  SELECT v, CAST(0 AS BIGINT) AS color, CAST(0 AS BIGINT) AS r
        |  FROM pl WHERE FALSE)"""
        .stripMargin
    val rounds = (1 to JpUnrolledRounds).map { r =>
      s"""w$r AS MATERIALIZED (
        |  SELECT uv.v FROM u${r - 1} uv
        |  WHERE NOT EXISTS (
        |    SELECT 1 FROM e0 e JOIN u${r - 1} pw ON pw.v = e.v
        |    WHERE e.u = uv.v
        |      AND (pw.p > uv.p OR (pw.p = uv.p AND e.v > uv.v)))),
        |m$r AS MATERIALIZED (
        |  SELECT w$r.v, CAST(MIN(cand.c) AS BIGINT) AS color,
        |    CAST($r AS BIGINT) AS r
        |  FROM w$r
        |  JOIN deg ON deg.v = w$r.v
        |  CROSS JOIN LATERAL (SELECT UNNEST(range(1, deg.deg + 2)) AS c) cand
        |  WHERE cand.c NOT IN (
        |    SELECT col.color FROM e0 e JOIN col${r - 1} col ON col.v = e.v
        |    WHERE e.u = w$r.v)
        |  GROUP BY w$r.v),
        |col$r AS MATERIALIZED (
        |  SELECT v, color, r FROM col${r - 1}
        |  UNION ALL SELECT v, color, r FROM m$r),
        |u$r AS MATERIALIZED (
        |  SELECT v, p FROM u${r - 1}
        |  WHERE v NOT IN (SELECT v FROM m$r))""".stripMargin
    }.mkString(",\n")
    s"""$base,
      |$rounds
      |SELECT v, color, r FROM col$JpUnrolledRounds
      |ORDER BY v""".stripMargin
  }

  val entries: Seq[Entry] = Seq(
    Entry("q522_jp_coloring", q522JpColoring, q522Sql))
}
