package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.PlanBridge

import graft.core.Entry

/** KATZ CENTRALITY, truncated dyadic form (Katz Psychometrika'53 —
  * the walk-counting centrality that interpolates between degree
  * (L = 1) and eigenvector importance (L → ∞): katz(v) =
  * Σ_L α^L·walks_L(v); completes the centrality family — degree,
  * closeness/eccentricity + betweenness q531, PageRank q138 (random-
  * walk mass), HITS q308 (bipartite), harmonic q499 — with the
  * attenuated-WALK axis none of those measure):
  * α = 1/[[KzAlphaInv]] and horizon [[KzHops]] make every term a
  * DYADIC rational, so the scaled score
  * katz_s(v) = Σ_{L=1..H} [[KzAlphaInv]]^(H−L) · walks_L(v) is an
  * exact BIGINT — no float enters the fixpoint at all (the q199
  * power-of-two-weights discipline applied to a graph recursion).
  * Truncation is the standard finite-horizon Katz; α < 1/λ_max holds
  * by construction on the block graph (λ_max ≤ max degree ≤ 31 is
  * wrong direction — truncation, not convergence, bounds the sum, so
  * no spectral condition is needed; scaladoc'd).
  *
  * Scale shape: H rounds of ONE edges⋈frontier equi-join + ONE
  * partial agg, checkpointed (the iterative-loop rule); walk counts ≤
  * maxdeg^H ≈ 31⁶ ≈ 9·10⁸ per node — BIGINT with 10⁹ headroom at the
  * fixture degrees, the bound scaladoc'd next to the H knob.
  *
  * Oracle: H unrolled MATERIALIZED rounds — H is a DEFINITION here
  * (fixed horizon), not a measured convergence unroll, so the q522
  * measure-first rule does not bind.
  */
object KatzCentrality {

  import Entry.Q

  /** 1/α — a power of two, so every attenuated term is dyadic. */
  val KzAlphaInv = 4L
  /** Walk horizon H. */
  val KzHops = 6

  /** (v, katz_s) over a symmetrized `(u, v)` edge list. */
  def katz(edges0: DataFrame): DataFrame = {
    val s = edges0.sparkSession
    import s.implicits._
    val edges = PlanBridge.checkpointResetStats(edges0)
    val nodes = edges.select($"u".as("v")).distinct()
    var walks = PlanBridge.checkpointResetStats(
      nodes.select($"v", lit(1L).as("w")))
    var acc = nodes.select($"v", lit(0L).as("k"))
    (1 to KzHops).foreach { l =>
      walks = PlanBridge.checkpointResetStats(
        walks.join(edges, walks("v") === edges("u"))
          .groupBy(edges("v").as("v"))
          .agg(sum($"w").as("w"))
          .select($"v", $"w"))
      val scale = math.pow(KzAlphaInv.toDouble, (KzHops - l).toDouble)
        .toLong
      acc = PlanBridge.checkpointResetStats(
        acc.join(walks.select($"v", $"w"), Seq("v"), "left")
          .select($"v",
            ($"k" + coalesce($"w", lit(0L)) * scale).as("k")))
    }
    acc.select($"v", $"k".as("katz_s")).orderBy($"v")
  }

  val q553Katz: Q = (s, dir) => katz(KTruss.ktEdges(s, dir))

  val q553Sql: String = {
    val base =
      s"""WITH outs AS (
        |  SELECT c_custkey AS v,
        |    (c_custkey // ${KTruss.KtBlock}) * ${KTruss.KtBlock} +
        |    CAST('0x' || substring(md5('kt' || k || ':' || c_custkey), 1, 4)
        |      AS BIGINT) % ${KTruss.KtBlock} AS w
        |  FROM customer,
        |    (SELECT UNNEST(range(1, ${KTruss.KtOutEdges + 1})) AS k)),
        |ff AS (SELECT v, w FROM outs WHERE v <> w),
        |le0 AS MATERIALIZED (
        |  SELECT DISTINCT u, v FROM (
        |    SELECT v AS u, w AS v FROM ff
        |    UNION ALL SELECT w AS u, v AS v FROM ff)),
        |w0 AS MATERIALIZED (
        |  SELECT DISTINCT u AS v, CAST(1 AS HUGEINT) AS w FROM le0)"""
        .stripMargin
    val rounds = (1 to KzHops).map { l =>
      s"""w$l AS MATERIALIZED (
        |  SELECT e.v, SUM(p.w) AS w
        |  FROM w${l - 1} p JOIN le0 e ON e.u = p.v
        |  GROUP BY 1)""".stripMargin
    }.mkString(",\n")
    val terms = (1 to KzHops).map { l =>
      val scale = math.pow(KzAlphaInv.toDouble, (KzHops - l).toDouble)
        .toLong
      s"SELECT v, w * $scale AS t FROM w$l"
    }.mkString("\n  UNION ALL ")
    s"""$base,
      |$rounds,
      |terms AS (
      |  $terms)
      |SELECT n.v, CAST(COALESCE(SUM(t), 0) AS BIGINT) AS katz_s
      |FROM (SELECT v FROM w0) n LEFT JOIN terms t ON t.v = n.v
      |GROUP BY n.v
      |ORDER BY n.v""".stripMargin
  }

  val entries: Seq[Entry] = Seq(Entry("q553_katz", q553Katz, q553Sql))
}
