package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.PlanBridge

import graft.core.Entry

/** EXACT BETWEENNESS CENTRALITY + ECCENTRICITY (Freeman'77 via the
  * Brandes JMS'01 pair-dependency identity — "which nodes sit on the
  * shortest paths?": the brokerage centrality the distance family
  * still lacked next to q499's harmonic CLOSENESS (how near is
  * everyone) and q138's PageRank (who receives mass); eccentricity =
  * per-node BFS depth, whose max IS the graph diameter): from every
  * source a path-counting BFS yields (s, v, d(s,v), σ_sv); a middle v
  * lies on a shortest s–t path iff d(s,v) + d(v,t) = d(s,t), and its
  * pair dependency is σ_sv·σ_vt/σ_st (Brandes Lemma 3, assembled here
  * RELATIONALLY as one triple equi-join instead of his sequential
  * backward sweep — the all-sources frame is what a cluster wants).
  *
  * Exactness: distances and path counts are exact BIGINTs; the pair
  * dependency is the exact per-(s,t,v)-triple floor
  * ⌊10⁶·σ_sv·σ_vt/σ_st⌋ in DECIMAL(38,0) (the q230 order-free-fold
  * rule — deterministic in both engines; error < 10⁻⁶ per pair), so
  * bc6 = its exact integer sum over unordered pairs s < t. FULL
  * (v, ecc, bc6) table value-checked.
  *
  * Scale shape: sources run SIMULTANEOUSLY — the BFS frame carries all
  * of them and each round is ONE edges⋈frontier equi-join + ONE
  * partial agg + ONE anti-join, checkpointed (the iterative-loop
  * rule); on the block-local graph ([[KTruss.ktEdges]]) the closure is
  * n·B rows and the dependency triple-join n·B² (B = 32 fixed — LINEAR
  * in n, never n²; rounds = diameter, measured via the emitted ecc —
  * the q522 "never guess, read it" rule, [[BcUnrolledRounds]]).
  *
  * Oracle: [[BcUnrolledRounds]] BFS levels unrolled as MATERIALIZED
  * CTEs (the q517 replay discipline; measured diameter 4/5 at
  * sf0.001/sf0.01 via max(ecc), overshoot levels are no-ops on empty
  * frontiers), then the same dependency join.
  */
object Betweenness {

  import Entry.Q

  /** ≥ measured max(ecc) + 1 at every oracle SF (4/5 measured). */
  val BcUnrolledRounds = 7
  /** Runaway guard for the in-engine loop. */
  val BcMaxRounds = 24
  /** Pair-dependency fixed-point scale. */
  val BcScale = 1000000L

  /** All-sources path-counting BFS closure (s, v, d, σ) and its round
    * count — shared by node betweenness (q531) and edge betweenness
    * (q556). `sources` defaults to every node; q556 passes its pivot
    * sample.
    */
  private[operators] def bfsClosure(edges0: DataFrame,
      sources: Option[DataFrame] = None): (DataFrame, Int) = {
    val s = edges0.sparkSession
    import s.implicits._
    val edges = PlanBridge.checkpointResetStats(edges0)
    // Default node universe unions BOTH endpoint columns: `u` alone is
    // complete only for symmetrized edge lists (KTruss.ktEdges is, by
    // construction) — a directed caller would silently lose sink-only
    // nodes as BFS sources (r14 advice note, same genre as the r13
    // HyperBall self-loop fix). The union is one extra distinct input
    // scan, trivial next to the BFS itself, and on a symmetrized list
    // it yields the identical set.
    val nodes = sources.getOrElse(
      edges.select($"u".as("v")).unionAll(edges.select($"v")).distinct())
    var (frontier, n) = PlanBridge.checkpointMeasured(
      nodes.select($"v".as("s"), $"v", lit(0L).as("d"), lit(1L).as("sig")),
      count(lit(1)))
    var settled = frontier
    var r = 0
    while (n > 0L) {
      r += 1
      require(r <= BcMaxRounds, s"BFS did not close in $r rounds")
      val (next, nNext) = PlanBridge.checkpointMeasured(frontier
        .join(edges.select($"u", $"v".as("w")), frontier("v") === $"u")
        .groupBy($"s", $"w").agg(sum($"sig").as("sig"))
        .select($"s", $"w".as("v"), lit(r.toLong).as("d"), $"sig")
        .join(settled.select($"s", $"v"), Seq("s", "v"), "left_anti"),
        count(lit(1)))
      val grown = PlanBridge.checkpointResetStats(settled.unionAll(next))
      Seq(frontier, settled).foreach(PlanBridge.release)
      frontier = next
      settled = grown
      n = nNext
    }
    Seq(edges, frontier).foreach(PlanBridge.release)
    (settled, r)
  }

  /** (v, ecc, bc6) over a symmetrized `(u, v)` edge list. */
  def betweenness(edges0: DataFrame): DataFrame = {
    val s = edges0.sparkSession
    import s.implicits._
    val (d, _) = bfsClosure(edges0)
    // eccentricity, reach and distance-sum per source come free off the
    // same closure — max/count/sum are one partial agg; sum_d feeds the
    // CLOSENESS readout (harmonic's exact sibling: q499 estimates via
    // HyperBall, this is the exact block-local form)
    val ecc = d.groupBy($"s".as("v"))
      .agg(max($"d").as("ecc"), (count(lit(1)) - 1L).as("n_reach"),
        sum($"d").as("sum_d"))
    val a = d.filter($"s" =!= $"v")
      .select($"s", $"v".as("mid"), $"d".as("dsv"), $"sig".as("sigsv"))
    val b = d.filter($"s" =!= $"v")
      .select($"s".as("mid"), $"v".as("t"), $"d".as("dvt"),
        $"sig".as("sigvt"))
    val p = d.select($"s", $"v".as("t"), $"d".as("dst"), $"sig".as("sigst"))
    val bc = a.join(b, "mid")
      .filter($"s" < $"t")
      .join(p, Seq("s", "t"))
      .filter($"dsv" + $"dvt" === $"dst")
      .groupBy($"mid")
      .agg(sum(expr(s"CAST(${BcScale}L AS DECIMAL(38,0)) " +
        "* sigsv * sigvt div sigst")).cast("long").as("bc6"))
    ecc.join(bc.select($"mid".as("v"), $"bc6"), Seq("v"), "left")
      .select($"v", $"ecc", $"n_reach", $"sum_d",
        coalesce($"bc6", lit(0L)).as("bc6"))
      .orderBy($"v")
  }

  val q531Betweenness: Q = (s, dir) =>
    betweenness(KTruss.ktEdges(s, dir))

  val q531Sql: String = {
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
        |s0 AS MATERIALIZED (
        |  SELECT DISTINCT u AS s, u AS v, CAST(0 AS BIGINT) AS d,
        |    CAST(1 AS HUGEINT) AS sig
        |  FROM le0),
        |f0 AS MATERIALIZED (SELECT * FROM s0)""".stripMargin
    val rounds = (1 to BcUnrolledRounds).map { r =>
      s"""f$r AS MATERIALIZED (
        |  SELECT f.s, e.v, CAST($r AS BIGINT) AS d, SUM(f.sig) AS sig
        |  FROM f${r - 1} f JOIN le0 e ON e.u = f.v
        |  WHERE NOT EXISTS (SELECT 1 FROM s${r - 1} x
        |    WHERE x.s = f.s AND x.v = e.v)
        |  GROUP BY 1, 2),
        |s$r AS MATERIALIZED (
        |  SELECT * FROM s${r - 1} UNION ALL SELECT * FROM f$r)"""
        .stripMargin
    }.mkString(",\n")
    s"""$base,
      |$rounds,
      |dd AS MATERIALIZED (SELECT * FROM s$BcUnrolledRounds),
      |ecc AS (SELECT s AS v, MAX(d) AS ecc,
      |  CAST(COUNT(*) - 1 AS BIGINT) AS n_reach,
      |  CAST(SUM(d) AS BIGINT) AS sum_d FROM dd GROUP BY 1),
      |bc AS (
      |  SELECT a.v AS mid,
      |    CAST(SUM($BcScale * a.sig * b.sig // p.sig) AS BIGINT) AS bc6
      |  FROM dd a
      |  JOIN dd b ON b.s = a.v AND a.s < b.v
      |  JOIN dd p ON p.s = a.s AND p.v = b.v
      |  WHERE a.v <> a.s AND b.v <> b.s AND a.d + b.d = p.d
      |  GROUP BY 1)
      |SELECT ecc.v, ecc.ecc, ecc.n_reach, ecc.sum_d,
      |  COALESCE(bc.bc6, 0) AS bc6
      |FROM ecc LEFT JOIN bc ON bc.mid = ecc.v
      |ORDER BY ecc.v""".stripMargin
  }

  val entries: Seq[Entry] = Seq(
    Entry("q531_betweenness", q531Betweenness, q531Sql))
}
