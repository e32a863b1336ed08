package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.PlanBridge

import graft.core.Entry

/** LUBY'S MAXIMAL INDEPENDENT SET (Luby SICOMP'86 — the classic
  * O(log n)-round symmetry-breaking primitive; completes the iterative
  * graph family next to CC, PageRank, LPA, Louvain, k-core, k-truss,
  * SCC, HITS, WL, HyperBall): each round every live node draws a
  * priority; a node joins the MIS iff it strictly beats every live
  * neighbor under the (priority, node-id) total order; winners and
  * their neighborhoods leave the graph; repeat until no node is live.
  * Independence is immediate (two adjacent winners would each have to
  * beat the other) and maximality holds because a node only leaves as
  * a winner or a winner's neighbor.
  *
  * Determinism: the round-r priority is the md5 integer
  * `'mis{r}:' || v` (15 hex chars — the q513 convention), so both
  * engines draw IDENTICAL priorities and the md5-collision tie-break
  * on node id keeps the order strict and total.
  *
  * Graph: the q509/q515 block-local md5 graph ([[KTruss.ktEdges]]).
  *
  * Scale shape: each round is two block-degree-bounded equi-joins
  * (neighbor-min of the priorities, then the neighborhood removal) +
  * anti-joins; rounds are checkpointed (the iterative-loop rule) and
  * the round count is O(log n) with high probability over the hash
  * draws — measured [[MisUnrolledRounds]]-bounded at every fixture SF.
  *
  * Oracle: [[MisUnrolledRounds]] rounds UNROLLED as MATERIALIZED CTEs
  * (the q474/q483/q509 replay discipline) — the live set empties
  * within the unroll at the oracle SFs, so the FULL (v, round-joined)
  * membership is value-checked; extra rounds are no-ops on an empty
  * live set.
  */
object LubyMis {

  import Entry.Q

  /** ≥ measured rounds-to-empty + 1 at every oracle SF (measured via
    * max(r) of the emitted membership: 4 rounds at both sf0.001 and
    * sf0.01 — block-local Luby drains in O(log block) rounds, so the
    * count is SF-stable).
    */
  val MisUnrolledRounds = 5
  /** Runaway guard for the in-engine loop. */
  val MisMaxRounds = 24

  private def prio(r: Int) =
    expr(s"CAST(conv(substring(md5(concat('mis$r:', " +
      s"CAST(v AS STRING))), 1, 15), 16, 10) AS BIGINT)")

  /** MIS of the symmetrized edge list `edges0` (both directions, no
    * self-loops; node set = the edge list's endpoints): one row
    * (v, r) per member with the round it joined, and the rounds run.
    */
  def lubyMis(edges0: DataFrame): (DataFrame, Int) = {
    val s = edges0.sparkSession
    import s.implicits._
    var liveEdges = PlanBridge.checkpointResetStats(edges0)
    var (live, n) = PlanBridge.checkpointMeasured(
      liveEdges.select($"u".as("v")).distinct(), count(lit(1)))
    val mis = Seq.newBuilder[DataFrame]
    var r = 0
    while (n > 0L) {
      r += 1
      require(r <= MisMaxRounds, s"Luby did not drain in $r rounds")
      val pl = PlanBridge.checkpointResetStats(live.withColumn("p", prio(r)))
      // strictest live neighbor per node under (p, id)
      val nbrMin = liveEdges
        .join(pl.select($"v".as("w"), $"p".as("pw")), $"w" === $"v")
        .drop($"v") // drop the prio frame's v; keep the edge's u
        .groupBy($"u").agg(min(struct($"pw", $"w")).as("mn"))
      val winners = pl.join(nbrMin, pl("v") === nbrMin("u"), "left")
        .filter($"mn".isNull ||
          struct($"p", $"v") < struct($"mn.pw", $"mn.w"))
        .select(pl("v"), lit(r.toLong).as("r"))
      val misR = PlanBridge.checkpointResetStats(winners)
      mis += misR
      val removed = misR.select($"v")
        .unionAll(liveEdges.join(misR.select($"v".as("u")), "u")
          .select($"v"))
      val (nextLive, nLive) = PlanBridge.checkpointMeasured(
        live.join(removed, Seq("v"), "left_anti"), count(lit(1)))
      val nextEdges = PlanBridge.checkpointResetStats(
        liveEdges.join(nextLive.select($"v".as("u")), Seq("u"))
          .join(nextLive, Seq("v"))
          .select($"u", $"v"))
      // this round's frames are superseded; the winners stay for the union
      Seq(pl, live, liveEdges).foreach(PlanBridge.release)
      live = nextLive
      liveEdges = nextEdges
      n = nLive
    }
    Seq(live, liveEdges).foreach(PlanBridge.release)
    (mis.result().reduce(_ unionAll _).orderBy($"v"), r)
  }

  val q517LubyMis: Q = (s, dir) =>
    lubyMis(PlanBridge.checkpointResetStats(KTruss.ktEdges(s, dir)))._1

  val q517Sql: String = {
    val base =
      s"""WITH outs AS (
        |  SELECT c_custkey AS v,
        |    (c_custkey // ${KTruss.KtBlock}) * ${KTruss.KtBlock} +
        |    CAST('0x' || substring(md5('kt' || k || ':' || c_custkey), 1, 4)
        |      AS BIGINT) % ${KTruss.KtBlock} AS w
        |  FROM customer,
        |    (SELECT UNNEST(range(1, ${KTruss.KtOutEdges + 1})) AS k)),
        |f AS (SELECT v, w FROM outs WHERE v <> w),
        |le0 AS MATERIALIZED (
        |  SELECT DISTINCT u, v FROM (
        |    SELECT v AS u, w AS v FROM f
        |    UNION ALL SELECT w AS u, v AS v FROM f)),
        |live0 AS MATERIALIZED (SELECT DISTINCT u AS v FROM le0)"""
        .stripMargin
    val rounds = (1 to MisUnrolledRounds).map { r =>
      s"""p$r AS MATERIALIZED (
        |  SELECT v, CAST('0x' || substring(md5('mis$r:' || v), 1, 15)
        |    AS BIGINT) AS p
        |  FROM live${r - 1}),
        |m$r AS MATERIALIZED (
        |  SELECT pv.v FROM p$r pv
        |  WHERE NOT EXISTS (
        |    SELECT 1 FROM le${r - 1} e JOIN p$r pw ON pw.v = e.v
        |    WHERE e.u = pv.v
        |      AND (pw.p < pv.p OR (pw.p = pv.p AND e.v < pv.v)))),
        |rm$r AS (
        |  SELECT v FROM m$r
        |  UNION SELECT e.v FROM le${r - 1} e JOIN m$r ON m$r.v = e.u),
        |live$r AS MATERIALIZED (
        |  SELECT v FROM live${r - 1}
        |  WHERE v NOT IN (SELECT v FROM rm$r)),
        |le$r AS MATERIALIZED (
        |  SELECT u, v FROM le${r - 1}
        |  WHERE u IN (SELECT v FROM live$r)
        |    AND v IN (SELECT v FROM live$r))""".stripMargin
    }.mkString(",\n")
    val union = (1 to MisUnrolledRounds).map { r =>
      s"SELECT v, CAST($r AS BIGINT) AS r FROM m$r"
    }.mkString("\n  UNION ALL ")
    s"""$base,
      |$rounds
      |SELECT v, r FROM (
      |  $union)
      |ORDER BY v""".stripMargin
  }

  val entries: Seq[Entry] = Seq(Entry("q517_luby_mis", q517LubyMis, q517Sql))
}
