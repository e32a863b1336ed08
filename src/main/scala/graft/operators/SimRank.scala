package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.PlanBridge

import graft.core.Entry

/** SIMRANK, truncated fixed-point form (Jeh–Widom KDD'02 — "two
  * objects are similar if they are referenced by similar objects":
  * the node-PAIR structural similarity the link-prediction scores
  * q512 stop short of — common-neighbors/Adamic-Adar look one hop
  * out, SimRank recurses, scoring a pair by the similarity of their
  * whole neighborhoods; completes the similarity family next to the
  * centralities q553/q531 which score single nodes): s(a,a) = 1,
  * s(a,b) = C/(|N(a)|·|N(b)|) · Σ_{i∈N(a), j∈N(b)} s(i,j), iterated
  * [[SrHops]] rounds from s₀ = I with C = 1/2.
  *
  * Determinism contract (the q553 fixed-horizon discipline, with
  * explicit quantization where SimRank's per-pair degree division
  * breaks pure-BIGINT exactness): scores are integer multiples of
  * 2^−20 ([[SrScale]]), and each round's update is
  *   s_{k+1}(a,b) = (Σ s_k(i,j)) div (2·|N(a)|·|N(b)|)
  * — one positive-operand integer FLOOR division per pair per round,
  * identical in Spark (`div`) and DuckDB (`//`), so the recurrence is
  * a deterministic integer fold both engines replay bit-for-bit (no
  * float enters the fixpoint). [[SrHops]] is a DEFINITION (truncated
  * horizon), not a measured unroll, so the q522 measure-first rule
  * does not bind; the oracle materializes every round.
  *
  * Scale shape: the pair state is BLOCK-LOCAL on the [[KTruss.ktEdges]]
  * graph — s_k(i,j) > 0 needs i,j in one ≤[[KTruss.KtBlock]]-node
  * block, so state is B²-bounded per block (the r14 q531 admission
  * shape). Each round is TWO equi-joins (state ⋈ edges on each
  * endpoint — the same node-key hash partitioning every round) + ONE
  * partial-aggregated groupBy; per-round fan-out is
  * Σ_{(i,j)} d(i)·d(j) ≤ (B·d̄)² per block — bounded by the block
  * contract, never by corpus size. Rounds are checkpointed
  * (PlanBridge — the round-11 size-stats rule). Zero rows (pairs the
  * floor division sends to 0) are dropped each round on BOTH sides,
  * keeping the state sparse without changing any later sum.
  */
object SimRank {

  import Entry.Q

  /** Fixed-point scale 2^20 — scores are multiples of 2^−20. */
  val SrScale = 1048576L
  /** Truncated horizon (a definition, not a convergence unroll). */
  val SrHops = 3

  /** (a, b, simrank_s) for a < b, scaled by [[SrScale]], over a
    * symmetrized `(u, v)` edge list.
    */
  def simrank(edges0: DataFrame): DataFrame = {
    val s = edges0.sparkSession
    import s.implicits._
    val edges = PlanBridge.checkpointResetStats(edges0)
    val nodes = edges.select($"u".as("v")).distinct()
    val deg = PlanBridge.checkpointResetStats(
      edges.groupBy($"u".as("v")).agg(count(lit(1)).as("d")))
    val diag = nodes.select($"v".as("i"), $"v".as("j"),
      lit(SrScale).as("sv"))
    // state: full (both-order) sparse matrix incl. the diagonal — the
    // recurrence sums over ORDERED neighbor pairs, so storing both
    // orders keeps each round to two plain equi-joins
    var state = PlanBridge.checkpointResetStats(diag)
    (1 to SrHops).foreach { _ =>
      state = PlanBridge.checkpointResetStats(
        roundExpansion(state, edges, deg).unionAll(diag))
    }
    state.filter($"i" < $"j")
      .select($"i".as("a"), $"j".as("b"), $"sv".as("simrank_s"))
      .orderBy($"a", $"b")
  }

  /** One un-checkpointed off-diagonal expansion round over `state`
    * (i, j, sv) — the loop body, exposed so ScalePlanSpec can pin its
    * join shape (the loop checkpoints each round, so the final plan no
    * longer carries the round joins).
    */
  private[graft] def roundExpansion(state: DataFrame, edges: DataFrame,
      deg: DataFrame): DataFrame = {
    val s = state.sparkSession
    import s.implicits._
    state
      .join(edges.select($"u".as("i"), $"v".as("a")), "i")
      .join(edges.select($"u".as("j"), $"v".as("b")), "j")
      .groupBy($"a", $"b").agg(sum($"sv").as("num"))
      .filter($"a" =!= $"b")
      .join(deg.select($"v".as("a"), $"d".as("da")), "a")
      .join(deg.select($"v".as("b"), $"d".as("db")), "b")
      .select($"a".as("i"), $"b".as("j"),
        expr("num div (2 * da * db)").as("sv"))
      .filter($"sv" >= 1L)
  }

  val q562SimRank: Q = (s, dir) => simrank(KTruss.ktEdges(s, dir))

  val q562Sql: String = {
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
        |deg AS MATERIALIZED (
        |  SELECT u AS v, CAST(COUNT(*) AS BIGINT) AS d
        |  FROM le0 GROUP BY 1),
        |nodes AS (SELECT DISTINCT u AS v FROM le0),
        |s0 AS MATERIALIZED (
        |  SELECT v AS i, v AS j, CAST($SrScale AS BIGINT) AS sv
        |  FROM nodes)""".stripMargin
    val rounds = (1 to SrHops).map { k =>
      s"""c$k AS (
        |  SELECT ea.v AS a, eb.v AS b, SUM(p.sv) AS num
        |  FROM s${k - 1} p
        |  JOIN le0 ea ON ea.u = p.i
        |  JOIN le0 eb ON eb.u = p.j
        |  GROUP BY 1, 2),
        |s$k AS MATERIALIZED (
        |  SELECT a AS i, b AS j, num // (2 * da.d * db.d) AS sv
        |  FROM c$k JOIN deg da ON da.v = c$k.a JOIN deg db ON db.v = c$k.b
        |  WHERE a <> b AND num // (2 * da.d * db.d) >= 1
        |  UNION ALL
        |  SELECT v AS i, v AS j, CAST($SrScale AS BIGINT) AS sv
        |  FROM nodes)""".stripMargin
    }.mkString(",\n")
    s"""$base,
      |$rounds
      |SELECT i AS a, j AS b, CAST(sv AS BIGINT) AS simrank_s
      |FROM s$SrHops WHERE i < j
      |ORDER BY a, b""".stripMargin
  }

  val entries: Seq[Entry] = Seq(Entry("q562_simrank", q562SimRank, q562Sql))
}
