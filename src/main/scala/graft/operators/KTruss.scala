package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.PlanBridge

import graft.core.{Entry, Tables => T}

/** K-TRUSS DECOMPOSITION (Cohen NSA-TR'08; Wang–Cheng VLDB'12) — the
  * triangle-density subgraph family member between q294's k-core
  * (degree ≥ k) and clique mining: the k-truss keeps every edge
  * supported by ≥ k−2 triangles WITHIN the surviving subgraph, peeled
  * to fixpoint. Cohesion by TRIANGLES, not degree — a hub with many
  * leaf neighbors survives a core and dies in a truss.
  *
  * Graph: md5 out-edges confined to 32-node BLOCKS ([[KtOutEdges]]
  * salts per node, symmetrized, no self-loops) — block locality gives
  * the triangle density a truss needs (a uniform random graph of this
  * degree has a constant expected triangle count and an EMPTY 4-truss
  * at any n; measured here: 10368 → 1136 edges at sf0.01, fixpoint in
  * 5 peels).
  *
  * Scale shape: each peel round is the triangle-SUPPORT census — two
  * keyed equi-joins of the current edge list with itself + one partial
  * agg (fan-out bounded by block degree) — then a HAVING filter;
  * rounds are checkpointed (checkpointResetStats — the iterative-loop
  * rule) and the shrinking is monotone, so count-equality IS
  * set-equality and the fixpoint test is the count each round's
  * checkpoint measures.
  * Peel count grows slowly with n (4/5/7 at sf0.001/0.01/0.1).
  *
  * Oracle: [[KtUnrolledRounds]] peel rounds UNROLLED as MATERIALIZED
  * CTEs (the q474/q483 replay discipline) — at the oracle's SFs the
  * fixpoint lands within the unroll (monotone ⟹ extra rounds are
  * no-ops), so the FULL surviving edge set is value-checked.
  */
object KTruss {

  import Entry.Q

  val TrussK = 4
  val KtBlock = 32
  val KtOutEdges = 4
  /** ≥ fixpoint+1 at every oracle SF (measured 4/5 at sf0.001/0.01). */
  val KtUnrolledRounds = 6
  /** Runaway guard for the in-engine loop. */
  val KtMaxRounds = 24

  /** Symmetrized block-local md5 graph, both directions, no loops. */
  def ktEdges(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val out = T.customer(s, dir).select($"c_custkey".as("v"))
      .select($"v", explode(array((1 to KtOutEdges).map(lit): _*)).as("k"))
      .withColumn("w",
        expr(s"(v div $KtBlock) * $KtBlock + " +
          s"CAST(conv(substring(md5(concat('kt', CAST(k AS STRING), ':', " +
          s"CAST(v AS STRING))), 1, 4), 16, 10) AS BIGINT) % $KtBlock"))
      .filter($"v" =!= $"w")
      .select($"v", $"w")
    out.select($"v".as("u"), $"w".as("v"))
      .unionAll(out.select($"w".as("u"), $"v".as("v")))
      .distinct()
  }

  /** Triangle support per directed edge within `e`. */
  private def support(e: DataFrame): DataFrame = {
    import e.sparkSession.implicits._
    val a = e.select($"u".as("au"), $"v".as("aw"))
    val b = e.select($"u".as("bu"), $"v".as("bw"))
    e.join(a, $"au" === $"u" && $"aw" =!= $"v")
      .join(b, $"bu" === $"v" && $"bw" === $"aw")
      .groupBy($"u", $"v").agg(count(lit(1)).as("sup"))
  }

  /** Peel `e` (symmetrized edge list, both directions, `prev0` edges)
    * to the k-truss fixpoint; every round is checkpointed (the
    * iterative-loop rule) and monotone shrinking makes count-equality
    * the fixpoint test. Returns the surviving edges, their count and
    * the peel rounds run.
    */
  private[operators] def peelFixpoint(e0: DataFrame, k: Int,
      prev0: Long): (DataFrame, Long, Int) = {
    import e0.sparkSession.implicits._
    val (e, rounds, n) = PlanBridge.iterate(e0, KtMaxRounds, s"peel(k=$k)") {
      (e, _) => support(e).filter($"sup" >= k - 2).select($"u", $"v")
    }(count(lit(1)), PlanBridge.settled(prev0))
    (e, n, rounds)
  }

  val q509KTruss: Q = (s, dir) => {
    import s.implicits._
    val (e0, n0) =
      PlanBridge.checkpointMeasured(ktEdges(s, dir), count(lit(1)))
    peelFixpoint(e0, TrussK, n0)._1.filter($"u" < $"v").orderBy($"u", $"v")
  }

  val q509Sql: String = {
    val base =
      s"""WITH outs AS (
        |  SELECT c_custkey AS v,
        |    (c_custkey // $KtBlock) * $KtBlock +
        |    CAST('0x' || substring(md5('kt' || k || ':' || c_custkey), 1, 4)
        |      AS BIGINT) % $KtBlock AS w
        |  FROM customer, (SELECT UNNEST(range(1, ${KtOutEdges + 1})) AS k)),
        |f AS (SELECT v, w FROM outs WHERE v <> w),
        |e0 AS MATERIALIZED (
        |  SELECT DISTINCT u, v FROM (
        |    SELECT v AS u, w AS v FROM f
        |    UNION ALL SELECT w AS u, v AS v FROM f))""".stripMargin
    val rounds = (1 to KtUnrolledRounds).map { r =>
      s"""e$r AS MATERIALIZED (
        |  SELECT e.u, e.v FROM e${r - 1} e
        |  JOIN e${r - 1} a ON a.u = e.u AND a.v <> e.v
        |  JOIN e${r - 1} b ON b.u = e.v AND b.v = a.v
        |  GROUP BY e.u, e.v HAVING COUNT(*) >= ${TrussK - 2})""".stripMargin
    }.mkString(",\n")
    s"""$base,
      |$rounds
      |SELECT u, v FROM e$KtUnrolledRounds WHERE u < v ORDER BY u, v"""
      .stripMargin
  }

  /** Levels the q515 oracle unrolls — one past the measured empty level
    * at the oracle SFs, so the SQL-side trussness is complete and the
    * margin level is a no-op by monotonicity. Measured (BASELINE.md,
    * "Appendix: measurements from the retired probe mains"):
    * max trussness 4 / 4 / 5 at sf0.001 / 0.01 / 0.1 (k=5 truss empty
    * at both oracle SFs; 60 5-truss edges appear at sf0.1 — block-
    * local density nudges up slowly); per-level fixpoint rounds ≤ 5 at
    * the oracle SFs (≤ 7 at sf0.1), inside [[KtUnrolledRounds]]. The
    * in-engine loop is data-driven and stops at the first empty truss.
    */
  val KtTrussOracleK = 6
  /** Runaway guard for the level loop. */
  val KtMaxK = 16

  /** q515 — TRUSSNESS DECOMPOSITION (max k per edge; Wang–Cheng
    * VLDB'12's truss decomposition, generalizing q509's fixed k=4):
    * peel at k = 3, 4, 5, … — each level starting from the previous
    * level's fixpoint (the k-truss is a subgraph of the (k−1)-truss,
    * so no level ever re-touches edges a lower level discarded) —
    * until the truss goes empty; an edge's trussness is the last k at
    * which it survived (base 2: every edge is trivially a 2-truss).
    * Computed as 2 + Σ_k [edge ∈ k-truss fixpoint] over the level
    * finals — membership bumps, never per-edge removal bookkeeping.
    *
    * Oracle: per-k peel rounds UNROLLED as MATERIALIZED CTEs (q509's
    * replay discipline) for k = 3…[[KtTrussOracleK]], each level
    * [[KtUnrolledRounds]] rounds; the canonical edge set LEFT-joins
    * the level-membership census. Monotone shrink ⟹ overshoot rounds
    * and overshoot levels are no-ops, so the FULL (u, v, trussness)
    * table is value-checked.
    */
  val q515Trussness: Q = (s, dir) =>
    trussness(PlanBridge.checkpointResetStats(ktEdges(s, dir)))

  /** Trussness of every canonical edge of `e0` (symmetrized edge list,
    * both directions, checkpointed by the caller).
    */
  def trussness(e0: DataFrame): DataFrame = {
    import e0.sparkSession.implicits._
    val base = e0.filter($"u" < $"v").select($"u", $"v")
    var cur = e0
    var n = e0.count()
    var k = 3
    val levels = Seq.newBuilder[DataFrame]
    while (n > 0L && k <= KtMaxK) {
      val (ek, nk, _) = peelFixpoint(cur, k, n)
      cur = ek
      n = nk
      if (nk > 0L) levels += ek.filter($"u" < $"v").select($"u", $"v")
      k += 1
    }
    require(n == 0L, s"trussness exceeded the KtMaxK=$KtMaxK guard")
    val finals = levels.result()
    val bumped =
      if (finals.isEmpty) base.select($"u", $"v", lit(2L).as("trussness"))
      else {
        val bumps = finals.reduce(_ unionAll _)
          .groupBy($"u", $"v").agg(count(lit(1)).as("bump"))
        base.join(bumps, Seq("u", "v"), "left")
          .select($"u", $"v",
            (lit(2L) + coalesce($"bump", lit(0L))).as("trussness"))
      }
    bumped.orderBy($"u", $"v")
  }

  val q515Sql: String = {
    val base =
      s"""WITH outs AS (
        |  SELECT c_custkey AS v,
        |    (c_custkey // $KtBlock) * $KtBlock +
        |    CAST('0x' || substring(md5('kt' || k || ':' || c_custkey), 1, 4)
        |      AS BIGINT) % $KtBlock AS w
        |  FROM customer, (SELECT UNNEST(range(1, ${KtOutEdges + 1})) AS k)),
        |f AS (SELECT v, w FROM outs WHERE v <> w),
        |t2_$KtUnrolledRounds AS MATERIALIZED (
        |  SELECT DISTINCT u, v FROM (
        |    SELECT v AS u, w AS v FROM f
        |    UNION ALL SELECT w AS u, v AS v FROM f))""".stripMargin
    val levels = (3 to KtTrussOracleK).flatMap { k =>
      (1 to KtUnrolledRounds).map { r =>
        val prev = if (r == 1) s"t${k - 1}_$KtUnrolledRounds"
          else s"t${k}_${r - 1}"
        s"""t${k}_$r AS MATERIALIZED (
          |  SELECT e.u, e.v FROM $prev e
          |  JOIN $prev a ON a.u = e.u AND a.v <> e.v
          |  JOIN $prev b ON b.u = e.v AND b.v = a.v
          |  GROUP BY e.u, e.v HAVING COUNT(*) >= ${k - 2})""".stripMargin
      }
    }.mkString(",\n")
    val lvlUnion = (3 to KtTrussOracleK).map { k =>
      s"SELECT u, v FROM t${k}_$KtUnrolledRounds WHERE u < v"
    }.mkString("\n  UNION ALL ")
    s"""$base,
      |$levels,
      |lvl AS (
      |  $lvlUnion),
      |bump AS MATERIALIZED (
      |  SELECT u, v, COUNT(*) AS c FROM lvl GROUP BY 1, 2)
      |SELECT e.u, e.v,
      |  CAST(2 + COALESCE(bump.c, 0) AS BIGINT) AS trussness
      |FROM (SELECT u, v FROM t2_$KtUnrolledRounds WHERE u < v) e
      |LEFT JOIN bump ON bump.u = e.u AND bump.v = e.v
      |ORDER BY e.u, e.v""".stripMargin
  }

  val entries: Seq[Entry] = Seq(
    Entry("q509_ktruss", q509KTruss, q509Sql),
    Entry("q515_trussness", q515Trussness, q515Sql))
}
