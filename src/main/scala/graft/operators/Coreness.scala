package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.PlanBridge

import graft.core.Entry

/** CORENESS DECOMPOSITION (max k per node — Seidman'83; generalizes
  * q294's fixed k=3 core exactly the way q515's trussness generalizes
  * q509's fixed 4-truss) by ITERATED NEIGHBOR H-INDEX (Lü–Zhou–Zhang–
  * Stanley PNAS'16: c₀(v) = deg(v), c_{t+1}(v) = H-index of the
  * neighbors' c_t, and the fixpoint is EXACTLY the coreness): the
  * per-node iteration replaces nested peel levels — the level-by-level
  * peel replay (q294's discipline) needed Σ_k rounds_k ≈ 38 rounds at
  * sf0.1, the H-index iteration converges in a handful because every
  * node refines in parallel every round.
  *
  * Exactness of the fixpoint test: the iteration is per-node monotone
  * NON-INCREASING (H of neighbor values never exceeds the previous
  * own value once seeded with degrees), so Σc strictly decreases until
  * the fixpoint and ONE sum aggregate per round, observed on the
  * round's own checkpoint, detects convergence — no row-diff join.
  *
  * H-index without loops: sort the collected neighbor values desc,
  * H = Σ_i [x_i ≥ i] (1-based) — `aggregate(zip_with(sorted, 1..len,
  * (x, i) → [x ≥ i]), 0, +)` codegen-side; DuckDB mirror:
  * `COUNT(*) FILTER (WHERE cw >= rn)` under the per-node desc
  * row_number. Neighbor lists are block-degree-bounded.
  *
  * Graph: the q509/q515/q517 block-local md5 graph
  * ([[KTruss.ktEdges]] — coreness is block-local, levels SF-stable).
  *
  * Oracle: [[CorenessUnrolledRounds]] H-index rounds UNROLLED as
  * MATERIALIZED CTEs; monotone ⟹ overshoot rounds are no-ops once the
  * fixpoint lands inside the unroll at the oracle SFs; FULL
  * (v, coreness) table value-checked, and the spec re-verifies
  * against a hand graph's known coreness AND re-peels the emitted
  * decomposition (every node's k-core membership is its own fixpoint
  * witness).
  */
object Coreness {

  import Entry.Q

  /** ≥ measured rounds-to-fixpoint + margin at the oracle SFs
    * (5 / 10 at sf0.001 / sf0.01; 15 at sf0.1 — BASELINE.md,
    * "Appendix: measurements from the retired probe mains"; the unroll
    * covers the ORACLE SFs, the in-engine loop is data-driven; the
    * nested-peel probe's max-coreness histogram matches the H-index
    * fixpoint at every SF, cross-validating the two algorithms).
    */
  val CorenessUnrolledRounds = 12
  /** Runaway guard for the in-engine loop. */
  val CorenessMaxRounds = 64

  /** H-index of a DESC-sorted bigint array: Σ_i [x_i ≥ i], 1-based. */
  def hIndex(sortedDesc: Column): Column =
    aggregate(
      zip_with(sortedDesc, sequence(lit(1L), greatest(size(sortedDesc), lit(1)).cast("long")),
        (x, i) => when(x >= i, 1L).otherwise(0L)),
      lit(0L), (acc, z) => acc + z)

  /** Coreness of every node of `e0` (symmetrized edge list, both
    * directions, checkpointed by the caller; node set = endpoints),
    * and the H-index rounds run.
    */
  def coreness(e0: DataFrame): (DataFrame, Int) = {
    val s = e0.sparkSession
    import s.implicits._
    val (deg, sum0) = PlanBridge.checkpointMeasured(
      e0.groupBy($"u".as("v")).agg(count(lit(1)).as("c")), sum($"c"))
    // monotone non-increasing ⟹ an equal Σc is the fixpoint
    val (cur, r, _) = PlanBridge.iterate(deg, CorenessMaxRounds,
        "H-index iteration") { (cur, _) =>
      e0.join(cur.select($"v".as("w"), $"c".as("cw")), $"w" === $"v")
        .drop($"v")
        .groupBy($"u".as("v"))
        .agg(sort_array(collect_list($"cw"), asc = false).as("a"))
        .select($"v", hIndex($"a").as("c"))
    }(sum($"c"), PlanBridge.settled(sum0))
    PlanBridge.release(deg)
    (cur.select($"v", $"c".as("coreness")).orderBy($"v"), r)
  }

  val q520Coreness: Q = (s, dir) =>
    coreness(PlanBridge.checkpointResetStats(KTruss.ktEdges(s, dir)))._1

  val q520Sql: String = {
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
        |h0 AS MATERIALIZED (
        |  SELECT u AS v, CAST(COUNT(*) AS BIGINT) AS c FROM e0 GROUP BY 1)"""
        .stripMargin
    val rounds = (1 to CorenessUnrolledRounds).map { r =>
      s"""h$r AS MATERIALIZED (
        |  SELECT u AS v, CAST(COUNT(*) FILTER (WHERE cw >= rn) AS BIGINT) AS c
        |  FROM (
        |    SELECT e.u, p.c AS cw,
        |      ROW_NUMBER() OVER (PARTITION BY e.u ORDER BY p.c DESC) AS rn
        |    FROM e0 e JOIN h${r - 1} p ON p.v = e.v)
        |  GROUP BY u)""".stripMargin
    }.mkString(",\n")
    s"""$base,
      |$rounds
      |SELECT v, c AS coreness FROM h$CorenessUnrolledRounds
      |ORDER BY v""".stripMargin
  }

  val entries: Seq[Entry] = Seq(Entry("q520_coreness", q520Coreness, q520Sql))
}
