package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.PlanBridge

import graft.core.{Entry, Tables => T}

/** k-core decomposition (fixed k) — the fourth graph operator next to
  * [[ConnectedComponents]] (connectivity), [[PageRank]] (importance)
  * and [[TriangleCount]] (local clustering): the k-core is the maximal
  * subgraph in which every node keeps ≥ k neighbors, the standard
  * dense-community / influential-region extractor (Seidman 1983) and
  * the graph-pruning step large-scale pipelines run before expensive
  * per-node analytics (a node outside the 3-core cannot be in any
  * clique of size 4, etc.).
  *
  * Algorithm: iterative PEELING — repeatedly delete nodes of degree
  * < k until none remain. The fixpoint is reached by monotone
  * shrinkage, so iterating past convergence changes nothing; the
  * operator CONTRACT is "[[KCoreRounds]] peeling rounds" (identical in
  * both engines), with the Spark side early-exiting at the fixpoint —
  * legal because once S_i = S_{i+1} every later round is identical,
  * and guarded by a require so a corpus that needs more rounds fails
  * loudly instead of silently diverging from the oracle.
  *
  * Scale shape: each round is two LEFT-SEMI equi-joins (edges against
  * the surviving-node set — hash-partitioned on the node id, the same
  * shuffle reused) + one partial-aggregated degree count; rounds are
  * checkpointed through `PlanBridge.iterate` (current + previous
  * pinned, older released). No driver iteration over rows — the only
  * driver-side value is the per-round surviving count, read off each
  * round's own checkpoint, used for the early exit.
  *
  * The graph is q147's co-purchase part graph with support ≥ 2 — the
  * repo's standard product graph. Reference has no graph surface;
  * north-star [N] row.
  */
object KCore {

  import Entry.Q

  val KCoreK = 3
  val KCoreRounds = 12
  val SupportMin = 2

  /** Nodes of the k-core of an undirected simple graph given as
    * canonical edges (u < v, no duplicates), with each node's degree
    * WITHIN the core: `(part, core_deg)`, and the peeling rounds run.
    */
  def kcore(edges: DataFrame, k: Int, rounds: Int): (DataFrame, Int) = {
    val s = edges.sparkSession
    import s.implicits._
    val e0 = PlanBridge.checkpointResetStats(edges)
    def surviving(surv: DataFrame): DataFrame =
      e0.join(surv.select($"n".as("u")), Seq("u"), "left_semi")
        .join(surv.select($"n".as("v")), Seq("v"), "left_semi")
    val (surv0, n0) = PlanBridge.checkpointMeasured(
      e0.select($"u".as("n")).union(e0.select($"v".as("n")))
        .distinct(), count(lit(1)))
    // monotone shrinkage: same size ⇒ same SET ⇒ fixpoint
    val (surv, iters, _) = PlanBridge.iterate(surv0, rounds,
        "k-core peeling (raise KCoreRounds in BOTH engines — the round " +
          "count is the contract)") { (surv, _) =>
      val ee = surviving(surv)
      ee.select($"u".as("n")).union(ee.select($"v".as("n")))
        .groupBy($"n").agg(count(lit(1)).as("d"))
        .filter($"d" >= k).select($"n")
    }(count(lit(1)), PlanBridge.settled(n0))
    val ef = surviving(surv)
    // materialize the (small) core frame BEFORE releasing the edge and
    // round checkpoints it still references — the returned DataFrame is
    // consumed lazily by the caller, after this function exits
    val out = PlanBridge.checkpointResetStats(
      ef.select($"u".as("part")).union(ef.select($"v".as("part")))
        .groupBy($"part").agg(count(lit(1)).as("core_deg")))
    Seq(e0, surv0, surv).foreach(PlanBridge.release)
    (out.orderBy($"part"), iters)
  }

  /** q294 — the [[KCoreK]]-core of the support-≥2 co-purchase part
    * graph (q147's graph): surviving parts + their in-core degree.
    */
  val q294KCore: Q = (s, dir) => {
    import s.implicits._
    val op = T.lineitem(s, dir)
      .select($"l_orderkey", $"l_partkey").distinct()
    val edges = op.as("a").join(op.as("b"),
        $"a.l_orderkey" === $"b.l_orderkey" && $"a.l_partkey" < $"b.l_partkey")
      .groupBy($"a.l_partkey".as("u"), $"b.l_partkey".as("v"))
      .agg(count(lit(1)).as("supp"))
      .filter($"supp" >= SupportMin)
      .select($"u", $"v")
    kcore(edges, KCoreK, KCoreRounds)._1
  }

  /** Oracle: the identical peeling unrolled to [[KCoreRounds]] chained
    * CTEs (DuckDB's recursive CTE allows only ONE reference to the
    * recursive table, but each peel round needs the surviving set on
    * BOTH edge endpoints — so the fixed-round contract is spelled as a
    * generated chain instead).
    */
  val q294Sql: String = {
    val rounds = (1 to KCoreRounds).map { i =>
      val p = if (i == 1) "s0" else s"s${i - 1}"
      s"""s$i AS MATERIALIZED (
         |  SELECT n FROM (
         |    SELECT e.u AS n FROM ed e
         |    WHERE e.u IN (SELECT n FROM $p) AND e.v IN (SELECT n FROM $p)
         |    UNION ALL
         |    SELECT e.v AS n FROM ed e
         |    WHERE e.u IN (SELECT n FROM $p) AND e.v IN (SELECT n FROM $p))
         |  GROUP BY n HAVING COUNT(*) >= $KCoreK)""".stripMargin
    }.mkString(",\n")
    s"""WITH op AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       |ed AS MATERIALIZED (
       |  SELECT a.l_partkey AS u, b.l_partkey AS v
       |  FROM op a JOIN op b
       |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
       |  GROUP BY u, v HAVING COUNT(*) >= $SupportMin),
       |s0 AS (SELECT DISTINCT n FROM (
       |  SELECT u AS n FROM ed UNION ALL SELECT v FROM ed)),
       |$rounds
       |SELECT n AS part, CAST(COUNT(*) AS BIGINT) AS core_deg FROM (
       |  SELECT e.u AS n FROM ed e
       |  WHERE e.u IN (SELECT n FROM s$KCoreRounds)
       |    AND e.v IN (SELECT n FROM s$KCoreRounds)
       |  UNION ALL
       |  SELECT e.v AS n FROM ed e
       |  WHERE e.u IN (SELECT n FROM s$KCoreRounds)
       |    AND e.v IN (SELECT n FROM s$KCoreRounds))
       |GROUP BY n ORDER BY part""".stripMargin
  }

  val entries: Seq[Entry] = Seq(Entry("q294_kcore", q294KCore, q294Sql))
}
