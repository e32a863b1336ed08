package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.PlanBridge

import graft.core.{Entry, Tables => T}

/** GENERAL SCC OVER A DIRECTED EDGE LIST — coloring / forward-backward
  * peeling (Orzan'04 / Hong-Rodia-Olukotun PPoPP'13 "On fast parallel
  * detection of strongly connected components", the MapReduce/Pregel
  * standard; Fleischer-Hendrickson-Pinar's divide-and-conquer FW-BW is
  * the same peel with reachability in both directions): the directed
  * sibling of connected components q101 that the CC/LPA/Luby round
  * family was missing — link graphs and citation-style corpus graphs
  * are directed, and "mutually reachable" (SCC), not "connected"
  * (WCC), is the cycle structure dedup/ranking cares about there.
  *
  * Per outer PEEL over the still-unassigned subgraph:
  *   1. TRIM: nodes with no in-edge or no out-edge in the live
  *      subgraph are singleton SCCs — assigned and removed wholesale
  *      (the Hong et al. trim step; kills the tail mass cheaply).
  *   2. COLOR: forward min-label propagation to fixpoint —
  *      col(v) = min id that reaches v in the live subgraph. The
  *      whole SCC of every ROOT r (col(r) = r) is colored exactly r,
  *      and no path between two color-r nodes leaves color r (both
  *      facts by minimality: a smaller id reaching any vertex on such
  *      a path would reach r too), so
  *   3. HARVEST: backward reachability to the root WITHIN the color
  *      class — b(v) ⟸ v = col(v) or an edge v→u with
  *      col(u) = col(v) ∧ b(u) — marks exactly SCC(r) for every root
  *      simultaneously; assign scc_id = col(v), remove, repeat.
  *
  * Every inner propagation round and every peel is a keyed equi-join +
  * partial agg on the (node) key, checkpointed through
  * [[PlanBridge.checkpointResetStats]] (the round-11 lesson). Round
  * budgets are MEASURED at the fixtures and REQUIREd fail-loud (the
  * q522/q559 discipline): propagation is diameter-bounded, peeling is
  * SCC-DAG-depth-bounded — O(n) on an adversarial chain of singleton
  * SCCs (the documented worst case; multi-pivot + more aggressive
  * trimming are the literature's mitigations), small on the
  * power-law-ish graphs the operator targets — measured 1 peel /
  * ≤ 11 propagation rounds at the fixtures (Round16WaveSpec).
  *
  * Fixture graph (the FunctionalScc convention, out-degree 2 instead
  * of 1 so the structure is GENERAL): nodes = 0-based supplier keys,
  * edges v → md5_16('sa:'‖v) mod n and v → md5_16('sb:'‖v) mod n —
  * md5 is engine-independent, so DuckDB rebuilds the identical graph
  * and the oracle computes every (node, scc_id, scc_size) row from an
  * INDEPENDENT algorithm: recursive-CTE transitive closure +
  * min-mutual-reachable (O(n²) memory, impossible at scale — engine
  * peeling vs oracle closure IS the gate).
  *
  * Scale shape: no closure is ever materialized engine-side; state is
  * one (node, col/b) row per live node and the edge list, shuffled on
  * plain node keys; TRIM's degree census is two partial aggs. At 100
  * TB the edge list partitions on src/dst like every other graph op
  * in operators/ (CC q101, PageRank q138, coreness q520).
  */
object SccColoring {

  import Entry.Q

  /** Outer peel budget — measured 1 at the sf0.001/sf0.01 fixtures
    * (the giant SCC harvests in the first peel, the tail trims).
    */
  val SccMaxPeels = 8

  /** Inner trim/propagation budget per loop — diameter-bounded;
    * measured max 7 (sf0.001) / 11 (sf0.01) across all three inner
    * loops.
    */
  val SccMaxProp = 40

  /** (u, v) directed md5 edges over 0-based supplier keys + node count. */
  def edges(s: SparkSession, dir: String): (DataFrame, Long) = {
    import s.implicits._
    // s_suppkey is 0-based in these fixtures (min key 0), so the key
    // IS the node id and hash targets mod n stay inside the universe
    val sup = T.supplier(s, dir)
      .select($"s_suppkey".cast("long").as("node"))
    val n = sup.count()
    def h(salt: String) = pmod(conv(substring(
      md5(concat(lit(salt), $"node".cast("string"))), 1, 4), 16, 10)
      .cast("long"), lit(n))
    val e = sup.select($"node".as("u"), h("sa:").as("v"))
      .unionAll(sup.select($"node".as("u"), h("sb:").as("v")))
      .distinct()
    (e, n)
  }

  /** One forward min-label propagation step — the coloring loop BODY,
    * exposed so ScalePlanSpec can pin its plan (checkpointing erases
    * round joins from final plans): col(v) ← min(col(v), col(u) over
    * in-edges), restricted to live nodes; the previous label rides
    * along as `old`.
    */
  def colorStep(col: DataFrame, liveEdges: DataFrame, live: DataFrame)
      : DataFrame = {
    val s = col.sparkSession
    import s.implicits._
    col.join(liveEdges, $"node" === $"u", "left")
      .select(coalesce($"v", $"node").as("tgt"), $"col",
        lit(null).cast("long").as("old"))
      .unionAll(col.select($"node".as("tgt"), $"col", $"col".as("old")))
      .groupBy($"tgt").agg(min($"col").as("col"), max($"old").as("old"))
      .select($"tgt".as("node"), $"col", $"old")
      .join(live, Seq("node"), "left_semi")
  }

  /** Per-node `(node, scc_id, scc_size)` of a directed `(u, v)` edge
    * list (node universe = endpoints of both columns), scc_id = the
    * SCC's minimum node.
    */
  def scc(edges0: DataFrame): DataFrame = sccWithRounds(edges0)._1

  /** [[scc]] and the rounds its loops ran: "peel" (outer), and the most
    * any one peel's "trim", "color" and "harvest" loop took.
    */
  def sccWithRounds(edges0: DataFrame): (DataFrame, Map[String, Int]) = {
    val s = edges0.sparkSession
    import s.implicits._
    val edgesAll = PlanBridge.checkpointResetStats(
      edges0.select($"u", $"v").distinct())
    var (live, nLive) = PlanBridge.checkpointMeasured(
      edgesAll.select($"u".as("node")).unionAll(edgesAll.select($"v"))
        .distinct(), count(lit(1)))
    var liveEdges = edgesAll
    var acc = s.emptyDataset[(Long, Long)].toDF("node", "scc_id")
    val rounds = scala.collection.mutable.Map(
      "peel" -> 0, "trim" -> 0, "color" -> 0, "harvest" -> 0)
    def ran(loop: String, r: Int): Unit =
      rounds(loop) = math.max(rounds(loop), r)
    // move `gone` (node, scc_id) from the live subgraph to the result
    def assign(gone: DataFrame): Unit = {
      val superseded = Seq(acc, live, liveEdges)
      acc = PlanBridge.checkpointResetStats(acc.unionAll(gone))
      val (nextLive, n) = PlanBridge.checkpointMeasured(
        live.join(gone.select($"node"), Seq("node"), "left_anti"),
        count(lit(1)))
      live = nextLive
      nLive = n
      liveEdges = PlanBridge.checkpointResetStats(
        liveEdges
          .join(gone.select($"node".as("u")), Seq("u"), "left_anti")
          .join(gone.select($"node".as("v")), Seq("v"), "left_anti"))
      superseded.foreach(PlanBridge.release)
    }
    var peel = 0
    while (nLive > 0L) {
      peel += 1
      require(peel <= SccMaxPeels,
        s"SCC exceeded $SccMaxPeels peels — re-measure the budget")
      // 1. TRIM singleton SCCs to FIXPOINT: no live in-edge or no live
      // out-edge (self-loops don't save a node from trimming: a
      // self-loop singleton is still a singleton SCC, id = itself).
      // Iterating inside the peel collapses DAG-like tail chains in
      // one peel instead of one peel per layer.
      var nTrimmed = 1L
      var trimRounds = 0
      while (nTrimmed > 0L) {
        trimRounds += 1
        require(trimRounds <= SccMaxProp,
          s"SCC trim exceeded $SccMaxProp rounds — re-measure")
        val nonSelf = liveEdges.filter($"u" =!= $"v")
        val hasOut = nonSelf.select($"u".as("node")).distinct()
        val hasIn = nonSelf.select($"v".as("node")).distinct()
        val (trimmed, n) = PlanBridge.checkpointMeasured(
          live.join(hasOut, Seq("node"), "left_anti")
            .unionAll(live.join(hasIn, Seq("node"), "left_anti"))
            .distinct(), count(lit(1)))
        nTrimmed = n
        if (n > 0L) assign(trimmed.select($"node", $"node".as("scc_id")))
        PlanBridge.release(trimmed)
      }
      ran("trim", trimRounds)
      if (nLive > 0L) {
        // 2. COLOR: forward min-label to fixpoint
        val (col, prop, _) = PlanBridge.iterate(
            live.select($"node", $"node".as("col")), SccMaxProp,
            "SCC coloring (re-measure SccMaxProp)") {
          (col, _) => colorStep(col, liveEdges, live)
        }(count(when($"col" =!= $"old", 1)), _ == 0)
        ran("color", prop)
        // 3. HARVEST: backward reach-to-root within the color class
        val colEdges = PlanBridge.checkpointResetStats(
          liveEdges
            .join(col.select($"node".as("u"), $"col".as("cu")), "u")
            .join(col.select($"node".as("v"), $"col".as("cv")), "v")
            .filter($"cu" === $"cv")
            .select($"u", $"v"))
        var b = PlanBridge.checkpointResetStats(
          col.filter($"node" === $"col").select($"node", $"col"))
        var nAdd = 1L
        var bprop = 0
        while (nAdd > 0L) {
          bprop += 1
          require(bprop <= SccMaxProp,
            s"SCC harvest exceeded $SccMaxProp rounds — re-measure")
          val (add, n) = PlanBridge.checkpointMeasured(
            colEdges.join(b.select($"node".as("v"), $"col"), Seq("v"))
              .select($"u".as("node"), $"col").distinct()
              .join(b, Seq("node"), "left_anti"), count(lit(1)))
          nAdd = n
          if (n > 0L) {
            val grown = PlanBridge.checkpointResetStats(b.unionAll(add))
            PlanBridge.release(b)
            b = grown
          }
          PlanBridge.release(add)
        }
        ran("harvest", bprop)
        assign(b.select($"node", $"col".as("scc_id")))
        Seq(col, colEdges, b).foreach(PlanBridge.release)
      }
    }
    ran("peel", peel)
    val sizes = acc.groupBy($"scc_id").agg(count(lit(1)).as("scc_size"))
    (acc.join(sizes, Seq("scc_id"))
      .select($"node", $"scc_id", $"scc_size")
      .orderBy($"node"), rounds.toMap)
  }

  /** The SCC partition as a build-once PERSISTED table per (JVM, dir)
    * — the [[graft.core.IndexStore]] r12 discipline (r16 verdict perf
    * ask: q574 re-ran the ENTIRE scc() fixpoint ahead of its level
    * propagation, paying it twice per full pass; both q570 and q574
    * now read this table and the trim/color/harvest loop runs once
    * per (JVM, dir)).
    */
  def sccTable(s: SparkSession, dir: String): DataFrame =
    s.table(graft.core.IndexStore.ensure(s, "scc", dir)(
      scc(edges(s, dir)._1)))

  /** q570 — SCC census of the md5 out-degree-2 digraph over supplier
    * keys.
    */
  val q570Scc: Q = (s, dir) => sccTable(s, dir).orderBy("node")

  val q570Sql: String =
    """WITH RECURSIVE sup AS (
      |  SELECT CAST(s_suppkey AS BIGINT) AS node FROM supplier),
      |nn AS (SELECT COUNT(*) AS n FROM sup),
      |e AS (
      |  SELECT u, v FROM (
      |    SELECT node AS u,
      |      CAST('0x' || substring(md5('sa:' || CAST(node AS VARCHAR)), 1, 4)
      |        AS BIGINT) % n AS v
      |    FROM sup CROSS JOIN nn
      |    UNION
      |    SELECT node AS u,
      |      CAST('0x' || substring(md5('sb:' || CAST(node AS VARCHAR)), 1, 4)
      |        AS BIGINT) % n AS v
      |    FROM sup CROSS JOIN nn) x),
      |reach(src, dst) AS (
      |  SELECT node, node FROM sup
      |  UNION
      |  SELECT r.src, e.v FROM reach r JOIN e ON r.dst = e.u),
      |scc AS (
      |  SELECT a.src AS node, MIN(a.dst) AS scc_id
      |  FROM reach a JOIN reach b ON a.src = b.dst AND a.dst = b.src
      |  GROUP BY 1),
      |sizes AS (SELECT scc_id, COUNT(*) AS scc_size FROM scc GROUP BY 1)
      |SELECT node, scc.scc_id, scc_size
      |FROM scc JOIN sizes ON scc.scc_id = sizes.scc_id
      |ORDER BY node""".stripMargin

  /** Longest-path level budget for the condensation DAG — depth ≤
    * #SCCs structurally; measured 2 at the fixtures.
    */
  val SccMaxLevels = 40

  /** q574 — CONDENSATION-DAG topological levels: contract every SCC to
    * one node (the condensation is acyclic — the classic quotient),
    * then level(c) = longest path from a source SCC, by iterated
    * max-propagation (level'(v) = max(level(v), 1 + max over
    * predecessors) to fixpoint — rounds = DAG depth, measured +
    * REQUIREd). The execution-ordering readout over q570's partition:
    * which cycle-clusters can be processed first, which wait on
    * upstream clusters. Oracle: recursive-CTE path enumeration over
    * the closure-derived condensed edges (DAG ⟹ bounded), level =
    * max path length — an independent algorithm again.
    */
  val q574SccLevels: Q = (s, dir) =>
    sccLevelsFrom(edges(s, dir)._1, sccTable(s, dir))._1

  /** `(scc_id, scc_size, level)` over a directed `(u, v)` frame. */
  def sccLevels(edges0: DataFrame): DataFrame =
    sccLevelsFrom(edges0, scc(edges0))._1

  /** The level propagation off a PREBUILT `(node, scc_id, scc_size)`
    * partition — q574's marginal cost when the partition is served
    * from [[sccTable]] — and the propagation rounds run.
    */
  def sccLevelsFrom(edges0: DataFrame, byNode0: DataFrame)
      : (DataFrame, Int) = {
    val s = edges0.sparkSession
    import s.implicits._
    val e = PlanBridge.checkpointResetStats(edges0.select($"u", $"v"))
    val byNode = PlanBridge.checkpointResetStats(
      byNode0.select($"node", $"scc_id", $"scc_size"))
    val cond = PlanBridge.checkpointResetStats(
      e.join(byNode.select($"node".as("u"), $"scc_id".as("cu")), "u")
        .join(byNode.select($"node".as("v"), $"scc_id".as("cv")), "v")
        .filter($"cu" =!= $"cv")
        .select($"cu", $"cv").distinct())
    val lvl0 = PlanBridge.checkpointResetStats(
      byNode.select($"scc_id", $"scc_size").distinct()
        .withColumn("level", lit(0L)))
    val (lvl, r, _) = PlanBridge.iterate(lvl0, SccMaxLevels,
        "condensation levels (re-measure SccMaxLevels)") { (lvl, _) =>
      lvl.join(cond, $"scc_id" === $"cu", "left")
        .select(coalesce($"cv", $"scc_id").as("tgt"),
          when($"cv".isNotNull, $"level" + 1L).otherwise($"level")
            .as("lv"))
        .unionAll(lvl.select($"scc_id".as("tgt"), $"level".as("lv")))
        .groupBy($"tgt").agg(max($"lv").as("level"))
        .select($"tgt".as("scc_id"), $"level")
        .join(lvl.select($"scc_id", $"scc_size", $"level".as("old")),
          Seq("scc_id"))
    }(count(when($"level" =!= $"old", 1)), _ == 0)
    Seq(e, byNode, cond, lvl0).foreach(PlanBridge.release)
    (lvl.select($"scc_id", $"scc_size", $"level").orderBy($"scc_id"), r)
  }

  val q574Sql: String =
    """WITH RECURSIVE sup AS (
      |  SELECT CAST(s_suppkey AS BIGINT) AS node FROM supplier),
      |nn AS (SELECT COUNT(*) AS n FROM sup),
      |e AS (
      |  SELECT u, v FROM (
      |    SELECT node AS u,
      |      CAST('0x' || substring(md5('sa:' || CAST(node AS VARCHAR)), 1, 4)
      |        AS BIGINT) % n AS v
      |    FROM sup CROSS JOIN nn
      |    UNION
      |    SELECT node AS u,
      |      CAST('0x' || substring(md5('sb:' || CAST(node AS VARCHAR)), 1, 4)
      |        AS BIGINT) % n AS v
      |    FROM sup CROSS JOIN nn) x),
      |reach(src, dst) AS (
      |  SELECT node, node FROM sup
      |  UNION
      |  SELECT r.src, e.v FROM reach r JOIN e ON r.dst = e.u),
      |scc AS (
      |  SELECT a.src AS node, MIN(a.dst) AS scc_id
      |  FROM reach a JOIN reach b ON a.src = b.dst AND a.dst = b.src
      |  GROUP BY 1),
      |sizes AS (SELECT scc_id, COUNT(*) AS scc_size FROM scc GROUP BY 1),
      |cond AS (
      |  SELECT DISTINCT su.scc_id AS cu, sv.scc_id AS cv
      |  FROM e JOIN scc su ON e.u = su.node JOIN scc sv ON e.v = sv.node
      |  WHERE su.scc_id <> sv.scc_id),
      |paths(c, lvl) AS (
      |  SELECT scc_id, 0 FROM sizes
      |  UNION
      |  SELECT cond.cv, p.lvl + 1 FROM paths p JOIN cond ON cond.cu = p.c),
      |lvl AS (SELECT c AS scc_id, CAST(MAX(lvl) AS BIGINT) AS level
      |        FROM paths GROUP BY c)
      |SELECT s.scc_id, s.scc_size, l.level
      |FROM sizes s JOIN lvl l ON s.scc_id = l.scc_id
      |ORDER BY s.scc_id""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("q570_scc", q570Scc, q570Sql),
    Entry("q574_scc_levels", q574SccLevels, q574Sql))
}
