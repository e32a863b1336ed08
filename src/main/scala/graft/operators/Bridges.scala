package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.PlanBridge

import graft.core.{Entry, Tables => T}

/** BRIDGES AND ARTICULATION POINTS of an undirected graph — the
  * graph-robustness leg next to k-truss/coreness/conductance (which
  * single edge or node disconnects a dedup cluster?): a bridge is an
  * edge whose removal disconnects its component, an articulation point
  * a node whose removal does. Tarjan's DFS low-link (SICOMP'72) is
  * inherently sequential; the distributed spelling here is the
  * SPANNING-FOREST COVERAGE CENSUS (Tarjan–Vishkin SICOMP'85
  * biconnectivity viewpoint, r15 verdict ask #5):
  *
  *   - Take any spanning forest T (here the q559 Borůvka MST — already
  *     deterministic). A NON-tree edge (a, b) "covers" every tree edge
  *     on the tree path a..b. A tree edge is a BRIDGE iff NO non-tree
  *     edge covers it (it reconnects T − e iff its path crosses e);
  *     non-tree edges are never bridges (T − e already connects them).
  *     This holds for ANY spanning tree, not just a DFS tree.
  *   - For ARTICULATION: the components of T − v are the tree-neighbor
  *     "parts" of v. Any graph edge reconnecting two parts must have
  *     its tree path pass THROUGH v, merging exactly the two
  *     tree-neighbors adjacent to v on that path. So the census that
  *     finds the paths also yields, per interior vertex, the merge
  *     pairs; v is an articulation point iff its parts do NOT all
  *     merge into one (a per-vertex mini-CC over ≤ deg(v) parts).
  *
  * Mechanics (all keyed equi-joins, measured-budget loops):
  *   1. root each tree component at its min node (min-label to
  *      fixpoint over tree adjacency), BFS parent/depth assignment
  *      (unique parents — it's a tree);
  *   2. CLIMB all non-tree pairs toward their LCA simultaneously: per
  *      round, lift whichever endpoint is deeper (both when equal
  *      depth), emitting one (pair, lifted-child) cover row per lift —
  *      rounds ≤ 2·depth(T);
  *   3. bridges = tree edges whose child end never appears in a cover
  *      row; 4. touches: each cover row (child c, parent p) touches
  *      vertex p with neighbor c and vertex c with neighbor p; a pair
  *      touching a vertex TWICE is a path passing through it — its two
  *      neighbors there merge; per-vertex min-label CC over the merge
  *      pairs counts surviving parts.
  *
  * Budgets measured at the fixtures (Round16WaveSpec): max 3 rounds on
  * the near-dup graph (shallow clusters), 5 on the tree+chords graph
  * at sf0.001 — and the tree graph's depth-bounded loops stay
  * ≤ 2·⌈log₄([[TcMaxNodes]])⌉ = 12 by construction at every SF.
  *
  * Oracle: DEFINITION-based, not a replay — DuckDB recursive CTEs
  * compute for every edge whether its endpoints reconnect without it
  * (q571, over the identical q43/q559 Jaccard pair graph —
  * BoruvkaMst.JaccardEdgesCtes shared verbatim) and for every vertex
  * whether all its neighbors stay mutually reachable without it
  * (q572, over the [[treeChordEdges]] graph — the near-dup graph is
  * cliques-and-pairs with zero cut vertices at every SF, measured).
  * Engine census vs oracle reachability IS the gate.
  *
  * Scale shape: the forest comes from the O(log n)-round Borůvka; the
  * climb state is one row per non-tree edge, halving... shrinking by
  * one depth level per round with covers accumulated by unionAll +
  * checkpoint; everything shuffles on plain node keys; the only
  * per-vertex structure is bounded by the vertex's tree degree. No
  * closure, no all-pairs, no Euler tour.
  */
object Bridges {

  import Entry.Q

  /** Round budget shared by the label/BFS/climb/parts loops — all
    * depth- or diameter-bounded; measured max 3 (near-dup) / 5
    * (tree+chords) at sf0.001, ≤ 2·⌈log₄(TcMaxNodes)⌉ = 12 structural
    * bound on the capped tree graph.
    */
  val BrMaxRounds = 40

  /** One LCA-climb step's joined frame — the climb loop BODY, exposed
    * so ScalePlanSpec can pin its plan (checkpointing erases round
    * joins): active pairs pick up both endpoints' parents via two
    * keyed equi-joins and flag which side lifts.
    */
  def climbJoined(st: DataFrame, pmap: DataFrame): DataFrame = {
    val s = st.sparkSession
    import s.implicits._
    st.filter($"x" =!= $"y")
      .join(pmap.select($"node".as("x"), $"parent".as("px")), "x")
      .join(pmap.select($"node".as("y"), $"parent".as("py")), "y")
      .withColumn("lx", $"dx" >= $"dy")
      .withColumn("ly", $"dy" >= $"dx")
  }

  /** Both censuses off one pass: returns
    * (edges: (u, v, is_bridge), nodes: (node, deg, is_articulation),
    * rounds run by the BFS, climb and parts loops).
    * Precondition: `wEdges` carries each undirected edge ONCE with
    * u < v (what [[BoruvkaMst.jaccardDistEdges]] and
    * [[treeChordEdges]] emit) — the tree/non-tree anti-join matches on
    * that orientation.
    */
  def census(wEdges: DataFrame): (DataFrame, DataFrame, Seq[Int]) = {
    val s = wEdges.sparkSession
    import s.implicits._
    // materialize the (possibly expensive) edge build ONCE — mst() and
    // the census both read it
    val wc = PlanBridge.checkpointResetStats(wEdges.select($"u", $"v", $"w"))
    val edges = PlanBridge.checkpointResetStats(
      wc.select($"u", $"v").distinct())
    val tree = PlanBridge.checkpointResetStats(
      BoruvkaMst.mstForest(wc)._1.select($"u", $"v"))
    val nte = PlanBridge.checkpointResetStats(
      edges.join(tree, Seq("u", "v"), "left_anti"))
    val tAdj = tree.select($"u".as("x"), $"v".as("y"))
      .unionAll(tree.select($"v".as("x"), $"u".as("y")))

    // component roots via the O(log n)-round CC (min-label + path
    // halving — a plain min-label fixpoint here costs tree-DIAMETER
    // rounds, the dominant term on deep trees)
    val lbl = ConnectedComponents(tree, "u", "v")

    // BFS parent/depth from the roots (parents are unique in a tree)
    var (assigned, n) = PlanBridge.checkpointMeasured(
      lbl.select($"comp").distinct()
        .select($"comp".as("node"), lit(-1L).as("parent"),
          lit(0L).as("depth")), count(lit(1)))
    var frontier = assigned
    var r = 0
    while (n > 0L) {
      r += 1
      require(r <= BrMaxRounds, s"tree BFS exceeded $BrMaxRounds")
      val (fresh, nFresh) = PlanBridge.checkpointMeasured(
        tAdj.join(frontier.select($"node".as("x"), $"depth"), Seq("x"))
          .select($"y".as("node"), $"x".as("parent"),
            ($"depth" + 1L).as("depth"))
          .join(assigned.select($"node"), Seq("node"), "left_anti")
          .groupBy($"node")
          .agg(min($"parent").as("parent"), min($"depth").as("depth")),
        count(lit(1)))
      val grown = PlanBridge.checkpointResetStats(assigned.unionAll(fresh))
      Seq(frontier, assigned).foreach(PlanBridge.release)
      assigned = grown
      frontier = fresh
      n = nFresh
    }
    val bfsRounds = r
    val pmap = assigned // (node, parent, depth)

    // CLIMB: all non-tree pairs toward their LCA in lockstep
    val unmet = count(when($"x" =!= $"y", 1))
    var (st, nActive) = PlanBridge.checkpointMeasured(nte
      .join(pmap.select($"node".as("u"), $"depth".as("du")), "u")
      .join(pmap.select($"node".as("v"), $"depth".as("dv")), "v")
      .select($"u".as("a"), $"v".as("b"), $"u".as("x"), $"du".as("dx"),
        $"v".as("y"), $"dv".as("dy")), unmet)
    // covers accumulate as a buffer of per-round (already-checkpointed
    // lineage) frames and union ONCE — checkpointing the growing union
    // every round was the dominant cost on deep trees
    val coverRounds = scala.collection.mutable.ArrayBuffer[DataFrame]()
    r = 0
    while (nActive > 0L) {
      r += 1
      require(r <= BrMaxRounds, s"LCA climb exceeded $BrMaxRounds")
      val act = PlanBridge.checkpointResetStats(climbJoined(st, pmap))
      coverRounds +=
        act.filter($"lx").select($"a", $"b", $"x".as("child"))
          .unionAll(act.filter($"ly").select($"a", $"b", $"y".as("child")))
      val (next, nNext) = PlanBridge.checkpointMeasured(
        st.filter($"x" === $"y").unionAll(act.select($"a", $"b",
          when($"lx", $"px").otherwise($"x").as("x"),
          when($"lx", $"dx" - 1L).otherwise($"dx").as("dx"),
          when($"ly", $"py").otherwise($"y").as("y"),
          when($"ly", $"dy" - 1L).otherwise($"dy").as("dy"))), unmet)
      PlanBridge.release(st)
      st = next
      nActive = nNext
    }
    val climbRounds = r
    val covers = PlanBridge.checkpointResetStats(
      coverRounds.foldLeft(
        s.emptyDataset[(Long, Long, Long)].toDF("a", "b", "child"))(
        _ unionAll _))

    // BRIDGES: tree edge ≡ its child end; uncovered ⟹ bridge
    val covered = covers.select($"child").distinct()
    val treeChild = tree
      .join(pmap.select($"node".as("u"), $"depth".as("du")), "u")
      .join(pmap.select($"node".as("v"), $"depth".as("dv")), "v")
      .select($"u", $"v",
        when($"du" > $"dv", $"u").otherwise($"v").as("child"))
    val bridgeEdges = treeChild
      .join(covered.withColumn("cov", lit(true)), Seq("child"), "left")
      .select($"u", $"v", $"cov".isNull.as("is_bridge"))
    val edgeCensus = edges
      .join(bridgeEdges, Seq("u", "v"), "left")
      .select($"u", $"v", coalesce($"is_bridge", lit(false)).as("is_bridge"))
      .orderBy($"u", $"v")

    // ARTICULATION: touches → merge pairs → per-vertex parts CC
    val rows = covers
      .join(pmap.select($"node".as("child"), $"parent"), "child")
    val touches = rows
      .select($"a", $"b", $"parent".as("vx"), $"child".as("nb"))
      .unionAll(rows.select($"a", $"b", $"child".as("vx"),
        $"parent".as("nb")))
      .filter($"nb" =!= -1L) // roots have no parent-side neighbor
    val merges = PlanBridge.checkpointResetStats(touches
      .groupBy($"a", $"b", $"vx")
      .agg(min($"nb").as("n1"), max($"nb").as("n2"),
        count(lit(1)).as("cnt"))
      .filter($"cnt" === 2)
      .select($"vx".as("node"), $"n1", $"n2").distinct())
    val mAdj = merges.select($"node", $"n1".as("p"), $"n2".as("q"))
      .unionAll(merges.select($"node", $"n2".as("p"), $"n1".as("q")))
    // parts = tree neighbors of each vertex, one row per (node, nb); the
    // previous label rides along as `old`, so a round's change count is
    // measured on its own checkpoint
    val parts0 = PlanBridge.checkpointResetStats(
      tAdj.select($"x".as("node"), $"y".as("nb"), $"y".as("pl")))
    val (parts, partsRounds, _) = PlanBridge.iterate(parts0, BrMaxRounds,
        "parts CC") { (parts, _) =>
      val viaMerge = parts
        .join(mAdj.select($"node", $"p".as("nb"), $"q"),
          Seq("node", "nb"))
        .select($"node", $"q".as("nb"), $"pl", lit(null).cast("long").as("old"))
      parts.select($"node", $"nb", $"pl", $"pl".as("old")).unionAll(viaMerge)
        .groupBy($"node", $"nb").agg(min($"pl").as("pl"), max($"old").as("old"))
    }(count(when($"pl" =!= $"old", 1)), _ == 0)
    PlanBridge.release(parts0)
    val nParts = parts.groupBy($"node")
      .agg(countDistinct($"pl").as("n_parts"))
    val deg = edges.select($"u".as("node")).unionAll(edges.select($"v"))
      .groupBy($"node").agg(count(lit(1)).as("deg"))
    val nodeCensus = deg.join(nParts, Seq("node"))
      .select($"node", $"deg", ($"n_parts" > 1L).as("is_articulation"))
      .orderBy($"node")
    (edgeCensus, nodeCensus, Seq(bfsRounds, climbRounds, partsRounds))
  }

  /** The near-dup graph's edge census as a build-once PERSISTED table
    * per (JVM, dir) — the [[graft.core.IndexStore]] r12 discipline
    * (r16 verdict perf ask: the census executed once for q571 and
    * again inside q573's 2ECC, on an edge frame that was itself
    * rebuilt per query; both now read [[BoruvkaMst.jaccardEdgesTable]]
    * and the census fixpoints run once per (JVM, dir)).
    */
  def jaccardCensusTable(s: SparkSession, dir: String): DataFrame =
    s.table(graft.core.IndexStore.ensure(s, "jcensus", dir)(
      census(BoruvkaMst.jaccardEdgesTable(s, dir))._1))

  /** q571 — bridge census of the document near-dup graph. */
  val q571Bridges: Q = (s, dir) =>
    jaccardCensusTable(s, dir).orderBy("u", "v")

  /** Node cap for the q572 fixture graph — bounds the tree depth (and
    * so the climb rounds and the bench cost) at sf ≥ 0.1 while leaving
    * sf0.001/sf0.01 uncapped.
    */
  val TcMaxNodes = 2048L

  /** Chord rate: one in four nodes carries a chord. */
  val TcChordMod = 4L

  /** Tree arity — quaternary keeps the fixture depth at
    * ⌈log₄(TcMaxNodes)⌉ = 6, bounding the depth-proportional BFS/climb
    * round counts (a binary tree doubles them for no extra structure).
    */
  val TcArity = 4L

  /** The q572 fixture: a quaternary (arity-[[TcArity]]) TREE over the
    * (0-based, contiguous) customer keys — every internal node a cut vertex, every edge a
    * bridge — plus md5-selected CHORDS that close cycles and kill some
    * of them, so BOTH flag values are exercised (the near-dup doc
    * graph is all cliques-and-pairs — measured 0 articulation points
    * at every SF — so it discriminates bridges but not cut vertices).
    * md5 is engine-independent; DuckDB rebuilds the identical graph.
    */
  def treeChordEdges(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val nodes = T.customer(s, dir)
      .select($"c_custkey".cast("long").as("v"))
      .filter($"v" < TcMaxNodes)
    val n = nodes.count()
    val tree = nodes.filter($"v" >= 1L)
      .select(expr(s"v div $TcArity").as("u"), $"v")
    val chord0 = nodes
      .filter(pmod(conv(substring(
        md5(concat(lit("ch:"), $"v".cast("string"))), 1, 4), 16, 10)
        .cast("long"), lit(TcChordMod)) === 0L)
      .select($"v".as("a"),
        pmod(conv(substring(
          md5(concat(lit("ct:"), $"v".cast("string"))), 1, 4), 16, 10)
          .cast("long"), lit(n)).as("b"))
      .filter($"a" =!= $"b")
      .select(least($"a", $"b").as("u"), greatest($"a", $"b").as("v"))
    tree.unionAll(chord0).distinct().withColumn("w", lit(1L))
  }

  /** q572 — articulation-point census of the tree+chords graph. */
  val q572Articulation: Q = (s, dir) =>
    census(treeChordEdges(s, dir))._2

  /** q573 — TWO-EDGE-CONNECTED components of the near-dup graph (the
    * robustness partition the bridge census buys: nodes in the same
    * 2ECC survive ANY single edge failure together — the granularity
    * at which a dedup cluster is actually robust): remove the bridges,
    * take connected components of what remains (the textbook
    * bridge-tree construction), label by min member; bridge-isolated
    * nodes are singleton classes. Composes [[census]] with the
    * O(log n) [[ConnectedComponents]]; the oracle replays the
    * DEFINITION — u, v in one class iff u reaches v without crossing
    * any bridge, bridges themselves defined by the q571 reachability
    * CTE, never by the engine's census.
    */
  val q573TwoEdgeCc: Q = (s, dir) =>
    twoEdgeCcFromCensus(jaccardCensusTable(s, dir))

  /** `(node, tecc_id, tecc_size)` over a weighted `(u, v, w)` frame. */
  def twoEdgeCc(wEdges: DataFrame): DataFrame =
    twoEdgeCcFromCensus(census(wEdges)._1)

  /** The 2ECC finish off a prebuilt `(u, v, is_bridge)` edge census —
    * the shape q573 serves from [[jaccardCensusTable]], paying only
    * the marginal CC-of-non-bridges cost.
    */
  def twoEdgeCcFromCensus(edgeCensus: DataFrame): DataFrame = {
    val s = edgeCensus.sparkSession
    import s.implicits._
    val ec = PlanBridge.checkpointResetStats(edgeCensus)
    val nonBridge = ec.filter(!$"is_bridge").select($"u", $"v")
    val lbl = ConnectedComponents(nonBridge, "u", "v")
    val nodes = ec.select($"u".as("node")).unionAll(ec.select($"v"))
      .distinct()
    val full = nodes.join(lbl.select($"id".as("node"), $"comp"),
        Seq("node"), "left")
      .select($"node", coalesce($"comp", $"node").as("tecc_id"))
    val sizes = full.groupBy($"tecc_id").agg(count(lit(1)).as("tecc_size"))
    full.join(sizes, Seq("tecc_id"))
      .select($"node", $"tecc_id", $"tecc_size")
      .orderBy($"node")
  }

  val q573Sql: String =
    s"""WITH RECURSIVE ${BoruvkaMst.JaccardEdgesCtes},
      |$adjCte,
      |reachb(eu, ev, node) AS (
      |  SELECT u, v, u FROM pe
      |  UNION
      |  SELECT r.eu, r.ev, a.y
      |  FROM reachb r JOIN adj a ON a.x = r.node
      |  WHERE NOT (LEAST(a.x, a.y) = r.eu AND GREATEST(a.x, a.y) = r.ev)),
      |nb AS (
      |  SELECT pe.u, pe.v FROM pe JOIN reachb rb
      |    ON rb.eu = pe.u AND rb.ev = pe.v AND rb.node = pe.v),
      |nbadj AS (SELECT * FROM (
      |  SELECT u AS x, v AS y FROM nb
      |  UNION ALL SELECT v AS x, u AS y FROM nb) zn),
      |reach2(src, node) AS (
      |  SELECT x, x FROM nbadj
      |  UNION
      |  SELECT r.src, a.y FROM reach2 r JOIN nbadj a ON a.x = r.node),
      |lbl AS (SELECT src AS node, MIN(node) AS tecc_id
      |        FROM reach2 GROUP BY src),
      |nodes AS (SELECT * FROM (
      |  SELECT u AS node FROM pe UNION SELECT v FROM pe) zo),
      |full_ AS (
      |  SELECT n.node, COALESCE(l.tecc_id, n.node) AS tecc_id
      |  FROM nodes n LEFT JOIN lbl l ON n.node = l.node),
      |sizes AS (SELECT tecc_id, COUNT(*) AS tecc_size
      |          FROM full_ GROUP BY tecc_id)
      |SELECT f.node, f.tecc_id, s.tecc_size
      |FROM full_ f JOIN sizes s ON f.tecc_id = s.tecc_id
      |ORDER BY f.node""".stripMargin

  // every top-level set-op inside a WITH RECURSIVE body is wrapped in
  // a subquery: DuckDB applies RECURSIVE-CTE semantics to ANY
  // top-level UNION there (even without self-reference), silently
  // dropping the cross-branch dedup
  private def adjCte: String =
    """adj AS (SELECT * FROM (
      |  SELECT u AS x, v AS y FROM pe
      |  UNION ALL SELECT v AS x, u AS y FROM pe) za)""".stripMargin

  val q571Sql: String =
    s"""WITH RECURSIVE ${BoruvkaMst.JaccardEdgesCtes},
      |$adjCte,
      |reachb(eu, ev, node) AS (
      |  SELECT u, v, u FROM pe
      |  UNION
      |  SELECT r.eu, r.ev, a.y
      |  FROM reachb r JOIN adj a ON a.x = r.node
      |  WHERE NOT (LEAST(a.x, a.y) = r.eu AND GREATEST(a.x, a.y) = r.ev))
      |SELECT pe.u, pe.v, (rb.node IS NULL) AS is_bridge
      |FROM pe LEFT JOIN reachb rb
      |  ON rb.eu = pe.u AND rb.ev = pe.v AND rb.node = pe.v
      |ORDER BY pe.u, pe.v""".stripMargin

  val q572Sql: String =
    s"""WITH RECURSIVE nodes AS (
      |  SELECT CAST(c_custkey AS BIGINT) AS v FROM customer
      |  WHERE c_custkey < $TcMaxNodes),
      |n1 AS (SELECT COUNT(*) AS n FROM nodes),
      |tree AS (SELECT v // $TcArity AS u, v FROM nodes WHERE v >= 1),
      |chord0 AS (
      |  SELECT LEAST(a, b) AS u, GREATEST(a, b) AS v FROM (
      |    SELECT v AS a,
      |      CAST('0x' || substring(md5('ct:' || CAST(v AS VARCHAR)), 1, 4)
      |        AS BIGINT) % n AS b
      |    FROM nodes CROSS JOIN n1
      |    WHERE CAST('0x' || substring(md5('ch:' || CAST(v AS VARCHAR)), 1, 4)
      |      AS BIGINT) % $TcChordMod = 0) x
      |  WHERE a <> b),
      |pe AS (SELECT * FROM (
      |  SELECT u, v FROM tree UNION SELECT u, v FROM chord0) zp),
      |$adjCte,
      |anb AS (SELECT x AS vx, MIN(y) AS mn FROM adj GROUP BY x),
      |reachv(vx, node) AS (
      |  SELECT vx, mn FROM anb
      |  UNION
      |  SELECT r.vx, a.y
      |  FROM reachv r JOIN adj a ON a.x = r.node
      |  WHERE a.y <> r.vx),
      |deg AS (SELECT x AS node, CAST(COUNT(*) AS BIGINT) AS deg
      |        FROM adj GROUP BY x)
      |SELECT d.node, d.deg,
      |  EXISTS (SELECT 1 FROM adj a WHERE a.x = d.node
      |          AND NOT EXISTS (SELECT 1 FROM reachv r
      |                          WHERE r.vx = d.node AND r.node = a.y))
      |    AS is_articulation
      |FROM deg d ORDER BY d.node""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("q571_bridges", q571Bridges, q571Sql),
    Entry("q572_articulation", q572Articulation, q572Sql),
    Entry("q573_two_edge_cc", q573TwoEdgeCc, q573Sql))
}
