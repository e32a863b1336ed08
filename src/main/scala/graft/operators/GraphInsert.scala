package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.PlanBridge

import graft.core.Entry

/** INCREMENTAL INSERT into the serving graph — the index-UPDATE leg a
  * real vector-serving system needs (HNSW/NSG insert semantics: new
  * points enter by SEARCHING the existing graph, not by rebuilding
  * it): the corpus splits into a 90% BASE (hash-stable) and a 10%
  * DELTA batch; the base serving graph is built once (the q450
  * machinery on the base subset — expander seed, degree cap M), then
  * every delta point batch-walks the base graph (the q456 beam walk,
  * deltas as the query set), links to its best visited nodes in BOTH
  * directions, and the merged edge set re-caps to the M nearest per
  * node — exactly the insert path Malkov & Yashunin describe, run as
  * three keyed joins instead of per-point mutation.
  *
  * Gate (the q456 convention): exact-truth top-1 recall of the q456
  * query set served over the MERGED graph, truth computed over the
  * FULL corpus (base + delta — so a query whose true neighbor is a
  * freshly-inserted delta point only scores if the insert actually
  * wired it in) ≥ [[InsertRecallFloorPermille]], plus base-build
  * convergence and a non-empty delta.
  *
  * Scale shape: the base build is the q450 loop on 0.9n; the insert
  * is ONE batch walk (|delta| queries advancing together — hop cost
  * ∝ |delta|·beam·M) + one union + one bounded top-k re-cap. No
  * rebuild, no quadratic, no driver data beyond counters.
  */
object GraphInsert {

  import Entry.Q

  /** 1-in-10 hash split for the delta batch. */
  val DeltaMod = 10L
  /** Pinned after measuring (1000‰ at sf0.001/0.01/0.1). */
  val InsertRecallFloorPermille = 900L

  /** JVM-wide convergence memo keyed by the base-graph table name —
    * the Dbscan.graphMeta discipline: the table exists in this JVM iff
    * this JVM built it, so the entry is always present with it. The
    * r12 shape (`var baseConverged = true` assigned only inside the
    * build lambda) reported the DEFAULT when the table pre-existed
    * (e.g. qs22 built it first); the gate now always reflects the real
    * build outcome.
    */
  private val baseMeta =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()

  /** Convergence recorded at build time for this dir's base graph, if
    * this JVM built it — test hook for the reuse-path spec. */
  private[graft] def baseMetaFor(dir: String): Option[Boolean] =
    Option(baseMeta.get(graft.core.IndexStore.tableFor("ginsb", dir)))
      .map(_.booleanValue())

  /** Build-or-reuse the capped base serving graph over `base` (the
    * 90% hash-stable subset) as the build-once IndexStore table
    * `ginsb`, shared by q477 and qs22; returns (table name,
    * converged-at-build).
    */
  def ensureBaseGraph(s: SparkSession, dir: String,
      base: org.apache.spark.sql.DataFrame): (String, Boolean) = {
    import s.implicits._
    val t = graft.core.IndexStore.ensure(s, "ginsb", dir) {
      val (working, _, conv, _) = Dbscan.nndConvergeFromPts(base)
      baseMeta.put(graft.core.IndexStore.tableFor("ginsb", dir),
        java.lang.Boolean.valueOf(conv))
      val undirected = working.select($"a", $"b")
        .unionByName(working.select($"b".as("a"), $"a".as("b")))
        .distinct()
      graft.plans.TopK.perGroup(
        undirected
          .join(base.select($"vec_id".as("a"), $"x".as("ax"), $"y".as("ay")),
            "a")
          .join(base.select($"vec_id".as("b"), $"x".as("bx"), $"y".as("by")),
            "b")
          .select($"a", $"b",
            (($"ax" - $"bx") * ($"ax" - $"bx") +
              ($"ay" - $"by") * ($"ay" - $"by")).as("d2")),
        Seq("a"), Seq("d2" -> true, "b" -> true), GraphServe.MaxDegree)
        .select($"a", $"b")
    }
    val m = baseMeta.get(t)
    require(m != null, s"base graph $t exists without build metadata")
    (t, m.booleanValue())
  }

  /** (n_total, n_delta, hits, recall‰, converged) — public for the
    * spec. */
  def insertStats(s: SparkSession, dir: String)
      : (Long, Long, Long, Long, Boolean) = {
    import s.implicits._
    val pts = PlanBridge.checkpointResetStats(
      graft.core.Tables.embeddings(s, dir)
        .select($"vec_id",
          expr(s"CAST(FLOOR(${Dbscan.DbScale} * embedding[0]) AS BIGINT)")
            .as("x"),
          expr(s"CAST(FLOOR(${Dbscan.DbScale} * embedding[1]) AS BIGINT)")
            .as("y")))
    val isDelta = pmod(xxhash64(lit("gins"), $"vec_id"), lit(DeltaMod)) === 0L
    val base = PlanBridge.checkpointResetStats(pts.filter(!isDelta))
    val delta = PlanBridge.checkpointResetStats(pts.filter(isDelta))
    val nDelta = delta.count()
    val n = pts.count()
    // base serving graph, built once per (JVM, dir); convergence read
    // from the build-time memo, never a default
    val (bt, baseConverged) = ensureBaseGraph(s, dir, base)
    val baseGraph = s.table(bt)
    // INSERT: every delta point walks the base graph as a query and
    // links to its best visited nodes (both directions)
    val dq = PlanBridge.checkpointResetStats(
      delta.select($"vec_id".as("qid"), $"x".as("qx"), $"y".as("qy")))
    val entries = base.select($"vec_id".as("node"))
      .orderBy(xxhash64($"node"), $"node").limit(GraphServe.Entries)
    val beam0 = graft.plans.TopK.perGroup(
      GraphServe.withDist(base, dq)(
        dq.select($"qid").crossJoin(broadcast(entries))),
      Seq("qid"), Seq("d2" -> true, "node" -> true), GraphServe.Beam)
    val beam = GraphServe.walk(base, dq, baseGraph, beam0,
      GraphServe.Beam, GraphServe.Hops)
    val newEdges = beam.select($"qid".as("a"), $"node".as("b"))
    val merged = baseGraph.unionByName(newEdges)
      .unionByName(newEdges.select($"b".as("a"), $"a".as("b")))
      .distinct()
    // re-cap: M nearest per node over the merged undirected edges
    val graph = graft.plans.TopK.perGroup(
      merged
        .join(pts.select($"vec_id".as("a"), $"x".as("ax"), $"y".as("ay")),
          "a")
        .join(pts.select($"vec_id".as("b"), $"x".as("bx"), $"y".as("by")),
          "b")
        .select($"a", $"b",
          (($"ax" - $"bx") * ($"ax" - $"bx") +
            ($"ay" - $"by") * ($"ay" - $"by")).as("d2")),
      Seq("a"), Seq("d2" -> true, "b" -> true), GraphServe.MaxDegree)
      .select($"a", $"b")
    val graphCp = org.apache.spark.sql.graftbridge.PlanBridge
      .checkpointResetStats(graph)
    // serve the q456 query set over the merged graph; truth over the
    // FULL corpus (delta points are legitimate answers)
    val queries = GraphServe.serveQueries(pts)
    val nq = queries.count()
    val truth = GraphServe.exactTruth(pts, queries)
    val allEntries = pts.select($"vec_id".as("node"))
      .orderBy(xxhash64($"node"), $"node").limit(GraphServe.Entries)
    val qBeam0 = graft.plans.TopK.perGroup(
      GraphServe.withDist(pts, queries)(
        queries.select($"qid").crossJoin(broadcast(allEntries))),
      Seq("qid"), Seq("d2" -> true, "node" -> true), GraphServe.Beam)
    val qBeam = GraphServe.walk(pts, queries, graphCp, qBeam0,
      GraphServe.Beam, GraphServe.Hops)
    val answer = GraphServe.beamAnswer(qBeam)
    val hits = answer.join(truth, "qid")
      .filter($"a_node" === $"t_node").count()
    val recall = if (nq == 0) 0L else 1000L * hits / nq
    (n, nDelta, hits, recall, baseConverged)
  }

  val q477GraphInsert: Q = (s, dir) => {
    import s.implicits._
    val (n, nDelta, _, recall, converged) = insertStats(s, dir)
    val ok = converged && nDelta > 0L &&
      recall >= InsertRecallFloorPermille
    Seq((n, ok)).toDF("n_points", "ok")
  }

  val q477Sql: String =
    """SELECT CAST(COUNT(*) AS BIGINT) AS n_points, TRUE AS ok
      |FROM embeddings""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("q477_graph_insert", q477GraphInsert, q477Sql))
}
