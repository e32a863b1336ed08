package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.PlanBridge

import graft.core.Entry

/** FILTERED VECTOR SEARCH (predicate + ANN — the "metadata filter"
  * serving pattern every production vector store exposes; Qdrant/
  * Vespa/pgvector all document the same post-vs-pre-filter tradeoff):
  * each query carries a CATEGORY predicate (a deterministic hash tag
  * standing in for doc metadata, 1-in-[[Categories]] selectivity) and
  * wants the nearest neighbor SATISFYING the predicate.
  *
  * Strategy implemented: POST-FILTER GRAPH WALK — the q456 beam walk
  * over the UNFILTERED shared serving graph with a [[FilterBeam]]-wide
  * beam (widened ×[[Categories]] vs the unfiltered beam: with 1/c
  * selectivity the walk must hold ~c× candidates for the filtered
  * top-1 to survive), answering with the best VISITED node of the
  * target category. The alternative (pre-filter = one subgraph per
  * category) buys exactness at c× index cost and is scaladoc'd as the
  * high-selectivity escape hatch; post-filter keeps ONE index and
  * degrades gracefully — the tradeoff this operator certifies.
  *
  * Gate (the q456 convention): recall vs the EXACT FILTERED truth
  * (full scan with the predicate pushed into it — note the truth scan
  * prunes BEFORE distance work; the gate's oracle is also the
  * pushdown contract) ≥ [[FilteredRecallFloorPermille]].
  *
  * Scale shape: identical to q456 — per hop one beam⋈edges equi-join
  * + one bounded top-k, beam just c× wider; the category column is
  * one hash projection, no extra shuffle.
  */
object FilteredServe {

  import Entry.Q

  val Categories = 4L
  val FilterBeam = 32
  val FilterHops = 10
  /** Pinned after measuring (1000‰ at sf0.001/0.01; gate-green sf0.1). */
  val FilteredRecallFloorPermille = 900L

  private def withCat(pts: DataFrame): DataFrame = {
    val s = pts.sparkSession
    import s.implicits._
    pts.withColumn("cat", pmod(xxhash64(lit("cat"), $"vec_id"),
      lit(Categories)))
  }

  /** (n_queries, hits, recall‰, converged) — public for the spec. */
  def filteredServeStats(s: SparkSession, dir: String)
      : (Long, Long, Long, Boolean) = {
    import s.implicits._
    val (pts0, graph, converged) = GraphServe.servingGraph(s, dir)
    val pts = PlanBridge.checkpointResetStats(withCat(pts0))
    // each query targets category qid mod Categories
    val queries = PlanBridge.checkpointResetStats(GraphServe.serveQueries(pts0)
      .withColumn("qcat", pmod($"qid", lit(Categories))))
    val nq = queries.count()
    // exact FILTERED truth: predicate pruned before distance work
    val truth = graft.plans.TopK.perGroup(
      GraphServe.withDist(pts0, queries)(
        pts.crossJoin(broadcast(queries.select($"qid", $"qcat")))
          .filter($"cat" === $"qcat")
          .select($"qid", $"vec_id".as("node"))),
      Seq("qid"), Seq("d2" -> true, "node" -> true), 1)
      .select($"qid", $"node".as("t_node"))
    // post-filter walk: unfiltered graph, widened beam
    val entries = pts0.select($"vec_id".as("node"))
      .orderBy(xxhash64($"node"), $"node").limit(GraphServe.Entries)
    val beam0 = graft.plans.TopK.perGroup(
      GraphServe.withDist(pts0, queries)(
        queries.select($"qid").crossJoin(broadcast(entries))),
      Seq("qid"), Seq("d2" -> true, "node" -> true), FilterBeam)
    val beam = GraphServe.walk(pts0, queries, graph, beam0,
      FilterBeam, FilterHops)
    // answer = best VISITED node of the target category
    val answer = graft.plans.TopK.perGroup(
      beam.join(broadcast(queries.select($"qid", $"qcat")), "qid")
        .join(pts.select($"vec_id".as("node"), $"cat"), "node")
        .filter($"cat" === $"qcat")
        .select($"qid", $"node", $"d2"),
      Seq("qid"), Seq("d2" -> true, "node" -> true), 1)
      .select($"qid", $"node".as("a_node"))
    val hits = answer.join(truth, "qid")
      .filter($"a_node" === $"t_node").count()
    val recall = if (nq == 0) 0L else 1000L * hits / nq
    (nq, hits, recall, converged)
  }

  /** The PRE-FILTER strategy measured (the scaladoc'd alternative):
    * one subgraph PER CATEGORY (c× index cost), each query walks only
    * its category's graph with the UNWIDENED q456 beam — selectivity
    * is handled by the index, not the beam. Returns (nq, hits,
    * recall‰, all subgraph builds converged). Spec-gated head-to-head
    * against the post-filter walk: equal-or-better recall at narrow
    * beam is what the c× index cost buys.
    */
  def preFilterServeStats(s: SparkSession, dir: String)
      : (Long, Long, Long, Boolean) = {
    import s.implicits._
    val (pts0, _, _) = GraphServe.servingGraph(s, dir)
    val pts = PlanBridge.checkpointResetStats(withCat(pts0))
    val queries = PlanBridge.checkpointResetStats(GraphServe.serveQueries(pts0)
      .withColumn("qcat", pmod($"qid", lit(Categories))))
    val nq = queries.count()
    val truth = graft.plans.TopK.perGroup(
      GraphServe.withDist(pts0, queries)(
        pts.crossJoin(broadcast(queries.select($"qid", $"qcat")))
          .filter($"cat" === $"qcat")
          .select($"qid", $"vec_id".as("node"))),
      Seq("qid"), Seq("d2" -> true, "node" -> true), 1)
      .select($"qid", $"node".as("t_node"))
    var allConverged = true
    val answers = (0L until Categories).map { c =>
      val sub = PlanBridge.checkpointResetStats(
        pts.filter($"cat" === c).drop("cat"))
      val qs = PlanBridge.checkpointResetStats(queries.filter($"qcat" === c)
        .select($"qid", $"qx", $"qy"))
      val (working, _, conv, _) = Dbscan.nndConvergeFromPts(sub)
      allConverged &&= conv
      val undirected = working.select($"a", $"b")
        .unionByName(working.select($"b".as("a"), $"a".as("b")))
        .distinct()
      val graph = graft.plans.TopK.perGroup(
        undirected
          .join(sub.select($"vec_id".as("a"), $"x".as("ax"), $"y".as("ay")),
            "a")
          .join(sub.select($"vec_id".as("b"), $"x".as("bx"), $"y".as("by")),
            "b")
          .select($"a", $"b",
            (($"ax" - $"bx") * ($"ax" - $"bx") +
              ($"ay" - $"by") * ($"ay" - $"by")).as("d2")),
        Seq("a"), Seq("d2" -> true, "b" -> true), GraphServe.MaxDegree)
        .select($"a", $"b")
      val entries = sub.select($"vec_id".as("node"))
        .orderBy(xxhash64($"node"), $"node").limit(GraphServe.Entries)
      val beam0 = graft.plans.TopK.perGroup(
        GraphServe.withDist(sub, qs)(
          qs.select($"qid").crossJoin(broadcast(entries))),
        Seq("qid"), Seq("d2" -> true, "node" -> true), GraphServe.Beam)
      val beam = GraphServe.walk(sub, qs, graph, beam0,
        GraphServe.Beam, GraphServe.Hops)
      GraphServe.beamAnswer(beam)
    }.reduce(_ unionByName _)
    val hits = answers.join(truth, "qid")
      .filter($"a_node" === $"t_node").count()
    val recall = if (nq == 0) 0L else 1000L * hits / nq
    (nq, hits, recall, allConverged)
  }

  val q480FilteredServe: Q = (s, dir) => {
    import s.implicits._
    val (nq, _, recall, converged) = filteredServeStats(s, dir)
    val ok = converged && recall >= FilteredRecallFloorPermille
    Seq((nq, ok)).toDF("n_queries", "ok")
  }

  val q480Sql: String = GraphServe.q456Sql

  val entries: Seq[Entry] = Seq(
    Entry("q480_filtered_serve", q480FilteredServe, q480Sql))
}
