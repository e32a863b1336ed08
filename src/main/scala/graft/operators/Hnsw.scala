package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.PlanBridge

import graft.core.Entry

/** HNSW-STYLE LAYERED ENTRY DESCENT (Malkov & Yashunin TPAMI'18) over
  * the q456 serving graph — the production entry policy GraphServe's
  * scaladoc names: a flat K'-NN graph has no long links, so a greedy
  * walk needs ~√(n/entries) hops; HNSW fixes the ENTRY, not the walk,
  * by stacking geometrically-thinned layers (here 1/[[LayerFanout]]
  * of nodes per level, deterministically by hash — nested by
  * construction since 8^(ℓ+1) | x implies 8^ℓ | x) and walking each
  * sparse layer to its local best before descending. Hop counts
  * become O(layers · const) = O(log n) instead of O(√n).
  *
  * Layer COUNT grows with n ([[numLayers]]: top layer stays ~64
  * nodes at any corpus size — the O(1) entry set 100 TB needs), and
  * each upper-layer graph is built by the SAME NN-Descent
  * convergence loop on its thinned subset
  * ([[Dbscan.nndConvergeFromPts]] — expander seed, no single-task
  * window; total upper-layer work is Σ n/8^ℓ < n/7 points, a
  * fraction of the base build). All layer graphs persist in one
  * [[graft.core.IndexStore]] table next to the base index.
  *
  * Gate (the q456 convention): exact-truth top-1 recall of the
  * layered serve ≥ [[GraphServe.ServeRecallFloorPermille]], from ONE
  * entry node and [[BaseHops]] base hops — fewer than q456's flat
  * walk needs from [[GraphServe.Entries]] spread entries
  * (per-query candidate evaluations ~1250 vs ~1950; measured in
  * BASELINE.md round 12).
  */
object Hnsw {

  import Entry.Q

  /** Node-count thinning per layer (HNSW's 1/M level probability). */
  val LayerFanout = 8L
  /** Upper-layer serving degree (HNSW's M for ℓ ≥ 1; routing only —
    * smaller than the base layer's 24: upper layers route, the base
    * layer decides). */
  val UpperM = 6
  /** Per-upper-layer walk: beam width and hop count — constants, the
    * point of the hierarchy (each layer's walk starts near the
    * previous layer's local best). */
  val UpperBeam = 2
  val UpperHops = 4
  /** Base-layer hops from the descended entry — vs q456's 10 from
    * hash-spread entries. */
  val BaseHops = 6

  /** Upper-layer count: top layer ≈ 64 nodes at every n (≥ 1 layer). */
  def numLayers(n: Long): Int = math.max(1,
    math.round(math.log(math.max(n, 2L).toDouble / 64.0) /
      math.log(LayerFanout.toDouble)).toInt)

  private def layerPts(pts: DataFrame, l: Int): DataFrame = {
    val s = pts.sparkSession
    import s.implicits._
    val mod = math.pow(LayerFanout.toDouble, l.toDouble).toLong
    pts.filter(pmod(xxhash64(lit("hnswl"), $"vec_id"), lit(mod)) === 0L)
  }

  /** Build (or reuse) the layer-graph table: (layer, a, b) for every
    * upper layer, each layer's edges = the NN-Descent converged graph
    * of its subset capped to [[UpperM]] undirected neighbors.
    */
  private def layerGraphs(s: SparkSession, dir: String, pts: DataFrame,
      layers: Int): DataFrame = {
    import s.implicits._
    val t = graft.core.IndexStore.ensure(s, "hnswl", dir) {
      (1 to layers).map { l =>
        val lp = PlanBridge.checkpointResetStats(pts.where(
          pmod(xxhash64(lit("hnswl"), $"vec_id"),
            lit(math.pow(LayerFanout.toDouble, l.toDouble).toLong)) === 0L))
        val (working, _, _, _) = Dbscan.nndConvergeFromPts(lp)
        val undirected = working.select($"a", $"b")
          .unionByName(working.select($"b".as("a"), $"a".as("b")))
          .distinct()
        graft.plans.TopK.perGroup(
          undirected
            .join(lp.select($"vec_id".as("a"), $"x".as("ax"), $"y".as("ay")),
              "a")
            .join(lp.select($"vec_id".as("b"), $"x".as("bx"), $"y".as("by")),
              "b")
            .select($"a", $"b",
              (($"ax" - $"bx") * ($"ax" - $"bx") +
                ($"ay" - $"by") * ($"ay" - $"by")).as("d2")),
          Seq("a"), Seq("d2" -> true, "b" -> true), UpperM)
          .select(lit(l).as("layer"), $"a", $"b")
      }.reduce(_ unionByName _)
    }
    s.table(t)
  }

  /** (n_queries, hits, recall‰, layers, converged) — public for the
    * spec. */
  def layeredServeStats(s: SparkSession, dir: String)
      : (Long, Long, Long, Long, Boolean) = {
    import s.implicits._
    val (pts, baseGraph, converged) = GraphServe.servingGraph(s, dir)
    val n = pts.count()
    val layers = numLayers(n)
    val lg = layerGraphs(s, dir, pts, layers)
    val queries = GraphServe.serveQueries(pts)
    val nq = queries.count()
    val truth = GraphServe.exactTruth(pts, queries)
    // ONE global entry: the hash-min node of the TOP layer (HNSW's
    // max-level entry point) — vs q456's 32 spread entries
    val entry = layerPts(pts, layers).select($"vec_id".as("node"))
      .orderBy(xxhash64(lit("hnswe"), $"node"), $"node").limit(1)
    var beam = graft.plans.TopK.perGroup(
      GraphServe.withDist(pts, queries)(
        queries.select($"qid").crossJoin(broadcast(entry))),
      Seq("qid"), Seq("d2" -> true, "node" -> true), UpperBeam)
    // descend: walk each sparse layer to its local best, top first
    for (l <- layers to 1 by -1) {
      val g = lg.filter($"layer" === l).select($"a", $"b")
      beam = GraphServe.walk(pts, queries, g, beam, UpperBeam, UpperHops)
    }
    // base layer: the q456 walk, entered near the answer
    val finalBeam = GraphServe.walk(pts, queries, baseGraph, beam,
      GraphServe.Beam, BaseHops)
    val answer = GraphServe.beamAnswer(finalBeam)
    val hits = answer.join(truth, "qid")
      .filter($"a_node" === $"t_node").count()
    val recall = if (nq == 0) 0L else 1000L * hits / nq
    (nq, hits, recall, layers.toLong, converged)
  }

  /** q470 — the layered serving gate. */
  val q470HnswServe: Q = (s, dir) => {
    import s.implicits._
    val (nq, _, recall, layers, converged) = layeredServeStats(s, dir)
    val ok = converged && layers >= 1L &&
      recall >= GraphServe.ServeRecallFloorPermille
    Seq((nq, ok)).toDF("n_queries", "ok")
  }

  val q470Sql: String = GraphServe.q456Sql

  val entries: Seq[Entry] = Seq(
    Entry("q470_hnsw_serve", q470HnswServe, q470Sql))
}
