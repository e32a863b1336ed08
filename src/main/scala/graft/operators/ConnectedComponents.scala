package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.PlanBridge

/** Connected components over an undirected edge list — the cluster
  * step a dedup pipeline runs AFTER pair detection: near-dup pairs
  * (q41/q43) chain transitively (A≈B, B≈C), and curation keeps one
  * representative per component, not per pair.
  *
  * Algorithm: iterative min-label propagation with path halving.
  * Every node starts labeled with its own id; each round it adopts
  * `min(own, min over neighbors)` and then hops its label one step
  * (`comp := comp(comp)` — valid because labels only decrease, so the
  * label graph is a pointer forest toward each component's minimum).
  * Neighbor propagation alone needs O(diameter) rounds; the hop halves
  * pointer chains each round, so convergence is O(log n) rounds even
  * on path-shaped components — the same round bound the
  * large-star/small-star MapReduce formulation gives, with two
  * equi-joins + one agg per round, each a plain key shuffle.
  *
  * Driver involvement per round is ONE scalar (`changed` count), read
  * off the eager checkpoint that truncates the growing lineage — no
  * per-row driver work, so the loop distributes at any scale.
  */
object ConnectedComponents {

  /** Labels `(id, comp)` for every node appearing in `edges`
    * (`src`/`dst` columns); `comp` is the minimum node id reachable —
    * a canonical, deterministic component representative. Nodes with
    * no edges don't appear (callers union singletons back if needed).
    */
  def apply(edges: DataFrame, src: String = "src", dst: String = "dst",
      maxIter: Int = 50): DataFrame =
    withRounds(edges, src, dst, maxIter)._1

  /** [[apply]] and the number of propagation rounds it ran. */
  def withRounds(edges: DataFrame, src: String = "src", dst: String = "dst",
      maxIter: Int = 50): (DataFrame, Int) = {
    val s = edges.sparkSession
    import s.implicits._
    val sym = PlanBridge.checkpointResetStats(
      edges.select(col(src).as("id"), col(dst).as("nbr"))
        .union(edges.select(col(dst).as("id"), col(src).as("nbr"))))
    val labels0 = PlanBridge.checkpointResetStats(sym.select($"id").distinct()
      .withColumn("comp", $"id"))
    val (labels, rounds, _) = PlanBridge.iterate(labels0, maxIter,
        "connected components") { (labels, _) =>
      val nbrMin = sym
        .join(labels.select($"id".as("nbr"), $"comp".as("nbr_comp")), "nbr")
        .groupBy($"id").agg(min($"nbr_comp").as("nbr_comp"))
      val viaNbr = labels.select($"id", $"comp".as("old"))
        .join(nbrMin, Seq("id"), "left")
        .select($"id", $"old",
          least($"old", coalesce($"nbr_comp", $"old")).as("comp"))
      // path halving: follow the label pointer one hop (comp(comp) ≤
      // comp because labels only decrease); the previous label rides
      // along so the convergence measure is a count over the
      // checkpointed frame, not another join against `labels`
      viaNbr.as("a")
        .join(viaNbr.select($"id".as("c0"), $"comp".as("c2")).as("b"),
          $"a.comp" === $"b.c0")
        .select($"a.id".as("id"), $"a.old".as("old"), $"b.c2".as("comp"))
    }(count(when($"comp" =!= $"old", 1)), _ == 0)
    // the final labels are their own checkpoint — the symmetric edge
    // frame and the seed labels are no longer reachable through them
    PlanBridge.release(sym)
    PlanBridge.release(labels0)
    (labels.select($"id", $"comp"), rounds)
  }
}
