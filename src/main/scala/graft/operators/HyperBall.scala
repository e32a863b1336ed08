package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.PlanBridge

import graft.core.{Entry, Tables => T}

/** HYPERBALL neighborhood function (Boldi–Vigna WebSci'13; the
  * HyperANF successor — "how many nodes are within t hops", the input
  * to effective-diameter and centrality readouts): per node, an HLL
  * sketch of its t-ball grows by ONE union along in-edges per round —
  * O(t) keyed shuffles of n sketch rows, the ONLY way a
  * diameter-shaped question scales to graphs where exact t-hop
  * reachability (|pairs| → n²) is unthinkable. Sketch state is
  * Spark's DataSketches HLL (q122's `hll_sketch_agg` /
  * `hll_union_agg` machinery, lgk = [[HbLgk]]).
  *
  * Graph: the q483-style md5 two-out-edge graph over customer keys
  * (salts `k1:`/`k2:`), symmetrized, self-loop added so round t keeps
  * the (t−1)-ball (monotone by construction).
  *
  * Gate (in-engine, the q122 tolerance-boolean convention): for every
  * round t ≤ [[HbRounds]], the SUMMED ball-size estimate over a
  * [[HbSampleSrc]]-node hash sample must sit within
  * [[HbTolPermille]]‰ of the EXACT summed t-ball sizes, computed by a
  * per-source frontier expansion on the SAME sample (the exact side
  * is sample-bounded — 64·n pairs, never n²). Oracle pins
  * (n_nodes, n_rounds, ok).
  */
object HyperBall {

  import Entry.Q

  val HbRounds = 4
  val HbLgk = 12
  val HbSampleSrc = 64L
  val HbTolPermille = 80L

  /** Symmetrized two-out-edge md5 graph + self-loops: (src, dst). */
  def hbEdges(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cust = T.customer(s, dir).select($"c_custkey".as("v"))
    val n = cust.count()
    def h(salt: String) = pmod(conv(substring(
      md5(concat(lit(salt), $"v".cast("string"))), 1, 4), 16, 10)
      .cast("long"), lit(n))
    val out = cust.select($"v", h("k1:").as("w"))
      .unionAll(cust.select($"v", h("k2:").as("w")))
      .filter($"v" =!= $"w")
    out.select($"v".as("src"), $"w".as("dst"))
      .unionAll(out.select($"w".as("src"), $"v".as("dst")))
      .unionAll(cust.select($"v".as("src"), $"v".as("dst")))
      .distinct()
  }

  /** JVM-wide node-count memo keyed by the counters table name (the
    * Dbscan.graphMeta discipline: the table exists in this JVM iff
    * this JVM built it, so the entry is always present with it).
    */
  private val hbMeta =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  /** The per-round counters as a BUILD-ONCE [[graft.core.IndexStore]]
    * table `hbcnt`: one row (t, node, est, exact) per propagation
    * round t = 1..[[HbRounds]] and per sampled source node — a
    * ~[[HbSampleSrc]]×[[HbRounds]]-row artifact. The O(t) keyed-shuffle
    * sketch propagation AND the sample-bounded exact frontier expansion
    * run ONCE per (JVM, dir); q495's round gates and q499's harmonic
    * centrality both read the table (the r12 verdict: q499 re-ran the
    * full propagation its scaladoc claimed came free — 5.1 s of
    * duplicate distributed work per bench pass).
    */
  def countersTable(s: SparkSession, dir: String): (String, Long) = {
    import s.implicits._
    val t = graft.core.IndexStore.ensure(s, "hbcnt", dir) {
      val edges = PlanBridge.checkpointResetStats(hbEdges(s, dir))
      val nodes = edges.select($"dst".as("node")).distinct()
      val n = nodes.count()
      hbMeta.put(graft.core.IndexStore.tableFor("hbcnt", dir),
        java.lang.Long.valueOf(n))
      val sample = PlanBridge.checkpointResetStats(nodes
        .filter(pmod(xxhash64(lit("hbs"), $"node"), lit(1000L)) <
          (lit(1000L) * HbSampleSrc / math.max(n, 1L)) + lit(1L)))
      // HyperBall state: per-node sketch of {node}
      var state = PlanBridge.checkpointResetStats(
        nodes.groupBy($"node").agg(hll_sketch_agg($"node", lit(HbLgk))
          .as("sk")))
      // exact side: per-sample-source frontier (src, node)
      var ball = PlanBridge.checkpointResetStats(
        sample.select($"node".as("src"), $"node"))
      val rows = Seq.newBuilder[(Int, Long, Double, Long)]
      for (round <- 1 to HbRounds) {
        state = PlanBridge.checkpointResetStats(
          edges.join(state.withColumnRenamed("node", "src"), "src")
            .groupBy($"dst".as("node"))
            .agg(hll_union_agg($"sk").as("sk")))
        ball = PlanBridge.checkpointResetStats(
          ball.join(edges.withColumnRenamed("src", "node"), "node")
            .select($"src", $"dst".as("node")).distinct())
        // both reads are sample-bounded (≤ HbSampleSrc + slack rows)
        val est = state.join(sample, "node")
          .select($"node", hll_sketch_estimate($"sk").as("e"))
          .as[(Long, Double)].collect().toMap
        val exact = ball.groupBy($"src").agg(count(lit(1)).as("c"))
          .as[(Long, Long)].collect().toMap
        est.keysIterator.toSeq.sorted.foreach { v =>
          // exact(v) is total only because hbEdges keeps a self-loop on
          // every node, so a sampled source's ball can never go empty —
          // fail loudly if a graph-builder change ever drops that
          require(exact.contains(v),
            s"sampled source $v lost its ball — hbEdges must keep self-loops")
          rows += ((round, v, est(v), exact(v)))
        }
      }
      rows.result().toDF("t", "node", "est", "exact")
    }
    val m = hbMeta.get(t)
    require(m != null, s"counters table $t exists without build metadata")
    (t, m.longValue())
  }

  /** (n_nodes, per-round (estimate, exact) sums over the source
    * sample) — public for the spec; derived from the persisted
    * counters table, zero propagation re-run.
    */
  def hyperballStats(s: SparkSession, dir: String)
      : (Long, Seq[(Double, Long)]) = {
    import s.implicits._
    val (tbl, n) = countersTable(s, dir)
    val rounds = s.table(tbl).groupBy($"t")
      .agg(sum($"est").as("e"), sum($"exact").as("x"))
      .orderBy($"t")
      .as[(Int, Double, Long)].collect()
      .map { case (_, e, x) => (e, x) }.toSeq
    (n, rounds)
  }

  /** HARMONIC CENTRALITY from the same counters (Boldi–Vigna's
    * headline application: `HC(v) = Σ_t (|B_t(v)| − |B_{t−1}(v)|)/t`
    * weights each node by the reciprocal of its distance — the
    * centrality that stays finite on disconnected graphs, unlike
    * closeness): the per-round sketch estimates ARE the |B_t| terms,
    * so centrality is a driver fold over the PERSISTED counters table
    * — zero propagation beyond the one q495 already paid. Returns
    * per sampled node (hc_estimate, hc_exact) — exact side from the
    * same sample-bounded frontier expansion.
    */
  def harmonicStats(s: SparkSession, dir: String)
      : Seq[(Long, Double, Double)] = {
    import s.implicits._
    val (tbl, _) = countersTable(s, dir)
    // sample×rounds rows — bounded collect by construction
    val byNode = s.table(tbl)
      .as[(Int, Long, Double, Long)].collect()
      .groupBy(_._2)
    byNode.keysIterator.toSeq.sorted.map { v =>
      val rounds = byNode(v).sortBy(_._1)
      var prevEst = 1.0
      var prevExact = 1L
      var hcEst = 0.0
      var hcExact = 0.0
      rounds.foreach { case (t, _, est, exact) =>
        hcEst += (est - prevEst) / t
        hcExact += (exact - prevExact).toDouble / t
        prevEst = est
        prevExact = exact
      }
      (v, hcEst, hcExact)
    }
  }

  val q499HarmonicCentrality: Q = (s, dir) => {
    import s.implicits._
    val stats = harmonicStats(s, dir)
    val ok = stats.nonEmpty && stats.forall { case (_, est, exact) =>
      exact == 0.0 || math.abs(est - exact) * 1000.0 <=
        HbTolPermille.toDouble * exact
    }
    val n = T.customer(s, dir).count()
    Seq((n, ok)).toDF("n_nodes", "ok")
  }

  val q499Sql: String =
    """SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes, TRUE AS ok
      |FROM customer""".stripMargin

  val q495HyperBall: Q = (s, dir) => {
    import s.implicits._
    val (n, rounds) = hyperballStats(s, dir)
    val ok = rounds.forall { case (est, exact) =>
      math.abs(est - exact.toDouble) * 1000.0 <=
        HbTolPermille.toDouble * exact.toDouble
    }
    Seq((n, HbRounds.toLong, ok)).toDF("n_nodes", "n_rounds", "ok")
  }

  val q495Sql: String =
    s"""SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
       |  CAST($HbRounds AS BIGINT) AS n_rounds, TRUE AS ok
       |FROM customer""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("q495_hyperball", q495HyperBall, q495Sql),
    Entry("q499_harmonic_centrality", q499HarmonicCentrality, q499Sql))
}
