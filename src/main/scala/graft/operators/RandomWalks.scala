package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.PlanBridge

import graft.core.Entry

/** RANDOM-WALK CORPUS GENERATION (DeepWalk, Perozzi et al. KDD'14 /
  * node2vec p=q=1 — the sentence generator for graph embeddings: walks
  * become "sentences", nodes become "words", and q488's skip-gram
  * census over them IS the node2vec co-occurrence): one walk of
  * [[WalkLen]] steps starts at EVERY node and all n walks advance in
  * LOCKSTEP — each step is ONE equi-join of the walk frontier against
  * the indexed neighbor table, so a step costs one keyed shuffle
  * regardless of walk count (the per-walk sequential form would be n
  * driver round-trips).
  *
  * Determinism (the q95/q100 salted-hash discipline): step t from node
  * v on walk w picks neighbor index `md5_16('dw:'||w||':'||t||':'||v)
  * mod deg(v)` over neighbors ranked by id — both engines flip the
  * same coins, so the DuckDB oracle replays every walk VALUE-FOR-VALUE
  * with [[WalkLen]] unrolled joins. A node with no out-neighbor stays
  * in place (coalesce — cannot happen on the symmetrized graph, spelled
  * identically in both engines anyway).
  *
  * Graph: the q483/q495 md5 two-out-edge customer graph, symmetrized,
  * self-loops dropped.
  */
object RandomWalks {

  import Entry.Q

  val WalkLen = 8

  /** Neighbor index: (src, idx 0-based by dst order, dst, deg). */
  def neighborIndex(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val edges = HyperBall.hbEdges(s, dir).filter($"src" =!= $"dst")
    edges
      .withColumn("idx",
        row_number().over(
          Window.partitionBy($"src").orderBy($"dst")).cast("long") - 1L)
      .withColumn("deg",
        count(lit(1)).over(Window.partitionBy($"src")))
  }

  val q496RandomWalks: Q = (s, dir) => {
    import s.implicits._
    val nb = PlanBridge.checkpointResetStats(neighborIndex(s, dir))
    var walk = PlanBridge.checkpointResetStats(
      nb.select($"src".as("wid")).distinct()
        .select($"wid", lit(0L).as("step"), $"wid".as("node")))
    var out = walk
    for (t <- 1 to WalkLen) {
      val pick = pmod(conv(substring(md5(concat(
        lit("dw:"), $"wid".cast("string"), lit(s":$t:"),
        $"node".cast("string"))), 1, 4), 16, 10).cast("long"),
        $"deg")
      walk = PlanBridge.checkpointResetStats(
        walk.join(nb.withColumnRenamed("src", "node"), "node")
          .filter($"idx" === pick)
          .select($"wid", lit(t.toLong).as("step"), $"dst".as("node")))
      out = out.unionByName(walk)
    }
    out.orderBy($"wid", $"step")
  }

  val q496Sql: String = {
    val steps = (1 to WalkLen).map { t =>
      s"""s$t AS MATERIALIZED (
         |  SELECT w.wid, $t AS step, nb.dst AS node
         |  FROM s${t - 1} w JOIN nb ON nb.src = w.node
         |  WHERE nb.idx = CAST('0x' || substring(md5(
         |      'dw:' || CAST(w.wid AS VARCHAR) || ':$t:' ||
         |      CAST(w.node AS VARCHAR)), 1, 4) AS BIGINT) % nb.deg)"""
        .stripMargin
    }.mkString(",\n")
    val all = (0 to WalkLen).map(t => s"SELECT * FROM s$t")
      .mkString("\n  UNION ALL ")
    s"""WITH e0 AS MATERIALIZED (
       |  SELECT LEAST(v, w) AS a, GREATEST(v, w) AS b FROM (
       |    SELECT c_custkey AS v,
       |      CAST('0x' || substring(md5('k1:' || CAST(c_custkey AS VARCHAR)),
       |                             1, 4) AS BIGINT)
       |        % (SELECT COUNT(*) FROM customer) AS w
       |    FROM customer
       |    UNION ALL
       |    SELECT c_custkey,
       |      CAST('0x' || substring(md5('k2:' || CAST(c_custkey AS VARCHAR)),
       |                             1, 4) AS BIGINT)
       |        % (SELECT COUNT(*) FROM customer)
       |    FROM customer)
       |  WHERE v <> w
       |  GROUP BY 1, 2),
       |nb AS MATERIALIZED (
       |  SELECT src, dst,
       |    ROW_NUMBER() OVER (PARTITION BY src ORDER BY dst) - 1 AS idx,
       |    COUNT(*) OVER (PARTITION BY src) AS deg
       |  FROM (SELECT a AS src, b AS dst FROM e0
       |        UNION ALL SELECT b, a FROM e0)),
       |s0 AS (SELECT DISTINCT src AS wid, 0 AS step, src AS node FROM nb),
       |$steps
       |SELECT wid, CAST(step AS BIGINT) AS step, node FROM (
       |  $all)
       |ORDER BY wid, step""".stripMargin
  }

  val entries: Seq[Entry] = Seq(
    Entry("q496_random_walks", q496RandomWalks, q496Sql))
}
