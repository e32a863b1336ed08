package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.PlanBridge

import graft.core.Entry

/** SUBMODULAR DATA SELECTION by greedy FACILITY LOCATION (Nemhauser–
  * Wolsey–Fisher '78 greedy on the classic coverage objective; the
  * training-data-subset-selection recipe of CRAIG/GLISTER-style
  * pipelines): pick [[SelectK]] exemplars S maximizing
  *   F(S) = Σ_v max_{s∈S} sim(v, s),   sim(v, s) = max(0, Cap − d²)
  * on the q340 integer plane — every arithmetic step exact BIGINT.
  * Facility location is monotone submodular, so greedy is
  * (1−1/e)-optimal and its per-round marginal gains are
  * NON-INCREASING — both properties gated.
  *
  * Distributed shape: candidates come from a HASH-BOUNDED pool of
  * [[PoolSize]] points (the PQ-fit discipline — the pool bounds the
  * per-round join, not the corpus); each greedy round is ONE
  * pool⋈corpus join computing every candidate's marginal gain
  * Σ_v max(0, sim(v,c) − cover(v)) as a [[PoolSize]]-row aggregate
  * (argmax to the driver is pool-sized), then ONE corpus pass updates
  * the running coverage cover(v) = max(cover, sim(v, pick)). k rounds
  * × two keyed passes — never a quadratic, never a corpus collect.
  *
  * Gate (engine-internal greedy, the q86 ok convention): gains
  * non-increasing across all rounds (the submodularity certificate),
  * AND greedy coverage STRICTLY beats the same-size pinned-md5 RANDOM
  * selection evaluated under the same objective (the "selection is
  * doing work" floor), AND full coverage accounting (F(S) equals the
  * final Σ cover).
  */
object SubmodularSelect {

  import Entry.Q

  val SelectK = 8
  val PoolSize = 64
  /** Similarity cap: sim = max(0, Cap − d²); 3·eps covers a dense
    * neighborhood, beyond it a point contributes no coverage. */
  val Cap: Long = { val r = 3L * Dbscan.DbEps; r * r }

  /** (n, F_greedy, F_random, gains) — public for the spec. */
  def selectStats(s: SparkSession, dir: String)
      : (Long, Long, Long, Seq[Long]) = {
    import s.implicits._
    val pts = PlanBridge.checkpointResetStats(
      graft.core.Tables.embeddings(s, dir)
        .select($"vec_id",
          expr(s"CAST(FLOOR(${Dbscan.DbScale} * embedding[0]) AS BIGINT)")
            .as("x"),
          expr(s"CAST(FLOOR(${Dbscan.DbScale} * embedding[1]) AS BIGINT)")
            .as("y")))
    val n = pts.count()
    val pool = PlanBridge.checkpointResetStats(pts
      .orderBy(md5(concat(lit("sub:"), $"vec_id".cast("string"))), $"vec_id")
      .limit(PoolSize)
      .select($"vec_id".as("c"), $"x".as("cx"), $"y".as("cy")))
    def simTo(sel: DataFrame): DataFrame = pts.crossJoin(broadcast(sel))
      .select($"vec_id",
        greatest(lit(0L), lit(Cap) -
          (($"x" - $"cx") * ($"x" - $"cx") +
            ($"y" - $"cy") * ($"y" - $"cy"))).as("sim"))
      .groupBy($"vec_id").agg(max($"sim").as("sim"))
    // greedy rounds: marginal gain of every pool candidate vs the
    // running coverage, pick the max (ties to smaller id)
    var cover = PlanBridge.checkpointResetStats(
      pts.select($"vec_id", lit(0L).as("cov")))
    var picked = Vector.empty[Long]
    var gains = Vector.empty[Long]
    for (_ <- 1 to SelectK) {
      val cand = pool.filter(!$"c".isin(picked: _*))
      val gain = pts.join(cover, "vec_id")
        .crossJoin(broadcast(cand))
        .select($"c",
          greatest(lit(0L),
            greatest(lit(0L), lit(Cap) -
              (($"x" - $"cx") * ($"x" - $"cx") +
                ($"y" - $"cy") * ($"y" - $"cy"))) - $"cov").as("g"))
        .groupBy($"c").agg(sum($"g").as("g"))
        .orderBy($"g".desc, $"c".asc)
        .limit(1).as[(Long, Long)].head()
      picked :+= gain._1
      gains :+= gain._2
      val pickDf = pool.filter($"c" === gain._1)
      cover = PlanBridge.checkpointResetStats(
        pts.join(cover, "vec_id").crossJoin(broadcast(pickDf))
          .select($"vec_id",
            greatest($"cov", greatest(lit(0L), lit(Cap) -
              (($"x" - $"cx") * ($"x" - $"cx") +
                ($"y" - $"cy") * ($"y" - $"cy")))).as("cov")))
    }
    val fGreedy = cover.agg(sum($"cov")).head().getLong(0)
    // random baseline: the PoolSize-hash pool's FIRST K by a different
    // salt — same size, no objective
    val rand = pts
      .orderBy(md5(concat(lit("rnd:"), $"vec_id".cast("string"))), $"vec_id")
      .limit(SelectK)
      .select($"vec_id".as("c"), $"x".as("cx"), $"y".as("cy"))
    val fRandom = simTo(broadcast(rand)).agg(sum($"sim")).head().getLong(0)
    (n, fGreedy, fRandom, gains)
  }

  val q475SubmodularSelect: Q = (s, dir) => {
    import s.implicits._
    val (n, fGreedy, fRandom, gains) = selectStats(s, dir)
    val nonIncreasing = gains.sliding(2).forall {
      case Seq(a, b) => a >= b; case _ => true }
    val ok = n > 0L && nonIncreasing && fGreedy > fRandom &&
      gains.sum == fGreedy
    Seq((n, ok)).toDF("n_points", "ok")
  }

  val q475Sql: String =
    """SELECT CAST(COUNT(*) AS BIGINT) AS n_points, TRUE AS ok
      |FROM embeddings""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("q475_submodular_select", q475SubmodularSelect, q475Sql))
}
