package graft.operators

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.PlanBridge

import graft.core.{Entry, Tables => T}

/** ISOLATION TREE anomaly scoring (Liu, Ting & Zhou ICDM'08 — the
  * anomaly-detection family's unsupervised leg next to the streaming
  * z-score/CUSUM detectors: anomalies are FEW and DIFFERENT, so
  * random axis-parallel splits isolate them in SHORT paths). One tree
  * here; the forest is the same machinery averaged over T trees
  * (scaladoc'd — T×cost, no new shapes).
  *
  * Determinism: the fit is driver-side on the [[SampleN]]
  * smallest-md5 events (the PQ sample discipline); every random
  * choice is an md5 coin keyed by the NODE PATH ("f:LRL" picks the
  * feature, "t:LRL" the threshold uniform over the node sample's
  * range) — the tree is a pure function of the corpus. Scoring ships
  * the tree as ONE generated nested-CASE expression (≤2^depth leaves,
  * each leaf a literal micro score depth + c(m) with the
  * average-path-length correction c computed at fit time) — a single
  * codegen'd projection over the corpus, no UDF.
  *
  * Gate (fit is engine-internal randomness — the q86/kmeans ok
  * convention): a PLANTED extreme point (value 10× the organic max,
  * excluded from the fit) must isolate in the SHALLOWEST quartile —
  * #(organic scores ≤ plant score) ≤ n/4 — plus score bounds, full
  * coverage, and non-degeneracy.
  */
object IsolationTree {

  import Entry.Q

  val SampleN = 256
  val MaxDepth = 8

  private def coin(tag: String): Double = {
    val d = MessageDigest.getInstance("MD5")
      .digest(tag.getBytes(StandardCharsets.UTF_8))
    val u = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
      ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
    u.toDouble / 4294967296.0
  }

  /** Average unsuccessful-BST path length c(m) (the iForest
    * normalizer). */
  def cPath(m: Int): Double =
    if (m <= 1) 0.0
    else if (m == 2) 1.0
    else 2.0 * (math.log(m - 1.0) + 0.5772156649015329) -
      2.0 * (m - 1.0) / m

  /** Recursive fit → the scoring expression over columns (v, h):
    * nested CASE with literal micro leaf scores.
    */
  def fitExpr(sample: Array[(Long, Long)], path: String = "",
      depth: Int = 0): String = {
    def leaf: String = {
      val micro = math.floor(
        1000000.0 * (depth.toDouble + cPath(sample.length))).toLong
      s"${micro}L"
    }
    if (depth >= MaxDepth || sample.length <= 2) leaf
    else {
      val vs = sample.map(_._1); val hs = sample.map(_._2)
      val vSpread = vs.max > vs.min
      val hSpread = hs.max > hs.min
      if (!vSpread && !hSpread) leaf
      else {
        val pickV =
          if (vSpread && hSpread) coin(s"f:$path") < 0.5 else vSpread
        val (col, lo, hi) =
          if (pickV) ("v", vs.min, vs.max) else ("h", hs.min, hs.max)
        val t = lo + coin(s"t:$path") * (hi - lo)
        val (l, r) = sample.partition { case (v, h) =>
          (if (pickV) v else h).toDouble <= t
        }
        val lE = fitExpr(l, path + "L", depth + 1)
        val rE = fitExpr(r, path + "R", depth + 1)
        s"(CASE WHEN CAST($col AS DOUBLE) <= $t THEN $lE ELSE $rE END)"
      }
    }
  }

  /** (n_events, plant score, organic ≤ plant count, min, max) — public
    * for the spec. */
  def treeStats(s: SparkSession, dir: String)
      : (Long, Long, Long, Long, Long) = {
    import s.implicits._
    val ev = PlanBridge.checkpointResetStats(T.events(s, dir)
      .select($"event_id",
        expr("CAST(FLOOR(100 * value) AS BIGINT)").as("v"),
        hour($"ts").cast("long").as("h")))
    val sample = ev
      .orderBy(md5(concat(lit("s:"), $"event_id".cast("string"))),
        $"event_id")
      .limit(SampleN)
      .select($"v", $"h").as[(Long, Long)].collect()
    val tree = fitExpr(sample)
    val vMax = ev.agg(max($"v")).head().getLong(0)
    val plant = Seq((-1L, vMax * 10L, 0L)).toDF("event_id", "v", "h")
    val scored = PlanBridge.checkpointResetStats(ev.unionByName(plant)
      .withColumn("score_micro", expr(tree)))
    val plantScore = scored.filter($"event_id" === -1L)
      .select($"score_micro").head().getLong(0)
    val agg = scored.filter($"event_id" =!= -1L)
      .agg(count(lit(1)).as("n"),
        sum(when($"score_micro" <= plantScore, 1L).otherwise(0L)).as("le"),
        min($"score_micro").as("mn"), max($"score_micro").as("mx")).head()
    (agg.getLong(0), plantScore, agg.getLong(1), agg.getLong(2),
      agg.getLong(3))
  }

  val q462IsolationTree: Q = (s, dir) => {
    import s.implicits._
    val (n, plantScore, le, mn, mx) = treeStats(s, dir)
    val bound = math.floor(
      1000000.0 * (MaxDepth.toDouble + cPath(SampleN))).toLong
    val ok = n > 0L && 4L * le <= n && mn < mx &&
      plantScore >= 0L && mx <= bound
    Seq((n, ok)).toDF("n_events", "ok")
  }

  val q462Sql: String =
    """SELECT CAST(COUNT(*) AS BIGINT) AS n_events, TRUE AS ok
      |FROM events""".stripMargin

  /** Forest size T — Liu et al. §4.1 report scores stabilizing well
    * before 100 trees on 256-point subsamples; 8 is enough to halve
    * the single-tree variance (spec-measured) while the scoring
    * projection stays one codegen'd column per tree.
    */
  val Trees = 8

  /** The per-tree scored frame for q469: organic events + the planted
    * extreme (event_id −1, v = 10× organic max, excluded from every
    * fit), with one column `t<i>` per tree (path-depth micro score
    * from that tree's own 256-point md5 subsample — iForest's
    * per-tree subsampling, seeded per tree through the coin tags) and
    * `score_micro` = Σᵢ tᵢ (the forest total; the Liu et al.
    * 2^(−E[h]/c) anomaly score is a monotone-DECREASING function of
    * this mean depth, so quartile gates on the total are gates on the
    * score). Public for the variance-reduction spec.
    */
  private[graft] def forestFrame(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = PlanBridge.checkpointResetStats(T.events(s, dir)
      .select($"event_id",
        expr("CAST(FLOOR(100 * value) AS BIGINT)").as("v"),
        hour($"ts").cast("long").as("h")))
    val exprs = (0 until Trees).map { t =>
      val sample = ev
        .orderBy(md5(concat(lit(s"s$t:"), $"event_id".cast("string"))),
          $"event_id")
        .limit(SampleN)
        .select($"v", $"h").as[(Long, Long)].collect()
      fitExpr(sample, path = s"$t|")
    }
    val vMax = ev.agg(max($"v")).head().getLong(0)
    val plant = Seq((-1L, vMax * 10L, 0L)).toDF("event_id", "v", "h")
    val cols = exprs.zipWithIndex
      .map { case (e, i) => expr(e).as(s"t$i") }
    val withTrees = ev.unionByName(plant).select(
      ($"event_id" +: cols): _*)
    PlanBridge.checkpointResetStats(withTrees.withColumn("score_micro",
      (0 until Trees).map(i => col(s"t$i")).reduce(_ + _)))
  }

  /** (n_events, plant forest score, organic ≤ plant count, min, max)
    * — public for the spec. */
  def forestStats(s: SparkSession, dir: String)
      : (Long, Long, Long, Long, Long) = {
    import s.implicits._
    val scored = forestFrame(s, dir)
    val plantScore = scored.filter($"event_id" === -1L)
      .select($"score_micro").head().getLong(0)
    val agg = scored.filter($"event_id" =!= -1L)
      .agg(count(lit(1)).as("n"),
        sum(when($"score_micro" <= plantScore, 1L).otherwise(0L)).as("le"),
        min($"score_micro").as("mn"), max($"score_micro").as("mx")).head()
    (agg.getLong(0), plantScore, agg.getLong(1), agg.getLong(2),
      agg.getLong(3))
  }

  /** q469 — ISOLATION FOREST (the Liu et al. ICDM'08 ensemble
    * contract q462's single tree previewed): [[Trees]] trees, each fit
    * driver-side on its OWN [[SampleN]]-point md5 subsample (the
    * bounded-collect discipline ×T — still model-sized driver
    * traffic), scored as T codegen'd nested-CASE projections summed
    * in one pass — no UDF, no shuffle, corpus touched once. The
    * ensemble average is what the paper actually ships: single-tree
    * path lengths are high-variance (one unlucky split chain can bury
    * an anomaly), the T-tree mean concentrates (spec gates the
    * variance reduction: two 4-tree half-forest means disagree less
    * than two single trees do).
    *
    * Gate: the planted 10×-max extreme must land in the shallowest
    * OCTILE of the forest score (8·le ≤ n — strictly tighter than
    * q462's single-tree quartile: the margin the ensemble buys),
    * plus coverage, score bounds, and non-degeneracy.
    *
    * Scale shape: fit collects T×[[SampleN]] rows (bounded before
    * collect); scoring is one projection over the corpus — embarrass-
    * ingly parallel, zero shuffle beyond the source scan.
    */
  val q469IsolationForest: Q = (s, dir) => {
    import s.implicits._
    val (n, plantScore, le, mn, mx) = forestStats(s, dir)
    val bound = Trees.toLong * math.floor(
      1000000.0 * (MaxDepth.toDouble + cPath(SampleN))).toLong
    val ok = n > 0L && 8L * le <= n && mn < mx &&
      plantScore >= 0L && mx <= bound
    Seq((n, ok)).toDF("n_events", "ok")
  }

  val q469Sql: String = q462Sql

  val entries: Seq[Entry] = Seq(
    Entry("q462_isolation_tree", q462IsolationTree, q462Sql),
    Entry("q469_isolation_forest", q469IsolationForest, q469Sql))
}
