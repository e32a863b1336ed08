package graft.relational

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.PlanBridge

import graft.core.{Entry, Tables => T}

/** V-OPTIMAL HISTOGRAM construction (Jagadish et al. VLDB'98 — the
  * variance-minimizing bucket boundaries an optimizer's column stats
  * SHOULD use where q154's equal-width and q162's equal-depth are the
  * cheap defaults: buckets minimize the total within-bucket frequency
  * variance, so selectivity estimates from the histogram have minimal
  * squared error): exact O(V²·B) dynamic program over the
  * VALUE-CENSUS (V distinct values, bounded — never the corpus) on
  * the driver (the q363/q394/q493 model-sized precedent), boundaries
  * broadcast back, and the QUALITY CLAIM verified distributed in
  * exact arithmetic.
  *
  * Gate: within-bucket SSE decomposes as Σf² − Σ_b S_b²/n_b, so
  * comparing v-optimal vs equal-width needs only Σ_b ⌊10⁶·S_b²/n_b⌋
  * (BIGINT, floor slack ≤ B micro-units): v-optimal's sum must be ≥
  * equal-width's minus the slack — and the DP must also reproduce the
  * brute-force optimum on a small census (spec). Oracle pins
  * (n_values, n_buckets, ok).
  */
object VOptimalHistogram {

  import Entry.Q

  /** Bucket count. */
  val HistB = 8

  /** Exact v-optimal partition of a (value-sorted) frequency census
    * into ≤ b contiguous buckets: returns bucket END indices
    * (inclusive). Minimizes Σ within-bucket (f − mean)² via the
    * prefix-sum DP; cost compared in exact rationals
    * (Σf² − S²/n cross-multiplied) to stay float-free.
    */
  def vopt(freqs: Seq[Long], b: Int): Seq[Int] = {
    val v = freqs.size
    require(v >= 1 && b >= 1)
    val ps = freqs.scanLeft(0L)(_ + _) // Σf
    val ps2 = freqs.scanLeft(0L)((a, f) => a + f * f) // Σf²
    // sse(i, j) · (j − i + 1) as an exact integer (scaled by n)
    def sseNum(i: Int, j: Int): BigInt = {
      val n = BigInt(j - i + 1)
      val s = BigInt(ps(j + 1) - ps(i))
      val s2 = BigInt(ps2(j + 1) - ps2(i))
      s2 * n - s * s // = n² · variance·... ≥ 0, comparable at fixed n
    }
    // dp over rationals num/den: cost = Σ sseNum/n per bucket — keep
    // BigInt fractions via common scaling: store cost as BigInt
    // numerator over den = V! ... simpler: compare via exact BigInt
    // after multiplying by lcm — V small (census-bounded), use
    // Rational = (num, den) with cross-multiplied comparison.
    case class Rat(num: BigInt, den: BigInt) {
      def +(o: Rat) = Rat(num * o.den + o.num * den, den * o.den)
      def <=(o: Rat): Boolean = num * o.den <= o.num * den
    }
    val dp = Array.fill(b + 1, v)(null: Rat)
    val cut = Array.fill(b + 1, v)(-1)
    for (j <- 0 until v) dp(1)(j) = Rat(sseNum(0, j), BigInt(j + 1))
    for (k <- 2 to b; j <- 0 until v) {
      var best: Rat = null
      var bi = -1
      for (i <- (k - 2) until j) { // last bucket = [i+1, j]
        if (dp(k - 1)(i) != null) {
          val c = dp(k - 1)(i) + Rat(sseNum(i + 1, j), BigInt(j - i))
          if (best == null || c <= best) { best = c; bi = i }
        }
      }
      dp(k)(j) = if (best == null) dp(k - 1)(j) else best
      cut(k)(j) = bi
    }
    // backtrack (k buckets over all v values; fewer buckets if v < b)
    val kUse = math.min(b, v)
    val ends = Seq.newBuilder[Int]
    var j = v - 1
    var k = kUse
    while (k > 1 && cut(k)(j) >= 0) {
      ends += j
      j = cut(k)(j)
      k -= 1
    }
    ends += j
    (ends.result().reverse.dropRight(1) :+ (v - 1)).distinct
  }

  /** Distributed Σ_b ⌊10⁶·S_b²/n_b⌋ for a bucket assignment. */
  private def bucketScore(census: DataFrame, bucketOf: org.apache.spark.sql.Column): Long = {
    val s = census.sparkSession
    import s.implicits._
    census.withColumn("b", bucketOf)
      .groupBy($"b").agg(sum($"cnt").as("sb"), count(lit(1)).as("nb"))
      .select(expr(
        "1000000 * ((sb * sb) div nb) + (1000000 * ((sb * sb) % nb)) div nb")
        .as("sc"))
      .agg(sum($"sc")).as[Long].head()
  }

  /** (n_values, vopt_score, equiwidth_score) — public for the spec. */
  def histStats(s: SparkSession, dir: String): (Long, Long, Long) = {
    import s.implicits._
    val census = PlanBridge.checkpointResetStats(T.lineitem(s, dir)
      .select(expr(
        "CAST(FLOOR(100 * l_extendedprice) AS BIGINT) div 100000")
        .as("v"))
      .groupBy($"v").agg(count(lit(1)).as("cnt")))
    val vals = census.orderBy($"v").select($"v", $"cnt")
      .as[(Long, Long)].collect()
    val ends = vopt(vals.map(_._2).toSeq, HistB)
    // boundary VALUES (inclusive upper edge per bucket)
    val edges = ends.map(e => vals(e)._1)
    val vEdge = edges.foldLeft(lit(0)) { (acc, e) =>
      acc + when($"v" > e, 1).otherwise(0)
    } // bucket id = #edges strictly below v
    val vScore = bucketScore(census, vEdge)
    val (lo, hi) = (vals.head._1, vals.last._1)
    val width = math.max(1L, (hi - lo + HistB) / HistB)
    val eScore = bucketScore(census,
      (($"v" - lo) / width).cast("long"))
    (vals.length.toLong, vScore, eScore)
  }

  val q497VOptimal: Q = (s, dir) => {
    import s.implicits._
    val (nv, vScore, eScore) = histStats(s, dir)
    // floor slack: B micro-units per partitioning
    val ok = vScore >= eScore - 2L * HistB
    Seq((nv, HistB.toLong, ok)).toDF("n_values", "n_buckets", "ok")
  }

  val q497Sql: String =
    s"""SELECT CAST(COUNT(DISTINCT
       |    CAST(FLOOR(100 * l_extendedprice) AS BIGINT) // 100000)
       |  AS BIGINT) AS n_values,
       |  CAST($HistB AS BIGINT) AS n_buckets, TRUE AS ok
       |FROM lineitem""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("q497_voptimal_histogram", q497VOptimal, q497Sql))
}
