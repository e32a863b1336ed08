package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Entry, Tables => T}

/** FELLEGI–SUNTER PROBABILISTIC RECORD LINKAGE (JASA 1969 — the
  * canonical entity-resolution model; Splink/dedupe ship exactly this)
  * over a deterministic dirty copy of the customer table: per
  * customer, each of three fields (name, account-balance cents, market
  * segment) is corrupted by a pinned md5 coin at a known rate, pairs are BLOCKED
  * on the never-corrupted nation key, and each pair's agreement
  * pattern γ ∈ {0,1}³ feeds the two-class latent mixture
  *   P(γ) = p·Π mᵢ^γᵢ(1−mᵢ)^(1−γᵢ) + (1−p)·Π uᵢ^γᵢ(1−uᵢ)^(1−γᵢ)
  * whose (p, m, u) are fit by EM — ON THE 8-ROW PATTERN CENSUS, not
  * the pairs (the classical trick that makes F-S scale: the E-step is
  * a function of γ only, so the corpus-sized pair set collapses to
  * 2³ weighted counts before any driver work). A pair is classified
  * a match when its posterior P(M|γ) > 1/2, i.e. its log-likelihood
  * weight Σᵢ γᵢ·ln(mᵢ/uᵢ) + (1−γᵢ)·ln((1−mᵢ)/(1−uᵢ)) clears the
  * prior odds.
  *
  * Gate (engine-internal EM, the q86 ok convention): recall on the
  * planted true pairs ≥ [[MinRecallPermille]] (a true pair is
  * missed when both high-evidence fields corrupt — name AND balance,
  * rate ≈ 0.3·0.2 = 6%: segment agreement alone cannot clear the
  * prior odds, correctly),
  * false positives ≤ [[MaxFpPermille]] of classified matches, the
  * learned model is oriented (mᵢ > uᵢ for every field — agreement
  * evidence FOR a match), and EM's observed-data log-likelihood is
  * non-decreasing across all iterations. n_pairs / n_true are
  * data-derivable and replayed exactly by the DuckDB oracle.
  *
  * Scale shape: pair generation is one within-block self-join (the
  * blocking key is THE scale lever — at 100 TB blocks bound the
  * quadratic; nation caps it here), agreement flags are one
  * projection, and everything after the 8-row census groupBy is
  * driver arithmetic on 8 numbers.
  */
object RecordLinkage {

  import Entry.Q

  /** Corruption rates as exact 2^32-scale md5 thresholds. */
  val NameThr: Long = (BigInt(3) * BigInt(4294967296L) / 10).toLong
  val BalThr: Long = (BigInt(2) * BigInt(4294967296L) / 10).toLong
  val SegThr: Long = (BigInt(1) * BigInt(4294967296L) / 10).toLong

  val EmIters = 25
  val MinRecallPermille = 900L
  val MaxFpPermille = 20L

  private def coin(salt: String) =
    conv(substring(md5(concat(lit(salt), col("c_custkey").cast("string"))),
      1, 8), 16, 10).cast("long")

  /** The dirty copy: deterministic per-field corruption. */
  private def dirty(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    T.customer(s, dir).select(
      $"c_custkey".as("b_key"), $"c_nationkey".as("b_nation"),
      when(coin("fsn:") < NameThr, concat($"c_name", lit("~")))
        .otherwise($"c_name").as("b_name"),
      when(coin("fsp:") < BalThr,
        expr("CAST(FLOOR(100 * c_acctbal) AS BIGINT) + 1"))
        .otherwise(expr("CAST(FLOOR(100 * c_acctbal) AS BIGINT)"))
        .as("b_bal"),
      when(coin("fss:") < SegThr, lit("CORRUPTED"))
        .otherwise($"c_mktsegment").as("b_seg"))
  }

  /** (n_pairs, n_true, n_classified, hits, fps, orientedOk, emOk) —
    * public for the spec. */
  def linkStats(s: SparkSession, dir: String)
      : (Long, Long, Long, Long, Long, Boolean, Boolean) = {
    import s.implicits._
    val a = T.customer(s, dir).select(
      $"c_custkey".as("a_key"), $"c_nationkey".as("a_nation"),
      $"c_name".as("a_name"),
      expr("CAST(FLOOR(100 * c_acctbal) AS BIGINT)").as("a_bal"),
      $"c_mktsegment".as("a_seg"))
    val b = dirty(s, dir)
    val pairs = a.join(b, $"a_nation" === $"b_nation")
      .select($"a_key", $"b_key",
        ($"a_name" === $"b_name").cast("int").as("g1"),
        ($"a_bal" === $"b_bal").cast("int").as("g2"),
        ($"a_seg" === $"b_seg").cast("int").as("g3"),
        ($"a_key" === $"b_key").cast("int").as("is_true"))
    // the 8-row census: pattern -> (total pairs, true pairs)
    val census = pairs.groupBy($"g1", $"g2", $"g3")
      .agg(count(lit(1)).as("n"), sum($"is_true").as("nt"))
      .collect()
      .map(r => (Array(r.getInt(0), r.getInt(1), r.getInt(2)),
        r.getLong(3), r.getLong(4)))
    val nPairs = census.map(_._2).sum
    val nTrue = census.map(_._3).sum
    // EM on the census (driver arithmetic on 8 numbers)
    var p = 0.01
    var m = Array(0.9, 0.9, 0.9)
    var u = Array(0.1, 0.1, 0.1)
    var lastLl = Double.NegativeInfinity
    var emOk = true
    for (_ <- 1 to EmIters) {
      def lik(g: Array[Int], mm: Array[Double]) =
        (0 until 3).map(i => if (g(i) == 1) mm(i) else 1.0 - mm(i)).product
      val post = census.map { case (g, n, _) =>
        val pm = p * lik(g, m); val pu = (1.0 - p) * lik(g, u)
        (g, n, pm / (pm + pu), pm + pu)
      }
      val ll = post.map { case (_, n, _, tot) => n * math.log(tot) }.sum
      if (ll < lastLl - 1e-9) emOk = false
      lastLl = ll
      val wSum = post.map { case (_, n, w, _) => n * w }.sum
      p = wSum / nPairs.toDouble
      m = Array.tabulate(3)(i =>
        post.filter(_._1(i) == 1).map { case (_, n, w, _) => n * w }.sum /
          wSum)
      u = Array.tabulate(3)(i =>
        post.filter(_._1(i) == 1).map { case (_, n, w, _) => n * (1 - w) }.sum /
          (nPairs.toDouble - wSum))
    }
    val orientedOk = (0 until 3).forall(i => m(i) > u(i))
    // classify each pattern: posterior > 1/2
    val matchPatterns = census.map(_._1).filter { g =>
      def lik(mm: Array[Double]) =
        (0 until 3).map(i => if (g(i) == 1) mm(i) else 1.0 - mm(i)).product
      p * lik(m) > (1.0 - p) * lik(u)
    }.map(_.mkString).toSet
    val counted = census.map { case (g, n, nt) =>
      if (matchPatterns.contains(g.mkString)) (n, nt) else (0L, 0L) }
    val nClassified = counted.map(_._1).sum
    val hits = counted.map(_._2).sum
    val fps = nClassified - hits
    (nPairs, nTrue, nClassified, hits, fps, orientedOk, emOk)
  }

  val q472FellegiSunter: Q = (s, dir) => {
    import s.implicits._
    val (nPairs, nTrue, nClassified, hits, fps, orientedOk, emOk) =
      linkStats(s, dir)
    val ok = nTrue > 0L && orientedOk && emOk &&
      1000L * hits >= MinRecallPermille * nTrue &&
      1000L * fps <= MaxFpPermille * math.max(nClassified, 1L)
    Seq((nPairs, nTrue, ok)).toDF("n_pairs", "n_true", "ok")
  }

  /** Oracle replays the block-join pair count and the planted truth
    * exactly (the corruption never touches the blocking key, so every
    * customer pairs with its own dirty copy). */
  val q472Sql: String =
    """SELECT
      |  CAST((SELECT SUM(c * c) FROM (
      |     SELECT COUNT(*) AS c FROM customer GROUP BY c_nationkey))
      |    AS BIGINT) AS n_pairs,
      |  CAST((SELECT COUNT(*) FROM customer) AS BIGINT) AS n_true,
      |  TRUE AS ok""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("q472_fellegi_sunter", q472FellegiSunter, q472Sql))
}
