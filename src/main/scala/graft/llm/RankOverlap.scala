package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Entry

/** RANK-BIASED OVERLAP between two retrieval systems (Webber, Moffat &
  * Zobel TOIS'10 — the top-weighted, prefix-truncation-safe similarity
  * for INDEFINITE rankings; Kendall/Spearman need both lists to rank
  * the same universe, RBO compares top-k lists that mostly disagree):
  * `RBO@D = Σ_{d≤D} (1−p)p^{d−1}·|A_d ∩ B_d|/d`, p = 0.9, D = 10 —
  * the truncated prefix form WITHOUT the extrapolation residual
  * (documented; self-RBO@10 is therefore (1−p)Σp^{d−1}, not 1).
  *
  * Lists compared: q364's BM25-micro ranking vs q374's Dirichlet-QL
  * ranking over the same query terms — "how much do my two retrieval
  * systems agree" is the eval readout the fusion ops (q365/q375)
  * assume but never measure.
  *
  * Exactness: the per-depth coefficients `c_d = ⌊10¹²(1−p)p^{d−1}/d⌋`
  * are computed ONCE in BigDecimal and interpolated as LITERALS into
  * both engines' SQL (the q476 pinned-constant discipline), and the
  * depth-sum identity `Σ_d c_d·overlap_d = Σ_{docs∈A∩B} S(max(ra,rb))`
  * (S = suffix sums of c, 10 more literals) turns the per-depth
  * intersection census into ONE 10-row join — every value BIGINT.
  *
  * Scale shape: each list is a bounded TakeOrdered head; ranking and
  * fusion run on ≤ D rows per system regardless of corpus size.
  */
object RankOverlap {

  import Entry.Q

  val RboP = BigDecimal("0.9")
  val RboDepth = 10

  /** c_d = ⌊10¹²·(1−p)·p^(d−1)/d⌋, d = 1..D — pinned literals. */
  val Coeffs: Seq[Long] = (1 to RboDepth).map { d =>
    ((BigDecimal(10).pow(12) * (1 - RboP) * RboP.pow(d - 1)) / d)
      .setScale(0, BigDecimal.RoundingMode.FLOOR).toLongExact
  }

  /** S(k) = Σ_{d≥k} c_d — the per-doc contribution of a doc whose
    * LATER entry depth is k.
    */
  val SuffixSums: Seq[Long] =
    Coeffs.scanRight(0L)(_ + _).init

  /** Maximum attainable RBO@D (self-comparison): Σ c_d·d. */
  val SelfRbo: Long = Coeffs.zipWithIndex.map { case (c, i) =>
    c * (i + 1)
  }.sum

  private def caseSql(col: String): String =
    s"CASE $col " + SuffixSums.zipWithIndex.map { case (sv, i) =>
      s"WHEN ${i + 1} THEN ${sv}"
    }.mkString(" ") + " ELSE 0 END"

  /** RBO@D of two (doc_id, rank) lists (ranks 1..D). */
  def rbo(a: DataFrame, b: DataFrame): DataFrame = {
    val s = a.sparkSession
    import s.implicits._
    a.select($"doc_id", $"rank".as("ra"))
      .join(b.select($"doc_id", $"rank".as("rb")), "doc_id")
      .select(expr(s"${caseSql("GREATEST(ra, rb)")}").as("contrib"))
      .agg(count(lit(1)).as("n_common"),
        coalesce(sum($"contrib"), lit(0L)).as("rbo_pico"))
  }

  private def ranked(scores: DataFrame, scoreCol: String): DataFrame = {
    val s = scores.sparkSession
    import s.implicits._
    scores.orderBy(col(scoreCol).desc, $"doc_id".asc).limit(RboDepth)
      .withColumn("rank", row_number()
        .over(Window.orderBy(col(scoreCol).desc, $"doc_id".asc))
        .cast("long"))
      .select($"doc_id", $"rank")
  }

  val q494RankOverlap: Q = (s, dir) => {
    import s.implicits._
    val a = ranked(TextPipeline.bm25ScoresMicro(s, dir), "score_micro")
    val b = ranked(TextPipeline.qlScoresMicro(s, dir), "ql_micro")
    rbo(a, b)
  }

  val q494Sql: String = {
    // bm = the full q364 BM25 head (LIMIT 20 ≥ D, same total order, so
    // its top-10 is THE top-10); ql = the q374 candidate scores
    s"""WITH bm AS (${TextPipeline.q364Sql}),
       |ql AS (WITH ${TextPipeline.qlSqlCtes}
       |       SELECT doc_id, ql_micro FROM qlsc),
       |ar AS (
       |  SELECT doc_id, ra FROM (
       |    SELECT doc_id, ROW_NUMBER() OVER (ORDER BY score_micro DESC,
       |      doc_id) AS ra FROM bm) WHERE ra <= $RboDepth),
       |br AS (
       |  SELECT doc_id, rb FROM (
       |    SELECT doc_id, ROW_NUMBER() OVER (ORDER BY ql_micro DESC,
       |      doc_id) AS rb FROM ql) WHERE rb <= $RboDepth)
       |SELECT CAST(COUNT(*) AS BIGINT) AS n_common,
       |  CAST(COALESCE(SUM(${caseSql("GREATEST(ra, rb)")}), 0) AS BIGINT)
       |    AS rbo_pico
       |FROM ar JOIN br USING (doc_id)""".stripMargin
  }

  val entries: Seq[Entry] = Seq(
    Entry("q494_rank_overlap", q494RankOverlap, q494Sql))
}
