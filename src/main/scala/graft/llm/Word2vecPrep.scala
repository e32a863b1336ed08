package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Entry, Tables => T}

/** WORD2VEC TRAINING-DATA PREP (Mikolov et al. NIPS'13) — the two
  * artifacts an embedding trainer consumes, as data ops:
  *
  *   - q488 SKIP-GRAM PAIRS: every (center, context) token pair within
  *     a ±[[SgWindow]] position window inside a document, counted
  *     corpus-wide. Distinct from q252's ADJACENT-bigram PMI and
  *     q143's Kneser–Ney pair counts — the skip window is what makes
  *     word2vec's context distributional. Positions index the raw
  *     space-split array (empties filtered AFTER positioning), so both
  *     engines window over identical coordinates.
  *
  *   - q489 NEGATIVE-SAMPLING TABLE: the unigram^(3/4) proposal
  *     distribution. The fractional power is computed as
  *     `sqrt(cnt·sqrt(cnt))` — sqrt is IEEE correctly-rounded, `pow`
  *     is NOT, so this spelling (unlike POWER(cnt, 0.75)) is
  *     bit-identical across engines. Each weight is then
  *     micro-floored to BIGINT, the normalizer is an exact integer
  *     sum, and the emitted cumulative ppm column IS the inverse-CDF
  *     sampling table (bucket a uniform draw into [cum−p, cum)).
  *
  * Scale shape: q488's pair generation is ARRAY-LOCAL — each center's
  * ±window context set is two slices of the same token array inside
  * one projection (O(len·w) pairs, zero shuffle) feeding one
  * (center, context) partial agg. q489 is one unigram agg + a
  * TWO-LEVEL cumulative ([[graft.relational.QuantileNormalize.fullCumSum]]):
  * the vocabulary is Heaps-law-bounded, so even the distinct-term
  * frame must never pass through a one-task global window.
  */
object Word2vecPrep {

  import Entry.Q

  /** Skip-gram window: |pos_center − pos_context| ≤ 2, ≠ 0. */
  val SgWindow = 2
  /** Reported head of the pair census. */
  val SgTop = 50
  /** Reported head of the sampling table. */
  val NegTop = 20

  /** (doc_id, i, term) — raw-array positions, empties dropped after. */
  private def positions(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    T.documents(s, dir)
      .select($"doc_id", posexplode(split($"text", " ")).as(Seq("i", "term")))
      .filter($"term" =!= "")
  }

  val q488SkipGrams: Q = (s, dir) => {
    import s.implicits._
    // ARRAY-LOCAL context generation (the 100 TB form): for the center
    // at 0-based position i, the ±SgWindow context set is two slices of
    // the SAME raw token array — O(len·w) pairs emitted inside one
    // projection, ZERO shuffle before the (center, context) census agg.
    // The r12 band self-join evaluated len×len candidates per doc_id
    // group (~10¹⁰ comparisons for one 100k-token document); slices are
    // position-identical to |i−j| ≤ SgWindow, j ≠ 0 on the raw array,
    // with empties filtered after positioning on BOTH sides, exactly as
    // before.
    val toks = T.documents(s, dir)
      .select($"doc_id", split($"text", " ").as("toks"))
    // left neighbors: raw 0-based [max(0, i−w), i−1] → 1-based slice at
    // max(1, i−w+1), length min(i, w); right: [i+1, i+w] → slice at
    // i+2, length w (slice clamps at the array end)
    val pairs = toks
      .select(posexplode($"toks").as(Seq("i", "center")), $"toks")
      .filter($"center" =!= "")
      .select($"center", explode(concat(
        slice($"toks",
          greatest(lit(1), $"i" - lit(SgWindow) + lit(1)),
          least($"i", lit(SgWindow))),
        slice($"toks", $"i" + lit(2), lit(SgWindow)))).as("context"))
      .filter($"context" =!= "")
    pairs.groupBy($"center", $"context")
      .agg(count(lit(1)).as("cnt"))
      .orderBy($"cnt".desc, $"center", $"context")
      .limit(SgTop)
  }

  val q488Sql: String =
    s"""WITH pos AS (
      |  SELECT doc_id, i, term FROM (
      |    SELECT doc_id, UNNEST(list_transform(string_split(text, ' '),
      |      (x, i) -> {'term': x, 'i': i}), recursive := true)
      |    FROM documents)
      |  WHERE term <> ''),
      |pairs AS (
      |  SELECT a.term AS center, b.term AS context
      |  FROM pos a JOIN pos b ON a.doc_id = b.doc_id
      |    AND a.i <> b.i AND ABS(a.i - b.i) <= $SgWindow)
      |SELECT center, context, COUNT(*) AS cnt
      |FROM pairs
      |GROUP BY 1, 2
      |ORDER BY cnt DESC, center, context
      |LIMIT $SgTop""".stripMargin

  val q489NegSampleTable: Q = (s, dir) => {
    import s.implicits._
    val uni = positions(s, dir).groupBy($"term")
      .agg(count(lit(1)).as("cnt"))
      .withColumn("w_micro",
        floor(lit(1000000.0) *
          sqrt($"cnt".cast("double") * sqrt($"cnt".cast("double"))))
          .cast("long"))
    val z = uni.agg(sum($"w_micro")).as[Long].head()
    // ppm (not ppb): 10⁶·cum_micro ≤ 10⁶·Z stays inside int64 through
    // sf1 (Z ≈ 10¹²); ppb would overflow where cum approaches Z.
    // The cumulative runs on the TWO-LEVEL scan (fullCumSum — the
    // q451 discipline): the vocabulary is Heaps-law-bounded, not
    // constant-bounded — 10⁸-10⁹ distinct tokens at 100 TB would
    // funnel through the old one-task global window.
    graft.relational.QuantileNormalize.fullCumSum(
      uni, Seq($"w_micro".desc, $"term"), "w_micro" -> "cum_micro")
      .select($"term", $"cnt", $"w_micro",
        expr(s"1000000 * w_micro div ${z}L").as("prob_ppm"),
        expr(s"1000000 * cum_micro div ${z}L").as("cum_ppm"))
      .orderBy($"w_micro".desc, $"term")
      .limit(NegTop)
  }

  val q489Sql: String =
    s"""WITH pos AS (
      |  SELECT doc_id, i, term FROM (
      |    SELECT doc_id, UNNEST(list_transform(string_split(text, ' '),
      |      (x, i) -> {'term': x, 'i': i}), recursive := true)
      |    FROM documents)
      |  WHERE term <> ''),
      |uni AS (
      |  SELECT term, COUNT(*) AS cnt,
      |    CAST(FLOOR(1000000.0 *
      |      SQRT(CAST(COUNT(*) AS DOUBLE) * SQRT(CAST(COUNT(*) AS DOUBLE))))
      |      AS BIGINT) AS w_micro
      |  FROM pos GROUP BY 1),
      |z AS (SELECT CAST(SUM(w_micro) AS BIGINT) AS z FROM uni),
      |cum AS (
      |  SELECT term, cnt, w_micro,
      |    CAST(SUM(w_micro) OVER (ORDER BY w_micro DESC, term
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS cum_micro
      |  FROM uni)
      |SELECT term, cnt, w_micro,
      |  1000000 * w_micro // (SELECT z FROM z) AS prob_ppm,
      |  1000000 * cum_micro // (SELECT z FROM z) AS cum_ppm
      |FROM cum
      |ORDER BY w_micro DESC, term
      |LIMIT $NegTop""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("q488_skipgram_pairs", q488SkipGrams, q488Sql),
    Entry("q489_negsample_table", q489NegSampleTable, q489Sql))
}
