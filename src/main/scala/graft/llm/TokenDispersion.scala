package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.{Entry, ExactDiv, Tables => T}

/** TOKEN BURSTINESS — the variance-to-mean dispersion index of
  * per-document token counts (Church–Gale CL'95 "Poisson mixtures";
  * index of dispersion / Fano factor): a token whose occurrences
  * CLUMP into few documents (D ≫ 1 — content words, boilerplate
  * signatures) versus one spread Poisson-thin across the corpus
  * (D ≈ 1 — function words). The profiling family reads inequality
  * of doc MASS (Gini q379, Theil q427) and vocabulary SHAPE (Zipf
  * q354, Heaps q577/q355); nothing measured the per-token clumping
  * that separates topical from structural vocabulary — the signal
  * term-weighting (Church–Gale's point) and stop-list induction read.
  *
  * Exactness: zeros count — the variance runs over ALL N docs, so
  * per token D = ((N·s2 − s1²)/N²) / (s1/N) = (N·s2 − s1²)/(N·s1)
  * off exact integers s1 = Σc, s2 = Σc² (one (tok, doc) partial agg
  * then one tok agg; the zero-docs never materialize — N enters as a
  * broadcast scalar). The combinations ride DECIMAL(38,0)/HUGEINT
  * (N·s2 passes int64 at web scale: N ~ 10¹⁰ docs · s2 ~ 10¹²) and
  * D emits as exact micro-units via [[ExactDiv]]. Top-20 selection
  * orders by the correctly-rounded double key num/den (operands far
  * below 2⁵³ at the gated [[MinMass]] — single-rounding-exact both
  * engines) with the token string as the deterministic tie-break.
  *
  * Scale shape: one tokenize explode → ONE (tok, doc) partial agg →
  * one vocab-bounded tok agg → TakeOrdered(20). No window, no join
  * beyond the 1-row N broadcast.
  */
object TokenDispersion {

  import Entry.Q

  /** Minimum corpus occurrences before a token's D is read — the
    * Church–Gale low-frequency guard (a singleton's D is pure noise).
    */
  val MinMass = 50
  val TopK = 20

  /** Top-[[TopK]] dispersion table off a `(doc_id, text)` frame. */
  def dispersion(docs: DataFrame, minMass: Int = MinMass): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val n = docs.select(count(lit(1)).as("n_docs"))
    val perDoc = docs
      .select($"doc_id", explode(split($"text", " ")).as("tok"))
      .groupBy($"tok", $"doc_id").agg(count(lit(1)).as("c"))
    val perTok = perDoc.groupBy($"tok")
      .agg(count(lit(1)).as("m"), sum($"c").as("s1"),
        sum($"c" * $"c").as("s2"))
      .filter($"s1" >= minMass)
      .crossJoin(broadcast(n))
      .withColumn("num", expr(
        "CAST(n_docs AS DECIMAL(38,0)) * s2 - CAST(s1 AS DECIMAL(38,0)) * s1"))
      .withColumn("den", expr(
        "CAST(n_docs AS DECIMAL(38,0)) * s1"))
      .withColumn("dkey", expr(
        "CAST(num AS DOUBLE) / CAST(den AS DOUBLE)"))
      .withColumn("disp_micro", expr("CAST(" +
        ExactDiv.microFloor("num", "den", "div") + " AS BIGINT)"))
    perTok
      .orderBy($"dkey".desc, $"tok")
      .limit(TopK)
      .select($"tok", $"m", $"s1", $"s2", $"disp_micro")
  }

  val q587TokenDispersion: Q = (s, dir) => {
    import s.implicits._
    dispersion(T.documents(s, dir).select($"doc_id", $"text"))
  }

  val q587Sql: String =
    s"""WITH n AS (SELECT COUNT(*) AS n_docs FROM documents),
      |per_doc AS (
      |  SELECT doc_id, UNNEST(string_split(text, ' ')) AS tok
      |  FROM documents),
      |cnt AS (
      |  SELECT tok, doc_id, COUNT(*) AS c FROM per_doc GROUP BY 1, 2),
      |per_tok AS (
      |  SELECT tok, COUNT(*) AS m, SUM(c) AS s1, SUM(c * c) AS s2
      |  FROM cnt GROUP BY 1 HAVING SUM(c) >= $MinMass),
      |scored AS (
      |  SELECT tok, m, s1, s2,
      |    CAST(n_docs AS HUGEINT) * s2 - CAST(s1 AS HUGEINT) * s1 AS num,
      |    CAST(n_docs AS HUGEINT) * s1 AS den
      |  FROM per_tok, n)
      |SELECT tok, CAST(m AS BIGINT) AS m, CAST(s1 AS BIGINT) AS s1,
      |  CAST(s2 AS BIGINT) AS s2,
      |  CAST(${ExactDiv.microFloor("num", "den", "//")} AS BIGINT)
      |    AS disp_micro
      |FROM scored
      |ORDER BY CAST(num AS DOUBLE) / CAST(den AS DOUBLE) DESC, tok
      |LIMIT $TopK""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("q587_token_dispersion", q587TokenDispersion, q587Sql))
}
