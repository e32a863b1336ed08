package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.{Entry, Tables => T}

/** READABILITY SCORING (Flesch'48 reading ease + Kincaid'75 grade
  * level — the classic curation signals a training-data pipeline cuts
  * on alongside q47's stopword-density quality score and q129's
  * unigram-LM gate; FineWeb/C4-style filters drop both the
  * unreadably-dense and the trivially-simple tails): per document,
  * word / sentence / syllable counts from FIXED deterministic
  * heuristics, then the two classic formulas.
  *
  * Heuristics (the cross-engine contract — each is one regexp both
  * engines implement identically): words = single-space split count
  * (the q47/q48 convention); sentences = max(1, count of `[.!?]+`
  * runs); syllables = count of `[aeiouy]+` vowel GROUPS over the
  * lowercased text (the standard cheap estimator — consonant-only
  * tokens contribute 0, long vowel clusters 1; a fixed convention,
  * not a dictionary).
  *
  * Exactness: all three counts are exact BIGINTs; the Flesch–Kincaid
  * grade's rational coefficients clear to the exact integer pieces
  * fk_num = 39·w² + 1180·sy·sen − 1559·w·sen over fk_den = 100·w·sen
  * (can be negative for ultra-simple text — kept as NUMERATOR, never
  * floor-divided: floor semantics differ cross-engine on negatives);
  * grade and ease finish as ONE shared formula string each.
  *
  * Scale shape: one projection pass over documents — three regexp
  * scans per row, all inside whole-stage codegen; no shuffle at all
  * except the output sort.
  */
object Readability {

  import Entry.Q

  /** FK grade from the exact integer pieces — shared verbatim. */
  val GradeFormula: String =
    "CAST(fk_num AS DOUBLE) / CAST(fk_den AS DOUBLE)"

  /** Flesch reading ease — shared verbatim. */
  val EaseFormula: String =
    "206.835 - 1.015 * CAST(w AS DOUBLE) / sen " +
      "- 84.6 * CAST(sy AS DOUBLE) / w"

  val q534Readability: Q = (s, dir) => {
    import s.implicits._
    readability(T(s, dir, "documents"))
  }

  /** Per-doc readability over a `(doc_id, text, ...)` frame. */
  def readability(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    docs.filter(length(trim($"text")) > 0)
      .select($"doc_id",
        size(split($"text", " ")).cast("long").as("w"),
        greatest(lit(1L),
          size(regexp_extract_all($"text", lit("[.!?]+"), lit(0)))
            .cast("long")).as("sen"),
        size(regexp_extract_all(lower($"text"), lit("[aeiouy]+"), lit(0)))
          .cast("long").as("sy"))
      .withColumn("fk_num",
        lit(39L) * $"w" * $"w" + lit(1180L) * $"sy" * $"sen"
          - lit(1559L) * $"w" * $"sen")
      .withColumn("fk_den", lit(100L) * $"w" * $"sen")
      .withColumn("fk_grade", expr(GradeFormula))
      .withColumn("ease", expr(EaseFormula))
      .orderBy($"doc_id")
  }

  val q534Sql: String =
    s"""WITH base AS (
      |  SELECT doc_id,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS w,
      |    GREATEST(CAST(1 AS BIGINT),
      |      CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT))
      |      AS sen,
      |    CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
      |      AS BIGINT) AS sy
      |  FROM documents WHERE length(trim(text)) > 0),
      |pieces AS (
      |  SELECT doc_id, w, sen, sy,
      |    39 * w * w + 1180 * sy * sen - 1559 * w * sen AS fk_num,
      |    100 * w * sen AS fk_den
      |  FROM base)
      |SELECT doc_id, w, sen, sy, fk_num, fk_den,
      |  $GradeFormula AS fk_grade, $EaseFormula AS ease
      |FROM pieces ORDER BY doc_id""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("q534_readability", q534Readability, q534Sql))
}
