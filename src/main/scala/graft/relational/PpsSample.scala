package graft.relational

import org.apache.spark.sql.functions._

import graft.core.{Entry, Tables => T}

/** PPS-SYSTEMATIC SAMPLING — probability proportional to size
  * (Madow AMS'49, the classic cumulative-size systematic PPS design;
  * completes the sampling family's WEIGHTED-systematic corner next to
  * q518 equal-probability systematic, q100 stratified-rate, q200
  * weighted-reservoir): documents are laid along the cumulative
  * TOKEN-COUNT axis in md5 order; selection points sit at offset +
  * j·step; a document is drawn once per point falling inside its
  * token interval — so a 10k-token document is 100× likelier than a
  * 100-token one, the draw a token-budgeted corpus sampler actually
  * wants (sampling documents uniformly UNDER-represents long-doc
  * tokens).
  *
  * Exactness: token counts are the q48 single-space-split convention;
  * the cumulative axis rides fullCumSum's two-level scan; the hit
  * count per document is the exact integer
  * ⌊(cum − off − 1)/step⌋ − ⌊(cum_prev − off − 1)/step⌋ (never a
  * float; multi-hit giants kept with their multiplicity, the PPS-
  * with-replacement convention). Step is the FIXED literal
  * [[PpsStep]] tokens; off = [[PpsOffset]] (the q518/q95 fixed-start
  * discipline).
  *
  * Scale shape: one projection pass for token counts, ONE two-level
  * cumulative scan, a map-side hit filter — no shuffle beyond the
  * scan's 32-way range partition.
  */
object PpsSample {

  import Entry.Q

  /** One selection point per this many tokens. */
  val PpsStep = 4096L
  val PpsOffset = 17L

  val q545PpsSample: Q = (s, dir) => {
    import s.implicits._
    val docs = T(s, dir, "documents")
      .select($"doc_id",
        size(split($"text", " ")).cast("long").as("n_tokens"),
        md5(concat(lit("pps:"), $"doc_id")).as("ord"))
    val cum = QuantileNormalize.fullCumSum(docs,
      Seq(col("ord"), col("doc_id")), "n_tokens" -> "cum")
    // +step keeps both div operands strictly positive (off < step, cum
    // ≥ 0): truncating `div` and flooring `//` agree only off negatives
    // — the q534 floor-semantics lesson
    cum
      .withColumn("hits",
        expr(s"(cum - $PpsOffset + $PpsStep) div $PpsStep " +
          s"- (cum - n_tokens - $PpsOffset + $PpsStep) div $PpsStep"))
      .filter($"hits" > 0L)
      .select($"doc_id", $"n_tokens", $"cum", $"hits")
      .orderBy($"doc_id")
  }

  val q545Sql: String =
    s"""WITH docs AS (
      |  SELECT doc_id,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
      |    md5('pps:' || doc_id) AS ord
      |  FROM documents),
      |cum AS (
      |  SELECT doc_id, n_tokens,
      |    SUM(n_tokens) OVER (ORDER BY ord, doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM docs)
      |SELECT doc_id, n_tokens, CAST(cum AS BIGINT) AS cum,
      |  CAST((cum - $PpsOffset + $PpsStep) // $PpsStep
      |    - (cum - n_tokens - $PpsOffset + $PpsStep) // $PpsStep AS BIGINT)
      |    AS hits
      |FROM cum
      |WHERE (cum - $PpsOffset + $PpsStep) // $PpsStep
      |  - (cum - n_tokens - $PpsOffset + $PpsStep) // $PpsStep > 0
      |ORDER BY doc_id""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("q545_pps_sample", q545PpsSample, q545Sql))
}
