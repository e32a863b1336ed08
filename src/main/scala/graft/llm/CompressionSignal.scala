package graft.llm

import org.apache.spark.sql.functions._

import graft.core.{Entry, Tables => T}
import graft.functions.GraftFunctions

/** Compression-ratio degeneracy screening over the documents corpus —
  * the model-free quality signal (Gopher/FineWeb-style curation
  * pipelines drop documents whose DEFLATE ratio is extreme on either
  * side: templated/repetitive text compresses far below prose, binary
  * junk or encoded blobs refuse to compress). Built on the native
  * [[graft.functions.DeflateLen]] expression.
  */
object CompressionSignal {

  import Entry.Q

  /** Ratio quantization: ⌊10⁴·clen/olen⌋ as an exact integer — the
    * comparison currency for thresholds and ordering.
    */
  val RatioScale = 10000L

  /** q269 — per-source compression screening, the q74 (n, ok) gate
    * convention (DuckDB has no DEFLATE; the oracle pins the corpus
    * numbers it CAN derive — per-source doc counts — and the gate
    * carries the compression contracts):
    *   - every document's ratio lands in (0, 1.2] — DEFLATE's raw
    *     overhead bound for short texts; 0 or negative means a broken
    *     length fold;
    *   - per source, the MEAN quantized ratio < 1 — natural-language
    *     corpora always compress;
    *   - the planted ORDER contract, computed in the same query: a
    *     highly repetitive literal must compress strictly below the
    *     same bytes in high-entropy arrangement (sha-derived), which
    *     pins the expression end-to-end (a deflate_len that returned
    *     olen, a constant, or corrupted lengths all flip it).
    *
    * Scale shape: one narrow map over the scan (per-row deflate inside
    * the partition, thread-local Deflater reuse), one partial-agg
    * groupBy(source); the planted check is a 1-row frame crossed in.
    */
  val q269CompressionScreen: Q = (s, dir) => {
    GraftFunctions.register(s)
    import s.implicits._
    val ratios = T.documents(s, dir)
      .select($"source",
        (expr("deflate_len(encode(text, 'UTF-8'))") * RatioScale /
          greatest(octet_length($"text"), lit(1))).cast("long").as("ratio_q"))
    val planted = s.range(1)
      .select(
        expr(s"deflate_len(encode(repeat('graft ', 200), 'UTF-8'))")
          .as("rep_len"),
        expr(("deflate_len(encode(concat_ws(''," +
          (0 until 25).map(i => s"sha2('graft$i', 256)").mkString(",") +
          "), 'UTF-8'))")).as("rnd_len"))
      .select(($"rep_len" < $"rnd_len").as("planted_ok"))
    ratios
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        (min($"ratio_q") > 0 && max($"ratio_q") <= RatioScale * 12 / 10 &&
          avg($"ratio_q") < RatioScale).as("range_ok"))
      .crossJoin(planted)
      .select($"source", $"n_docs",
        ($"range_ok" && $"planted_ok").as("ok"))
      .orderBy($"source")
  }

  val q269Sql: String =
    """SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs, TRUE AS ok
      |FROM documents GROUP BY source ORDER BY source""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("q269_compression_screen", q269CompressionScreen, q269Sql))
}
