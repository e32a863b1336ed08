package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.{Entry, Tables => T}

/** CONTENT-DEFINED CHUNKING (the LBFS/rsync/restic storage-dedup
  * primitive, Muthitacharoen et al. SOSP'01): chunk boundaries are
  * placed where a rolling window's hash satisfies a rate condition, so
  * boundaries are a function of CONTENT, not position — insert a byte
  * and only the chunks around the edit change, where fixed-size
  * blocking reshuffles every downstream block. The corpus-level chunk
  * census (total vs distinct vs max reuse) is the dedup-storage
  * estimate a 100 TB ingest runs before deciding what to store once.
  *
  * Window hash is md5 of the [[CdcWindow]]-char window (both engines
  * ship bit-identical md5 — the q296 hashing-trick spelling), boundary
  * when its first hex nibble is '0' (rate 1/16 → expected chunk ≈ 16
  * chars); the final position is excluded so no empty tail chunk
  * exists. q238's segment dedup chunks at FIXED token offsets — the
  * shift-fragility CDC exists to remove; q172's rolling fingerprint
  * hashes windows but never re-chunks.
  *
  * Scale shape: the per-position window hashing stays INSIDE one
  * projection as array-local higher-order functions (sequence →
  * transform → filter — no per-position explode, no shuffle until the
  * final chunk census), so the corpus pass is embarrassingly parallel
  * narrow work — exactly how CDC runs at scale (every byte hashed
  * once, then one distinct-aggregation shuffle on chunk hashes).
  */
object CdcChunking {

  import Entry.Q

  val CdcWindow = 8

  /** (doc_id, ch) chunk-hash rows for any (doc_id, text) frame — the
    * chunker itself, shared by q327 and the shift-stability spec.
    */
  def chunks(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val w = CdcWindow
    docs
      .withColumn("len", length($"text"))
      .withColumn("bounds", expr(
        s"""IF(len > $w,
           |  filter(transform(sequence($w, len - 1),
           |    i -> IF(substring(md5(substring(text, i - $w + 1, $w)), 1, 1) = '0',
           |            i, CAST(NULL AS INT))),
           |    x -> x IS NOT NULL),
           |  array())""".stripMargin))
      .withColumn("starts", concat(array(lit(0)), $"bounds"))
      .withColumn("ends", concat($"bounds", array($"len")))
      .select($"doc_id", explode(expr(
        "zip_with(starts, ends, (s, e) -> substring(text, s + 1, e - s))"))
        .as("chunk"))
      .filter(length($"chunk") > 0)
      .select($"doc_id", md5($"chunk").as("ch"))
  }

  val q327CdcChunking: Q = (s, dir) => {
    import s.implicits._
    val docs = T.documents(s, dir).select($"doc_id", $"text")
    // ONE pass over the corpus: all chunk stats come off the census;
    // n_docs ≡ docs with non-empty text (every such doc yields ≥1
    // chunk), so the doc count never re-runs the hashing pipeline —
    // the two-consumer spelling recomputed the whole chunk pass twice
    // (caught by the ScalePlanSpec single-generator pin).
    val census = chunks(docs).groupBy($"ch").agg(count(lit(1)).as("c"))
    docs.filter(length($"text") > 0)
      .agg(count(lit(1)).as("n_docs"))
      .crossJoin(census.agg(sum($"c").as("n_chunks"),
        count(lit(1)).as("n_distinct"), max($"c").as("max_reuse")))
      .select($"n_docs", $"n_chunks", $"n_distinct", $"max_reuse")
  }

  val q327Sql: String =
    s"""WITH d AS (SELECT doc_id, text, length(text) AS len FROM documents),
       |b AS (
       |  SELECT doc_id, text, len,
       |    CASE WHEN len > $CdcWindow THEN
       |      list_filter(list_transform(range($CdcWindow, len),
       |        i -> CASE WHEN substring(md5(substring(text, i - $CdcWindow + 1, $CdcWindow)), 1, 1) = '0'
       |               THEN i END),
       |        x -> x IS NOT NULL)
       |    ELSE [] END AS bounds
       |  FROM d),
       |ch AS (
       |  SELECT doc_id,
       |    UNNEST(list_transform(
       |      list_zip(list_prepend(0, bounds), list_append(bounds, len)),
       |      p -> substring(text, p[1] + 1, p[2] - p[1]))) AS chunk
       |  FROM b),
       |chf AS (SELECT doc_id, md5(chunk) AS ch FROM ch WHERE length(chunk) > 0),
       |census AS (SELECT ch, COUNT(*) AS c FROM chf GROUP BY ch)
       |SELECT
       |  (SELECT COUNT(*) FROM documents WHERE length(text) > 0) AS n_docs,
       |  (SELECT COUNT(*) FROM chf) AS n_chunks,
       |  (SELECT COUNT(*) FROM census) AS n_distinct,
       |  (SELECT CAST(MAX(c) AS BIGINT) FROM census) AS max_reuse""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("q327_cdc_chunking", q327CdcChunking, q327Sql))
}
