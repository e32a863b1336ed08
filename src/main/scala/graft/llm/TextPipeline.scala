package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.PlanBridge

import graft.core.{Entry, Tables => T}

/** Reusable tokenize → stopword-filter → term-weight pipeline over a
  * text corpus (SURVEY.md §2.b LLM row "tokenize/stopwords/TF-IDF") —
  * the feature-extraction stages a training-data pipeline chains before
  * dedup/quality filtering, each a pure `DataFrame => DataFrame`.
  *
  * Scale shape: tokenize is a narrow explode (linear); term frequency is
  * one groupBy on (doc, term) with map-side combine; document frequency
  * is one groupBy on term. The corpus-size scalar joins back as a
  * broadcast literal — no driver-side collect of anything non-scalar.
  *
  * Determinism: the IDF uses the log-free BM25-style rational
  * `(N - df + 0.5) / (df + 0.5)` rather than `ln(N/df)` — engines
  * differ in `ln` at the ulp level, while add/divide/multiply of
  * integer-derived doubles are IEEE-exact-rounded and thus bit-identical
  * in Spark and DuckDB (same rule as graft.core.dsl).
  */
object TextPipeline {

  import Entry.Q

  /** Default stopword list (matches the marker set used by the quality
    * and lang-id queries).
    */
  val Stopwords: Seq[String] = Seq("the", "a", "of", "and", "to")

  /** Whitespace-tokenize `textCol` into one (idCol, term) row per
    * token; empty tokens (from repeated separators) are dropped.
    */
  def tokenize(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    df.select(col(idCol), explode(split(col(textCol), " ")).as("term"))
      .filter(col("term") =!= "")

  /** Remove stopwords from a (idCol, term) frame. The list is a literal
    * IN-filter — at scale a broadcast semi-join against a stopword table
    * is the same plan shape.
    */
  def removeStopwords(tokens: DataFrame,
      stopwords: Seq[String] = Stopwords): DataFrame =
    tokens.filter(!col("term").isin(stopwords: _*))

  /** Per-(doc, term) weights over the stopword-filtered token stream:
    * tf (count in doc), df (docs containing term), and the rational
    * BM25-style weight tf·(N − df + ½)/(df + ½). `nDocs` is the corpus
    * size N, passed as a literal (compute it once upstream).
    *
    * df is a window count over the tf frame — tf already holds exactly
    * one row per (doc, term), so `count(*) OVER (PARTITION BY term)` IS
    * the document frequency. That derives tf and df from ONE evaluation
    * of the token pipeline with no tf⋈df join (the join spelling scans
    * and shuffles the exploded corpus twice, plus a distinct aggregate).
    */
  def tfidf(docs: DataFrame, nDocs: Long, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val tokens = removeStopwords(tokenize(docs, idCol, textCol))
    val tf = tokens.groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"))
    val wDf = Window.partitionBy(col("term"))
    tf.withColumn("df", count(lit(1)).over(wDf))
      .withColumn("weight",
        col("tf").cast("double")
          * ((lit(nDocs).cast("double") - col("df") + 0.5)
            / (col("df").cast("double") + 0.5)))
      .select(col(idCol), col("term"), col("tf"), col("df"), col("weight"))
  }

  /** Top-5 weighted terms per document — the tfidf pipeline plus the
    * per-group top-k idiom (row_number ≤ k after one shuffle on doc_id).
    */
  val q76Tfidf: Q = (s, dir) => {
    import s.implicits._
    val docs = T.documents(s, dir)
    val n = docs.select(countDistinct($"doc_id")).as[Long].head()
    val w = Window.partitionBy($"doc_id")
      .orderBy($"weight".desc, $"term".asc)
    tfidf(docs, n)
      .withColumn("rnk", row_number().over(w))
      .filter($"rnk" <= 5)
      .orderBy($"doc_id", $"rnk")
  }

  val q76Sql: String =
    """WITH tok AS (
      |  SELECT doc_id, UNNEST(string_split(text, ' ')) AS term FROM documents),
      |filt AS (
      |  SELECT doc_id, term FROM tok
      |  WHERE term <> '' AND term NOT IN ('the', 'a', 'of', 'and', 'to')),
      |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM filt GROUP BY 1, 2),
      |df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM filt GROUP BY 1),
      |n AS (SELECT COUNT(DISTINCT doc_id) AS n FROM documents),
      |w AS (
      |  SELECT doc_id, term, tf, df,
      |    CAST(tf AS DOUBLE) * ((CAST(n AS DOUBLE) - df + 0.5)
      |                          / (CAST(df AS DOUBLE) + 0.5)) AS weight
      |  FROM tf JOIN df USING (term) CROSS JOIN n)
      |SELECT doc_id, term, tf, df, weight, rnk FROM (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
      |            ORDER BY weight DESC, term ASC) AS rnk FROM w) t
      |WHERE rnk <= 5
      |ORDER BY doc_id, rnk""".stripMargin

  /** BM25 relevance scoring for a fixed query-term set — the retrieval
    * ranking a quality-filtering or RAG-ish selection stage runs over a
    * corpus. Same determinism discipline as [[tfidf]]: the IDF is the
    * log-free rational `(N − df + ½)/(df + ½)`, every arithmetic step
    * is written in one fixed order mirrored by the oracle, and the
    * per-document total sums the per-term scores in FIXED column order
    * (a plain `sum()` over doubles commits to no order and is not
    * reproducible across engines).
    *
    * Scale shape: tokens filter to the query terms BEFORE any shuffle
    * (the explode stays narrow and only query-term tokens reach the tf
    * groupBy); df rides the tf frame as a window count (q76's one-pass
    * trick); dl joins on doc_id; `avgdl` is one scalar.
    */
  val Bm25QueryTerms = Seq("data", "join")

  def bm25(docs: DataFrame, terms: Seq[String], nDocs: Long): DataFrame = {
    val toks = removeStopwords(tokenize(docs))
    val dl = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
    val sumDl = dl.agg(sum(col("dl"))).head().getLong(0)
    val avgdl = sumDl.toDouble / nDocs.toDouble
    val tf = toks.filter(col("term").isin(terms: _*))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val wDf = Window.partitionBy(col("term"))
    val scored = tf.withColumn("df", count(lit(1)).over(wDf))
      .join(dl, "doc_id")
      .withColumn("score",
        ((lit(nDocs).cast("double") - col("df") + 0.5)
          / (col("df").cast("double") + 0.5))
          * ((col("tf").cast("double") * 2.2)
            / (col("tf").cast("double")
              + lit(1.2) * (lit(0.25)
                + lit(0.75) * (col("dl").cast("double") / avgdl)))))
    val perTerm = terms.map(t =>
      coalesce(max(when(col("term") === t, col("score"))), lit(0.0))
        .as(s"s_$t"))
    val pivoted = scored.groupBy(col("doc_id"))
      .agg(perTerm.head, perTerm.tail: _*)
    val total = terms.map(t => col(s"s_$t")).reduce(_ + _)
    dl.select(col("doc_id")).join(pivoted, Seq("doc_id"), "left")
      .select(col("doc_id") +:
        terms.map(t => coalesce(col(s"s_$t"), lit(0.0)).as(s"s_$t")): _*)
      .withColumn("bm25", total)
  }

  /** q108 — BM25 scores for [[Bm25QueryTerms]] over every document
    * (k1 = 1.2, b = 0.75 inlined as the same literals in both engines).
    */
  val q108Bm25: Q = (s, dir) => {
    import s.implicits._
    val docs = T.documents(s, dir)
    val n = docs.select(countDistinct($"doc_id")).as[Long].head()
    bm25(docs, Bm25QueryTerms, n).orderBy($"doc_id")
  }

  val q108Sql: String =
    """WITH tok AS (
      |  SELECT doc_id, UNNEST(string_split(text, ' ')) AS term FROM documents),
      |filt AS (
      |  SELECT doc_id, term FROM tok
      |  WHERE term <> '' AND term NOT IN ('the', 'a', 'of', 'and', 'to')),
      |dl AS (SELECT doc_id, COUNT(*) AS dl FROM filt GROUP BY 1),
      |n AS (SELECT COUNT(DISTINCT doc_id) AS n FROM documents),
      |avg AS (SELECT CAST(SUM(dl) AS DOUBLE) / CAST((SELECT n FROM n) AS DOUBLE)
      |          AS avgdl FROM dl),
      |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM filt
      |       WHERE term IN ('data', 'join') GROUP BY 1, 2),
      |sc AS (
      |  SELECT doc_id, term,
      |    ((CAST((SELECT n FROM n) AS DOUBLE) - df + 0.5)
      |      / (CAST(df AS DOUBLE) + 0.5))
      |    * ((CAST(tf AS DOUBLE) * 2.2)
      |      / (CAST(tf AS DOUBLE)
      |        + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE)
      |                                / (SELECT avgdl FROM avg))))) AS score
      |  FROM (SELECT tf.*, COUNT(*) OVER (PARTITION BY term) AS df FROM tf)
      |       JOIN dl USING (doc_id)),
      |piv AS (
      |  SELECT doc_id,
      |    COALESCE(MAX(CASE WHEN term = 'data' THEN score END), 0.0) AS s_data,
      |    COALESCE(MAX(CASE WHEN term = 'join' THEN score END), 0.0) AS s_join
      |  FROM sc GROUP BY doc_id)
      |SELECT dl.doc_id,
      |  COALESCE(s_data, 0.0) AS s_data,
      |  COALESCE(s_join, 0.0) AS s_join,
      |  COALESCE(s_data, 0.0) + COALESCE(s_join, 0.0) AS bm25
      |FROM dl LEFT JOIN piv ON dl.doc_id = piv.doc_id
      |ORDER BY 1""".stripMargin


  /** q337 — IR EVALUATION harness over the q108 BM25 ranking:
    * recall@10, first-relevant rank, and MRR against the AND-semantics
    * ground truth (docs containing EVERY query term) — the
    * retrieval-quality readout a RAG/search pipeline runs after
    * building the index (q108 scores; this row says whether the
    * scores RETRIEVE). Every metric is exact: BM25 doubles are
    * bit-identical cross-engine (q108's log-free discipline), ranks
    * break ties by doc_id, and the two divisions are spelled once.
    *
    * Scale shape: ranking is restricted to POSITIVE-score docs — a
    * relevant doc always scores > 0 (it contains the terms; the
    * rational IDF is positive), and every zero-score doc ranks below
    * every positive one, so the restricted rank EQUALS the global
    * rank for every relevant doc while the sort shrinks from corpus
    * size to candidate size (the production candidate-set contract).
    */
  val q337IrEval: Q = (s, dir) => {
    import s.implicits._
    val docs = T.documents(s, dir)
    val n = docs.select(countDistinct($"doc_id")).as[Long].head()
    val scored = bm25(docs, Bm25QueryTerms, n)
      .filter($"bm25" > 0.0)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy($"bm25".desc, $"doc_id".asc)
    val ranked = scored.withColumn("rank", row_number().over(w))
    val rel = Bm25QueryTerms
      .map(t => tokenize(docs).filter($"term" === t)
        .select($"doc_id").distinct())
      .reduce(_.intersect(_))
    val relRanks = PlanBridge.checkpointResetStats(ranked.join(rel, "doc_id"))
    relRanks.agg(
        count(lit(1)).as("n_relevant"),
        sum(when($"rank" <= 10, 1L).otherwise(0L)).as("hits_at_10"),
        min($"rank").cast("long").as("first_rank"))
      .crossJoin(broadcast(scored.agg(count(lit(1)).as("n_ranked"))))
      .select($"n_ranked", $"n_relevant", $"hits_at_10", $"first_rank",
        expr("CAST(hits_at_10 AS DOUBLE) / CAST(n_relevant AS DOUBLE)")
          .as("recall_at_10"),
        expr("1.0 / CAST(first_rank AS DOUBLE)").as("mrr"))
  }

  val q337Sql: String = {
    val base = q108Sql.replace("ORDER BY 1", "")
    s"""WITH b AS ($base),
       |ranked AS (
       |  SELECT doc_id, bm25,
       |    ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id ASC) AS rank
       |  FROM b WHERE bm25 > 0.0),
       |tok2 AS (SELECT doc_id, UNNEST(string_split(text, ' ')) AS term
       |         FROM documents),
       |rel AS (
       |  SELECT doc_id FROM tok2 WHERE term = 'data'
       |  INTERSECT
       |  SELECT doc_id FROM tok2 WHERE term = 'join'),
       |rr AS (SELECT ranked.* FROM ranked JOIN rel USING (doc_id))
       |SELECT
       |  (SELECT COUNT(*) FROM ranked) AS n_ranked,
       |  (SELECT COUNT(*) FROM rr) AS n_relevant,
       |  (SELECT COUNT(*) FROM rr WHERE rank <= 10) AS hits_at_10,
       |  (SELECT CAST(MIN(rank) AS BIGINT) FROM rr) AS first_rank,
       |  CAST((SELECT COUNT(*) FROM rr WHERE rank <= 10) AS DOUBLE)
       |    / CAST((SELECT COUNT(*) FROM rr) AS DOUBLE) AS recall_at_10,
       |  1.0 / CAST((SELECT MIN(rank) FROM rr) AS DOUBLE) AS mrr""".stripMargin
  }

  /** Chunking contract: windows of [[ChunkSize]] tokens every
    * [[ChunkStride]] tokens; the final window may be shorter but the
    * tail is always covered (start sequence runs to n − size + stride).
    */
  val ChunkSize = 32
  val ChunkStride = 16

  /** Split a document into overlapping token-window chunks — the
    * context-window preparation step of a training-data pipeline
    * (tokenize → chunk → dedup/score per chunk). Pure column
    * expressions: one narrow projection + one generator, no shuffle
    * until a downstream op asks for one.
    */
  def chunk(docs: DataFrame, width: Int = ChunkSize,
      stride: Int = ChunkStride, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    docs
      .select(col(idCol), split(col(textCol), " ").as("ws"))
      .select(col(idCol), col("ws"),
        posexplode(sequence(lit(1),
          greatest(lit(1), size(col("ws")) - lit(width) + lit(stride)),
          lit(stride))).as(Seq("chunk_id", "start")))
      .withColumn("chunk", slice(col("ws"), col("start"), lit(width)))
      .select(col(idCol), col("chunk_id"),
        concat_ws(" ", col("chunk")).as("chunk_text"),
        size(col("chunk")).as("n_chunk_tokens"))

  /** q92 — chunking over the documents corpus. */
  val q92Chunking: Q = (s, dir) => {
    import s.implicits._
    chunk(T.documents(s, dir)).orderBy($"doc_id", $"chunk_id")
  }

  val q92Sql: String =
    s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       |starts AS (
       |  SELECT doc_id, ws,
       |    UNNEST(generate_series(1,
       |      greatest(1, len(ws) - $ChunkSize + $ChunkStride), $ChunkStride))
       |      AS start
       |  FROM w)
       |SELECT doc_id,
       |  (start - 1) // $ChunkStride AS chunk_id,
       |  array_to_string(ws[start : start + ${ChunkSize - 1}], ' ') AS chunk_text,
       |  len(ws[start : start + ${ChunkSize - 1}]) AS n_chunk_tokens
       |FROM starts
       |ORDER BY doc_id, chunk_id""".stripMargin

  private val EmailRe = "[a-z0-9]+@[a-z0-9]+\\.[a-z]+"
  private val NumRe = "[0-9]+"

  /** Redact PII-shaped spans (emails, digit runs) from a text column,
    * reporting per-row redaction counts — the scrubbing stage a
    * training-data pipeline runs before publishing a corpus. Pure
    * narrow regexp projections (codegen'd, no UDF).
    */
  def scrubPii(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs
      .withColumn("n_emails", regexp_count(col(textCol), lit(EmailRe)))
      .withColumn("scrubbed",
        regexp_replace(col(textCol), EmailRe, "<EMAIL>"))
      .withColumn("n_numbers", regexp_count(col("scrubbed"), lit(NumRe)))
      .withColumn("scrubbed",
        regexp_replace(col("scrubbed"), NumRe, "<NUM>"))

  /** q93 — PII scrub over documents salted with synthetic contact lines
    * (the corpus itself is clean, so the fixture plants exactly one
    * email and one number per doc, plus whatever digit runs the text
    * already has — the oracle applies the identical construction).
    */
  val q93PiiScrub: Q = (s, dir) => {
    import s.implicits._
    val salted = T.documents(s, dir)
      .withColumn("text", concat($"text",
        lit(" contact user"), $"doc_id", lit("@example.com id "), $"n_chars"))
    scrubPii(salted)
      .select($"doc_id", $"n_emails", $"n_numbers",
        substring($"scrubbed", -40, 40).as("tail40"))
      .orderBy($"doc_id")
  }

  val q93Sql: String =
    s"""WITH salted AS (
       |  SELECT doc_id,
       |    text || ' contact user' || doc_id || '@example.com id ' || n_chars
       |      AS text
       |  FROM documents),
       |scrub1 AS (
       |  SELECT doc_id,
       |    len(regexp_extract_all(text, '$EmailRe')) AS n_emails,
       |    regexp_replace(text, '$EmailRe', '<EMAIL>', 'g') AS s1
       |  FROM salted)
       |SELECT doc_id, n_emails,
       |  len(regexp_extract_all(s1, '$NumRe')) AS n_numbers,
       |  CASE WHEN len(s2) <= 40 THEN s2 ELSE substring(s2, len(s2) - 39, 40) END
       |    AS tail40
       |FROM (SELECT *, regexp_replace(s1, '$NumRe', '<NUM>', 'g') AS s2
       |      FROM scrub1)
       |ORDER BY doc_id""".stripMargin

  /** Deterministic train/valid/test assignment by content-independent
    * id hash — the split every training-data pipeline needs to be (a)
    * stable across runs and engines, (b) uniform, (c) derivable per-row
    * with no shuffle. The bucket is the first 16 bits of md5(id) mod
    * 100 — md5 is engine-independent (unlike xxhash64), which is what
    * makes the assignment itself oracle-checkable, not just its sizes.
    */
  def trainSplit(docs: DataFrame, idCol: String = "doc_id",
      trainPct: Int = 80, validPct: Int = 10): DataFrame = {
    val bucket = (conv(substring(md5(col(idCol).cast("string")), 1, 4),
      16, 10).cast("long") % 100).as("bucket")
    docs.withColumn("bucket", bucket)
      .withColumn("split",
        when(col("bucket") < trainPct, "train")
          .when(col("bucket") < trainPct + validPct, "valid")
          .otherwise("test"))
  }

  /** q255 — output shard count. */
  val NumShards = 16

  /** q255 — balanced SHARD-AND-MANIFEST, the dataset-prep OUTPUT
    * stage: every document lands in one of [[NumShards]] shards via a
    * salted md5 (uniform, engine-independent, decorrelated from the
    * q95 split and q100 sampling salts), takes a deterministic
    * pseudo-random WITHIN-shard position (md5 order key — the global
    * shuffle training loaders require, reproducible run-to-run), and
    * each shard emits a manifest row: doc count, token count, id
    * range, and a position-sensitive checksum Σ rank·doc_id (the q184
    * convention — one out-of-place document breaks the hash, so the
    * ORDER is under the gate, not just membership).
    *
    * Scale shape: assignment + order key are narrow per-row
    * projections (no shuffle); the production write is
    * `repartition(shard)` + `sortWithinPartitions(order_key)` — one
    * exchange, no global sort, no window. The keyed window here is the
    * GATE's device for making each rank explicit and comparable; with
    * shards ≪ cores it caps parallelism at |shards|, which is exactly
    * why the write path doesn't use it.
    */
  val q255ShardManifest: Q = (s, dir) => {
    import s.implicits._
    val assigned = T.documents(s, dir)
      .select($"doc_id",
        size(split($"text", " ")).cast("long").as("n_toks"),
        (conv(substring(md5(concat(lit("sh:"), $"doc_id".cast("string"))),
          1, 4), 16, 10).cast("long") % NumShards).as("shard"),
        md5(concat(lit("ord:"), $"doc_id".cast("string"))).as("ord_key"))
    val w = Window.partitionBy($"shard").orderBy($"ord_key".asc, $"doc_id".asc)
    assigned.withColumn("rn", row_number().over(w))
      .groupBy($"shard")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_toks").as("n_tokens"),
        min($"doc_id").as("min_doc"), max($"doc_id").as("max_doc"),
        sum($"rn" * $"doc_id").as("ord_checksum"))
      .orderBy($"shard")
  }

  val q255Sql: String =
    s"""WITH a AS (
       |  SELECT doc_id,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks,
       |    CAST('0x' || substring(md5('sh:' || CAST(doc_id AS VARCHAR)), 1, 4)
       |      AS INTEGER) % $NumShards AS shard,
       |    md5('ord:' || CAST(doc_id AS VARCHAR)) AS ord_key
       |  FROM documents),
       |r AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY shard
       |    ORDER BY ord_key ASC, doc_id ASC) AS rn
       |  FROM a)
       |SELECT shard, COUNT(*) AS n_docs,
       |  CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
       |  MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc,
       |  CAST(SUM(rn * doc_id) AS BIGINT) AS ord_checksum
       |FROM r GROUP BY shard ORDER BY shard""".stripMargin

  /** q95 — split sizes + id range per split over documents. */
  val q95TrainSplit: Q = (s, dir) => {
    import s.implicits._
    trainSplit(T.documents(s, dir))
      .groupBy($"split")
      .agg(count(lit(1)).as("n_docs"),
        min($"doc_id").as("min_doc"), max($"doc_id").as("max_doc"))
      .orderBy($"split")
  }

  val q95Sql: String =
    """WITH b AS (
      |  SELECT doc_id,
      |    CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS INTEGER)
      |      % 100 AS bucket
      |  FROM documents)
      |SELECT CASE WHEN bucket < 80 THEN 'train'
      |            WHEN bucket < 90 THEN 'valid' ELSE 'test' END AS split,
      |  COUNT(*) AS n_docs, MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
      |FROM b
      |GROUP BY 1
      |ORDER BY split""".stripMargin

  /** Deterministic weighted / stratified sampling — corpus curation's
    * third leg next to [[trainSplit]] and dedup: keep each row with a
    * per-stratum probability (e.g. downsample the dominant language,
    * keep the long tail whole) while staying (a) exactly reproducible
    * across runs and engines, (b) shuffle-free (the keep decision is a
    * narrow per-row projection), (c) composable with [[trainSplit]]
    * (a distinct hash salt decorrelates the two decisions).
    *
    * A row survives iff the first 16 bits of `md5(salt ‖ id)` fall
    * under `rate · 65536` for its stratum — md5 is engine-independent,
    * so the ASSIGNMENT itself is oracle-checkable, not just the sizes
    * (same portability argument as q95's split buckets).
    */
  val SampleSalt = "sample|"

  def stratifiedSample(df: DataFrame, stratumCol: String,
      rates: Map[String, Double], defaultRate: Double = 0.0,
      idCol: String = "doc_id"): DataFrame = {
    val bucket = conv(substring(
      md5(concat(lit(SampleSalt), col(idCol).cast("string"))), 1, 4),
      16, 10).cast("long")
    val rate = coalesce(
      element_at(typedlit(rates), col(stratumCol)), lit(defaultRate))
    df.filter(bucket < rate * 65536.0)
  }

  /** q100 rates: rebalance the corpus toward uniformity across
    * languages — halve-to-quarter the dominant `en`, keep most of the
    * tail. Unlisted strata fall back to the default (kept whole) so a
    * new language appearing upstream is never silently dropped.
    */
  val SampleRates: Map[String, Double] =
    Map("en" -> 0.25, "zh" -> 0.5, "de" -> 0.75, "es" -> 0.75, "fr" -> 0.75)

  /** q100 — per-stratum sizes + an id checksum of the sampled set. The
    * count row-checks the rates; min/max/sum over the surviving doc_ids
    * pin the exact membership (a different kept-set with the same size
    * changes the sum), so the gate checks the assignment, not only the
    * per-stratum counts.
    */
  val q100StratifiedSample: Q = (s, dir) => {
    import s.implicits._
    stratifiedSample(T.documents(s, dir), "lang", SampleRates)
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_sampled"),
        min($"doc_id").as("min_doc"), max($"doc_id").as("max_doc"),
        sum($"doc_id").as("sum_doc"))
      .orderBy($"lang")
  }

  val q100Sql: String = {
    val cases = SampleRates.toSeq.sorted
      .map { case (k, v) => s"WHEN lang = '$k' THEN $v" }
      .mkString(" ")
    s"""SELECT lang, COUNT(*) AS n_sampled,
       |  MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc,
       |  CAST(SUM(doc_id) AS BIGINT) AS sum_doc
       |FROM documents
       |WHERE CAST('0x' || substring(
       |        md5('$SampleSalt' || CAST(doc_id AS VARCHAR)), 1, 4) AS INTEGER)
       |      < (CASE $cases ELSE 0.0 END) * 65536.0
       |GROUP BY lang
       |ORDER BY lang""".stripMargin
  }

  /** Per-group exact-k sampling — the fixed-size counterpart of
    * [[stratifiedSample]]'s fixed-rate: keep exactly `k` rows per group
    * (all, if the group is smaller), chosen as the k smallest
    * `md5(salt ‖ id)` — a deterministic reservoir. Same engine-portable
    * hash order as q95/q100 so the SELECTION is oracle-checked, and a
    * distinct salt decorrelates it from both.
    *
    * Scale shape: one hash-partition on the group key + a per-group
    * top-k window (rank, not sort-all — Spark pushes a per-partition
    * top-k under the window when k is a literal). No collect, no global
    * sort.
    */
  val GroupSampleSalt = "ksample|"
  val GroupSampleK = 20

  def groupSampleK(df: DataFrame, groupCol: String, k: Int,
      idCol: String = "doc_id"): DataFrame = {
    val hash = conv(substring(
      md5(concat(lit(GroupSampleSalt), col(idCol).cast("string"))), 1, 4),
      16, 10).cast("long")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol)).orderBy(hash.asc, col(idCol).asc)
    df.withColumn("_rk", row_number().over(w))
      .filter(col("_rk") <= k)
      .drop("_rk")
  }

  /** q116 — the sampled membership itself (doc_id, lang), row-for-row:
    * any engine drift in the hash order changes the kept set and breaks
    * the hash match.
    */
  val q116GroupSample: Q = (s, dir) => {
    import s.implicits._
    groupSampleK(T.documents(s, dir), "lang", GroupSampleK)
      .select($"lang", $"doc_id")
      .orderBy($"lang", $"doc_id")
  }

  val q116Sql: String =
    s"""WITH ranked AS (
       |  SELECT lang, doc_id,
       |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY
       |      CAST('0x' || substring(
       |        md5('$GroupSampleSalt' || CAST(doc_id AS VARCHAR)), 1, 4)
       |        AS INTEGER) ASC, doc_id ASC) AS rk
       |  FROM documents)
       |SELECT lang, doc_id FROM ranked WHERE rk <= $GroupSampleK
       |ORDER BY lang, doc_id""".stripMargin

  /** Text canonicalization — the normalization pass exact dedup (q40)
    * and fingerprinting assume upstream: lowercase, strip everything
    * outside [a-z0-9 ], collapse whitespace runs, trim. Two docs that
    * differ only in case/punctuation/spacing normalize to the same
    * string and collapse in the hash-dedup step. Narrow codegen
    * `regexp_replace` projections (the q93 PII discipline — no UDF);
    * patterns stay in the regex subset Java and RE2/DuckDB agree on.
    */
  def normalizeText(c: Column): Column =
    trim(regexp_replace(
      regexp_replace(lower(c), "[^a-z0-9 ]", ""), " +", " "))

  /** q124 — the normalized corpus itself (doc_id, norm_text) plus each
    * doc's normalized sha for the dedup step — row-for-row, so any
    * divergence in the normalization chain breaks the hash match.
    */
  val q124TextNormalize: Q = (s, dir) => {
    import s.implicits._
    T.documents(s, dir)
      .select($"doc_id", normalizeText($"text").as("norm_text"))
      .withColumn("norm_sha", sha2($"norm_text", 256))
      .orderBy($"doc_id")
  }

  val q124Sql: String =
    """SELECT doc_id,
      |  trim(regexp_replace(regexp_replace(lower(text),
      |    '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS norm_text,
      |  sha256(trim(regexp_replace(regexp_replace(lower(text),
      |    '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS norm_sha
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  /** q256 — HTML → clean text extraction, THE web-corpus ingest step
    * (CommonCrawl-style pipelines live or die on it): drop
    * script/style blocks wholesale (their CONTENT is not text), strip
    * remaining tags, decode the core entities (&amp; LAST — decoding
    * it first would corrupt double-escaped entities like &amp;lt;),
    * collapse whitespace. The fixture page is built in-query from SQL
    * literals around each document's text (the q235 planted-fixture
    * convention — both engines construct byte-identical input), so the
    * gate covers construction AND extraction: the cleaned text must
    * recover the document body plus the decoded literals, byte-for-
    * byte across 500 rows.
    *
    * Scale shape: map-only regex chain (one codegen stage, no
    * shuffle before the order-by). Regex subset chosen inside the
    * Java-regex ∩ RE2 common dialect: (?s), lazy quantifiers, [^>]
    * classes — no backreferences, no lookaround (RE2 has neither).
    */
  val q256HtmlExtract: Q = (s, dir) => {
    import s.implicits._
    val html = concat(
      lit("<html><head><title>Doc "), $"doc_id".cast("string"),
      lit("</title><style>p { color: red; }</style></head><body><h1>Doc "),
      $"doc_id".cast("string"), lit("</h1><p>"), $"text",
      lit("</p><script>var x = 1; console.log(\"</p>\");</script>" +
        "<p>Tom &amp; Jerry &lt;3 &quot;quoted&gt;</p></body></html>"))
    val noBlocks = regexp_replace(regexp_replace(html,
      "(?s)<script.*?</script>", " "), "(?s)<style.*?</style>", " ")
    val noTags = regexp_replace(noBlocks, "<[^>]+>", " ")
    val decoded = regexp_replace(regexp_replace(regexp_replace(
      regexp_replace(noTags, "&lt;", "<"), "&gt;", ">"),
      "&quot;", "\""), "&amp;", "&")
    val clean = trim(regexp_replace(decoded, "\\s+", " "))
    T.documents(s, dir)
      .select($"doc_id", clean.as("clean_text"),
        length(clean).as("n_chars"))
      .orderBy($"doc_id")
  }

  val q256Sql: String = {
    val html = """'<html><head><title>Doc ' || CAST(doc_id AS VARCHAR) ||
      '</title><style>p { color: red; }</style></head><body><h1>Doc ' ||
      CAST(doc_id AS VARCHAR) || '</h1><p>' || text ||
      '</p><script>var x = 1; console.log("</p>");</script>' ||
      '<p>Tom &amp; Jerry &lt;3 &quot;quoted&gt;</p></body></html>'"""
    s"""SELECT doc_id,
       |  trim(regexp_replace(
       |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(
       |      regexp_replace(regexp_replace(regexp_replace($html,
       |        '(?s)<script.*?</script>', ' ', 'g'),
       |        '(?s)<style.*?</style>', ' ', 'g'),
       |        '<[^>]+>', ' ', 'g'),
       |      '&lt;', '<', 'g'), '&gt;', '>', 'g'),
       |      '&quot;', '"', 'g'), '&amp;', '&', 'g'),
       |    '\\s+', ' ', 'g')) AS clean_text,
       |  CAST(len(trim(regexp_replace(
       |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(
       |      regexp_replace(regexp_replace(regexp_replace($html,
       |        '(?s)<script.*?</script>', ' ', 'g'),
       |        '(?s)<style.*?</style>', ' ', 'g'),
       |        '<[^>]+>', ' ', 'g'),
       |      '&lt;', '<', 'g'), '&gt;', '>', 'g'),
       |      '&quot;', '"', 'g'), '&amp;', '&', 'g'),
       |    '\\s+', ' ', 'g'))) AS INTEGER) AS n_chars
       |FROM documents
       |ORDER BY doc_id""".stripMargin
  }

  /** q235 — Unicode NFC codepoint normalization, q124's codepoint-level
    * sibling: the same visible text can arrive precomposed (U+00E9 'é')
    * or decomposed (U+0065 U+0301), and byte-keyed dedup (q40/q131)
    * treats them as different documents. Runs the native
    * [[graft.functions.NfcNormalize]] codegen expression (Spark has no
    * builtin; DuckDB's `nfc_normalize` is the independent oracle — the
    * output STRINGS hash-compare byte-for-byte).
    *
    * Decomposed sequences are planted on the `doc_id % 11` slice (the
    * q42/q213 planted-fixture convention, built identically in both
    * engines from SQL literals), so the gate proves composition happens
    * on planted rows AND ASCII text passes through untouched. Map-only,
    * zero shuffles before the order-by; the `isNormalized` fast path
    * makes the already-normalized majority allocation-free.
    */
  val q235NfcNormalize: Q = (s, dir) => {
    import s.implicits._
    val raw = when($"doc_id" % 11 === 0,
      concat($"text", lit(" café naïve"))).otherwise($"text")
    T.documents(s, dir)
      .select($"doc_id", raw.as("raw"))
      .select($"doc_id",
        graft.functions.TextFunctions.nfcNormalize($"raw").as("nfc_text"),
        (graft.functions.TextFunctions.nfcNormalize($"raw") =!= $"raw")
          .as("changed"))
      .orderBy($"doc_id")
  }

  val q235Sql: String =
    """WITH raw AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 11 = 0 THEN text || ' café naïve'
      |         ELSE text END AS raw
      |  FROM documents)
      |SELECT doc_id, nfc_normalize(raw) AS nfc_text,
      |  nfc_normalize(raw) != raw AS changed
      |FROM raw
      |ORDER BY doc_id""".stripMargin

  /** q240 span-corruption parameters: a position starts a mask span
    * when its 16-bit doc/position hash falls under ~5% of 2^16; spans
    * cover 3 tokens, so ~14% of tokens mask (T5's 15% neighborhood). */
  val SpanCorruptT = 3277
  val SpanLen = 3

  /** q240 — deterministic SPAN CORRUPTION (the T5/BERT denoising data
    * prep): contiguous token spans are masked, consecutive masked runs
    * collapse to one sentinel in the corrupted text, and the masked
    * tokens (with run-start markers) become the target sequence. Span
    * starts come from the md5(doc_id|position) bucket — the q95/q100
    * salted-hash convention — so the corruption is (a) stable across
    * runs/engines, (b) uniform, (c) derivable per-row with NO shuffle
    * and no RNG state: the property that makes augmented corpora
    * reproducible AND the row oracle-checkable at all (an rng-based
    * masking can never hash-match).
    *
    * Scale shape: entirely narrow — three HOF passes over each row's
    * token array (start flags, mask coverage, emission) inside one
    * codegen projection; output ∝ corpus. No shuffle before the
    * order-by.
    */
  val q240SpanCorrupt: Q = (s, dir) => {
    import s.implicits._
    val h = s"CAST(CONV(SUBSTRING(md5(CONCAT(doc_id, '|', j)), 1, 4), 16, 10) AS INT)"
    T.documents(s, dir)
      .select($"doc_id", split($"text", " ").as("ws"))
      // st[j] — does a mask span START at 1-based position j?
      .withColumn("st", expr(
        s"transform(sequence(1, size(ws)), j -> $h < $SpanCorruptT)"))
      // masked[i] — any span start within the trailing SpanLen window
      .withColumn("masked", expr(
        s"""transform(sequence(1, size(ws)), i ->
           |  element_at(st, i)
           |  OR (i > 1 AND element_at(st, i - 1))
           |  OR (i > 2 AND element_at(st, i - 2)))""".stripMargin))
      .select($"doc_id",
        expr("""array_join(filter(transform(sequence(1, size(ws)), i ->
            |  CASE WHEN NOT element_at(masked, i) THEN element_at(ws, i)
            |       WHEN i = 1 OR NOT element_at(masked, i - 1) THEN '<X>'
            |       ELSE '' END), x -> x != ''), ' ')""".stripMargin)
          .as("corrupted"),
        expr("""array_join(filter(transform(sequence(1, size(ws)), i ->
            |  CASE WHEN NOT element_at(masked, i) THEN ''
            |       WHEN i = 1 OR NOT element_at(masked, i - 1)
            |         THEN concat('<X> ', element_at(ws, i))
            |       ELSE element_at(ws, i) END), x -> x != ''), ' ')""".stripMargin)
          .as("targets"),
        expr("size(filter(masked, x -> x))").as("n_masked"),
        expr("size(ws)").as("n_tokens"))
      .orderBy($"doc_id")
  }

  val q240Sql: String = {
    val h = s"CAST('0x' || substring(md5(doc_id || '|' || j), 1, 4) AS INTEGER)"
    s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       |s1 AS (
       |  SELECT doc_id, ws,
       |    list_transform(range(1, len(ws) + 1),
       |      j -> $h < $SpanCorruptT) AS st
       |  FROM d),
       |s2 AS (
       |  SELECT doc_id, ws,
       |    list_transform(range(1, len(ws) + 1), i ->
       |      st[i] OR (i > 1 AND st[i - 1]) OR (i > 2 AND st[i - 2])) AS masked
       |  FROM s1)
       |SELECT doc_id,
       |  COALESCE(array_to_string(list_filter(list_transform(range(1, len(ws) + 1), i ->
       |    CASE WHEN NOT masked[i] THEN ws[i]
       |         WHEN i = 1 OR NOT masked[i - 1] THEN '<X>'
       |         ELSE '' END), x -> x != ''), ' '), '') AS corrupted,
       |  COALESCE(array_to_string(list_filter(list_transform(range(1, len(ws) + 1), i ->
       |    CASE WHEN NOT masked[i] THEN ''
       |         WHEN i = 1 OR NOT masked[i - 1] THEN '<X> ' || ws[i]
       |         ELSE ws[i] END), x -> x != ''), ' '), '') AS targets,
       |  len(list_filter(masked, x -> x)) AS n_masked,
       |  len(ws) AS n_tokens
       |FROM s2
       |ORDER BY doc_id""".stripMargin
  }

  /** Concat-and-cut sequence packing — how training runs batch text:
    * documents concatenate in a canonical order (doc_id) into one
    * global token stream, and fixed-size packs are cut every `budget`
    * tokens, documents spanning cut points as needed. Per document this
    * emits its global token offset and the first/last pack it lands in.
    *
    * Scale shape: the global running sum is NOT a bare
    * `Window.orderBy` (no partition key ⇒ Spark collapses the whole
    * table into ONE task — the classic cumsum scale trap). Instead the
    * two-pass distributed prefix sum of
    * [[graft.relational.QuantileNormalize.fullCumSum]]: range-partition
    * by doc_id, a per-partition window (parallel), then per-partition
    * totals (one tiny row per partition) prefix-summed and broadcast
    * back.
    */
  val PackBudget = 1000

  def packDocs(docs: DataFrame, budget: Int = PackBudget): DataFrame =
    graft.relational.QuantileNormalize.fullCumSum(
        docs.select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_tokens")),
        Seq(col("doc_id")), "n_tokens" -> "end_tok")
      .withColumn("start_tok", col("end_tok") - col("n_tokens"))
      .withColumn("pack_first", expr(s"start_tok div $budget"))
      .withColumn("pack_last", expr(s"(end_tok - 1) div $budget"))
      .select(col("doc_id"), col("n_tokens"), col("start_tok"),
        col("pack_first"), col("pack_last"))

  /** q103 — packing assignment for every document; the oracle computes
    * the same offsets with a plain single-node running sum, which is
    * exactly what the distributed two-pass prefix must reproduce.
    */
  val q103SequencePacking: Q = (s, dir) => {
    import s.implicits._
    packDocs(T.documents(s, dir)).orderBy($"doc_id")
  }

  val q103Sql: String =
    s"""WITH t AS (
       |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
       |  FROM documents),
       |c AS (
       |  SELECT doc_id, n_tokens,
       |    CAST(SUM(n_tokens) OVER (ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cend
       |  FROM t)
       |SELECT doc_id, n_tokens, cend - n_tokens AS start_tok,
       |  (cend - n_tokens) // $PackBudget AS pack_first,
       |  (cend - 1) // $PackBudget AS pack_last
       |FROM c
       |ORDER BY doc_id""".stripMargin

  /** q97 — the end-to-end corpus-prep pipeline, composed from the ops
    * above exactly as a training-data run chains them:
    *
    *   scrub PII → keep the train split → exact-dedup (keep the
    *   smallest doc_id per content hash) → chunk into context windows
    *
    * emitted as one row per surviving chunk. The oracle replays the
    * identical chain in SQL, so the gate checks the COMPOSITION — op
    * boundaries, ordering, and dedup-before-chunk semantics — not just
    * each stage in isolation. Every stage is narrow except the dedup
    * groupBy (one shuffle on a 32-byte hash).
    */
  val q97CorpusPrep: Q = (s, dir) => {
    import s.implicits._
    val scrubbed = scrubPii(T.documents(s, dir))
      .select($"doc_id", $"scrubbed".as("text"))
    val train = trainSplit(scrubbed).filter($"split" === "train")
      .select($"doc_id", $"text")
    val deduped = train
      .withColumn("content_hash", sha2($"text", 256))
      .withColumn("keep", min($"doc_id").over(
        org.apache.spark.sql.expressions.Window.partitionBy($"content_hash")))
      .filter($"doc_id" === $"keep")
      .select($"doc_id", $"text")
    chunk(deduped)
      .select($"doc_id", $"chunk_id", $"n_chunk_tokens")
      .orderBy($"doc_id", $"chunk_id")
  }

  val q97Sql: String =
    s"""WITH scrubbed AS (
       |  SELECT doc_id,
       |    regexp_replace(regexp_replace(text, '$EmailRe', '<EMAIL>', 'g'),
       |                   '$NumRe', '<NUM>', 'g') AS text
       |  FROM documents),
       |train AS (
       |  SELECT doc_id, text FROM scrubbed
       |  WHERE CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS INTEGER)
       |        % 100 < 80),
       |deduped AS (
       |  SELECT doc_id, text FROM (
       |    SELECT doc_id, text,
       |      MIN(doc_id) OVER (PARTITION BY sha256(text)) AS keep
       |    FROM train) WHERE doc_id = keep),
       |w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM deduped),
       |starts AS (
       |  SELECT doc_id, ws,
       |    UNNEST(generate_series(1,
       |      greatest(1, len(ws) - $ChunkSize + $ChunkStride), $ChunkStride))
       |      AS start
       |  FROM w)
       |SELECT doc_id,
       |  (start - 1) // $ChunkStride AS chunk_id,
       |  len(ws[start : start + ${ChunkSize - 1}]) AS n_chunk_tokens
       |FROM starts
       |ORDER BY doc_id, chunk_id""".stripMargin

  /** q158 salt — decorrelated from q95 (split), q100 (sample), q116. */
  val TempMixSalt = "tmix|"

  /** q158 — TEMPERATURE-flattened source mixing (the multilingual
    * corpus-balancing recipe): per-source keep-rate derived FROM the
    * data as `sqrt(min_n / n_src)` — sources shrink by the square root
    * of their size ratio, so the mixed corpus sits between raw
    * proportions (α=1) and uniform (α=0). The α=½ exponent is chosen
    * deliberately: `/` and `sqrt` are exactly-rounded IEEE ops, so both
    * engines derive bit-identical rates from identical counts — a
    * float `pow(x, 0.7)` would NOT be cross-engine reproducible. The
    * keep decision is q100's md5-threshold discipline under a distinct
    * salt; unlike q100's static rate map, the rates here are a
    * two-pass data product (stats pass → broadcast → filter pass).
    *
    * Scale shape: pass 1 is one partial-aggregated groupBy to |sources|
    * rows; the rate frame is corpus-size constant and broadcasts onto
    * the narrow filter projection — no other shuffle.
    */
  val q158TemperatureMix: Q = (s, dir) => {
    import s.implicits._
    val docs = T.documents(s, dir)
    val counts = docs.groupBy($"source").agg(count(lit(1)).as("n_src"))
    val minN = counts.agg(min($"n_src").as("min_n"))
    val rates = counts.crossJoin(minN)
      .withColumn("keep_frac",
        sqrt($"min_n".cast("double") / $"n_src".cast("double")))
      .withColumn("thresh", floor($"keep_frac" * 65536.0).cast("long"))
    val bucket = conv(substring(
      md5(concat(lit(TempMixSalt), $"doc_id".cast("string"))), 1, 4),
      16, 10).cast("long")
    docs.join(broadcast(rates), "source")
      .filter(bucket < $"thresh")
      .groupBy($"source", $"n_src", $"thresh")
      .agg(count(lit(1)).as("n_kept"), sum($"doc_id").as("sum_doc"))
      .orderBy($"source")
  }

  val q158Sql: String =
    s"""WITH counts AS (
       |  SELECT source, COUNT(*) AS n_src FROM documents GROUP BY source),
       |rates AS (
       |  SELECT source, n_src,
       |    CAST(FLOOR(sqrt(CAST((SELECT MIN(n_src) FROM counts) AS DOUBLE)
       |      / CAST(n_src AS DOUBLE)) * 65536.0) AS BIGINT) AS thresh
       |  FROM counts)
       |SELECT d.source, r.n_src, r.thresh, COUNT(*) AS n_kept,
       |  CAST(SUM(d.doc_id) AS BIGINT) AS sum_doc
       |FROM documents d JOIN rates r ON d.source = r.source
       |WHERE CAST('0x' || substring(
       |        md5('$TempMixSalt' || CAST(d.doc_id AS VARCHAR)), 1, 4)
       |      AS INTEGER) < r.thresh
       |GROUP BY d.source, r.n_src, r.thresh
       |ORDER BY d.source""".stripMargin

  /** q200 weight classes — POWERS OF TWO only, because u^(1/w) is then
    * a chain of 1–3 `sqrt` calls, each correctly rounded by IEEE-754 in
    * both engines on identical input: the A-ES priority key is
    * bit-identical cross-engine with no pow() (whose libm results are
    * NOT guaranteed identical). All four chain depths are exercised.
    */
  val WeightedSampleW: Map[String, Int] =
    Map("en" -> 1, "zh" -> 2, "de" -> 4, "es" -> 4, "fr" -> 8)
  val WeightedSampleK = 100
  val WeightedSampleSalt = "wsample|"

  /** q200 — weighted reservoir sampling (Efraimidis–Spirakis A-ES):
    * each doc draws priority u^(1/w) from a deterministic md5-uniform
    * u ∈ (0,1) (13 hex chars → 52-bit integer k, u = (k+0.5)/2^52 —
    * every step exact in doubles), and the sample is the global top-k
    * by priority — a weighted sample WITHOUT replacement where
    * heavier docs win proportionally more often, the standard
    * one-pass corpus subsampling primitive.
    *
    * Scale shape: priorities are a map-only projection; global top-k
    * is TakeOrderedAndProject (per-partition heaps + driver merge of
    * k-sized lists, no global sort); nothing shuffles the corpus. The
    * oracle replays the identical arithmetic in DuckDB and must agree
    * on the exact member set AND every priority double.
    */
  val q200WeightedSample: Q = (s, dir) => {
    import s.implicits._
    val k = conv(substring(md5(concat(lit(WeightedSampleSalt),
      $"doc_id".cast("string"))), 1, 13), 16, 10).cast("long")
    val u = (k.cast("double") + 0.5) / 4503599627370496.0
    val w = coalesce(element_at(typedlit(WeightedSampleW), $"lang"), lit(1))
    val priority = when(w === 1, u).when(w === 2, sqrt(u))
      .when(w === 4, sqrt(sqrt(u))).otherwise(sqrt(sqrt(sqrt(u))))
    T.documents(s, dir)
      .select($"doc_id", $"lang", w.as("w"), priority.as("priority"))
      .orderBy($"priority".desc, $"doc_id")
      .limit(WeightedSampleK)
  }

  val q200Sql: String = {
    val wCase = WeightedSampleW.toSeq.sorted
      .map { case (l, wv) => s"WHEN lang = '$l' THEN $wv" }.mkString(" ")
    s"""WITH p AS (
       |  SELECT doc_id, lang,
       |    CASE $wCase ELSE 1 END AS w,
       |    (CAST(CAST('0x' || substring(
       |       md5('$WeightedSampleSalt' || CAST(doc_id AS VARCHAR)), 1, 13)
       |       AS BIGINT) AS DOUBLE) + 0.5) / 4503599627370496.0 AS u
       |  FROM documents)
       |SELECT doc_id, lang, w,
       |  CASE WHEN w = 1 THEN u WHEN w = 2 THEN sqrt(u)
       |       WHEN w = 4 THEN sqrt(sqrt(u))
       |       ELSE sqrt(sqrt(sqrt(u))) END AS priority
       |FROM p
       |ORDER BY priority DESC, doc_id
       |LIMIT $WeightedSampleK""".stripMargin
  }

  /** q364 BM25 constants (Robertson et al., TREC-3): k₁ saturates
    * term frequency, b normalizes by document length.
    */
  val Bm25K1 = 1.2
  val Bm25B = 0.75
  val Bm25Query: Seq[String] = Seq("join", "scan", "vector")
  val Bm25Take = 20

  /** q364 — BM25 ranked retrieval (Robertson/Spärck Jones Okapi
    * weighting — THE lexical relevance function; q76's TF-IDF weighs
    * the corpus matrix, this SCORES DOCS AGAINST A QUERY, which is
    * what a training-data pipeline runs to mine topic-relevant docs
    * from a 100 TB crawl): per query term, idf = ln(1 + (N−df+.5)/
    * (df+.5)) (the +1 form, always positive), tf saturation
    * tf·(k₁+1)/(tf + k₁·(1−b+b·dl/avgdl)). Per-term scores are
    * micro-quantized BIGINTs BEFORE the per-doc sum (the one float
    * summation becomes exact — terms would otherwise sum in
    * engine-dependent order), ranking ties break by doc_id.
    *
    * Scale shape: tf for QUERY TERMS ONLY (the filter lands before
    * the groupBy — the posting-list discipline of q135); df and
    * avgdl are term- and 1-row-bounded broadcasts; the final top-k is
    * TakeOrdered, never a global sort.
    */
  /** The full scored frame (doc_id, score_micro, n_terms_hit) —
    * q364 takes its top-k; q365's hybrid fusion ranks it whole.
    */
  def bm25ScoresMicro(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // feeds avgdl, tf, and dl
    val docs = PlanBridge.checkpointResetStats(T.documents(s, dir)
      .select($"doc_id", split($"text", " ").as("ws"))
      .select($"doc_id", $"ws", size($"ws").cast("long").as("dl")))
    val stats = docs.agg(count(lit(1)).as("n_docs"),
      sum($"dl").as("sum_dl"))
    val tf = docs
      .select($"doc_id", $"dl", explode($"ws").as("tok"))
      .filter($"tok".isin(Bm25Query: _*))
      .groupBy($"doc_id", $"dl", $"tok")
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy($"tok").agg(count(lit(1)).as("df"))
    tf.join(broadcast(df), "tok")
      .crossJoin(broadcast(stats))
      .withColumn("term_micro", expr(
        s"""CAST(FLOOR(1000000.0 *
           |  LN(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
           |           / (CAST(df AS DOUBLE) + 0.5))
           |  * (CAST(tf AS DOUBLE) * (1.0 + $Bm25K1))
           |    / (CAST(tf AS DOUBLE) + $Bm25K1 * (1.0 - $Bm25B
           |       + $Bm25B * (CAST(dl AS DOUBLE) * CAST(n_docs AS DOUBLE)
           |                   / CAST(sum_dl AS DOUBLE))))
           |) AS BIGINT)""".stripMargin))
      .groupBy($"doc_id")
      .agg(sum($"term_micro").as("score_micro"),
        count(lit(1)).as("n_terms_hit"))
  }

  val q364Bm25: Q = (s, dir) => {
    import s.implicits._
    bm25ScoresMicro(s, dir)
      .orderBy($"score_micro".desc, $"doc_id".asc)
      .limit(Bm25Take)
  }

  val q364Sql: String = {
    val qterms = Bm25Query.map(t => s"'$t'").mkString(", ")
    s"""WITH d AS (
       |  SELECT doc_id,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
       |  FROM documents),
       |st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       |              CAST(SUM(dl) AS BIGINT) AS sum_dl FROM d),
       |tf AS (
       |  SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
       |  FROM (SELECT doc_id, UNNEST(string_split(text, ' ')) AS tok
       |        FROM documents)
       |  WHERE tok IN ($qterms)
       |  GROUP BY doc_id, tok),
       |dfr AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df
       |        FROM tf GROUP BY tok),
       |t AS (
       |  SELECT tf.doc_id,
       |    CAST(FLOOR(1000000.0 *
       |      LN(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
       |               / (CAST(df AS DOUBLE) + 0.5))
       |      * (CAST(tf AS DOUBLE) * (1.0 + $Bm25K1))
       |        / (CAST(tf AS DOUBLE) + $Bm25K1 * (1.0 - $Bm25B
       |           + $Bm25B * (CAST(dl AS DOUBLE) * CAST(n_docs AS DOUBLE)
       |                       / CAST(sum_dl AS DOUBLE))))
       |    ) AS BIGINT) AS term_micro
       |  FROM tf
       |  JOIN dfr USING (tok)
       |  JOIN d USING (doc_id)
       |  CROSS JOIN st)
       |SELECT doc_id, CAST(SUM(term_micro) AS BIGINT) AS score_micro,
       |  COUNT(*) AS n_terms_hit
       |FROM t GROUP BY doc_id
       |ORDER BY score_micro DESC, doc_id ASC
       |LIMIT $Bm25Take""".stripMargin
  }

  /** q374 Dirichlet prior μ (Zhai & Lafferty SIGIR'01's standard
    * setting) and page size.
    */
  val QlMu = "2000.0"
  val QlTake = 20

  /** q374 — QUERY-LIKELIHOOD retrieval under Dirichlet smoothing
    * (Ponte & Croft SIGIR'98; Zhai & Lafferty SIGIR'01 — the language-
    * modeling alternative to q364's BM25; a third scoring family makes
    * q375's rank fusion a real multi-system hybrid): score(d) =
    * Σ_{t∈Q} ln((tf_td + μ·cf_t/|C|) / (dl_d + μ)) — absent terms
    * still contribute their smoothed background mass, which is the
    * model's whole point. Candidates are docs hitting ≥1 query term
    * (the posting-union discipline — a doc hitting none scores pure
    * background and is never competitive); per-term scores are
    * micro-quantized BEFORE the per-doc sum (exact order-free BIGINT),
    * ranking ties break by doc_id.
    *
    * Scale shape: tf is posting-filtered before its shuffle (q135);
    * cf and |C| are 3-row / 1-row broadcasts; the zero-tf completion
    * runs on the candidate×3-term frame, never the corpus; top-k is
    * TakeOrdered.
    */
  def qlScoresMicro(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // feeds |C|, tf, and the candidate dl
    val docs = PlanBridge.checkpointResetStats(T.documents(s, dir)
      .select($"doc_id", split($"text", " ").as("ws"))
      .select($"doc_id", $"ws", size($"ws").cast("long").as("dl")))
    val totals = docs.agg(sum($"dl").as("sum_dl"))
    val tf = PlanBridge.checkpointResetStats(docs
      .select($"doc_id", $"dl", explode($"ws").as("tok"))
      .filter($"tok".isin(Bm25Query: _*))
      .groupBy($"doc_id", $"dl", $"tok")
      .agg(count(lit(1)).as("tf"))) // feeds cf, candidates, and the cells
    val terms = tf.groupBy($"tok").agg(sum($"tf").as("cf"))
      .crossJoin(totals)
    val cand = tf.select($"doc_id", $"dl").distinct()
    cand.crossJoin(broadcast(terms))
      .join(tf.select($"doc_id", $"tok", $"tf"), Seq("doc_id", "tok"), "left")
      .na.fill(0L, Seq("tf"))
      .withColumn("term_micro", expr(
        s"""CAST(FLOOR(1000000.0 * LN(
           |  (CAST(tf AS DOUBLE)
           |   + $QlMu * (CAST(cf AS DOUBLE) / CAST(sum_dl AS DOUBLE)))
           |  / (CAST(dl AS DOUBLE) + $QlMu))) AS BIGINT)""".stripMargin))
      .groupBy($"doc_id")
      .agg(sum($"term_micro").as("ql_micro"),
        sum(when($"tf" > 0L, 1L).otherwise(0L)).as("n_terms_hit"))
  }

  val q374QueryLikelihood: Q = (s, dir) => {
    import s.implicits._
    qlScoresMicro(s, dir)
      .orderBy($"ql_micro".desc, $"doc_id".asc)
      .limit(QlTake)
  }

  /** WITH-fragment yielding `qlsc(doc_id, ql_micro, n_terms_hit)` —
    * shared by q374's oracle and q375's three-list fusion oracle.
    */
  def qlSqlCtes: String = {
    val qterms = Bm25Query.map(t => s"'$t'").mkString(", ")
    s"""qd AS (
       |  SELECT doc_id,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
       |  FROM documents),
       |qst AS (SELECT CAST(SUM(dl) AS BIGINT) AS sum_dl FROM qd),
       |qtf AS (
       |  SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
       |  FROM (SELECT doc_id, UNNEST(string_split(text, ' ')) AS tok
       |        FROM documents)
       |  WHERE tok IN ($qterms)
       |  GROUP BY doc_id, tok),
       |qcf AS (SELECT tok, CAST(SUM(tf) AS BIGINT) AS cf
       |        FROM qtf GROUP BY tok),
       |qcells AS (
       |  SELECT c.doc_id, qd.dl, qcf.tok, qcf.cf, qst.sum_dl,
       |    COALESCE(qtf.tf, 0) AS tf
       |  FROM (SELECT DISTINCT doc_id FROM qtf) c
       |  JOIN qd USING (doc_id) CROSS JOIN qcf CROSS JOIN qst
       |  LEFT JOIN qtf ON qtf.doc_id = c.doc_id AND qtf.tok = qcf.tok),
       |qlsc AS (
       |  SELECT doc_id,
       |    CAST(SUM(CAST(FLOOR(1000000.0 * LN(
       |      (CAST(tf AS DOUBLE)
       |       + $QlMu * (CAST(cf AS DOUBLE) / CAST(sum_dl AS DOUBLE)))
       |      / (CAST(dl AS DOUBLE) + $QlMu))) AS BIGINT)) AS BIGINT)
       |      AS ql_micro,
       |    CAST(SUM(CASE WHEN tf > 0 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_terms_hit
       |  FROM qcells GROUP BY doc_id)""".stripMargin
  }

  val q374Sql: String =
    s"""WITH $qlSqlCtes
       |SELECT doc_id, ql_micro, n_terms_hit
       |FROM qlsc
       |ORDER BY ql_micro DESC, doc_id ASC
       |LIMIT $QlTake""".stripMargin

  /** q460 feedback-set size, expansion-term count, and the RM3
    * interpolation weight α in milli (0.6 — Abdul-Jaleel et al.'s
    * standard setting).
    */
  val FbDocs = 10
  val FbTerms = 8
  val Rm3AlphaMilli = 600L

  /** q460 — RM3 PSEUDO-RELEVANCE FEEDBACK (Lavrenko & Croft SIGIR'01
    * relevance models; the RM3 interpolation of Abdul-Jaleel et al.
    * TREC'04 — the classic second-pass retrieval loop: retrieve, read
    * the top docs, expand the query with what they talk about,
    * retrieve again): feedback set = q374's Dirichlet-QL top
    * [[FbDocs]]; relevance model with UNIFORM document weights
    * (pinned simplification, scaladoc'd — the doc-likelihood-weighted
    * variant needs exp at query time, which the engine-equality
    * contract avoids): r_w = Σ_{d∈F} (10⁶·tf_wd) div dl_d — EXACT
    * integers; expansion = top [[FbTerms]] terms by (r desc, term)
    * excluding the original query; RM3 weights in micro —
    * α/|Q| per original term, (1−α)·r_w div Σr per expansion term;
    * final score = Σ_w weight_w·lnterm_micro(w,d) div 1000 over the
    * posting-union candidates of the EXPANDED term set, ties by
    * doc_id. Every step is integer-exact or micro-floored ln (the
    * q374 discipline), so the oracle replays the whole loop value
    * for value.
    *
    * Scale shape: the feedback set is k docs (driver sees nothing —
    * terms flow as a ≤|Q|+m-row broadcast frame); corpus tf is
    * posting-filtered by a JOIN against that frame (no isin literals,
    * no collect); cells are candidates×terms.
    */
  val q460Rm3Feedback: Q = (s, dir) => {
    import s.implicits._
    val docs = PlanBridge.checkpointResetStats(T.documents(s, dir)
      .select($"doc_id", split($"text", " ").as("ws"))
      .select($"doc_id", $"ws", size($"ws").cast("long").as("dl")))
    val totals = docs.agg(sum($"dl").as("sum_dl"))
    // feedback set: q374's ranking, top FbDocs
    val fb = qlScoresMicro(s, dir)
      .orderBy($"ql_micro".desc, $"doc_id".asc)
      .limit(FbDocs)
      .select($"doc_id")
    // relevance model over the feedback docs (uniform doc weights)
    val rw = PlanBridge.checkpointResetStats(docs.join(fb, "doc_id")
      .select($"doc_id", $"dl", explode($"ws").as("tok"))
      .groupBy($"doc_id", $"dl", $"tok")
      .agg(count(lit(1)).as("tf"))
      .select($"tok", expr("(1000000 * tf) div dl").as("r"))
      .groupBy($"tok").agg(sum($"r").as("r"))
      .filter(!$"tok".isin(Bm25Query: _*))
      .orderBy($"r".desc, $"tok".asc)
      .limit(FbTerms))
    // degenerate guard: if the query-term exclusion leaves NO
    // expansion terms, sum(r) is NULL — coalesce to 0 and fall back to
    // the original query alone (RM3 with an empty relevance model is
    // plain QL), instead of an NPE / div-by-zero
    val rSum = rw.agg(coalesce(sum($"r"), lit(0L))).head().getLong(0)
    val nQ = Bm25Query.size
    // integer div, never a rounded double cast (Spark casts truncate,
    // DuckDB casts round — `div`/`//` agree on non-negative ints)
    val expTerms =
      if (rSum == 0L) rw.select($"tok", lit(0L).as("w_micro")).limit(0)
      else rw.select($"tok",
        expr(s"(${(1000L - Rm3AlphaMilli) * 1000L} * r) div $rSum")
          .as("w_micro"))
    val origTerms = Bm25Query.toDF("tok")
      .select($"tok", lit(Rm3AlphaMilli * 1000L / nQ).as("w_micro"))
    val terms = PlanBridge.checkpointResetStats(origTerms.unionByName(expTerms))
    // corpus statistics for the expanded term set (posting-filtered)
    val tf = PlanBridge.checkpointResetStats(docs
      .select($"doc_id", $"dl", explode($"ws").as("tok"))
      .join(broadcast(terms.select($"tok")), "tok")
      .groupBy($"doc_id", $"dl", $"tok")
      .agg(count(lit(1)).as("tf")))
    val cf = tf.groupBy($"tok").agg(sum($"tf").as("cf")).crossJoin(totals)
    val cand = tf.select($"doc_id", $"dl").distinct()
    cand.crossJoin(broadcast(cf.join(terms, "tok")))
      .join(tf.select($"doc_id", $"tok", $"tf"), Seq("doc_id", "tok"), "left")
      .na.fill(0L, Seq("tf"))
      .withColumn("lnterm_micro", expr(
        s"""CAST(FLOOR(1000000.0 * LN(
           |  (CAST(tf AS DOUBLE)
           |   + $QlMu * (CAST(cf AS DOUBLE) / CAST(sum_dl AS DOUBLE)))
           |  / (CAST(dl AS DOUBLE) + $QlMu))) AS BIGINT)""".stripMargin))
      .groupBy($"doc_id")
      // the product is negative (ln of a probability) — FLOOR of an
      // exact double (|w·l| < 2^53), identical in both engines; `div`
      // would truncate toward zero in Spark but floor in some engines
      .agg(sum(expr(
        """CAST(FLOOR(CAST(w_micro * lnterm_micro AS DOUBLE) / 1000.0)
          |AS BIGINT)""".stripMargin)).as("rm3_score"),
        sum(when($"tf" > 0L, 1L).otherwise(0L)).as("n_terms_hit"))
      .orderBy($"rm3_score".desc, $"doc_id".asc)
      .limit(QlTake)
  }

  val q460Sql: String = {
    val qterms = Bm25Query.map(t => s"'$t'").mkString(", ")
    val origRows = Bm25Query
      .map(t => s"('$t', ${Rm3AlphaMilli * 1000L / Bm25Query.size})")
      .mkString(", ")
    s"""WITH $qlSqlCtes,
       |fb AS MATERIALIZED (
       |  SELECT doc_id FROM qlsc
       |  ORDER BY ql_micro DESC, doc_id ASC LIMIT $FbDocs),
       |fbtf AS (
       |  SELECT z.doc_id, qd.dl, z.tok, CAST(COUNT(*) AS BIGINT) AS tf
       |  FROM (SELECT doc_id, UNNEST(string_split(text, ' ')) AS tok
       |        FROM documents WHERE doc_id IN (SELECT doc_id FROM fb)) z
       |  JOIN qd ON z.doc_id = qd.doc_id
       |  GROUP BY z.doc_id, qd.dl, z.tok),
       |rw AS MATERIALIZED (
       |  SELECT tok, CAST(SUM((1000000 * tf) // dl) AS BIGINT) AS r
       |  FROM fbtf WHERE tok NOT IN ($qterms)
       |  GROUP BY tok
       |  ORDER BY r DESC, tok ASC LIMIT $FbTerms),
       |rs AS (SELECT CAST(SUM(r) AS BIGINT) AS rsum FROM rw),
       |terms AS MATERIALIZED (
       |  SELECT tok, CAST(w_micro AS BIGINT) AS w_micro FROM (
       |    SELECT tok, w_micro FROM (VALUES $origRows) t(tok, w_micro)
       |    UNION ALL
       |    SELECT rw.tok,
       |      (${(1000L - Rm3AlphaMilli) * 1000L} * rw.r) // rs.rsum
       |        AS w_micro
       |    FROM rw CROSS JOIN rs) u),
       |ctf AS MATERIALIZED (
       |  SELECT z.doc_id, qd.dl, z.tok, CAST(COUNT(*) AS BIGINT) AS tf
       |  FROM (SELECT doc_id, UNNEST(string_split(text, ' ')) AS tok
       |        FROM documents) z
       |  JOIN qd ON z.doc_id = qd.doc_id
       |  WHERE z.tok IN (SELECT tok FROM terms)
       |  GROUP BY z.doc_id, qd.dl, z.tok),
       |ccf AS (SELECT tok, CAST(SUM(tf) AS BIGINT) AS cf
       |        FROM ctf GROUP BY tok),
       |ccand AS (SELECT DISTINCT doc_id, dl FROM ctf),
       |cells AS (
       |  SELECT c.doc_id, c.dl, t.tok, t.w_micro, ccf.cf, qst.sum_dl,
       |    COALESCE(ctf.tf, 0) AS tf
       |  FROM ccand c CROSS JOIN terms t
       |  JOIN ccf ON ccf.tok = t.tok CROSS JOIN qst
       |  LEFT JOIN ctf ON ctf.doc_id = c.doc_id AND ctf.tok = t.tok)
       |SELECT doc_id,
       |  CAST(SUM(CAST(FLOOR(CAST(w_micro * CAST(FLOOR(1000000.0 * LN(
       |    (CAST(tf AS DOUBLE)
       |     + $QlMu * (CAST(cf AS DOUBLE) / CAST(sum_dl AS DOUBLE)))
       |    / (CAST(dl AS DOUBLE) + $QlMu))) AS BIGINT) AS DOUBLE)
       |    / 1000.0) AS BIGINT))
       |    AS BIGINT) AS rm3_score,
       |  CAST(SUM(CASE WHEN tf > 0 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_terms_hit
       |FROM cells GROUP BY doc_id
       |ORDER BY rm3_score DESC, doc_id ASC
       |LIMIT $QlTake""".stripMargin
  }

  /** q436's planted morphology and its GROUND-TRUTH stems — pairs from
    * the rule examples in Porter 1980 (verified full-pipeline in
    * PorterStemSpec), spanning every step: plurals (1a), -ed/-ing with
    * the double-consonant and *o repairs (1b), y→i (1c), the 2/3/4
    * suffix chains, and the -e / -ll tidy-up (5). The fixture's own
    * tokens are a closed synthetic vocabulary with no real morphology
    * (measured, round-7 note), so the gate plants real English on the
    * `doc_id % 13` slice — the q42/q213/q235 planted-fixture
    * convention, built identically in both engines from literals.
    */
  val StemPlanted: Seq[(String, String)] = Seq(
    "caresses" -> "caress", "ponies" -> "poni", "cats" -> "cat",
    "agreed" -> "agre", "feed" -> "feed", "motoring" -> "motor",
    "hopping" -> "hop", "filing" -> "file", "happy" -> "happi",
    "sky" -> "sky", "relational" -> "relat", "conditional" -> "condit",
    "valenci" -> "valenc", "digitizer" -> "digit",
    "hopefulness" -> "hope", "electriciti" -> "electr",
    "electrical" -> "electr", "triplicate" -> "triplic",
    "adjustable" -> "adjust", "replacement" -> "replac",
    "adoption" -> "adopt", "activate" -> "activ", "probate" -> "probat",
    "rate" -> "rate", "controll" -> "control", "roll" -> "roll",
    "generalizations" -> "gener", "oscillators" -> "oscil")

  /** q436 — PORTER STEMMING as a native codegen expression
    * ([[graft.functions.PorterStem]]): the classic index-term
    * normalization between tokenization (q48) and term statistics
    * (q76 TF-IDF / q364 BM25). The planted sentence rides the real
    * `text` column (append → split → slice), so the expression is
    * exercised through the corpus scan path, not on a literal frame;
    * the census emits one (word, stem, n) row per planted word with
    * n = planted-slice size. DuckDB ships no stemmer in this sandbox,
    * so the oracle replays the GROUND TRUTH: the same (word, stem)
    * literals × the slice count (the q74 planted-truth convention) —
    * one wrong character in any stem and the hash breaks.
    *
    * Scale shape: map-only narrow projection (append, split, slice,
    * explode bounded at |planted| rows per doc, stem in-row) + one
    * partial agg on a |planted|-bounded key space.
    */
  val q436PorterStem: Q = (s, dir) => {
    import s.implicits._
    val words = StemPlanted.map(_._1)
    T.documents(s, dir)
      .filter($"doc_id" % 13 === 0)
      .select(concat($"text", lit(" " + words.mkString(" "))).as("aug"))
      .select(explode(
        expr(s"slice(split(aug, ' '), -${words.size}, ${words.size})"))
        .as("word"))
      .select($"word",
        graft.functions.TextFunctions.porterStem($"word").as("stem"))
      .groupBy($"word", $"stem").agg(count(lit(1)).as("n"))
      .orderBy($"word")
  }

  val q436Sql: String = {
    val pairs = StemPlanted
      .map { case (w, st) => s"('$w', '$st')" }.mkString(", ")
    s"""WITH slice AS (
       |  SELECT COUNT(*) AS n FROM documents WHERE doc_id % 13 = 0),
       |truth(word, stem) AS (VALUES $pairs)
       |SELECT word, stem, n
       |FROM truth CROSS JOIN slice
       |ORDER BY word""".stripMargin
  }

  /** q444's position discounts 1/log₂(i+1), i = 1..10 — computed ONCE
    * here and embedded as round-trip double literals in BOTH engines
    * (Double.toString is shortest-round-trip, so DuckDB parses the
    * identical bits): log₂ itself is libm-dependent and Java vs C can
    * disagree in the last ulp, which a floor() then amplifies — pinned
    * constants remove the library from the equality contract entirely.
    */
  val DcgK = 10
  val DcgDiscounts: Seq[(Long, Double)] = (1 to DcgK).map(i =>
    (i.toLong, 1.0 / (math.log(i + 1.0) / math.log(2.0))))

  /** q444 — nDCG@10 of the q108 BM25 ranking under GRADED relevance
    * (g = how many of the two query terms the doc contains, gain
    * 2^g − 1 ∈ {0, 1, 3}) — the graded complement of q337's binary
    * recall/MRR readout: a ranker that puts one-term docs above
    * two-term docs loses nDCG while binary recall@10 can't see it.
    * Every per-position term is micro-quantized BEFORE the sum (the
    * q422 fold) with the pinned [[DcgDiscounts]]; IDCG re-ranks the
    * same graded population ideally (threes, then ones); the final
    * ratio is one integer division.
    *
    * Scale shape: ranking restricted to positive-score docs (the q337
    * candidate-set contract), the DCG fold touches 10 rows, IDCG
    * needs only the two grade counts.
    */
  val q444Ndcg: Q = (s, dir) => {
    import s.implicits._
    val docs = T.documents(s, dir)
    val n = docs.select(countDistinct($"doc_id")).as[Long].head()
    val w = org.apache.spark.sql.expressions.Window
      .orderBy($"bm25".desc, $"doc_id".asc)
    val grades = docs
      .select($"doc_id", explode(split($"text", " ")).as("term"))
      .filter($"term".isin(Bm25QueryTerms: _*))
      .groupBy($"doc_id").agg(countDistinct($"term").cast("long").as("g"))
    val ranked = PlanBridge.checkpointResetStats(bm25(docs, Bm25QueryTerms, n)
      .filter($"bm25" > 0.0)
      .withColumn("rank", row_number().over(w).cast("long"))
      .join(grades, Seq("doc_id"), "left").na.fill(0L, Seq("g"))
      .withColumn("gain",
        when($"g" === 2, 3L).when($"g" === 1, 1L).otherwise(0L)))
    val discDf = broadcast(DcgDiscounts.toDF("rank", "d"))
    val dcg = ranked.filter($"rank" <= DcgK).join(discDf, "rank")
      .agg(coalesce(sum(
        floor(lit(1000000.0) * $"gain".cast("double") * $"d").cast("long")),
        lit(0L))).head().getLong(0)
    val cnt = ranked.agg(
      count(lit(1)),
      sum(when($"g" === 2, 1L).otherwise(0L)),
      sum(when($"g" === 1, 1L).otherwise(0L))).head()
    val (nRanked, n2, n1) = (cnt.getLong(0), cnt.getLong(1), cnt.getLong(2))
    val idcg = DcgDiscounts.map { case (i, d) =>
      val gain = if (i <= n2) 3L else if (i <= n2 + n1) 1L else 0L
      math.floor(1000000.0 * gain * d).toLong
    }.sum
    val ndcg = if (idcg == 0) 0L else 1000000L * dcg / idcg
    Seq((nRanked, n2, n1, dcg, idcg, ndcg))
      .toDF("n_ranked", "n_g2", "n_g1", "dcg_micro", "idcg_micro",
        "ndcg_micro")
  }

  val q444Sql: String = {
    // string→DOUBLE cast, NOT a bare literal: DuckDB types bare
    // decimal literals as DECIMAL(17,16), which rounds a
    // 17-fractional-digit discount (1/log2(8) needs them) to a
    // DIFFERENT double and flips a floor() at rank 7
    val discRows = DcgDiscounts
      .map { case (i, d) =>
        s"($i, CAST('${java.lang.Double.toString(d)}' AS DOUBLE))" }
      .mkString(", ")
    val base = q108Sql.replace("ORDER BY 1", "")
    s"""WITH b AS ($base),
       |grades AS (
       |  SELECT doc_id, COUNT(DISTINCT term) AS g
       |  FROM (SELECT doc_id, UNNEST(string_split(text, ' ')) AS term
       |        FROM documents)
       |  WHERE term IN ('data', 'join') GROUP BY doc_id),
       |ranked AS (
       |  SELECT b.doc_id,
       |    ROW_NUMBER() OVER (ORDER BY bm25 DESC, b.doc_id ASC) AS rank,
       |    CASE COALESCE(g, 0) WHEN 2 THEN 3 WHEN 1 THEN 1 ELSE 0 END
       |      AS gain,
       |    COALESCE(g, 0) AS g
       |  FROM b LEFT JOIN grades ON b.doc_id = grades.doc_id
       |  WHERE bm25 > 0.0),
       |disc(rank, d) AS (VALUES $discRows),
       |cnt AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_ranked,
       |    CAST(SUM(CASE WHEN g = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
       |    CAST(SUM(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1
       |  FROM ranked),
       |dcg AS (
       |  SELECT CAST(COALESCE(SUM(CAST(FLOOR(
       |      1000000.0 * CAST(gain AS DOUBLE) * CAST(d AS DOUBLE))
       |    AS BIGINT)), 0) AS BIGINT) AS dcg_micro
       |  FROM ranked JOIN disc USING (rank)),
       |idcg AS (
       |  SELECT CAST(SUM(CAST(FLOOR(1000000.0 *
       |      (CASE WHEN disc.rank <= n2 THEN 3
       |            WHEN disc.rank <= n2 + n1 THEN 1 ELSE 0 END)
       |      * CAST(d AS DOUBLE)) AS BIGINT)) AS BIGINT) AS idcg_micro
       |  FROM disc CROSS JOIN cnt)
       |SELECT n_ranked, n2 AS n_g2, n1 AS n_g1, dcg_micro, idcg_micro,
       |  CASE WHEN idcg_micro = 0 THEN 0
       |       ELSE 1000000 * dcg_micro // idcg_micro END AS ndcg_micro
       |FROM cnt, dcg, idcg""".stripMargin
  }

  val entries: Seq[Entry] = Seq(
    Entry("q444_ndcg", q444Ndcg, q444Sql),
    Entry("q436_porter_stem", q436PorterStem, q436Sql),
    Entry("q374_query_likelihood", q374QueryLikelihood, q374Sql),
    Entry("q460_rm3_feedback", q460Rm3Feedback, q460Sql),
    Entry("q364_bm25", q364Bm25, q364Sql),
    Entry("q200_weighted_sample", q200WeightedSample, q200Sql),
    Entry("q76_tfidf", q76Tfidf, q76Sql),
    Entry("q92_chunking", q92Chunking, q92Sql),
    Entry("q93_pii_scrub", q93PiiScrub, q93Sql),
    Entry("q95_train_split", q95TrainSplit, q95Sql),
    Entry("q255_shard_manifest", q255ShardManifest, q255Sql),
    Entry("q97_corpus_prep", q97CorpusPrep, q97Sql),
    Entry("q100_stratified_sample", q100StratifiedSample, q100Sql),
    Entry("q116_group_sample", q116GroupSample, q116Sql),
    Entry("q124_text_normalize", q124TextNormalize, q124Sql),
    Entry("q256_html_extract", q256HtmlExtract, q256Sql),
    Entry("q235_nfc_normalize", q235NfcNormalize, q235Sql),
    Entry("q240_span_corrupt", q240SpanCorrupt, q240Sql),
    Entry("q103_sequence_packing", q103SequencePacking, q103Sql),
    Entry("q108_bm25", q108Bm25, q108Sql),
    Entry("q337_ir_eval", q337IrEval, q337Sql),
    Entry("q158_temperature_mix", q158TemperatureMix, q158Sql))
}
