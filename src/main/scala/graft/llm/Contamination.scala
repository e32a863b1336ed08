package graft.llm

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.PlanBridge

import graft.core.{Entry, Tables => T}

/** Benchmark-contamination detection — the decontamination pass every
  * serious training pipeline runs before training: find corpus
  * documents that share word n-gram shingles with a held-out
  * evaluation set, so they can be dropped (training on eval text
  * inflates benchmark scores without real capability).
  *
  * The eval set here is the deterministic `doc_id % 97 = 0` slice of
  * the documents table standing in for an external benchmark suite;
  * shingles are word 3-grams (the q41 spelling — the fixture's
  * synthetic docs are short; production pipelines use 8–13-grams over
  * real text, which changes only the `sequence` bound).
  *
  * Scale shape — the reason this is cheap at 100 TB: benchmark suites
  * are small and FIXED (a few thousand docs) regardless of corpus
  * size, so the distinct eval-shingle set is broadcast; the corpus
  * side explodes map-only into the broadcast hash join and only
  * matching (train-doc, shingle, eval-doc) rows ever reach a shuffle
  * — the per-doc COUNT(DISTINCT) aggregation touches contaminated
  * docs only (~1/3 of docs here, typically ≪1% in production). The
  * corpus is never joined to itself.
  */
object Contamination {

  import Entry.Q

  /** q212 — per-document contamination report: every train-slice doc
    * sharing at least one 3-gram with the eval slice, with the number
    * of distinct contaminated shingles and of distinct eval docs hit.
    * Worst offenders first.
    */
  val q212Contamination: Q = (s, dir) => {
    implicit val sp: SparkSession = s
    import s.implicits._
    // the q41 shingle helper — one spelling of the 3-gram HOF repo-wide
    val grams = DedupQueries.triShingles(T.documents(s, dir))
    val eval = grams.filter($"doc_id" % 97 === 0)
      .select($"tg", $"doc_id".as("eval_doc"))
    val train = grams.filter($"doc_id" % 97 =!= 0)
    train.join(broadcast(eval), "tg")
      .groupBy($"doc_id")
      .agg(countDistinct($"tg").as("hits"),
        countDistinct($"eval_doc").as("eval_docs"))
      .orderBy($"hits".desc, $"doc_id")
  }

  val q212Sql: String =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |g AS (SELECT DISTINCT doc_id,
      |        UNNEST(list_transform(range(1, len(ws) - 1),
      |          i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS tg
      |      FROM w),
      |ev AS (SELECT tg, doc_id AS eval_doc FROM g WHERE doc_id % 97 = 0)
      |SELECT g.doc_id,
      |  COUNT(DISTINCT g.tg) AS hits,
      |  COUNT(DISTINCT ev.eval_doc) AS eval_docs
      |FROM g JOIN ev ON g.tg = ev.tg
      |WHERE g.doc_id % 97 <> 0
      |GROUP BY g.doc_id
      |ORDER BY hits DESC, doc_id""".stripMargin


  /** q336 — n-gram NOVELTY scoring against a reference slice: for each
    * candidate doc (odd doc_id), the fraction of its DISTINCT 3-grams
    * absent from the whole even-doc_id reference corpus — the
    * memorization-risk / freshness metric a curation pipeline ranks a
    * new crawl by (dedup asks "is this doc a copy of ONE doc"; novelty
    * asks "how much of it exists ANYWHERE in the reference"). Exact
    * integers + one division per doc, spelled identically.
    *
    * Scale shape: reference membership is a LEFT-ANTI equi-join on the
    * 8-byte shingle hash against the deduplicated reference-shingle
    * frame — no pair enumeration anywhere; per-doc totals are one
    * partial-agged groupBy. Bottom-10 novelty emitted (the
    * most-derivative docs — the actionable tail), total tie-order.
    */
  val q336NgramNovelty: Q = (s, dir) => {
    implicit val sp: SparkSession = s
    import s.implicits._
    val grams = PlanBridge.checkpointResetStats(
      DedupQueries.triShingles(T.documents(s, dir))
        .select($"doc_id", xxhash64($"tg").as("tgh")))
    val ref = grams.filter($"doc_id" % 2 === 0).select($"tgh").distinct()
    val cand = grams.filter($"doc_id" % 2 =!= 0)
    val novel = cand.join(ref, Seq("tgh"), "left_anti")
      .groupBy($"doc_id").agg(count(lit(1)).as("n_novel"))
    cand.groupBy($"doc_id").agg(count(lit(1)).as("n_grams"))
      .join(novel, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_novel"))
      .withColumn("novelty",
        expr("CAST(n_novel AS DOUBLE) / CAST(n_grams AS DOUBLE)"))
      .orderBy($"novelty".asc, $"doc_id".asc)
      .limit(10)
  }

  val q336Sql: String =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |g AS (SELECT DISTINCT doc_id,
      |        UNNEST(list_transform(range(1, len(ws) - 1),
      |          i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS tg
      |      FROM w),
      |ref AS (SELECT DISTINCT tg FROM g WHERE doc_id % 2 = 0),
      |cand AS (SELECT doc_id, tg FROM g WHERE doc_id % 2 <> 0),
      |novel AS (
      |  SELECT c.doc_id, COUNT(*) AS n_novel
      |  FROM cand c LEFT JOIN ref r ON c.tg = r.tg
      |  WHERE r.tg IS NULL GROUP BY c.doc_id),
      |tot AS (SELECT doc_id, COUNT(*) AS n_grams FROM cand GROUP BY doc_id)
      |SELECT t.doc_id, t.n_grams, COALESCE(n.n_novel, 0) AS n_novel,
      |  CAST(COALESCE(n.n_novel, 0) AS DOUBLE) / CAST(t.n_grams AS DOUBLE)
      |    AS novelty
      |FROM tot t LEFT JOIN novel n ON t.doc_id = n.doc_id
      |ORDER BY novelty ASC, t.doc_id ASC
      |LIMIT 10""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("q336_ngram_novelty", q336NgramNovelty, q336Sql),
    Entry("q212_contamination", q212Contamination, q212Sql))
}
