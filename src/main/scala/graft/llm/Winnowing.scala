package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.PlanBridge

import graft.core.{Entry, Tables => T}

/** Robust WINNOWING document fingerprinting (Schleimer, Wilkerson &
  * Aiken SIGMOD'03 — the MOSS algorithm): hash every k-token shingle,
  * slide a w-hash window, and select the RIGHTMOST MINIMUM of each
  * window. The guarantee the paper proves: any shared substring of
  * ≥ w+k−1 tokens yields at least one shared selected fingerprint
  * (unlike mod-p sampling, which can miss arbitrarily long matches),
  * while selecting ~2/(w+1) of positions. This is the seventh dedup
  * mode (exact q40, MinHash q41, SimHash q42, n-gram Jaccard q43,
  * embedding q112, semantic q164, CDC chunking q258) and the one
  * plagiarism/clone detectors actually ship.
  *
  * The reference (joelanford/console-etl) has no text surface; this is
  * a north-star [N] row from SURVEY.md §2.b.
  *
  * Determinism: the hash is the first 8 md5 hex chars of the shingle
  * (engine-independent, the q95/q141 idiom); rightmost-tie argmin is
  * pinned by a sequential fold whose `≤` keeps the later index — both
  * engines fold the same window order (Spark `aggregate` HOF, DuckDB
  * `list_reduce` with the q348 seed-element idiom).
  *
  * Scale shape: selection is per-doc array-local (zero shuffle, O(len·w)
  * work); the only corpus shuffle keys on the constant-width 8-hex
  * fingerprint; stop-fingerprints (doc frequency > [[StopFpDf]]) are
  * dropped before the pair join — the q43 per-bucket cap that bounds the
  * quadratic blowup a boilerplate-shingle would cause.
  */
object Winnowing {

  import Entry.Q

  /** Shingle size k and window w: guarantees detection of shared runs
    * of ≥ w+k−1 = 6 tokens, density ~2/(w+1).
    */
  val ShingleK = 3
  val WindowW = 4
  /** Fingerprints shared by more docs than this are boilerplate. */
  val StopFpDf = 20L
  /** Pair report threshold: ≥ this many shared selected fingerprints. */
  val MinShared = 2L

  /** Selected fingerprints per doc: (doc_id, fp) distinct. */
  def fingerprints(s: SparkSession, dir: String): DataFrame =
    fingerprintsOf(T.documents(s, dir))

  /** Same over any (doc_id, text) frame — the spec plants shared runs. */
  def fingerprintsOf(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    docs
      .withColumn("ts", expr("filter(split(text, ' '), t -> t <> '')"))
      .filter(size($"ts") >= ShingleK)
      .withColumn("hs", expr(
        s"""transform(sequence(0, size(ts) - $ShingleK),
           |  i -> CAST(conv(substring(md5(
           |         concat_ws(' ', ts[i], ts[i+1], ts[i+2])), 1, 8),
           |       16, 10) AS BIGINT))""".stripMargin))
      .withColumn("fp", explode(expr(
        s"""array_distinct(transform(
           |  sequence(0, greatest(size(hs) - $WindowW, 0)),
           |  i -> aggregate(
           |    sequence(i, least(i + $WindowW - 1, size(hs) - 1)),
           |    named_struct('j', -1, 'v', CAST(9223372036854775807 AS BIGINT)),
           |    (acc, j) -> IF(hs[j] <= acc.v,
           |      named_struct('j', j, 'v', hs[j]), acc)).v))""".stripMargin)))
      .select($"doc_id", $"fp")
  }

  /** q377 — winnowing near-dup pairs: docs sharing ≥ [[MinShared]]
    * selected fingerprints (stop-fingerprints excluded), with the
    * shared count as the match weight.
    */
  val q377Winnowing: Q = (s, dir) =>
    winnowPairs(s, dir).orderBy(col("doc_a"), col("doc_b"))

  /** The q377 pair frame as a build-once PERSISTED table per
    * (JVM, dir) — r17: q377 and q410 each re-ran the whole
    * fingerprint-selection + self-join pipeline (~2 s apiece at
    * sf0.1); the IndexStore discipline serves both from one build.
    * The fingerprint explode also spreads across the cores first —
    * the window-argmin HOF ran inside the 1-task documents scan.
    */
  def winnowPairs(s: SparkSession, dir: String): DataFrame =
    s.table(graft.core.IndexStore.ensure(s, "wpairs", dir) {
      import s.implicits._
      // feeds df + both join sides
      val fp = PlanBridge.checkpointResetStats(
        fingerprintsOf(T.documents(s, dir)
            .repartition(s.sparkContext.defaultParallelism)))
      val keep = fp.groupBy($"fp").agg(countDistinct($"doc_id").as("df"))
        .filter($"df" <= StopFpDf)
        .select($"fp")
      val kept = fp.join(keep, "fp")
      kept.select($"fp", $"doc_id".as("doc_a"))
        .join(kept.select($"fp", $"doc_id".as("doc_b")), "fp")
        .filter($"doc_a" < $"doc_b")
        .groupBy($"doc_a", $"doc_b")
        .agg(count(lit(1)).as("n_shared"))
        .filter($"n_shared" >= MinShared)
    })

  /** Shared oracle prefix: winnowing selection + stop-fp filter,
    * yielding `fps(doc_id, fp)` and `keep(fp)` — used by q377 (pairs)
    * and q410 (keep-one release census).
    */
  private val WinnowFpsCte: String =
    s"""docs AS (
       |  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS ts
       |  FROM documents),
       |hashed AS (
       |  SELECT doc_id,
       |    list_transform(range(1, len(ts) - ${ShingleK - 2}),
       |      i -> CAST(('0x' || substring(md5(
       |             ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]), 1, 8))
       |           AS BIGINT)) AS hs
       |  FROM docs WHERE len(ts) >= $ShingleK),
       |fps AS (
       |  SELECT DISTINCT doc_id, fp
       |  FROM (
       |    SELECT doc_id, UNNEST(
       |      list_transform(range(1, greatest(len(hs) - $WindowW, 0) + 2),
       |        i -> list_reduce(
       |          list_prepend([CAST(-1 AS BIGINT), 9223372036854775807],
       |            list_transform(range(i, least(i + $WindowW, len(hs) + 1)),
       |              j -> [CAST(j AS BIGINT), hs[j]])),
       |          (acc, p) -> CASE WHEN p[2] <= acc[2] THEN p ELSE acc END)[2]))
       |      AS fp
       |    FROM hashed)),
       |keep AS (
       |  SELECT fp FROM fps GROUP BY fp
       |  HAVING COUNT(DISTINCT doc_id) <= $StopFpDf),
       |wpairs AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    CAST(COUNT(*) AS BIGINT) AS n_shared
       |  FROM fps a JOIN keep USING (fp) JOIN fps b USING (fp)
       |  WHERE a.doc_id < b.doc_id
       |  GROUP BY a.doc_id, b.doc_id
       |  HAVING COUNT(*) >= $MinShared)""".stripMargin

  val q377Sql: String =
    s"""WITH $WinnowFpsCte
       |SELECT doc_a, doc_b, n_shared
       |FROM wpairs
       |ORDER BY doc_a, doc_b""".stripMargin

  /** q410 — winnowing-based RELEASE census (the E2E this dedup mode
    * feeds: q346 prices the MinHash pipeline's savings, this one
    * prices WINNOWING's — keep the min-id doc of every fingerprint-
    * connected cluster, then report per source what survives in docs
    * AND tokens; the per-source view is what a mixing step (q136/
    * q158) consumes next): clusters are connected components over the
    * q377 pair graph (the q101 CC machinery verbatim), non-clustered
    * docs keep themselves.
    *
    * Scale shape: the q377 pipeline + one CC fixpoint on the
    * pair-bounded graph + one left join of docs to labels + one
    * per-source partial agg — no new corpus pass beyond q377's.
    */
  val q410WinnowRelease: Q = (s, dir) => {
    import s.implicits._
    val pairs = winnowPairs(s, dir).select($"doc_a", $"doc_b")
    val cc = graft.operators.ConnectedComponents(pairs,
      src = "doc_a", dst = "doc_b")
    T.documents(s, dir)
      .select($"doc_id", $"source",
        size(expr("filter(split(text, ' '), t -> t <> '')")).cast("long")
          .as("ntok"))
      .join(cc.select($"id".as("doc_id"), $"comp"), Seq("doc_id"), "left")
      .withColumn("kept", $"comp".isNull || $"comp" === $"doc_id")
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum($"kept".cast("long")).as("n_kept"),
        sum($"ntok").as("tokens"),
        sum(when($"kept", $"ntok").otherwise(0L)).as("tokens_kept"))
      .orderBy($"source")
  }

  val q410Sql: String =
    s"""WITH RECURSIVE $WinnowFpsCte,
       |edges AS (SELECT doc_a AS s, doc_b AS d FROM wpairs
       |          UNION SELECT doc_b, doc_a FROM wpairs),
       |reach(id, r) AS (
       |  SELECT DISTINCT s, s FROM edges
       |  UNION
       |  SELECT reach.id, e.d FROM reach JOIN edges e ON reach.r = e.s),
       |labels AS (SELECT id, MIN(r) AS comp FROM reach GROUP BY id),
       |d AS (
       |  SELECT doc_id, source,
       |    CAST(len(list_filter(string_split(text, ' '), t -> t <> ''))
       |      AS BIGINT) AS ntok
       |  FROM documents),
       |k AS (
       |  SELECT d.source, d.ntok,
       |    (l.comp IS NULL OR l.comp = d.doc_id) AS kept
       |  FROM d LEFT JOIN labels l ON l.id = d.doc_id)
       |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |  CAST(SUM(ntok) AS BIGINT) AS tokens,
       |  CAST(SUM(CASE WHEN kept THEN ntok ELSE 0 END) AS BIGINT)
       |    AS tokens_kept
       |FROM k GROUP BY source
       |ORDER BY source""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("q377_winnowing", q377Winnowing, q377Sql),
    Entry("q410_winnow_release", q410WinnowRelease, q410Sql))
}
