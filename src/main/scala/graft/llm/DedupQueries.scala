package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.PlanBridge

import graft.core.{Entry, Tables => T}

/** Deduplication family over `documents` (SURVEY.md §2.b north-star):
  * exact, MinHash-LSH, SimHash, and exact n-gram Jaccard.
  *
  * Scale shapes:
  *   - exact dedup groups on a 256-bit content hash, never on the text
  *     itself — the shuffle carries 32-byte keys, not documents;
  *   - MinHash/SimHash are one explode + one groupBy per doc (linear),
  *     banding turns candidate generation into an equi-join on
  *     (band, band_hash) — the standard sub-quadratic near-dup pipeline;
  *   - the exact-Jaccard verifier joins through an inverted shingle
  *     index, so only pairs sharing ≥1 shingle are ever materialized,
  *     and shingles whose document frequency exceeds
  *     [[DedupQueries.StopShingleDfCap]] are dropped from the shingle
  *     universe first (both sizes and intersections) — without that cap
  *     one hot shingle produces a quadratic posting-list self-join at
  *     corpus scale.
  */
object DedupQueries {

  import Entry.Q

  private def tokens(c: Column): Column = split(c, " ")

  /** Word-3-grams per document WITH duplicates — a narrow explode, no
    * shuffle. Consumers that need the distinct set either dedupe inside
    * their aggregation (collect_set, min) or go through [[triShingles]].
    *
    * The size guard matters: for docs under 3 words,
    * `sequence(0, size - 3)` would run DESCENDING (Spark's sequence
    * semantics), emitting degenerate shingles via concat_ws null-
    * skipping, while the DuckDB oracle's `range(1, len - 1)` is empty —
    * a cross-engine divergence latent until a fixture ships short docs.
    */
  private[llm] def triShinglesRaw(df: DataFrame)(implicit s: SparkSession): DataFrame = {
    import s.implicits._
    df.select($"doc_id", tokens($"text").as("ws"))
      .select($"doc_id", explode(expr(
        """IF(size(ws) >= 3,
          |  transform(sequence(0, size(ws) - 3),
          |    i -> concat_ws(' ', ws[i], ws[i+1], ws[i+2])),
          |  array())""".stripMargin))
        .as("tg"))
  }

  /** Distinct word-3-grams per document (one dedup shuffle). Public:
    * also the shingle universe for the q559 Borůvka MST edge build.
    */
  def triShingles(df: DataFrame)(implicit s: SparkSession): DataFrame =
    triShinglesRaw(df).distinct()

  /** Exact dedup: group by content hash, keep the earliest doc_id as the
    * canonical representative.
    */
  val q40DedupExact: Q = (s, dir) => {
    import s.implicits._
    T.documents(s, dir)
      .groupBy(sha2($"text", 256).as("content_hash"))
      .agg(min($"doc_id").as("keep_doc_id"), count(lit(1)).as("n_copies"))
      .orderBy($"keep_doc_id")
  }

  val q40Sql: String =
    """SELECT sha256(text) AS content_hash,
      |  MIN(doc_id) AS keep_doc_id, COUNT(*) AS n_copies
      |FROM documents
      |GROUP BY sha256(text)
      |ORDER BY keep_doc_id""".stripMargin

  /** MinHash-LSH banding: 32 permutations (xxhash64 seeded by index)
    * over distinct 3-gram shingles, banded 16×2. The 16-band/2-row
    * split is chosen so the END-TO-END pipeline ([[nearDuplicates]]) is
    * effectively lossless at its 0.7 threshold: a pair with true
    * Jaccard j collides in ≥1 band with probability 1−(1−j²)¹⁶, i.e.
    * miss ≤ (1−0.49)¹⁶ ≈ 2·10⁻⁵ at j=0.7 and ≈ 3·10⁻¹² at j=0.9 —
    * which is what lets q41 face the exact all-pairs DuckDB oracle
    * rather than a weaker rows-only check.
    */
  val MinHashPerms = 32
  val MinHashBands = 16

  /** q41 — the full near-duplicate pipeline, oracle-checked: MinHash
    * signatures → LSH band candidates (sub-quadratic) → exact Jaccard
    * verify on candidates only → pairs with j ≥ 0.7. The oracle computes
    * the same answer the expensive way (exact all-pairs over the shingle
    * index), so the gate proves the cheap pipeline loses nothing.
    */
  val NearDupThreshold = 0.7

  val q41MinhashLsh: Q = (s, dir) =>
    verifiedPairs(s, dir).orderBy("doc1", "doc2")

  val q41Sql: String =
    s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |tri AS (SELECT DISTINCT doc_id,
      |          UNNEST(list_transform(range(1, len(ws) - 1),
      |            i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS tg
      |        FROM w),
      |sizes AS (SELECT doc_id, COUNT(*) AS n FROM tri GROUP BY doc_id),
      |pairs AS (SELECT a.doc_id AS doc1, b.doc_id AS doc2, COUNT(*) AS inter
      |          FROM tri a JOIN tri b ON a.tg = b.tg AND a.doc_id < b.doc_id
      |          GROUP BY 1, 2)
      |SELECT doc1, doc2, inter,
      |  inter / (n1.n + n2.n - inter) AS jaccard
      |FROM pairs JOIN sizes n1 ON pairs.doc1 = n1.doc_id
      |           JOIN sizes n2 ON pairs.doc2 = n2.doc_id
      |WHERE inter / (n1.n + n2.n - inter) >= $NearDupThreshold
      |ORDER BY doc1, doc2""".stripMargin

  /** Skew cap for LSH bands: at most this many docs participate per
    * (band, band_hash) bucket — a degenerate band (e.g. a boilerplate
    * header shared by millions of docs) would otherwise produce a
    * quadratic in-bucket self-join. Same bounding idea as the q43
    * stop-shingle cap and the q45 bucket cap.
    */
  val BandBucketCap = 256

  /** Candidate near-dup pairs from MinHash bands: docs agreeing on ≥1
    * full band, with a deterministic per-bucket skew cap.
    */
  /** Band-capped (doc_id, band, band_hash) LSH index rows — the
    * materializable INDEX side shared by the self-join (q41) and the
    * incremental batch probe (q243).
    */
  def bandedCapped(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    implicit val sp: SparkSession = spark
    val rowsPerBand = MinHashPerms / MinHashBands
    val sigCols = (0 until MinHashPerms).map(j =>
      min(xxhash64(lit(j), col("tg"))).as(s"h$j"))
    // raw (duplicate-carrying) shingles: min over a multiset equals min
    // over its set, so the signature needs NO distinct pre-shuffle —
    // the explode stays narrow and the only exchange is the groupBy
    val sigs = triShinglesRaw(docs).groupBy($"doc_id")
      .agg(sigCols.head, sigCols.tail: _*)
    // ONE posexplode pass emits all 16 (band, band_hash) rows per doc —
    // not a 16-way union that re-evaluates the signature aggregation
    // per band
    val bandCols = (0 until MinHashBands).map { band =>
      val slice = (band * rowsPerBand until (band + 1) * rowsPerBand)
        .map(j => col(s"h$j"))
      xxhash64(slice: _*)
    }
    val banded = sigs.select($"doc_id",
      posexplode(array(bandCols: _*)).as(Seq("band", "band_hash")))
    val wCap = org.apache.spark.sql.expressions.Window
      .partitionBy($"band", $"band_hash")
      .orderBy(xxhash64($"doc_id"), $"doc_id")
    banded
      .withColumn("slot", row_number().over(wCap))
      .filter($"slot" <= BandBucketCap)
      .select($"doc_id", $"band", $"band_hash")
  }

  def minhashCandidates(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    val capped = bandedCapped(spark, docs)
    capped.as("a").join(capped.as("b"),
        $"a.band" === $"b.band" && $"a.band_hash" === $"b.band_hash" &&
          $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("doc1"), $"b.doc_id".as("doc2"))
      .distinct()
  }

  /** End-to-end near-duplicate detection: MinHash-LSH candidate
    * generation (sub-quadratic, band-capped) followed by the exact
    * n-gram Jaccard VERIFY stage computed only on candidate pairs —
    * never on all pairs. This is the full pipeline a corpus-dedup run
    * chains at scale: O(N) signatures + equi-join candidates + exact
    * similarity on the (tiny) candidate set.
    */
  /** The q41 verified pair frame for the STANDARD corpus at `dir`,
    * built ONCE per (JVM, dir) and served from a persisted table —
    * the [[graft.core.IndexStore]] r12 discipline, applied to the
    * dedup family the way round 17 applied it to the graph stages:
    * twelve operators consume this exact frame (q41 itself, clusters
    * q101/q141/q163/q346, explanations q344/q348/q448, weighted
    * Jaccard q392, contamination q430, BLEU q582), and each
    * previously re-ran the whole signature/banding/verify pipeline
    * (~1.5–2 s apiece at sf0.1 — ~12 s of the bench total was this
    * one recomputed stage).
    */
  def verifiedPairs(s: SparkSession, dir: String): DataFrame =
    s.table(graft.core.IndexStore.ensure(s, "ndpairs", dir)(
      nearDuplicates(s, T.documents(s, dir), NearDupThreshold)))

  def nearDuplicates(spark: SparkSession, docs: DataFrame,
      minJaccard: Double): DataFrame = {
    import spark.implicits._
    // the candidate frame is referenced three times in the verify
    // stage (both doc-id projections + the final join); an eager
    // localCheckpoint runs the whole signature/banding pipeline ONCE
    // and hands the tiny pair set to each consumer — without it
    // Catalyst re-expands ~8 exchanges per reference (32-exchange
    // plan, 3× the candidate work)
    val cands = PlanBridge.checkpointResetStats(minhashCandidates(spark, docs))
    verifyPairs(spark, docs, cands, minJaccard)
      .orderBy($"doc1", $"doc2")
  }

  /** The exact-Jaccard VERIFY stage over an arbitrary candidate pair
    * frame (doc1, doc2) — factored out of [[nearDuplicates]] so the
    * incremental path (q443) verifies its own candidates with the
    * IDENTICAL semantics the full-run oracle defines.
    */
  def verifyPairs(spark: SparkSession, docs: DataFrame, cands: DataFrame,
      minJaccard: Double): DataFrame = {
    import spark.implicits._
    implicit val sp: SparkSession = spark
    // exact verify over the UNCAPPED shingle universe (candidates are
    // already a tiny set, so no df cap is needed — and the answer then
    // matches the exact all-pairs oracle definition). Each candidate
    // doc's shingle set rides along as one sorted hash array (~n·8
    // bytes); the intersection is a linear array_intersect per pair —
    // no shingle-level join, no per-pair shuffle.
    val candDocs = cands.select($"doc1".as("doc_id"))
      .union(cands.select($"doc2".as("doc_id"))).distinct()
    // collect_set dedupes per-doc shingle repeats inside the aggregation,
    // so the raw explode needs no distinct pre-shuffle here either
    val sets = triShinglesRaw(docs)
      .join(candDocs, Seq("doc_id"), "left_semi")
      .select($"doc_id", xxhash64($"tg").as("tgh"))
      .groupBy($"doc_id")
      .agg(sort_array(collect_set($"tgh")).as("hs"))
      .select($"doc_id", $"hs", size($"hs").cast("long").as("n"))
    cands
      .join(sets.select($"doc_id".as("doc1"), $"hs".as("hs1"), $"n".as("n1")),
        "doc1")
      .join(sets.select($"doc_id".as("doc2"), $"hs".as("hs2"), $"n".as("n2")),
        "doc2")
      .withColumn("inter", size(array_intersect($"hs1", $"hs2")).cast("long"))
      .withColumn("jaccard", $"inter" / ($"n1" + $"n2" - $"inter"))
      .filter($"jaccard" >= minJaccard)
      .select($"doc1", $"doc2", $"inter", $"jaccard")
  }

  /** Banded SimHash candidate pairing: the 64-bit simhash splits into 4
    * disjoint 16-bit bands; by pigeonhole, any pair within hamming
    * distance 3 agrees exactly on ≥1 band, so an equi-join on
    * (band, band_value) finds all such pairs sub-quadratically — the
    * same banding trick as MinHash-LSH, specialized to hamming space.
    * Verification (exact hamming ≤ maxHamming) runs only on candidates.
    */
  def simhashCandidates(spark: SparkSession, simhashes: DataFrame,
      maxHamming: Int = 3): DataFrame = {
    import spark.implicits._
    val bands = (0 until 4).map { b =>
      simhashes.select($"doc_id", $"simhash", lit(b).as("band"),
        shiftright($"simhash", b * 16).bitwiseAND(0xFFFFL).as("band_value"))
    }.reduce(_ unionByName _)
    bands.as("a").join(bands.as("b"),
        $"a.band" === $"b.band" && $"a.band_value" === $"b.band_value" &&
          $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("doc1"), $"b.doc_id".as("doc2"),
        hamming($"a.simhash", $"b.simhash").as("hamming_dist"))
      .distinct()
      .filter($"hamming_dist" <= maxHamming)
  }

  /** 64-bit SimHash per document: token-hash bit votes weighted by
    * term frequency, computed by the codegen
    * [[graft.functions.SimHash64]] expression — a narrow single-pass
    * projection (the original explode + 64-conditional-sums aggregate
    * spelling shuffled one row per token occurrence through a 64-column
    * hash agg; bit-identical results, zero shuffles now). The signature
    * itself has no SQL analogue (xxhash64 is engine-internal) — the
    * driver row is [[q42SimhashGate]]'s planted-copy recall gate.
    */
  val q42Simhash: Q = (s, dir) => {
    import s.implicits._
    T.documents(s, dir)
      .select($"doc_id",
        graft.functions.TextFunctions.simhash64(tokens($"text")).as("simhash"))
      .orderBy($"doc_id")
  }

  /** Hamming distance between two simhash columns (library fn). */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** How many planted copies the q42 gate seeds and the id offset that
    * keeps them disjoint from real doc ids (q85's planted-twin
    * convention, specialized to hamming space).
    */
  val SimhashGateSetSize = 100
  val SimhashPlantedOffset = 1000000L

  /** q42 driver row — the (n, ok) promotion of the SimHash pipeline
    * (q74/q85/q86 convention; the raw per-doc signature view stays
    * [[q42Simhash]] for specs and library use). The gate PLANTS an exact
    * copy of each of the first [[SimhashGateSetSize]] documents under an
    * offset id and requires the banded pairing ([[simhashCandidates]])
    * to surface every (original, copy) pair at hamming 0: identical
    * text ⇒ identical tokens ⇒ identical simhash ⇒ collision in EVERY
    * band, so a single miss can only mean the expression, the banding,
    * or the hamming arithmetic broke — exactly the engine-internal
    * surface no SQL oracle can recompute (xxhash64 bit votes). n is
    * SQL-derivable (count of seeded docs), ok asserts total recall.
    */
  val q42SimhashGate: Q = (s, dir) => {
    import s.implicits._
    val base = T.documents(s, dir).filter($"doc_id" < SimhashGateSetSize)
      .select($"doc_id", $"text")
    val planted = base.select(($"doc_id" + SimhashPlantedOffset).as("doc_id"),
      $"text")
    val sh = base.unionByName(planted)
      .select($"doc_id",
        graft.functions.TextFunctions.simhash64(tokens($"text")).as("simhash"))
    val found = simhashCandidates(s, sh)
      .filter($"doc2" === $"doc1" + SimhashPlantedOffset &&
        $"hamming_dist" === 0)
      .select($"doc1".as("doc_id"))
    base.select($"doc_id").join(found, Seq("doc_id"), "left_semi")
      .agg(count(lit(1)).as("n_found"))
      .crossJoin(base.agg(count(lit(1)).as("n_docs")))
      .select($"n_docs", ($"n_found" === $"n_docs").as("ok"))
  }

  val q42Sql: String =
    s"""SELECT COUNT(*) AS n_docs, TRUE AS ok
       |FROM documents WHERE doc_id < $SimhashGateSetSize""".stripMargin

  /** Stop-shingle document-frequency cap: shingles appearing in more
    * than this many documents are removed from the shingle universe
    * (sizes AND intersections) before the inverted-index self-join. A
    * shingle with df=d contributes d² join pairs — skewed shingles
    * ("the quick") otherwise turn the index quadratic at corpus scale.
    * Jaccard is then defined over the capped universe, identically in
    * both engines.
    */
  val StopShingleDfCap = 100

  /** Exact n-gram Jaccard pairs over the df-capped shingle universe —
    * library form: the verification stage behind MinHash candidates.
    *
    * Shape (measured 1.7× faster than the tg-keyed self-join at sf0.1,
    * and strictly better at corpus scale):
    *   1. shingles carry an 8-byte xxhash64 key, not the string — every
    *      downstream shuffle/sort compares longs (a 64-bit collision
    *      between two of N distinct shingles has probability ≈ N²/2⁶⁵:
    *      ~10⁻⁹ at N=10⁶; the output carries only doc ids and counts,
    *      so the oracle SQL over the raw strings is unchanged);
    *   2. the stop-set (df > cap — by Zipf a handful even at corpus
    *      scale) comes from a count-only agg and broadcasts into an
    *      anti-join, so no posting list is ever collected unbounded;
    *   3. the kept index groups into per-shingle sorted doc lists
    *      (≤ cap elements by construction) and pairs are generated
    *      IN-GROUP via a nested transform — no self-join, one shuffle
    *      of the index instead of two, per-shingle work ≤ cap²/2.
    */
  def ngramJaccardPairs(docs: DataFrame, minJaccard: Double,
      dfCap: Int)(implicit s: SparkSession): DataFrame = {
    import s.implicits._
    val tri = triShingles(docs)
      .select($"doc_id", xxhash64($"tg").as("tgh"))
    val hot = tri.groupBy($"tgh").agg(count(lit(1)).as("df"))
      .filter($"df" > dfCap).select($"tgh")
    val kept = tri.join(broadcast(hot), Seq("tgh"), "left_anti")
    val byShingle = kept.groupBy($"tgh")
      .agg(sort_array(collect_list($"doc_id")).as("ds"))
    val sizes = byShingle.select(explode($"ds").as("doc_id"))
      .groupBy($"doc_id").agg(count(lit(1)).as("n"))
    val pairs = byShingle
      .select(explode(expr(
        "flatten(transform(ds, (x, i) -> " +
          "transform(slice(ds, i + 2, size(ds)), y -> struct(x AS d1, y AS d2))))"))
        .as("p"))
      .groupBy($"p.d1".as("doc1"), $"p.d2".as("doc2"))
      .agg(count(lit(1)).as("inter"))
    pairs
      .join(sizes.select($"doc_id".as("doc1"), $"n".as("n1")), "doc1")
      .join(sizes.select($"doc_id".as("doc2"), $"n".as("n2")), "doc2")
      .withColumn("jaccard", $"inter" / ($"n1" + $"n2" - $"inter"))
      .filter($"jaccard" >= minJaccard)
      .select($"doc1", $"doc2", $"inter", $"jaccard")
      .orderBy($"doc1", $"doc2")
  }

  /** Exact n-gram Jaccard similarity via an inverted shingle index —
    * oracle-checkable: intersection counts are exact integers, so the
    * final double division is engine-identical.
    */
  val q43NgramJaccard: Q = (s, dir) => {
    implicit val sp: SparkSession = s
    ngramJaccardPairs(T.documents(s, dir), 0.2, StopShingleDfCap)
  }

  val q43Sql: String =
    s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |tri0 AS (SELECT DISTINCT doc_id,
      |          UNNEST(list_transform(range(1, len(ws) - 1),
      |            i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS tg
      |        FROM w),
      |kept AS (SELECT tg FROM tri0 GROUP BY tg
      |         HAVING COUNT(*) <= $StopShingleDfCap),
      |tri AS (SELECT tri0.doc_id, tri0.tg FROM tri0 JOIN kept USING (tg)),
      |sizes AS (SELECT doc_id, COUNT(*) AS n FROM tri GROUP BY doc_id),
      |pairs AS (SELECT a.doc_id AS doc1, b.doc_id AS doc2, COUNT(*) AS inter
      |          FROM tri a JOIN tri b ON a.tg = b.tg AND a.doc_id < b.doc_id
      |          GROUP BY 1, 2)
      |SELECT doc1, doc2, inter,
      |  inter / (n1.n + n2.n - inter) AS jaccard
      |FROM pairs JOIN sizes n1 ON pairs.doc1 = n1.doc_id
      |           JOIN sizes n2 ON pairs.doc2 = n2.doc_id
      |WHERE inter / (n1.n + n2.n - inter) >= 0.2
      |ORDER BY doc1, doc2""".stripMargin

  /** q101 — dedup CLUSTERS: near-dup pairs chain transitively (A≈B,
    * B≈C ⇒ {A,B,C} is one duplicate group even when A,C never paired),
    * so curation keeps one representative per CONNECTED COMPONENT of
    * the pair graph, not per pair. This runs the full q41 pipeline and
    * then [[graft.operators.ConnectedComponents]] (min-label
    * propagation + path halving, O(log n) rounds); the oracle recomputes
    * the pairs the exact all-pairs way and resolves components with a
    * recursive reachability CTE — so the gate checks detection AND
    * cluster formation end-to-end.
    */
  val q101DupClusters: Q = (s, dir) => {
    import s.implicits._
    val pairs = verifiedPairs(s, dir)
      .select($"doc1", $"doc2")
    graft.operators.ConnectedComponents(pairs, src = "doc1", dst = "doc2")
      .select($"id".as("doc_id"), $"comp".as("cluster_rep"),
        ($"id" === $"comp").as("is_rep"))
      .orderBy($"doc_id")
  }

  /** Shared oracle prefix: exact all-pairs near-dup detection + the
    * recursive reachability CTE resolving connected components — used
    * by both q101 (cluster listing) and q141 (cluster-aware split).
    */
  private val nearDupReachCte: String =
    s"""WITH RECURSIVE
      |w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |tri AS (SELECT DISTINCT doc_id,
      |          UNNEST(list_transform(range(1, len(ws) - 1),
      |            i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS tg
      |        FROM w),
      |sizes AS (SELECT doc_id, COUNT(*) AS n FROM tri GROUP BY doc_id),
      |inters AS (SELECT a.doc_id AS doc1, b.doc_id AS doc2, COUNT(*) AS inter
      |           FROM tri a JOIN tri b ON a.tg = b.tg AND a.doc_id < b.doc_id
      |           GROUP BY 1, 2),
      |dup AS (SELECT doc1, doc2
      |        FROM inters JOIN sizes n1 ON inters.doc1 = n1.doc_id
      |                    JOIN sizes n2 ON inters.doc2 = n2.doc_id
      |        WHERE inter / (n1.n + n2.n - inter) >= $NearDupThreshold),
      |edges AS (SELECT doc1 AS s, doc2 AS d FROM dup
      |          UNION SELECT doc2, doc1 FROM dup),
      |reach(id, r) AS (
      |  SELECT DISTINCT s, s FROM edges
      |  UNION
      |  SELECT reach.id, e.d FROM reach JOIN edges e ON reach.r = e.s)""".stripMargin

  val q101Sql: String =
    s"""$nearDupReachCte
      |SELECT id AS doc_id, MIN(r) AS cluster_rep,
      |  (id = MIN(r)) AS is_rep
      |FROM reach
      |GROUP BY id
      |ORDER BY doc_id""".stripMargin

  /** q141 — LEAKAGE-SAFE train/valid/test split: the q95 md5-bucket
    * split applied at near-dup-CLUSTER granularity instead of per doc,
    * so no near-duplicate pair can straddle train and test (the
    * benchmark-contamination failure mode q127 measures after the
    * fact, prevented structurally). Every doc inherits its cluster
    * representative's bucket; singleton docs are their own cluster.
    *
    * Scale shape: clusters come from the banded-LSH pipeline + CC (both
    * already 100 TB-shaped); the split itself is a narrow per-row md5 —
    * the only added shuffle is the left join of docs to cluster labels,
    * hash-partitioned on doc_id.
    */
  val q141ClusterSplit: Q = (s, dir) => {
    import s.implicits._
    val pairs = verifiedPairs(s, dir)
      .select($"doc1", $"doc2")
    val cc = graft.operators.ConnectedComponents(pairs, src = "doc1", dst = "doc2")
    val reps = T.documents(s, dir).select($"doc_id")
      .join(cc.select($"id".as("doc_id"), $"comp"), Seq("doc_id"), "left")
      .select($"doc_id", coalesce($"comp", $"doc_id").as("cluster_rep"))
    TextPipeline.trainSplit(reps, idCol = "cluster_rep")
      .groupBy($"split")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct($"cluster_rep").as("n_clusters"))
      .orderBy($"split")
  }

  val q141Sql: String =
    s"""$nearDupReachCte,
      |labels AS (SELECT id, MIN(r) AS rep FROM reach GROUP BY id),
      |reps AS (SELECT d.doc_id, COALESCE(l.rep, d.doc_id) AS cluster_rep
      |         FROM documents d LEFT JOIN labels l ON d.doc_id = l.id),
      |b AS (SELECT doc_id, cluster_rep,
      |        CAST('0x' || substring(md5(CAST(cluster_rep AS VARCHAR)), 1, 4)
      |          AS INTEGER) % 100 AS bucket
      |      FROM reps)
      |SELECT CASE WHEN bucket < 80 THEN 'train'
      |            WHEN bucket < 90 THEN 'valid' ELSE 'test' END AS split,
      |  COUNT(*) AS n_docs, COUNT(DISTINCT cluster_rep) AS n_clusters
      |FROM b
      |GROUP BY 1
      |ORDER BY split""".stripMargin

  /** q163 — canonical-document selection (keep-BEST, not keep-first):
    * within each near-dup cluster, keep the argmax-quality document
    * (ties to the smallest doc_id) instead of the min-id
    * representative — the curation policy real pipelines want (the
    * cleanest copy survives, not the lexicographically first). Clusters
    * come from the q101 pipeline (banded LSH → exact verify → connected
    * components); quality is the q47 composite
    * ([[TextAnalysis.qualityOf]]) — identical IEEE arithmetic in both
    * engines, so the argmax winner matches exactly.
    *
    * Scale shape: adds ONE doc_id-keyed join (cluster labels ⋈
    * quality) and one partial-aggregated max-struct per cluster on top
    * of the already-100 TB-shaped q101 pipeline.
    */
  val q163KeepBest: Q = (s, dir) => {
    import s.implicits._
    val docs = T.documents(s, dir)
    val pairs = verifiedPairs(s, dir)
      .select($"doc1", $"doc2")
    val cc = graft.operators.ConnectedComponents(pairs, src = "doc1", dst = "doc2")
    cc.select($"id".as("doc_id"), $"comp".as("cluster_rep"))
      .join(TextAnalysis.qualityOf(docs), "doc_id")
      .groupBy($"cluster_rep")
      .agg(count(lit(1)).as("n_docs"),
        max(struct($"quality", (-$"doc_id").as("neg"))).as("best"))
      .select($"cluster_rep", $"n_docs",
        (-$"best.neg").as("keep_doc"), $"best.quality".as("keep_quality"))
      .orderBy($"cluster_rep")
  }

  val q163Sql: String =
    s"""$nearDupReachCte,
      |labels AS (SELECT id AS doc_id, MIN(r) AS cluster_rep
      |           FROM reach GROUP BY id),
      |q AS (
      |  SELECT doc_id,
      |    len(list_distinct(string_split(text, ' ')))
      |      / CAST(len(string_split(text, ' ')) AS DOUBLE) * 0.5
      |    + (1.0 - len(regexp_extract_all(text, '\\b(the|a|of|and|to)\\b'))
      |        / CAST(len(string_split(text, ' ')) AS DOUBLE)) * 0.3
      |    + CASE WHEN len(string_split(text, ' ')) BETWEEN 20 AND 200
      |           THEN 0.2 ELSE 0.0 END AS quality
      |  FROM documents),
      |j AS (SELECT l.cluster_rep, l.doc_id, q.quality
      |      FROM labels l JOIN q USING (doc_id)),
      |b AS (SELECT cluster_rep, doc_id, quality,
      |        ROW_NUMBER() OVER (PARTITION BY cluster_rep
      |          ORDER BY quality DESC, doc_id ASC) AS rn,
      |        COUNT(*) OVER (PARTITION BY cluster_rep) AS n_docs
      |      FROM j)
      |SELECT cluster_rep, n_docs, doc_id AS keep_doc, quality AS keep_quality
      |FROM b WHERE rn = 1
      |ORDER BY cluster_rep""".stripMargin

  /** Block-size guard for fuzzy matching: a blocking key shared by more
    * than this many DISTINCT values is dropped whole (content-based, so
    * the oracle mirrors it with a HAVING — same pattern as
    * [[StopShingleDfCap]]); a key that hot means the key choice is
    * wrong, not that the join should go quadratic.
    */
  val FuzzyBlockCap = 1024
  val FuzzyMaxEdit = 2

  /** q109 — fuzzy entity matching (edit-distance dedup) over the part
    * NAME DICTIONARY: near-identical names ("red bolt" / "old bolt")
    * pair when levenshtein ≤ [[FuzzyMaxEdit]] within a blocking key
    * (the name's last token).
    *
    * The scale design is dictionary-level matching: the distinct-value
    * vocabulary (64 names here, bounded by the domain — not by row
    * count) is extracted first, all pairing happens on the dictionary,
    * and per-name row counts join back at the end — at 100 TB the
    * quadratic step never touches the fact table. Within a block the
    * cheap |len| ≤ maxEdit precheck runs before levenshtein, and
    * blocks hotter than [[FuzzyBlockCap]] are dropped whole. Recall is
    * scoped to same-block pairs (the standard blocking trade-off,
    * mirrored exactly in the oracle).
    */
  val q109FuzzyMatch: Q = (s, dir) => {
    import s.implicits._
    val counts = T.part(s, dir).groupBy($"p_name")
      .agg(count(lit(1)).as("n_rows"))
    val dict = counts
      .select($"p_name", $"n_rows",
        element_at(split($"p_name", " "), -1).as("blk"),
        length($"p_name").as("len"))
    val keptBlocks = dict.groupBy($"blk").agg(count(lit(1)).as("n"))
      .filter($"n" <= FuzzyBlockCap).select($"blk")
    val kept = dict.join(broadcast(keptBlocks), "blk")
    kept.as("a").join(kept.as("b"),
        $"a.blk" === $"b.blk" && $"a.p_name" < $"b.p_name" &&
          abs($"a.len" - $"b.len") <= FuzzyMaxEdit)
      .withColumn("dist", levenshtein($"a.p_name", $"b.p_name"))
      .filter($"dist" <= FuzzyMaxEdit)
      .select($"a.p_name".as("name1"), $"b.p_name".as("name2"),
        $"dist", $"a.n_rows".as("n1"), $"b.n_rows".as("n2"))
      .orderBy($"name1", $"name2")
  }

  val q109Sql: String =
    s"""WITH counts AS (
      |  SELECT p_name, COUNT(*) AS n_rows FROM part GROUP BY p_name),
      |dict AS (
      |  SELECT p_name, n_rows, string_split(p_name, ' ')[-1] AS blk,
      |    length(p_name) AS len
      |  FROM counts),
      |keptb AS (SELECT blk FROM dict GROUP BY blk
      |          HAVING COUNT(*) <= $FuzzyBlockCap),
      |kept AS (SELECT dict.* FROM dict JOIN keptb USING (blk))
      |SELECT a.p_name AS name1, b.p_name AS name2,
      |  levenshtein(a.p_name, b.p_name) AS dist,
      |  a.n_rows AS n1, b.n_rows AS n2
      |FROM kept a JOIN kept b
      |  ON a.blk = b.blk AND a.p_name < b.p_name
      |  AND abs(a.len - b.len) <= $FuzzyMaxEdit
      |WHERE levenshtein(a.p_name, b.p_name) <= $FuzzyMaxEdit
      |ORDER BY name1, name2""".stripMargin

  /** q361 — COMPLETE-recall edit-distance-1 join via DELETION
    * NEIGHBORHOODS (FastSS, Bocek et al. 2007): q109 blocks on the
    * last token — the standard trade-off that SCOPES recall to
    * same-block pairs; this is the exact-recall spelling at k = 1:
    * every pair with ed ≤ 1 shares an element of {s} ∪ D₁(s) (equal
    * strings share s; a substitution shares the deletion at that
    * position; an insertion's shorter string IS a deletion of the
    * longer), so the neighborhood equi-join is a COMPLETE candidate
    * generator and one levenshtein verify removes the false
    * candidates D₁∩D₁ admits (e.g. "ax"/"xa" share "a"+"x" deletions
    * at distance 2). Customer names differ in single digits, so the
    * fixture has real mass at distance 1.
    *
    * Scale shape: the explode is |rows|·(len+1) constant-factor
    * blow-up with CONSTANT-width keys; bucket population is bounded
    * by alphabet+1 per (position, residual) — no quadratic anywhere
    * on the Spark side; candidate pairs dedupe BEFORE the verify so
    * levenshtein runs once per pair. The oracle is the quadratic
    * join the neighborhood join replaces.
    */
  val q361DeletionJoin: Q = (s, dir) => {
    import s.implicits._
    // r17 optimization (guide §2.3/§2.4 + §6): customer.parquet is one
    // ~300 KB file → ONE scan task, and the original spelling ran the
    // explode, the candidate join AND the levenshtein verify inside
    // that single task (measured 9.4 s with 31 idle cores). Repartition
    // the 15 k names across the session's cores before the explode
    // (scale-adaptive: defaultParallelism, not a constant), and shuffle
    // only the narrow (custkey, k) rows — the candidate distinct now
    // dedupes 16-byte id pairs instead of pairs carrying both names;
    // names re-attach via two joins before the verify.
    // Result-identical: same candidate universe, same verify, same
    // output columns and order. Measured 9.37 s → ~1.5 s isolated.
    // r18 (advice): the name re-attach joins are no longer FORCED
    // broadcasts — customer scales with SF, so the hint would explode
    // at 100 TB; checkpointResetStats gives the planner the MEASURED
    // size and it broadcasts exactly while the table truly fits.
    val names = org.apache.spark.sql.graftbridge.PlanBridge
      .checkpointResetStats(
        T.customer(s, dir).select($"c_custkey", $"c_name")
          .repartition(s.sparkContext.defaultParallelism))
      // read 3× (two key sides + name re-attach)
    val keys = names.select($"c_custkey",
      explode(expr(
        """array_distinct(concat(array(c_name),
          |  transform(sequence(1, length(c_name)),
          |    i -> concat(substr(c_name, 1, i - 1),
          |                substr(c_name, i + 1, length(c_name))))))"""
          .stripMargin)).as("k"))
    val cand = keys.as("a").join(keys.as("b"),
        $"a.k" === $"b.k" && $"a.c_custkey" < $"b.c_custkey")
      .select($"a.c_custkey".as("cust1"), $"b.c_custkey".as("cust2"))
      .distinct()
    cand
      .join(names.select($"c_custkey".as("cust1"),
        $"c_name".as("n1")), "cust1")
      .join(names.select($"c_custkey".as("cust2"),
        $"c_name".as("n2")), "cust2")
      .withColumn("dist", levenshtein($"n1", $"n2").cast("long"))
      .filter($"dist" <= 1L)
      .select($"cust1", $"cust2", $"dist")
      .orderBy($"cust1", $"cust2")
  }

  val q361Sql: String =
    """SELECT a.c_custkey AS cust1, b.c_custkey AS cust2,
      |  CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS dist
      |FROM customer a JOIN customer b
      |  ON a.c_custkey < b.c_custkey
      |  AND abs(length(a.c_name) - length(b.c_name)) <= 1
      |WHERE levenshtein(a.c_name, b.c_name) <= 1
      |ORDER BY cust1, cust2""".stripMargin

  /** q197 — Jaro-Winkler fuzzy pairing through the custom codegen
    * expression ([[graft.functions.JaroWinkler]]): brand-blocked part
    * pairs whose names score ≥ 0.93. The POINT of the row is the
    * expression itself — its semantics mirror DuckDB's vendored
    * RapidFuzz float-op-for-float-op, so the oracle hash compare
    * checks the raw DOUBLE similarity bit-for-bit across engines on
    * every surviving pair (no quantization crutch), something no
    * builtin-only query can claim. q109 is the levenshtein cousin with
    * dictionary-level matching; here the join stays row-level so the
    * expression runs inside whole-stage codegen on the joined stream.
    *
    * Scale shape: p_brand blocks the self-join (bounded pairs per
    * block); at corpus scale the q109 dictionary discipline applies
    * unchanged — score the distinct-name dictionary, join counts back.
    */
  val q197JaroPairs: Q = (s, dir) => {
    import s.implicits._
    // r17 optimization: part is a 1-task scan and the broadcast join
    // ran every brand-block pair's Jaro-Winkler in that one task.
    // Spreading the probe side across the cores parallelizes the
    // codegen'd expression. Same pairs, same doubles. Isolated
    // 4.36 s → ~0.7 s. r18 (advice): the build side is no longer a
    // FORCED broadcast — part scales with SF; checkpointResetStats
    // hands the planner the measured size so it broadcasts only while
    // the table truly fits and demotes to a shuffle join past that.
    val p = org.apache.spark.sql.graftbridge.PlanBridge
      .checkpointResetStats(
        T.part(s, dir).select($"p_partkey", $"p_brand", $"p_name"))
    p.repartition(s.sparkContext.defaultParallelism).as("a")
      .join(p.as("b"),
        $"a.p_brand" === $"b.p_brand" && $"a.p_partkey" < $"b.p_partkey")
      .withColumn("jw",
        graft.functions.TextFunctions.jaroWinkler($"a.p_name", $"b.p_name"))
      .filter($"jw" >= 0.93)
      .select($"a.p_partkey".as("p1"), $"b.p_partkey".as("p2"), $"jw")
      .orderBy($"p1", $"p2")
  }

  val q197Sql: String =
    """SELECT a.p_partkey AS p1, b.p_partkey AS p2,
      |  jaro_winkler_similarity(a.p_name, b.p_name) AS jw
      |FROM part a JOIN part b
      |  ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
      |WHERE jaro_winkler_similarity(a.p_name, b.p_name) >= 0.93
      |ORDER BY p1, p2""".stripMargin

  /** Decontamination n-gram width and the benchmark slice. Real
    * pipelines screen on 8-13-gram overlap; the fixture's ~40-word
    * vocabulary makes 5 the width where true cross-document overlap
    * exists without drowning in coincidence.
    */
  val DecontamNGram = 5
  val DecontamBenchmarkIds = 20L

  /** q127 — benchmark decontamination: flag every corpus document
    * sharing a [[DecontamNGram]]-gram with the held-out benchmark set
    * (docs 0..19 stand in for an eval suite) — the screen a training
    * corpus runs so test data never leaks into training data.
    *
    * Scale shape: the benchmark side is CONSTANT-size (an eval suite
    * doesn't grow with the corpus), so its distinct n-gram set is the
    * one justified broadcast; the corpus side streams — per-doc n-gram
    * explode, broadcast-semi-join, one keyed count. No corpus-side
    * pairing, no shuffle wider than doc_id.
    */
  val q127Decontaminate: Q = (s, dir) => {
    import s.implicits._
    val n = DecontamNGram
    val grams = when(size($"toks") >= n, expr(
      s"""transform(sequence(1, size(toks) - ${n - 1}),
         |  i -> concat_ws(' ', slice(toks, i, $n)))""".stripMargin))
      .otherwise(typedlit(Seq.empty[String]))
    val docs = T.documents(s, dir)
      .withColumn("toks", split($"text", " "))
      .withColumn("grams", grams)
    val bench = docs.filter($"doc_id" < DecontamBenchmarkIds)
      .select(explode($"grams").as("g")).distinct()
    val shared = docs.filter($"doc_id" >= DecontamBenchmarkIds)
      .select($"doc_id", explode($"grams").as("g"))
      .join(broadcast(bench), "g")
      .groupBy($"doc_id").agg(countDistinct($"g").as("n_shared"))
    docs.filter($"doc_id" >= DecontamBenchmarkIds).select($"doc_id")
      .join(shared, Seq("doc_id"), "left")
      .withColumn("n_shared", coalesce($"n_shared", lit(0L)))
      .withColumn("contaminated", $"n_shared" > 0L)
      .orderBy($"doc_id")
  }

  val q127Sql: String = {
    val parts = (0 until DecontamNGram)
      .map(j => s"toks[i + $j]").mkString(" || ' ' || ")
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
       |  FROM documents),
       |g AS (SELECT doc_id, unnest(
       |  CASE WHEN len(toks) >= $DecontamNGram THEN list_transform(
       |    generate_series(1, len(toks) - ${DecontamNGram - 1}),
       |    i -> $parts) ELSE [] END) AS g FROM t),
       |b AS (SELECT DISTINCT g FROM g WHERE doc_id < $DecontamBenchmarkIds),
       |sh AS (SELECT doc_id, COUNT(DISTINCT c.g) AS n
       |  FROM (SELECT doc_id, g FROM g
       |        WHERE doc_id >= $DecontamBenchmarkIds) c
       |  JOIN b USING (g) GROUP BY doc_id)
       |SELECT d.doc_id, CAST(COALESCE(sh.n, 0) AS BIGINT) AS n_shared,
       |  COALESCE(sh.n, 0) > 0 AS contaminated
       |FROM (SELECT doc_id FROM documents
       |      WHERE doc_id >= $DecontamBenchmarkIds) d
       |LEFT JOIN sh USING (doc_id)
       |ORDER BY doc_id""".stripMargin
  }

  /** Prefix length for the incremental-ingest fingerprint: full-text
    * md5 has zero collisions in the fixture at sf0.01, so the key is a
    * head-prefix hash (the URL/title-prefix dedup a crawler ingest
    * actually runs) — collision pressure exists at every scale factor.
    */
  val IngestPrefixLen = 40

  /** q131 — incremental corpus ingest, the daily-batch form of q40:
    * dedup the NEW batch (odd doc_ids) against the HISTORICAL corpus
    * (even doc_ids) and against itself, classifying every batch doc as
    * `ingest`, `skip_existing` (fingerprint already in the corpus), or
    * `skip_batch_dup` (an earlier batch doc owns the fingerprint).
    *
    * Scale shape: historical side reduces to its DISTINCT fingerprint
    * set before any join (corpus rows never replay); the batch joins it
    * on the 32-byte hash (left join — AQE picks broadcast only if the
    * historical set is genuinely small) and within-batch ownership is
    * one keyed window. This is q102's upsert discipline applied to
    * content identity instead of a key column.
    */
  val q131IncrementalIngest: Q = (s, dir) => {
    import s.implicits._
    val fp = md5(substring($"text", 1, IngestPrefixLen))
    val docs = T.documents(s, dir)
    val existing = docs.filter($"doc_id" % 2 === 0)
      .select(fp.as("h")).distinct()
      .withColumn("in_corpus", lit(1))
    val batch = docs.filter($"doc_id" % 2 === 1)
      .select($"doc_id", fp.as("h"))
    val wOwn = org.apache.spark.sql.expressions.Window
      .partitionBy($"h").orderBy($"doc_id")
    batch
      .withColumn("rk", row_number().over(wOwn))
      .join(existing, Seq("h"), "left")
      .select($"doc_id", $"h",
        when($"in_corpus".isNotNull, "skip_existing")
          .when($"rk" > 1, "skip_batch_dup")
          .otherwise("ingest").as("action"))
      .orderBy($"doc_id")
  }

  val q131Sql: String =
    s"""WITH b AS (SELECT doc_id, md5(substr(text, 1, $IngestPrefixLen)) AS h
       |  FROM documents WHERE doc_id % 2 = 1),
       |ex AS (SELECT DISTINCT md5(substr(text, 1, $IngestPrefixLen)) AS h
       |  FROM documents WHERE doc_id % 2 = 0),
       |r AS (SELECT doc_id, h,
       |  row_number() OVER (PARTITION BY h ORDER BY doc_id) AS rk FROM b)
       |SELECT r.doc_id, r.h,
       |  CASE WHEN ex.h IS NOT NULL THEN 'skip_existing'
       |       WHEN rk > 1 THEN 'skip_batch_dup'
       |       ELSE 'ingest' END AS action
       |FROM r LEFT JOIN ex USING (h)
       |ORDER BY doc_id""".stripMargin

  /** q233 — prefix-filtering EXACT set-similarity self-join (the
    * SSJoin/PPJoin family: Chaudhuri et al. ICDE'06, Xiao et al.
    * WWW'08): the DETERMINISTIC candidate generator next to the
    * probabilistic ones (MinHash q41, SimHash q42, SRP q112).
    *
    * Prefix-filtering lemma: order every document's shingle set by one
    * global canonical order (ascending document frequency, rarest
    * first, ties by hash). If J(x,y) ≥ τ then |x∩y| ≥ ⌈τ·max(|x|,|y|)⌉,
    * and two sorted sets whose first `|·| − ⌈τ·|·|⌉ + 1` elements are
    * disjoint cannot reach that overlap — so candidates = the
    * prefix×prefix equi-join, with ZERO false negatives by theorem
    * rather than by band-count tuning. Exact-Jaccard verification on
    * candidates only, as in q41.
    *
    * Scale shape: df ranking is one count aggregate joined back on the
    * 8-byte shingle hash; per-doc sort is array-local (doc-length
    * bounded); the candidate join keys on prefix tokens, which are
    * df-ASCENDING — the rarest tokens of each doc — so bucket sizes
    * are naturally small (a df-D token appears in at most D prefixes);
    * the τ·|x| ≤ |y| ≤ |x|/τ length filter prunes inside the join. No
    * per-bucket cap is admissible (it would break the exactness
    * guarantee that distinguishes this row from q41); the degenerate
    * corpus-of-identical-docs case is handled upstream by exact dedup
    * (q40), the standard PPJoin deployment order.
    *
    * τ = 0.7 (num/den = 7/10 in exact integer arithmetic:
    * ⌈7n/10⌉ = (7n+9) div 10) — the q41 threshold, so the oracle is
    * the same exact all-pairs SQL and the gate proves the prefix
    * filter loses nothing.
    */
  def prefixFilterPairs(docs: DataFrame, num: Int, den: Int)(
      implicit s: SparkSession): DataFrame = {
    import s.implicits._
    // perDoc feeds both prefix sides and both verify sides —
    // materialize it once (doc-sized compact arrays). tri is NOT
    // checkpointed deliberately: it is the exploded corpus-sized
    // frame, the narrow re-explode is cheaper than pinning the
    // library's largest intermediate (measured 2.8 s vs 2.1 s at
    // sf0.1), and at 100 TB materializing it would dominate memory.
    val tri = triShingles(docs).select($"doc_id", xxhash64($"tg").as("tgh"))
    val dfTab = tri.groupBy($"tgh").agg(count(lit(1)).as("df"))
    val perDoc = PlanBridge.checkpointResetStats(tri.join(dfTab, "tgh")
      .groupBy($"doc_id")
      .agg(sort_array(collect_list(struct($"df", $"tgh"))).as("toks"))
      .withColumn("n", size($"toks")))
    val prefix = perDoc.select($"doc_id", $"n",
      explode(expr(s"slice(toks, 1, n - (($num * n + ${den - 1}) div $den) + 1)"))
        .as("t"))
      .select($"doc_id", $"n", $"t.tgh".as("tgh"))
    val cand = prefix.as("a").join(prefix.as("b"),
        $"a.tgh" === $"b.tgh" && $"a.doc_id" < $"b.doc_id" &&
          $"a.n" * den >= $"b.n" * num && $"b.n" * den >= $"a.n" * num)
      .select($"a.doc_id".as("doc1"), $"b.doc_id".as("doc2"),
        $"a.n".as("n1"), $"b.n".as("n2"))
      .distinct()
    val arrays = perDoc.select($"doc_id",
      expr("transform(toks, x -> x.tgh)").as("th"))
    cand
      .join(arrays.select($"doc_id".as("doc1"), $"th".as("th1")), "doc1")
      .join(arrays.select($"doc_id".as("doc2"), $"th".as("th2")), "doc2")
      .withColumn("inter", size(array_intersect($"th1", $"th2")))
      .withColumn("jaccard", $"inter" / ($"n1" + $"n2" - $"inter"))
      .filter($"jaccard" >= lit(num.toDouble / den))
      .select($"doc1", $"doc2", $"inter", $"jaccard")
      .orderBy($"doc1", $"doc2")
  }


  /** q322 — exact SET-CONTAINMENT self-join (the asymmetric member of
    * the exact-similarity family; Agrawal et al. VLDB'10, the JOSIE/
    * ProbeCount probe-index shape): find (inner, outer) document pairs
    * with |inner ∩ outer| ≥ ⌈τ·|inner|⌉ over distinct word-3-grams —
    * the doc-INSIDE-doc duplication (quoted articles, boilerplate
    * wrappers, licence blocks) that RESEMBLANCE (q41/q233) structurally
    * misses: a 50-shingle doc embedded verbatim in a 500-shingle page
    * has Jaccard ≈ 0.1 but containment 1.0.
    *
    * Asymmetric prefix filter: with ANY global token order, if
    * |x∩y| ≥ ⌈τ|x|⌉ then y contains one of x's first
    * |x| − ⌈τ|x|⌉ + 1 tokens (missing all of them caps the overlap at
    * ⌈τ|x|⌉ − 1) — so candidates = probe-side PREFIX ⋈ index-side FULL
    * set, zero false negatives by theorem. Ordering by df ascending
    * makes every probe token rare: a df-D token contributes ≤ D index
    * rows, so candidate buckets stay small even though the index side
    * is the whole corpus.
    *
    * Scale shape: one df count + one join back on the 8-byte shingle
    * hash (shared spelling with q233), per-doc sort is array-local;
    * the probe side explodes ONLY prefixes (≈ (1−τ)·corpus), the index
    * side is the corpus-sized exploded frame partitioned by token hash
    * — the same single-shuffle class as the df join itself. Verify is
    * array_intersect on the two doc-bounded sorted arrays. The
    * |outer| ≥ ⌈τ|inner|⌉ length filter prunes inside the join.
    *
    * τ = 8/10 in exact integer arithmetic; `containment` is the one
    * double division, spelled identically in the oracle.
    */
  def containmentPairs(docs: DataFrame, num: Int, den: Int)(
      implicit s: SparkSession): DataFrame = {
    import s.implicits._
    val tri = triShingles(docs).select($"doc_id", xxhash64($"tg").as("tgh"))
    val dfTab = tri.groupBy($"tgh").agg(count(lit(1)).as("df"))
    val perDoc = PlanBridge.checkpointResetStats(tri.join(dfTab, "tgh")
      .groupBy($"doc_id")
      .agg(sort_array(collect_list(struct($"df", $"tgh"))).as("toks"))
      .withColumn("n", size($"toks")))
    // ceil(num*n/den) = (num*n + den-1) div den, exact.
    val probe = perDoc.select($"doc_id", $"n",
      explode(expr(s"slice(toks, 1, n - (($num * n + ${den - 1}) div $den) + 1)"))
        .as("t"))
      .select($"doc_id", $"n", $"t.tgh".as("tgh"))
    val index = perDoc.select($"doc_id", $"n",
      explode(expr("transform(toks, x -> x.tgh)")).as("tgh"))
    val cand = probe.as("a").join(index.as("b"),
        $"a.tgh" === $"b.tgh" && $"a.doc_id" =!= $"b.doc_id" &&
          $"b.n" * den >= $"a.n" * num)
      .select($"a.doc_id".as("inner_doc"), $"b.doc_id".as("outer_doc"),
        $"a.n".as("n_inner"))
      .distinct()
    val arrays = perDoc.select($"doc_id",
      expr("transform(toks, x -> x.tgh)").as("th"))
    cand
      .join(arrays.select($"doc_id".as("inner_doc"), $"th".as("th1")), "inner_doc")
      .join(arrays.select($"doc_id".as("outer_doc"), $"th".as("th2")), "outer_doc")
      .withColumn("inter", size(array_intersect($"th1", $"th2")))
      .filter($"inter" * den >= $"n_inner" * num)
      .withColumn("containment", $"inter" / $"n_inner")
      .select($"inner_doc", $"outer_doc", $"inter", $"containment")
      .orderBy($"inner_doc", $"outer_doc")
  }

  val q322ContainmentJoin: Q = (s, dir) => {
    implicit val sp: SparkSession = s
    containmentPairs(T.documents(s, dir), 8, 10)
  }

  /** Exact all-pairs containment recompute — the prefix+index probe
    * must find every pair the quadratic join finds. */
  val q322Sql: String =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |tri AS (SELECT DISTINCT doc_id,
      |          UNNEST(list_transform(range(1, len(ws) - 1),
      |            i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS tg
      |        FROM w),
      |sizes AS (SELECT doc_id, COUNT(*) AS n FROM tri GROUP BY doc_id),
      |pairs AS (SELECT a.doc_id AS inner_doc, b.doc_id AS outer_doc,
      |            COUNT(*) AS inter
      |          FROM tri a JOIN tri b ON a.tg = b.tg AND a.doc_id <> b.doc_id
      |          GROUP BY 1, 2)
      |SELECT inner_doc, outer_doc, inter,
      |  inter / n1.n AS containment
      |FROM pairs JOIN sizes n1 ON pairs.inner_doc = n1.doc_id
      |WHERE inter * 10 >= n1.n * 8
      |ORDER BY inner_doc, outer_doc""".stripMargin


  /** q344 — near-dup EXPLANATION: for every q41-verified pair, the
    * longest run of CONSECUTIVE doc1 positions whose 3-gram also
    * occurs in doc2 (L consecutive trigram hits span L+2 shared
    * tokens) — the evidence a human reviewer or a surgical-dedup
    * policy (q238 cuts boilerplate; this LOCATES it per pair) needs
    * beyond a bare Jaccard number. Pure integer gaps-and-islands:
    * matched positions → run id = pos − row_number → max island.
    *
    * Scale shape: everything downstream of the candidate set is
    * PAIR-BOUNDED (the q41 verify discipline): positional trigrams
    * explode only for docs appearing in pairs (left-semi pruned), the
    * membership check is one equi-join on (doc2, trigram), islands
    * are a window over matched positions per pair.
    */
  val q344DupSpansExplain: Q = (s, dir) => {
    implicit val sp: SparkSession = s
    import s.implicits._
    val docs = T.documents(s, dir)
    val pairs = PlanBridge.checkpointResetStats(verifiedPairs(s, dir)
      .select($"doc1", $"doc2"))
    val posTg = docs
      .join(pairs.select($"doc1".as("doc_id")).distinct(), Seq("doc_id"),
        "left_semi")
      .select($"doc_id", split($"text", " ").as("ws")) // hoisted: q126 trap
      .select($"doc_id", posexplode(expr(
        """IF(size(ws) >= 3,
          |  transform(sequence(0, size(ws) - 3),
          |    i -> concat_ws(' ', ws[i], ws[i+1], ws[i+2])),
          |  array())""".stripMargin)).as(Seq("pos", "tg")))
    val tri2 = triShingles(docs)
      .join(pairs.select($"doc2".as("doc_id")).distinct(), Seq("doc_id"),
        "left_semi")
      .select($"doc_id".as("doc2"), $"tg")
    val matched = pairs
      .join(posTg.withColumnRenamed("doc_id", "doc1"), "doc1")
      .join(tri2, Seq("doc2", "tg"))
      .select($"doc1", $"doc2", $"pos")
    val wRun = org.apache.spark.sql.expressions.Window
      .partitionBy($"doc1", $"doc2").orderBy($"pos")
    matched
      .withColumn("run_id", $"pos" - row_number().over(wRun))
      .groupBy($"doc1", $"doc2", $"run_id")
      .agg(count(lit(1)).as("run_len"))
      .groupBy($"doc1", $"doc2")
      .agg(max($"run_len").as("longest_run"))
      .withColumn("span_tokens", $"longest_run" + 2)
      .orderBy($"doc1", $"doc2")
  }

  /** The oracle replays q41's exact pair set, then the same
    * gaps-and-islands over matched positions. */
  val q344Sql: String =
    s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       |tri AS (SELECT DISTINCT doc_id,
       |          UNNEST(list_transform(range(1, len(ws) - 1),
       |            i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS tg
       |        FROM w),
       |sizes AS (SELECT doc_id, COUNT(*) AS n FROM tri GROUP BY doc_id),
       |pr AS (SELECT a.doc_id AS doc1, b.doc_id AS doc2, COUNT(*) AS inter
       |       FROM tri a JOIN tri b ON a.tg = b.tg AND a.doc_id < b.doc_id
       |       GROUP BY 1, 2),
       |pairs AS (
       |  SELECT doc1, doc2 FROM pr
       |  JOIN sizes n1 ON pr.doc1 = n1.doc_id
       |  JOIN sizes n2 ON pr.doc2 = n2.doc_id
       |  WHERE inter / (n1.n + n2.n - inter) >= $NearDupThreshold),
       |pos1 AS (
       |  SELECT doc_id, g.i - 1 AS pos,
       |    ws[g.i] || ' ' || ws[g.i+1] || ' ' || ws[g.i+2] AS tg
       |  FROM w, LATERAL (SELECT UNNEST(range(1, len(ws) - 1)) AS i) g),
       |matched AS (
       |  SELECT p.doc1, p.doc2, s1.pos
       |  FROM pairs p
       |  JOIN pos1 s1 ON s1.doc_id = p.doc1
       |  JOIN tri t2 ON t2.doc_id = p.doc2 AND t2.tg = s1.tg),
       |runs AS (
       |  SELECT doc1, doc2,
       |    pos - ROW_NUMBER() OVER (PARTITION BY doc1, doc2 ORDER BY pos)
       |      AS run_id
       |  FROM matched),
       |rl AS (
       |  SELECT doc1, doc2, COUNT(*) AS run_len
       |  FROM runs GROUP BY doc1, doc2, run_id)
       |SELECT doc1, doc2, CAST(MAX(run_len) AS BIGINT) AS longest_run,
       |  CAST(MAX(run_len) + 2 AS BIGINT) AS span_tokens
       |FROM rl GROUP BY doc1, doc2
       |ORDER BY doc1, doc2""".stripMargin



  /** q348 — TRUE token-level LCS per q41-verified pair: q344's
    * longest consecutive run under-reports REORDERED duplication (a
    * paragraph swap breaks the run but not the shared content); the
    * longest common subsequence is the order-preserving-but-gap-
    * tolerant measure that survives it, and LCS ≥ run+2 tokens always
    * (a run IS a common subsequence), so the two rows bracket the
    * pair's shared-content shape. Classic O(n·m) rolling-row DP —
    * genuinely sequential in both dimensions, so it runs as a typed
    * per-row map (the documented last-resort tier) on the
    * PAIR-BOUNDED frame: |verified pairs| rows × (tokens² ints),
    * never a corpus-scale operation. The oracle replays the pair set
    * and the SAME DP as a DuckDB recursive CTE whose accumulator is
    * the dp row (list_reduce builds each next row) — integer-exact on
    * both engines, no tolerance.
    */
  val q348DupLcs: Q = (s, dir) => {
    implicit val sp: SparkSession = s
    import s.implicits._
    val docs = T.documents(s, dir)
    val pairs = PlanBridge.checkpointResetStats(verifiedPairs(s, dir)
      .select($"doc1", $"doc2"))
    val toks = docs.select($"doc_id", split($"text", " ").as("ws"))
    pairs
      .join(toks.select($"doc_id".as("doc1"), $"ws".as("ws1")), "doc1")
      .join(toks.select($"doc_id".as("doc2"), $"ws".as("ws2")), "doc2")
      .select($"doc1", $"doc2", $"ws1", $"ws2")
      .as[(Long, Long, Seq[String], Seq[String])]
      .map { case (d1, d2, a, b) => (d1, d2, lcsTokens(a, b)) }
      .toDF("doc1", "doc2", "lcs_tokens")
      .orderBy($"doc1", $"doc2")
  }

  /** Rolling-row LCS DP — O(n·m) time, O(m) space. */
  def lcsTokens(a: Seq[String], b: Seq[String]): Long = {
    val m = b.length
    var prev = new Array[Int](m + 1)
    var cur = new Array[Int](m + 1)
    val bArr = b.toArray
    a.foreach { ai =>
      var j = 0
      while (j < m) {
        val diag = prev(j) + (if (ai == bArr(j)) 1 else 0)
        cur(j + 1) = math.max(math.max(prev(j + 1), cur(j)), diag)
        j += 1
      }
      val t = prev; prev = cur; cur = t
      java.util.Arrays.fill(cur, 0)
    }
    prev(m).toLong
  }

  /** Oracle: q41's exact pair replay, then the row-by-row LCS DP as a
    * recursive CTE — list_reduce over [[0],[1],…,[m]] threads the
    * partial next row as the accumulator (DuckDB 1.0's list_reduce
    * takes no initial value, so the first singleton list [0] seeds
    * it), with row[j+1]=old dp[j], acc[j]=new dp[j−1], row[j]=old
    * dp[j−1] spelling the classic recurrence.
    */
  val q348Sql: String =
    s"""WITH RECURSIVE
       |w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       |tri AS (SELECT DISTINCT doc_id,
       |          UNNEST(list_transform(range(1, len(ws) - 1),
       |            i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS tg
       |        FROM w),
       |sizes AS (SELECT doc_id, COUNT(*) AS n FROM tri GROUP BY doc_id),
       |pr AS (SELECT a.doc_id AS doc1, b.doc_id AS doc2, COUNT(*) AS inter
       |       FROM tri a JOIN tri b ON a.tg = b.tg AND a.doc_id < b.doc_id
       |       GROUP BY 1, 2),
       |pairs AS (
       |  SELECT doc1, doc2 FROM pr
       |  JOIN sizes n1 ON pr.doc1 = n1.doc_id
       |  JOIN sizes n2 ON pr.doc2 = n2.doc_id
       |  WHERE inter / (n1.n + n2.n - inter) >= $NearDupThreshold),
       |pt AS (
       |  SELECT p.doc1, p.doc2, w1.ws AS t1, w2.ws AS t2
       |  FROM pairs p
       |  JOIN w w1 ON w1.doc_id = p.doc1
       |  JOIN w w2 ON w2.doc_id = p.doc2),
       |dp AS (
       |  SELECT doc1, doc2, 0 AS i,
       |    list_transform(range(0, len(t2) + 1), x -> CAST(0 AS BIGINT))
       |      AS row, t1, t2
       |  FROM pt
       |  UNION ALL
       |  SELECT doc1, doc2, i + 1,
       |    list_reduce(
       |      list_prepend([CAST(0 AS BIGINT)],
       |        list_transform(range(1, len(t2) + 1), j -> [j])),
       |      (acc, x) -> list_append(acc,
       |        greatest(row[x[1] + 1], acc[x[1]],
       |          row[x[1]] + CASE WHEN t1[i + 1] = t2[x[1]] THEN 1
       |                           ELSE 0 END))),
       |    t1, t2
       |  FROM dp WHERE i < len(t1))
       |SELECT doc1, doc2, CAST(row[len(t2) + 1] AS BIGINT) AS lcs_tokens
       |FROM dp WHERE i = len(t1)
       |ORDER BY doc1, doc2""".stripMargin

  /** q448 — SMITH–WATERMAN local alignment score per q41-verified
    * pair (Smith & Waterman 1981): the LOCAL-similarity member next
    * to q348's global LCS — LCS counts every scattered common token,
    * SW finds the best CONTIGUOUS-ish shared region (gaps and
    * mismatches PAY: match +2, mismatch −1, gap −1, floor at 0), so a
    * pair whose overlap is one long copied block outscores a pair
    * with the same token multiset sprinkled throughout. Exact integer
    * DP per pair (rolling rows, O(min) space); the oracle replays the
    * identical recurrence as a DuckDB recursive CTE threading
    * [best, H₀..Hₘ] per row (the q348 list-accumulator idiom, with
    * the running max carried at list head).
    *
    * Scale shape: pair-bounded (q41's verified output); per-pair cost
    * n·m on token counts the fixture bounds — at 100 TB the SAME
    * candidates-then-verify shape holds, with SW as the verify.
    */
  val SwMatch = 2L
  val SwMismatch = -1L
  val SwGap = -1L

  def swTokens(a: Seq[String], b: Seq[String]): Long = {
    val m = b.length
    var prev = new Array[Long](m + 1)
    var cur = new Array[Long](m + 1)
    val bArr = b.toArray
    var best = 0L
    a.foreach { ai =>
      var j = 0
      while (j < m) {
        val sc = if (ai == bArr(j)) SwMatch else SwMismatch
        val v = math.max(0L, math.max(prev(j) + sc,
          math.max(prev(j + 1) + SwGap, cur(j) + SwGap)))
        cur(j + 1) = v
        if (v > best) best = v
        j += 1
      }
      val t = prev; prev = cur; cur = t
      java.util.Arrays.fill(cur, 0L)
    }
    best
  }

  val q448SmithWaterman: Q = (s, dir) => {
    implicit val sp: SparkSession = s
    import s.implicits._
    val docs = T.documents(s, dir)
    val pairs = PlanBridge.checkpointResetStats(verifiedPairs(s, dir)
      .select($"doc1", $"doc2"))
    val toks = docs.select($"doc_id", split($"text", " ").as("ws"))
    pairs
      .join(toks.select($"doc_id".as("doc1"), $"ws".as("ws1")), "doc1")
      .join(toks.select($"doc_id".as("doc2"), $"ws".as("ws2")), "doc2")
      .select($"doc1", $"doc2", $"ws1", $"ws2")
      .as[(Long, Long, Seq[String], Seq[String])]
      .map { case (d1, d2, a, b) => (d1, d2, swTokens(a, b)) }
      .toDF("doc1", "doc2", "sw_score")
      .orderBy($"doc1", $"doc2")
  }

  val q448Sql: String = {
    // the new-H row fold, inlined twice below (lambdas bind no
    // intermediates; identical expression → identical values)
    val fold =
      """list_reduce(
        |      list_prepend([CAST(0 AS BIGINT)],
        |        list_transform(range(1, len(t2) + 1), j -> [j])),
        |      (acc, x) -> list_append(acc,
        |        greatest(CAST(0 AS BIGINT),
        |          row[x[1] + 1] + CASE WHEN t1[i + 1] = t2[x[1]]
        |                               THEN 2 ELSE -1 END,
        |          row[x[1] + 2] - 1,
        |          acc[x[1]] - 1)))""".stripMargin
    val prefix = q348Sql.substring(0, q348Sql.indexOf("dp AS ("))
    s"""${prefix}dp AS (
       |  SELECT doc1, doc2, 0 AS i,
       |    list_transform(range(0, len(t2) + 2), x -> CAST(0 AS BIGINT))
       |      AS row, t1, t2
       |  FROM pt
       |  UNION ALL
       |  SELECT doc1, doc2, i + 1,
       |    list_prepend(
       |      greatest(row[1], list_max($fold)),
       |      $fold),
       |    t1, t2
       |  FROM dp WHERE i < len(t1))
       |SELECT doc1, doc2, CAST(row[1] AS BIGINT) AS sw_score
       |FROM dp WHERE i = len(t1)
       |ORDER BY doc1, doc2""".stripMargin
  }

  /** q392 — WEIGHTED (multiset/Ruzicka) Jaccard per q41-verified
    * pair: binary Jaccard (q41/q43) treats "token appears 1× vs 40×"
    * identically, so a doc that pads one shared boilerplate line with
    * fresh content scores the same as a true copy; the multiset form
    * Σmin(c₁,c₂)/Σmax(c₁,c₂) reads REPETITION MASS and is the measure
    * weighted-MinHash sketches estimate — here computed exactly on
    * the pair-bounded frame. Integer counts end to end, one
    * micro-quantized division per pair.
    *
    * Scale shape: the pair frame is q41's verified output (bounded);
    * each pair's token census meets in ONE (pair, tok) full-outer
    * equi-join — no quadratic token work outside the pair set.
    */
  /** Per-doc token census (doc_id, tok, c) — the weight vector both
    * the exact weighted Jaccard (q392) and the CWS sketches (q438)
    * read.
    */
  def tokenCensus(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    docs
      .select($"doc_id", explode(split($"text", " ")).as("tok"))
      .filter($"tok" =!= "")
      .groupBy($"doc_id", $"tok").agg(count(lit(1)).as("c"))
  }

  /** The exact weighted-Jaccard frame over the q41-verified pairs:
    * (doc1, doc2, n_union_toks, wjaccard_micro) — q392's body, shared
    * with q438's lossless-at-τ gate.
    */
  def weightedJaccardPairs(s: SparkSession, dir: String): DataFrame =
    s.table(graft.core.IndexStore.ensure(s, "wjpairs", dir)(
      weightedJaccardPairsBuild(s, dir)))

  /** The uncached q392 body — r17: built once per (JVM, dir) and
    * served from [[graft.core.IndexStore]]; q392 and q438 both
    * consume the exact frame and each paid the full token-census
    * full-outer join (~2 s apiece at sf0.1).
    */
  private def weightedJaccardPairsBuild(s: SparkSession, dir: String)
      : DataFrame = {
    import s.implicits._
    val docs = T.documents(s, dir)
    val pairs = PlanBridge.checkpointResetStats(verifiedPairs(s, dir)
      .select($"doc1", $"doc2"))
    val tc = tokenCensus(docs)
    val t1 = pairs.join(tc.select($"doc_id".as("doc1"), $"tok",
      $"c".as("c1")), "doc1")
    val t2 = pairs.join(tc.select($"doc_id".as("doc2"), $"tok",
      $"c".as("c2")), "doc2")
    t1.join(t2, Seq("doc1", "doc2", "tok"), "full_outer")
      .na.fill(0L, Seq("c1", "c2"))
      .groupBy($"doc1", $"doc2")
      .agg(count(lit(1)).as("n_union_toks"),
        sum(least($"c1", $"c2")).as("s_min"),
        sum(greatest($"c1", $"c2")).as("s_max"))
      .select($"doc1", $"doc2", $"n_union_toks",
        expr("""CAST(FLOOR(1000000.0 * (CAST(s_min AS DOUBLE)
               |  / CAST(s_max AS DOUBLE))) AS BIGINT)""".stripMargin)
          .as("wjaccard_micro"))
  }

  val q392WeightedJaccard: Q = (s, dir) =>
    weightedJaccardPairs(s, dir).orderBy(col("doc1"), col("doc2"))

  val q392Sql: String =
    s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
       |           FROM documents),
       |tri AS (SELECT DISTINCT doc_id,
       |          UNNEST(list_transform(range(1, len(ws) - 1),
       |            i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS tg
       |        FROM w),
       |sizes AS (SELECT doc_id, COUNT(*) AS n FROM tri GROUP BY doc_id),
       |pr AS (SELECT a.doc_id AS doc1, b.doc_id AS doc2, COUNT(*) AS inter
       |       FROM tri a JOIN tri b ON a.tg = b.tg AND a.doc_id < b.doc_id
       |       GROUP BY 1, 2),
       |pairs AS (
       |  SELECT doc1, doc2 FROM pr
       |  JOIN sizes n1 ON pr.doc1 = n1.doc_id
       |  JOIN sizes n2 ON pr.doc2 = n2.doc_id
       |  WHERE inter / (n1.n + n2.n - inter) >= $NearDupThreshold),
       |tc AS (
       |  SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS c
       |  FROM (SELECT doc_id, UNNEST(string_split(text, ' ')) AS tok
       |        FROM documents)
       |  WHERE tok <> '' GROUP BY doc_id, tok),
       |u AS (
       |  SELECT p.doc1, p.doc2, t.tok
       |  FROM pairs p JOIN tc t ON t.doc_id = p.doc1
       |  UNION
       |  SELECT p.doc1, p.doc2, t.tok
       |  FROM pairs p JOIN tc t ON t.doc_id = p.doc2),
       |cells AS (
       |  SELECT u.doc1, u.doc2, u.tok,
       |    COALESCE(a.c, 0) AS c1, COALESCE(b.c, 0) AS c2
       |  FROM u
       |  LEFT JOIN tc a ON a.doc_id = u.doc1 AND a.tok = u.tok
       |  LEFT JOIN tc b ON b.doc_id = u.doc2 AND b.tok = u.tok)
       |SELECT doc1, doc2, CAST(COUNT(*) AS BIGINT) AS n_union_toks,
       |  CAST(FLOOR(1000000.0 * (CAST(SUM(LEAST(c1, c2)) AS DOUBLE)
       |    / CAST(SUM(GREATEST(c1, c2)) AS DOUBLE))) AS BIGINT)
       |    AS wjaccard_micro
       |FROM cells GROUP BY doc1, doc2
       |ORDER BY doc1, doc2""".stripMargin

  /** q438 CWS parameters: sketch coordinates and the lossless
    * threshold. A τ=0.5 pair escapes all 16 coordinates with
    * probability (1−wJ)^16 ≤ 1.5e-5; the fixture's verified pairs sit
    * far above τ, so the gate is deterministic-TRUE with enormous
    * margin under the pinned hash seeds.
    */
  val CwsSeeds = 16
  val CwsTauMicro = 500000L

  /** Per-(seed, token, t) bucket cap — the q41 BandBucketCap
    * discipline applied to CWS buckets: the fixture's CLOSED 31-token
    * vocabulary makes popular (token, t) samples collide across
    * thousands of docs, and the uncapped self-join went quadratic
    * (measured 37 s of the sf0.1 bench in one entry; capped: 7.1 s,
    * most of which is the exact-pair VERIFY side the gate needs
    * anyway). A true pair needs BOTH ends
    * inside the cap in ≥1 of its colliding buckets — deterministic
    * under the pinned hash order, and the lossless-at-τ gate measures
    * exactly that (still 25/25 at both SFs).
    */
  val CwsBucketCap = 64

  /** Ioffe 2010 CONSISTENT WEIGHTED SAMPLING sketch: per (doc, seed)
    * the (token, t) sample whose collision probability across two
    * docs IS their weighted Jaccard — the sketch-scale candidate
    * GENERATOR for the multiset similarity q392 computes exactly.
    * All "randomness" is a pure hash of (token, seed) — shared across
    * docs, which is what makes the sampling CONSISTENT: r, c ~
    * Gamma(2,1) via −ln(u·u), β ~ U(0,1), then per token with weight
    * w: t = ⌊ln w / r + β⌋, a = c·e^(−r(t+1−β)), sample = argmin a.
    *
    * Scale shape: |tokens|×[[CwsSeeds]] narrow rows through one
    * partial-agg argmin per (doc, seed) — map-side combinable; no
    * pair work until the bucket join.
    */
  def cwsSketch(tc: DataFrame, seeds: Int = CwsSeeds): DataFrame = {
    val s = tc.sparkSession
    import s.implicits._
    val seedDf = broadcast(s.range(0, seeds)
      .select($"id".cast("int").as("seed")))
    def u(i: Int) =
      (pmod(xxhash64($"tok", $"seed", lit(i)), lit(1048576L))
        .cast("double") + 0.5) / 1048576.0
    tc.crossJoin(seedDf)
      .withColumn("r", -log(u(1) * u(2)))
      .withColumn("cgam", -log(u(3) * u(4)))
      .withColumn("beta", u(5))
      .withColumn("tval",
        floor(log($"c".cast("double")) / $"r" + $"beta").cast("long"))
      .withColumn("a",
        $"cgam" * exp(-$"r" * ($"tval".cast("double") + 1.0 - $"beta")))
      .groupBy($"doc_id", $"seed")
      .agg(min(struct($"a", $"tok", $"tval")).as("smp"))
      .select($"doc_id", $"seed", $"smp.tok".as("tok"),
        $"smp.tval".as("tval"))
  }

  /** q438 — WEIGHTED-MINHASH candidate generation, gated LOSSLESS at
    * τ (the q112 convention): docs sharing any CWS coordinate
    * (seed, token, t) become candidates via one bucket equi-join; the
    * gate then demands every exact pair with weighted Jaccard ≥
    * [[CwsTauMicro]] (from [[weightedJaccardPairs]] — the q41-verified
    * universe q392 already oracles) appears among the candidates.
    * This closes the r9 verdict's gap: q392 measured weighted overlap
    * exactly but had no sketch-scale generator; CWS is how the same
    * question is ASKED at 100 TB — sketches once (|tokens|·K rows),
    * buckets join on (seed, token, t), exact Ruzicka runs only on
    * collisions.
    */
  val q438CwsCandidates: Q = (s, dir) => {
    import s.implicits._
    val exact = PlanBridge.checkpointResetStats(weightedJaccardPairs(s, dir)
      .filter($"wjaccard_micro" >= CwsTauMicro)
      .select($"doc1", $"doc2"))
    val wCap = org.apache.spark.sql.expressions.Window
      .partitionBy($"seed", $"tok", $"tval")
      .orderBy(xxhash64($"doc_id"), $"doc_id")
    val sk = PlanBridge.checkpointResetStats(
      cwsSketch(tokenCensus(T.documents(s, dir)))
        .withColumn("slot", row_number().over(wCap))
        .filter($"slot" <= CwsBucketCap).drop("slot"))
    val cands = sk.as("x").join(sk.as("y"),
        $"x.seed" === $"y.seed" && $"x.tok" === $"y.tok" &&
          $"x.tval" === $"y.tval" && $"x.doc_id" < $"y.doc_id")
      .select($"x.doc_id".as("doc1"), $"y.doc_id".as("doc2"))
      .distinct()
    val missed = exact.join(cands, Seq("doc1", "doc2"), "left_anti").count()
    val nTau = exact.count()
    Seq((nTau, missed == 0L && nTau > 0L)).toDF("n_tau_pairs", "ok")
  }

  val q438Sql: String = {
    // q392's exact-pair pipeline (its CTE prefix verbatim), finished
    // as the τ-census the gate pins (candidate counts are
    // hash-internal, not oracle-derivable)
    val ctePrefix = q392Sql.substring(0,
      q392Sql.indexOf("SELECT doc1, doc2, CAST(COUNT(*)")).trim
    s"""$ctePrefix,
       |wj AS (
       |  SELECT doc1, doc2,
       |    CAST(FLOOR(1000000.0 * (CAST(SUM(LEAST(c1, c2)) AS DOUBLE)
       |      / CAST(SUM(GREATEST(c1, c2)) AS DOUBLE))) AS BIGINT)
       |      AS wjaccard_micro
       |  FROM cells GROUP BY doc1, doc2)
       |SELECT CAST(COUNT(*) AS BIGINT) AS n_tau_pairs, TRUE AS ok
       |FROM wj WHERE wjaccard_micro >= $CwsTauMicro""".stripMargin
  }

  /** q414 — SOFT dedup (duplicate DOWN-WEIGHTING instead of dropping
    * — the SoftDeDup idea: hard keep-one discards the signal that a
    * document was independently produced N times, soft dedup keeps
    * every copy at weight 1/|cluster| so the CLUSTER contributes one
    * document's worth of training mass; the q158 mixing step then
    * budgets on EFFECTIVE tokens): clusters are q41's verified
    * near-dup components, each doc contributes
    * ⌊10⁶·ntok/|cluster|⌋ effective micro-tokens (exact integer
    * division — the per-doc floor is the deterministic convention,
    * and the lost remainder is < |docs| micro-tokens per source).
    *
    * Scale shape: the q101 cluster machinery + one size agg on the
    * labels frame + one docs join + one per-source partial agg.
    */
  val q414SoftDedup: Q = (s, dir) => {
    import s.implicits._
    val pairs = verifiedPairs(s, dir)
      .select($"doc1", $"doc2")
    val cc = graft.operators.ConnectedComponents(pairs,
      src = "doc1", dst = "doc2")
    val sizes = cc.groupBy($"comp").agg(count(lit(1)).as("csize"))
    T.documents(s, dir)
      .select($"doc_id", $"source",
        size(expr("filter(split(text, ' '), t -> t <> '')")).cast("long")
          .as("ntok"))
      .join(cc.select($"id".as("doc_id"), $"comp"), Seq("doc_id"), "left")
      .join(sizes, Seq("comp"), "left")
      .na.fill(1L, Seq("csize"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"), sum($"ntok").as("tokens"),
        sum(expr("(1000000 * ntok) div csize")).as("eff_tokens_micro"))
      .orderBy($"source")
  }

  val q414Sql: String =
    s"""$nearDupReachCte,
       |labels AS (SELECT id, MIN(r) AS comp FROM reach GROUP BY id),
       |csizes AS (SELECT comp, CAST(COUNT(*) AS BIGINT) AS csize
       |           FROM labels GROUP BY comp),
       |d AS (
       |  SELECT doc_id, source,
       |    CAST(len(list_filter(string_split(text, ' '), t -> t <> ''))
       |      AS BIGINT) AS ntok
       |  FROM documents),
       |k AS (
       |  SELECT d.source, d.ntok, COALESCE(s2.csize, 1) AS csize
       |  FROM d LEFT JOIN labels l ON l.id = d.doc_id
       |  LEFT JOIN csizes s2 ON s2.comp = l.comp)
       |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(ntok) AS BIGINT) AS tokens,
       |  CAST(SUM((1000000 * ntok) // csize) AS BIGINT) AS eff_tokens_micro
       |FROM k GROUP BY source
       |ORDER BY source""".stripMargin

  /** q417 — duplicate-cluster SIZE DISTRIBUTION (the dup-structure
    * profile behind every keep-one/soft-dedup policy decision: a
    * corpus of pairs dedups very differently from one with a few
    * hundred-copy boilerplate clusters — same pair count, opposite
    * savings; q346/q414 price a policy, this row shows the structure
    * the pricing stands on): histogram of q41 verified-cluster sizes.
    *
    * Scale shape: q101 labels + one size agg + one ≤max-size-row
    * histogram reduction.
    */
  val q417ClusterSizes: Q = (s, dir) => {
    import s.implicits._
    val pairs = verifiedPairs(s, dir)
      .select($"doc1", $"doc2")
    graft.operators.ConnectedComponents(pairs, src = "doc1", dst = "doc2")
      .groupBy($"comp").agg(count(lit(1)).as("csize"))
      .groupBy($"csize").agg(count(lit(1)).as("n_clusters"))
      .orderBy($"csize")
  }

  val q417Sql: String =
    s"""$nearDupReachCte,
       |labels AS (SELECT id, MIN(r) AS comp FROM reach GROUP BY id),
       |csz AS (SELECT comp, CAST(COUNT(*) AS BIGINT) AS csize
       |        FROM labels GROUP BY comp)
       |SELECT csize, CAST(COUNT(*) AS BIGINT) AS n_clusters
       |FROM csz GROUP BY csize
       |ORDER BY csize""".stripMargin

  /** q430 — CROSS-SOURCE contamination matrix (which feeds copy from
    * which: q41's verified pairs re-keyed by the SOURCES of their
    * endpoints — the ingest-review answer "is feed X scraping feed Y,
    * or only duplicating itself?"; diagonal = within-feed redundancy,
    * off-diagonal = cross-feed copying, the one that breaks
    * source-stratified dedup assumptions): unordered source pair
    * (lexicographic) with pair counts.
    *
    * Scale shape: the q41 pipeline + two doc_id→source joins + one
    * (src_a, src_b) partial agg.
    */
  val q430SourceContamination: Q = (s, dir) => {
    import s.implicits._
    val docs = T.documents(s, dir)
    val src = docs.select($"doc_id", $"source")
    verifiedPairs(s, dir)
      .select($"doc1", $"doc2")
      .join(src.select($"doc_id".as("doc1"), $"source".as("s1")), "doc1")
      .join(src.select($"doc_id".as("doc2"), $"source".as("s2")), "doc2")
      .select(least($"s1", $"s2").as("src_a"),
        greatest($"s1", $"s2").as("src_b"))
      .groupBy($"src_a", $"src_b")
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy($"src_a", $"src_b")
  }

  val q430Sql: String =
    s"""$nearDupReachCte,
       |sp AS (
       |  SELECT least(a.source, b.source) AS src_a,
       |    greatest(a.source, b.source) AS src_b
       |  FROM dup
       |  JOIN documents a ON a.doc_id = dup.doc1
       |  JOIN documents b ON b.doc_id = dup.doc2)
       |SELECT src_a, src_b, CAST(COUNT(*) AS BIGINT) AS n_pairs
       |FROM sp GROUP BY src_a, src_b
       |ORDER BY src_a, src_b""".stripMargin

  /** q432 — dedup THRESHOLD sensitivity sweep (how the q41 knob gets
    * chosen: pair volume as a function of the Jaccard cutoff, read
    * off ONE exact trigram-intersection computation — a cliff between
    * two candidate thresholds means the corpus has a near-dup band
    * there and the policy should not sit on it): for each candidate
    * threshold (50..90% by 10), the count of doc pairs whose exact
    * trigram Jaccard clears it — cross-multiplied integer comparison
    * 100·inter ≥ t·union, no float.
    *
    * Scale shape: the pair frame is computed ONCE as an exact
    * shared-trigram equi-join over DISTINCT per-doc trigrams (the
    * oracle replay's own shape — the sweep must rank thresholds below
    * q41's operating point, which banding at that point would cut
    * off); at corpus scale the q43 stop-shingle df cap bounds the hot
    * keys exactly as it does there. The sweep itself is a
    * constant-size thresholds explode over the pair-bounded frame.
    */
  val q432ThresholdSweep: Q = (s, dir) => {
    import s.implicits._
    val docs = T.documents(s, dir)
    val tri = docs
      .withColumn("ws", split($"text", " ")) // hoisted once (q126 trap)
      .filter(size($"ws") >= 3)
      .select($"doc_id", explode(expr(
        """array_distinct(transform(sequence(0, size(ws) - 3),
          |  i -> concat_ws(' ', ws[i], ws[i+1], ws[i+2])))"""
          .stripMargin)).as("tg"))
    val sizes = tri.groupBy($"doc_id").agg(count(lit(1)).as("n"))
    val inters = tri.select($"doc_id".as("doc1"), $"tg")
      .join(tri.select($"doc_id".as("doc2"), $"tg"), "tg")
      .filter($"doc1" < $"doc2")
      .groupBy($"doc1", $"doc2").agg(count(lit(1)).as("inter"))
    // one pair frame feeds every threshold
    val pairs = PlanBridge.checkpointResetStats(inters
      .join(sizes.select($"doc_id".as("doc1"), $"n".as("n1")), "doc1")
      .join(sizes.select($"doc_id".as("doc2"), $"n".as("n2")), "doc2")
      .select($"inter", ($"n1" + $"n2" - $"inter").as("un")))
    pairs
      .withColumn("t", explode(expr("sequence(50, 90, 10)")))
      .filter($"inter" * 100L >= $"t" * $"un")
      .groupBy($"t".as("threshold_pct"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy($"threshold_pct")
  }

  val q432Sql: String =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
      |           FROM documents),
      |tri AS (SELECT DISTINCT doc_id,
      |          UNNEST(list_transform(range(1, len(ws) - 1),
      |            i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS tg
      |        FROM w),
      |sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n
      |          FROM tri GROUP BY doc_id),
      |inters AS (SELECT a.doc_id AS doc1, b.doc_id AS doc2,
      |             CAST(COUNT(*) AS BIGINT) AS inter
      |           FROM tri a JOIN tri b
      |             ON a.tg = b.tg AND a.doc_id < b.doc_id
      |           GROUP BY 1, 2),
      |pairs AS (
      |  SELECT inter, n1.n + n2.n - inter AS un
      |  FROM inters
      |  JOIN sizes n1 ON inters.doc1 = n1.doc_id
      |  JOIN sizes n2 ON inters.doc2 = n2.doc_id)
      |SELECT t AS threshold_pct, CAST(COUNT(*) AS BIGINT) AS n_pairs
      |FROM pairs, UNNEST(range(50, 100, 10)) AS s(t)
      |WHERE inter * 100 >= t * un
      |GROUP BY t
      |ORDER BY threshold_pct""".stripMargin

  /** q346 — DEDUP SAVINGS report: the one-row business case for the
    * whole dedup family — of N docs, how many survive keep-one-per-
    * cluster (the q101/q163 policy), how many drop, and how many
    * CHARS of storage/compute the drop saves (exact n_chars sums).
    * This is the number a 100 TB ingest review actually asks for;
    * the cluster machinery behind it is q101's verbatim.
    *
    * Scale shape: the q101 pipeline (banded LSH → exact verify → CC)
    * plus ONE left join of docs to cluster labels and a single
    * conditional aggregate — no new corpus pass.
    */
  val q346DedupSavings: Q = (s, dir) => {
    import s.implicits._
    val docs = T.documents(s, dir).select($"doc_id", $"n_chars")
    val pairs = verifiedPairs(s, dir)
      .select($"doc1", $"doc2")
    val cc = graft.operators.ConnectedComponents(pairs,
      src = "doc1", dst = "doc2")
    docs
      .join(cc.select($"id".as("doc_id"), $"comp"), Seq("doc_id"), "left")
      .select($"doc_id", $"n_chars",
        coalesce($"comp", $"doc_id").as("rep"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when($"doc_id" === $"rep", 1L).otherwise(0L)).as("n_kept"),
        sum(when($"doc_id" =!= $"rep", 1L).otherwise(0L)).as("n_dropped"),
        sum($"n_chars").as("chars_total"),
        sum(when($"doc_id" =!= $"rep", $"n_chars").otherwise(0L))
          .as("chars_saved"))
      .withColumn("savings_ratio",
        expr("CAST(chars_saved AS DOUBLE) / CAST(chars_total AS DOUBLE)"))
  }

  val q346Sql: String =
    s"""$nearDupReachCte,
       |lab AS (SELECT id AS doc_id, MIN(r) AS rep FROM reach GROUP BY id),
       |j AS (
       |  SELECT d.doc_id, d.n_chars, COALESCE(l.rep, d.doc_id) AS rep
       |  FROM documents d LEFT JOIN lab l ON d.doc_id = l.doc_id)
       |SELECT COUNT(*) AS n_docs,
       |  CAST(SUM(CASE WHEN doc_id = rep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |  CAST(SUM(CASE WHEN doc_id <> rep THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
       |  CAST(SUM(n_chars) AS BIGINT) AS chars_total,
       |  CAST(SUM(CASE WHEN doc_id <> rep THEN n_chars ELSE 0 END) AS BIGINT)
       |    AS chars_saved,
       |  CAST(SUM(CASE WHEN doc_id <> rep THEN n_chars ELSE 0 END) AS DOUBLE)
       |    / CAST(SUM(n_chars) AS DOUBLE) AS savings_ratio
       |FROM j""".stripMargin


  val q233PrefixJoin: Q = (s, dir) => {
    implicit val sp: SparkSession = s
    prefixFilterPairs(T.documents(s, dir), 7, 10)
  }

  /** Same exact all-pairs oracle as q41 — the prefix filter must
    * recover every pair the quadratic recompute finds. */
  val q233Sql: String = q41Sql

  /** q243 — incremental near-dup PROBE: each new-batch document asks
    * "is this a near-duplicate of anything already in the corpus?" —
    * the serving-side form of q41's self-join and the near-dup
    * companion to q131's exact-fingerprint ingest classifier (q131
    * catches byte-identical re-submissions; this catches the reworded
    * ones). Corpus = even doc_ids, batch = odd (the q131 split).
    *
    * Scale shape: the corpus's band-capped LSH rows are the
    * MATERIALIZED INDEX (computed once per corpus version, reused
    * across batches — [[bandedCapped]]); a batch probes it with one
    * equi-join on (band, band_hash), so per-batch cost goes by batch
    * size, never corpus size. Exact-Jaccard verification runs only on
    * candidate pairs; the best match per batch doc is one window over
    * the candidate frame. Same 16×2 banding as q41, so the probe is
    * effectively lossless at τ=0.7 against the exact batch×corpus
    * all-pairs oracle (miss ≈ 2·10⁻⁵).
    */
  val q243IncrementalNearDup: Q = (s, dir) => {
    import s.implicits._
    implicit val sp: SparkSession = s
    val docs = T.documents(s, dir)
    val corpus = docs.filter($"doc_id" % 2 === 0)
    val batch = docs.filter($"doc_id" % 2 === 1)
    val index = bandedCapped(s, corpus)   // the persisted corpus index
    val probes = bandedCapped(s, batch)
    val cands = PlanBridge.checkpointResetStats(
      index.as("c").join(probes.as("b"),
          $"c.band" === $"b.band" && $"c.band_hash" === $"b.band_hash")
        .select($"c.doc_id".as("cid"), $"b.doc_id".as("bid"))
        .distinct())
    val candDocs = cands.select($"cid".as("doc_id"))
      .union(cands.select($"bid".as("doc_id"))).distinct()
    val sets = triShinglesRaw(docs)
      .join(candDocs, Seq("doc_id"), "left_semi")
      .select($"doc_id", xxhash64($"tg").as("tgh"))
      .groupBy($"doc_id")
      .agg(sort_array(collect_set($"tgh")).as("hs"))
      .select($"doc_id", $"hs", size($"hs").cast("long").as("n"))
    val scored = cands
      .join(sets.select($"doc_id".as("cid"), $"hs".as("hs1"), $"n".as("n1")), "cid")
      .join(sets.select($"doc_id".as("bid"), $"hs".as("hs2"), $"n".as("n2")), "bid")
      .withColumn("inter", size(array_intersect($"hs1", $"hs2")).cast("long"))
      .withColumn("jaccard", $"inter" / ($"n1" + $"n2" - $"inter"))
      .filter($"jaccard" >= NearDupThreshold)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"bid").orderBy($"jaccard".desc, $"cid".asc)
    val best = scored.withColumn("rn", row_number().over(w))
      .filter($"rn" === 1).select($"bid", $"cid", $"jaccard")
    batch.select($"doc_id")
      .join(best.withColumnRenamed("bid", "doc_id"), Seq("doc_id"), "left")
      .select($"doc_id",
        when($"cid".isNull, "novel").otherwise("near_dup").as("verdict"),
        $"cid".as("match_id"), $"jaccard")
      .orderBy($"doc_id")
  }

  val q243Sql: String =
    s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       |tri AS (SELECT DISTINCT doc_id,
       |          UNNEST(list_transform(range(1, len(ws) - 1),
       |            i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS tg
       |        FROM w),
       |sizes AS (SELECT doc_id, COUNT(*) AS n FROM tri GROUP BY doc_id),
       |pairs AS (SELECT a.doc_id AS cid, b.doc_id AS bid, COUNT(*) AS inter
       |          FROM tri a JOIN tri b ON a.tg = b.tg
       |          WHERE a.doc_id % 2 = 0 AND b.doc_id % 2 = 1
       |          GROUP BY 1, 2),
       |scored AS (
       |  SELECT bid, cid, inter / (n1.n + n2.n - inter) AS jaccard
       |  FROM pairs JOIN sizes n1 ON pairs.cid = n1.doc_id
       |             JOIN sizes n2 ON pairs.bid = n2.doc_id
       |  WHERE inter / (n1.n + n2.n - inter) >= $NearDupThreshold),
       |best AS (
       |  SELECT bid, cid, jaccard,
       |    row_number() OVER (PARTITION BY bid
       |      ORDER BY jaccard DESC, cid ASC) AS rn
       |  FROM scored)
       |SELECT d.doc_id,
       |  CASE WHEN b.cid IS NULL THEN 'novel' ELSE 'near_dup' END AS verdict,
       |  b.cid AS match_id, b.jaccard
       |FROM documents d
       |LEFT JOIN (SELECT * FROM best WHERE rn = 1) b ON d.doc_id = b.bid
       |WHERE d.doc_id % 2 = 1
       |ORDER BY d.doc_id""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("q243_incremental_near_dup", q243IncrementalNearDup, q243Sql),
    Entry("q40_dedup_exact", q40DedupExact, q40Sql),
    Entry("q41_minhash_lsh", q41MinhashLsh, q41Sql),
    Entry("q42_simhash", q42SimhashGate, q42Sql),
    Entry("q43_ngram_jaccard", q43NgramJaccard, q43Sql),
    Entry("q101_dup_clusters", q101DupClusters, q101Sql),
    Entry("q141_cluster_split", q141ClusterSplit, q141Sql),
    Entry("q163_keep_best", q163KeepBest, q163Sql),
    Entry("q109_fuzzy_match", q109FuzzyMatch, q109Sql),
    Entry("q127_decontaminate", q127Decontaminate, q127Sql),
    Entry("q131_incremental_ingest", q131IncrementalIngest, q131Sql),
    Entry("q197_jaro_pairs", q197JaroPairs, q197Sql),
    Entry("q233_prefix_join", q233PrefixJoin, q233Sql),
    Entry("q322_containment_join", q322ContainmentJoin, q322Sql),
    Entry("q344_dup_spans_explain", q344DupSpansExplain, q344Sql),
    Entry("q392_weighted_jaccard", q392WeightedJaccard, q392Sql),
    Entry("q438_cws_candidates", q438CwsCandidates, q438Sql),
    Entry("q448_smith_waterman", q448SmithWaterman, q448Sql),
    Entry("q414_soft_dedup", q414SoftDedup, q414Sql),
    Entry("q417_cluster_sizes", q417ClusterSizes, q417Sql),
    Entry("q430_source_contamination", q430SourceContamination, q430Sql),
    Entry("q432_threshold_sweep", q432ThresholdSweep, q432Sql),
    Entry("q348_dup_lcs", q348DupLcs, q348Sql),
    Entry("q361_deletion_join", q361DeletionJoin, q361Sql),
    Entry("q346_dedup_savings", q346DedupSavings, q346Sql))
}
