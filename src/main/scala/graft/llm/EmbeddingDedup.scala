package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.PlanBridge

import graft.core.{Entry, Tables => T}
import graft.functions.VectorFunctions._

/** Embedding-cosine near-duplicate detection — the fifth dedup mode next
  * to exact (q40), MinHash-LSH (q41), SimHash (q42) and n-gram Jaccard
  * (q43): find every pair of documents whose EMBEDDINGS are
  * near-parallel, without the N² all-pairs join.
  *
  * Same two-stage architecture as the q41 pipeline (DedupQueries.scala):
  *
  *   1. CANDIDATES, sub-quadratic: [[Bands]] independent sign-random-
  *      projection bands of [[PlanesPerBand]] hyperplanes each. A pair at
  *      angle θ agrees with one plane w.p. 1−θ/π, so it shares a band
  *      bucket w.p. (1−θ/π)^P and is a candidate if it collides in ANY
  *      band — OR-amplified recall, AND-amplified precision, the classic
  *      banding trade. The pair step is an equi-join on (band, bucket),
  *      never all pairs; a deterministic per-bucket cap bounds any
  *      degenerate bucket (the q41/q45 skew valve).
  *   2. VERIFY, exact: candidates only, quantized-Q20 cosine (engine-
  *      order-independent int64 dot — VectorExpressions.scala), keep
  *      pairs ≥ [[NearDupThreshold]].
  *
  * Scale knobs (documented contract, mirrored from q41): `PlanesPerBand`
  * grows with log₂(N / target-bucket-size) so random pairs stop
  * colliding as the corpus grows; `Bands` is then set by the miss budget
  * at the threshold — per-pair miss ≤ (1−(1−θτ/π)^P)^B where
  * cos θτ = τ. SRP banding is efficient precisely in the near-duplicate
  * regime (τ → 1) this operator targets; generic moderate-cosine search
  * belongs to IVF (VectorSearch.ivfAnn).
  *
  * The oracle row (q112) runs the pipeline over the corpus ∪ structural
  * twins (first two coordinates zeroed — cosine ≈ 0.87–0.98 to the
  * original, derivable EXACTLY in both engines since it only moves
  * values, no float arithmetic) and hash-compares against DuckDB's exact
  * all-pairs answer at the same threshold: the banding must be lossless
  * at τ on this corpus or the row fails — the q41 end-to-end contract
  * applied to embeddings.
  */
object EmbeddingDedup {

  import Entry.Q

  /** Verify threshold τ: pairs at or above this cosine are duplicates.
    * On the fixture, planted twins sit at ≥ 0.869 and the closest
    * non-twin background pair at ≤ 0.601 — τ splits them with margin on
    * both sides (and both engines compute bit-identical cosines, so the
    * boundary is exact anyway).
    */
  val NearDupThreshold = 0.8
  val Bands = 32
  val PlanesPerBand = 8
  val BucketCap = 512
  private val BandSeed = 977

  /** Duplicate-pair finder over any (vec_id, embedding) frame: banded
    * SRP candidates → exact quantized-cosine verify ≥ `threshold`.
    * Emits (id_a, id_b, cos_sim) with id_a < id_b, each pair once.
    *
    * Shuffle discipline (the q41 verify-stage design): the banding
    * explode and the (band, bucket) pair join carry ONLY ids — never
    * the vectors (64 floats × Bands rows per vector through an exchange
    * is the naive cost) — and pairs are DEDUPED before verification, so
    * the exact dot runs once per candidate pair, not once per band
    * collision. The vectors come back via two equi-joins on the id
    * (shuffle-scale-safe; AQE broadcasts the small side at test scale).
    */
  def nearDupPairs(e0: DataFrame, threshold: Double): DataFrame = {
    val s = e0.sparkSession
    import s.implicits._
    val e = e0.select($"vec_id", $"embedding",
      norm_q20($"embedding").as("norm"))
    val bands = (0 until Bands).map(b =>
      srp_bucket($"embedding", PlanesPerBand, BandSeed + b))
    val tabled = e0.select($"vec_id",
      posexplode(array(bands: _*)).as(Seq("band", "bucket")))
    // deterministic per-bucket cap — smallest (hash, id) first, unbiased
    // w.r.t. storage order; only engages on a degenerate bucket
    val wCap = Window.partitionBy($"band", $"bucket")
      .orderBy(xxhash64($"vec_id"), $"vec_id")
    val capped = tabled
      .withColumn("slot", row_number().over(wCap))
      .filter($"slot" <= BucketCap)
      .select($"band", $"bucket", $"vec_id")
    val pairs = capped.select($"band", $"bucket", $"vec_id".as("id_a"))
      .join(capped.select($"band", $"bucket", $"vec_id".as("id_b")),
        Seq("band", "bucket"))
      .filter($"id_a" < $"id_b")
      .select($"id_a", $"id_b")
      .distinct()
    pairs
      .join(e.select($"vec_id".as("id_a"), $"embedding".as("ea"),
        $"norm".as("na")), "id_a")
      .join(e.select($"vec_id".as("id_b"), $"embedding".as("eb"),
        $"norm".as("nb")), "id_b")
      .withColumn("cos_sim",
        cosine(dot_q20($"ea", $"eb").cast("double"), $"na", $"nb"))
      .filter($"cos_sim" >= threshold)
      .select($"id_a", $"id_b", $"cos_sim")
  }

  /** Candidate pairs with their band-collision counts (no verify) — the
    * margin surface the spec asserts on: a pair caught by k ≥ 2 bands
    * stays caught if any single band realization flips.
    */
  def candidateBandCounts(e0: DataFrame): DataFrame = {
    val s = e0.sparkSession
    import s.implicits._
    val bands = (0 until Bands).map(b =>
      srp_bucket($"embedding", PlanesPerBand, BandSeed + b))
    val tabled = e0.select($"vec_id",
      posexplode(array(bands: _*)).as(Seq("band", "bucket")))
    val a = tabled.select($"band", $"bucket", $"vec_id".as("id_a"))
    val b = tabled.select($"band", $"bucket", $"vec_id".as("id_b"))
    a.join(b, Seq("band", "bucket"))
      .filter($"id_a" < $"id_b")
      .groupBy($"id_a", $"id_b")
      .agg(count(lit(1)).as("bands"))
  }

  /** Offset for planted twin ids (same convention as
    * VectorSearch.PlantedIdOffset).
    */
  val TwinIdOffset = 1000000L

  /** Corpus ∪ structural twins: each twin is its original with the first
    * two coordinates zeroed — value movement only, so the derivation is
    * exactly reproducible in DuckDB list algebra ([0,0] || qv[3:]).
    */
  def twinCorpus(e: DataFrame): DataFrame = {
    val s = e.sparkSession
    import s.implicits._
    val base = e.select($"vec_id", $"embedding")
    base.unionByName(base.select(
      ($"vec_id" + TwinIdOffset).as("vec_id"),
      concat(array(lit(0.0f), lit(0.0f)), slice($"embedding", 3, 1 << 20))
        .as("embedding")))
  }

  /** q112 — end-to-end embedding near-dup over corpus ∪ twins; the
    * oracle recomputes the exact all-pairs answer at the same threshold,
    * so a single banding miss breaks the hash match.
    */
  val q112EmbeddingNearDup: Q = (s, dir) => {
    import s.implicits._
    nearDupPairs(twinCorpus(T.embeddings(s, dir)), NearDupThreshold)
      .orderBy($"id_a", $"id_b")
  }

  /** Exact all-pairs at τ in DuckDB: quantize (FLOOR(x·2^20), the
    * DotProductQ20 contract), derive twins by list slicing, dot via
    * list_inner_product — every product ≤ 2^42 and every partial sum
    * ≤ 2^48 is an exact integer in a double, so the sum is
    * order-independent and bit-identical to Spark's int64 path.
    */
  val q112Sql: String =
    s"""WITH q0 AS (
       |  SELECT vec_id,
       |    list_transform(embedding,
       |      x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT)) AS qv
       |  FROM embeddings),
       |c AS (
       |  SELECT vec_id, qv FROM q0
       |  UNION ALL
       |  SELECT vec_id + $TwinIdOffset, [0, 0] || qv[3:] FROM q0),
       |norms AS (
       |  SELECT vec_id, SQRT(CAST(list_inner_product(qv, qv) AS DOUBLE)) AS nrm
       |  FROM c),
       |pairs AS (
       |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       |    CAST(list_inner_product(a.qv, b.qv) AS DOUBLE) / (na.nrm * nb.nrm)
       |      AS cos_sim
       |  FROM c a JOIN c b ON a.vec_id < b.vec_id
       |  JOIN norms na ON a.vec_id = na.vec_id
       |  JOIN norms nb ON b.vec_id = nb.vec_id)
       |SELECT id_a, id_b, cos_sim FROM pairs
       |WHERE cos_sim >= $NearDupThreshold
       |ORDER BY id_a, id_b""".stripMargin

  /** Twin-recall floor for the q185 gate: k-means cell BOUNDARIES can
    * split a close pair into different cells — the approximation
    * SemDeDup accepts by design (a pair is only compared within its
    * cluster). Banding (q112) has no such seam, hence its exact oracle
    * vs this gate's floor.
    */
  val SemDedupTwinFloor = 0.9

  /** q185 — SemDeDup-style SEMANTIC dedup (the sixth dedup mode): bound
    * candidate pairs by a fitted k-means partition instead of LSH bands
    * — fit a spherical codebook on a deterministic sample (the IVF
    * machinery, VectorSearch.fitCodebook), assign every vector to its
    * top-1 cell, compare pairs ONLY within a cell, and drop every
    * vector that has a strictly-smaller-id cell-mate at cosine ≥ τ
    * (keep-smallest canonical rule, exactly decided by the quantized
    * dot).
    *
    * Scale shape: assignment is one broadcast pass (codebook ≈ cells ×
    * dim floats); pairing is an equi-join on the cell id with a
    * deterministic per-cell member cap as the skew valve (the
    * q41/q45 discipline), so per-cell work is ≤ cap² and total work
    * ≈ N · members-per-cell — at 100 TB you pick cells ≈ N/m for a
    * constant target m, never all pairs. Output is the driver-gated
    * (n_vectors, ok) row: ok demands the planted structural twins be
    * dropped at ≥ [[SemDedupTwinFloor]] (each twin has its original —
    * a smaller id — at cosine ≥ τ; only a cell split may save it) and
    * exact keep/drop bookkeeping.
    */
  val SemDedupCellCap = 256

  val q185SemanticDedup: Q = (s, dir) => {
    import s.implicits._
    val corpus = PlanBridge.checkpointResetStats(
      twinCorpus(T.embeddings(s, dir)))
    val n = corpus.count()
    val cells = graft.llm.VectorSearch.ivfCellCount(n)
    val codebook = graft.llm.VectorSearch.fitCodebook(corpus, cells)
    val assigned = graft.llm.VectorSearch.centroidCellsJoin(corpus, codebook)
      .join(corpus, "vec_id")
      .select($"cell", $"vec_id", $"embedding", norm_q20($"embedding").as("norm"))
    // deterministic per-cell cap — the skew valve; inert at test scale
    val wCap = Window.partitionBy($"cell").orderBy(xxhash64($"vec_id"), $"vec_id")
    val capped = PlanBridge.checkpointResetStats(
      assigned.withColumn("slot", row_number().over(wCap))
        .filter($"slot" <= SemDedupCellCap).drop("slot"))
    val a = capped.select($"cell", $"vec_id".as("id_a"), $"embedding".as("ea"),
      $"norm".as("na"))
    val b = capped.select($"cell", $"vec_id".as("id_b"), $"embedding".as("eb"),
      $"norm".as("nb"))
    val dropped = a.join(b, Seq("cell"))
      .filter($"id_a" < $"id_b")
      .withColumn("cos_sim",
        cosine(dot_q20($"ea", $"eb").cast("double"), $"na", $"nb"))
      .filter($"cos_sim" >= NearDupThreshold)
      .select($"id_b".as("vec_id")).distinct()
    val st = dropped.agg(count(lit(1)).as("nd"),
      coalesce(sum(when($"vec_id" >= TwinIdOffset, 1L).otherwise(0L)), lit(0L))
        .as("td"))
      .collect()(0)
    val (nDropped, twinsDropped) = (st.getLong(0), st.getLong(1))
    val nTwins = n / 2
    // (nDropped ≥ twinsDropped is structural — twins are a subset of
    // dropped — so the checkable bookkeeping is the strict upper bound)
    val ok = twinsDropped >= math.ceil(SemDedupTwinFloor * nTwins).toLong &&
      nDropped < n
    Seq((n, ok)).toDF("n_vectors", "ok")
  }

  val q185Sql: String =
    """SELECT CAST(2 * COUNT(*) AS BIGINT) AS n_vectors, TRUE AS ok
      |FROM embeddings""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("q112_embedding_near_dup", q112EmbeddingNearDup, q112Sql),
    Entry("q185_semantic_dedup", q185SemanticDedup, q185Sql))
}
