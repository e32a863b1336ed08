package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.PlanBridge

import graft.core.{Entry, Tables => T}

/** SMOTE — synthetic minority oversampling (Chawla, Bowyer, Hall &
  * Kegelmeyer JAIR'02: THE class-rebalancing data op — when the label
  * a classifier trains on is rare, duplicating minority rows overfits
  * and reweighting under-uses the region BETWEEN minority points;
  * SMOTE synthesizes new examples on the segment joining each minority
  * vector to a same-class nearest neighbor — the training-data
  * pipeline's answer to imbalance, next to the stratified/temperature
  * mixing ops q100/q158 which rebalance by SELECTION, not synthesis):
  * for the corpus's minority label (fewest vectors; ties to the
  * smaller label), each member's nearest same-label neighbor and the
  * midpoint synthetic example.
  *
  * Determinism contract: vectors enter as the q44 Q20 quantization
  * (component-wise ⌊x·2²⁰⌋ BIGINTs), the NN dot is an EXACT integer
  * (cos only divides for ranking, the q44 precedent), ties break
  * (cos DESC, nid ASC), and the λ = ½ synthetic is kept in DOUBLED
  * form s2ᵢ = qaᵢ + qbᵢ — exact integer addition, NO division, so the
  * floor-div-on-negatives trap (quantized components are signed) never
  * arises (the q537 doubled-median convention applied to vectors). The
  * emitted row carries the exact synthetic checksums Σs2ᵢ and Σs2ᵢ²
  * (≤ 64·(2²¹)² ≈ 3·10¹⁴ — BIGINT with headroom).
  *
  * Scale shape: everything is MINORITY-bounded — which is the point of
  * the operator (the minority class is small by definition): one
  * count-per-label agg picks the class, and the NN stage BRANCHES on
  * the measured minority size (the q537 HodgesLehmann two-path
  * discipline, r15 verdict note): at or under
  * [[SmoteBroadcastMaxMinority]] rows the |M|² scoring broadcasts the
  * minority set against itself (q176's bounded-broadcast exact path);
  * PAST the cap — a "minority" of 10⁸ rows on a 100 TB corpus would
  * OOM the broadcast with no actionable error — candidate generation
  * swaps to the q112 SRP-banded equi-join (ids only through the
  * band shuffle, vectors rejoined per deduped candidate pair, the
  * deterministic per-bucket cap as the skew valve), with the same
  * exact-integer dot + (cos DESC, nid ASC) ranking on the candidates.
  * The spec pins both paths row-identical on a planted minority whose
  * true NNs are band-certain. The candidate path carries the q112
  * banding contract EXPLICITLY: a minority member colliding with no
  * other member in any band emits NO synthetic row (miss probability
  * (1−(1−θ/π)^P)^B per true neighbor — tune [[SmoteBands]]/
  * [[SmotePlanesPerBand]] to the miss budget; the exact path has no
  * such miss). Synthesis is one zip_with per member either way.
  */
object Smote {

  import Entry.Q

  /** Broadcast budget for the exact |M|² path, in minority rows. A Q20
    * vector row ships ~64×8 B of longs plus array/row overhead ≈ 600 B,
    * so the cap bounds the broadcast at ~60 MB per executor (the
    * HlBroadcastMaxCensus byte-budget discipline at vector row width).
    * Larger minorities take the SRP-banded candidate path.
    */
  val SmoteBroadcastMaxMinority = 100000L

  /** SRP banding for the past-cap candidate path: few planes per band
    * (SMOTE's same-class NN sits at moderate cosine, not the τ→1
    * near-dup regime q112 tunes for) OR-amplified across many bands;
    * per-(band, bucket) population capped deterministically.
    */
  val SmoteBands = 32
  val SmotePlanesPerBand = 4
  val SmoteBucketCap = 512
  private val SmoteBandSeed = 1409

  /** Component-wise Q20 quantization — the q44Sql list_transform
    * spelling, shared shape with the oracle.
    */
  private val Q20 =
    "transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT))"

  val q564Smote: Q = (s, dir) =>
    smote(T.embeddings(s, dir).select("vec_id", "label", "embedding"),
      requireExact = true)

  /** The SMOTE pass over any `(vec_id, label, embedding)` frame —
    * minority selection, same-label NN (exact broadcast at or under
    * [[SmoteBroadcastMaxMinority]] rows, SRP-banded candidates past
    * it; `forceCandidates` pins the past-cap path for the spec),
    * doubled-midpoint synthesis.
    *
    * `requireExact` pins the EXACT path for oracle-compared callers
    * (r16 advice): the q564 DuckDB oracle replays the exact |M|² NN,
    * so a fixture whose minority ever outgrew the broadcast cap would
    * silently compare the approximate banded engine path against an
    * exact oracle and fail on band misses rather than a real bug —
    * with the pin it fails LOUD here instead, naming the mismatch.
    */
  def smote(emb: DataFrame, forceCandidates: Boolean = false,
      requireExact: Boolean = false): DataFrame = {
    require(!(forceCandidates && requireExact),
      "forceCandidates and requireExact are mutually exclusive")
    val s = emb.sparkSession
    import s.implicits._
    val e = emb.select($"vec_id", $"label", $"embedding", expr(Q20).as("qv"))
    val minority = e.groupBy($"label").agg(count(lit(1)).as("n"))
      .orderBy($"n".asc, $"label".asc).limit(1).select($"label")
    // norms once per VECTOR, never per pair (the q44 "norms are
    // computed once per side" rule — recomputing them inside the |M|²
    // join tripled the per-pair array work, measured 69.8 s → 23.9 s
    // at the sf1 slice's 2k-member minority)
    val m = PlanBridge.checkpointResetStats(e.join(broadcast(minority), "label")
      .withColumn("nrm", sqrt(expr(
        "aggregate(zip_with(qv, qv, (x, y) -> x * y), 0L, (acc, v) -> acc + v)")
        .cast("double"))))
    // one cheap count picks the path — the r15 verdict note: the
    // unconditional broadcast had no size guard, so a huge "minority"
    // OOMed the driver/executors instead of degrading gracefully
    val mCount = m.count()
    if (requireExact) require(mCount <= SmoteBroadcastMaxMinority,
      s"q564 oracle pin: minority has $mCount rows, past the " +
        s"$SmoteBroadcastMaxMinority exact-path cap — the DuckDB " +
        "oracle is exact |M|² NN, so the banded path may not be " +
        "compared against it (raise the cap or re-derive the oracle " +
        "from the banding)")
    val useBroadcast = !forceCandidates &&
      mCount <= SmoteBroadcastMaxMinority
    val qa = m.select($"label", $"vec_id".as("qid"), $"qv".as("qa"),
      $"nrm".as("na"))
    val qb = m.select($"vec_id".as("nid"), $"qv".as("qb"), $"nrm".as("nb"))
    val scored =
      if (useBroadcast) qa.join(broadcast(qb), $"qid" =!= $"nid")
      else {
        // past-cap path: SRP band collisions bound the candidate set —
        // ids ONLY through the band explode and pair join (the q112
        // "never ship vectors through an exchange" rule), vectors
        // rejoined once per deduped candidate pair
        val bands = (0 until SmoteBands).map(bnd => graft.functions
          .VectorFunctions.srp_bucket($"embedding", SmotePlanesPerBand,
            SmoteBandSeed + bnd))
        val banded = m.select($"vec_id",
          posexplode(array(bands: _*)).as(Seq("band", "bucket")))
        val wCap = org.apache.spark.sql.expressions.Window
          .partitionBy($"band", $"bucket")
          .orderBy(xxhash64($"vec_id"), $"vec_id")
        val capped = banded.withColumn("slot", row_number().over(wCap))
          .filter($"slot" <= SmoteBucketCap)
          .select($"band", $"bucket", $"vec_id")
        val cand = capped.select($"band", $"bucket", $"vec_id".as("qid"))
          .join(capped.select($"band", $"bucket", $"vec_id".as("nid")),
            Seq("band", "bucket"))
          .filter($"qid" =!= $"nid")
          .select($"qid", $"nid").distinct()
        cand.join(qa, "qid").join(qb, "nid")
      }
    val ranked = scored
      .withColumn("dot", expr(
        "aggregate(zip_with(qa, qb, (x, y) -> x * y), 0L, (acc, v) -> acc + v)"))
      .withColumn("cos_sim", $"dot".cast("double") / ($"na" * $"nb"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"qid").orderBy($"cos_sim".desc, $"nid".asc)
    ranked.withColumn("rn", row_number().over(w)).filter($"rn" === 1)
      .withColumn("s2", expr("zip_with(qa, qb, (x, y) -> x + y)"))
      .select($"qid", $"nid".as("nn_id"), $"label", $"cos_sim",
        expr("aggregate(s2, 0L, (acc, v) -> acc + v)").as("s2_sum"),
        expr("aggregate(s2, 0L, (acc, v) -> acc + v * v)").as("s2_normsq"))
      .orderBy($"qid")
  }

  val q564Sql: String =
    """WITH q AS (
      |  SELECT vec_id, label,
      |    list_transform(embedding,
      |      x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT)) AS qv
      |  FROM embeddings),
      |mlab AS (SELECT label FROM q GROUP BY label
      |         ORDER BY COUNT(*) ASC, label ASC LIMIT 1),
      |m AS (SELECT vec_id, qv FROM q JOIN mlab USING (label)),
      |norms AS (
      |  SELECT vec_id, SQRT(CAST(SUM(qv[i] * qv[i]) AS DOUBLE)) AS nrm
      |  FROM m, range(1, 65) t(i) GROUP BY vec_id),
      |dots AS (
      |  SELECT a.vec_id AS qid, b.vec_id AS nid,
      |    CAST(SUM(a.qv[i] * b.qv[i]) AS DOUBLE) AS dot
      |  FROM m a JOIN m b ON a.vec_id <> b.vec_id, range(1, 65) t(i)
      |  GROUP BY 1, 2),
      |cos AS (
      |  SELECT qid, nid, dot / (na.nrm * nb.nrm) AS cos_sim
      |  FROM dots JOIN norms na ON dots.qid = na.vec_id
      |            JOIN norms nb ON dots.nid = nb.vec_id),
      |nn AS (
      |  SELECT qid, nid, cos_sim FROM (
      |    SELECT qid, nid, cos_sim, ROW_NUMBER() OVER (
      |      PARTITION BY qid ORDER BY cos_sim DESC, nid ASC) AS rn
      |    FROM cos) x WHERE rn = 1)
      |SELECT nn.qid, nn.nid AS nn_id,
      |  (SELECT label FROM mlab) AS label, nn.cos_sim,
      |  CAST(SUM(a.qv[i] + b.qv[i]) AS BIGINT) AS s2_sum,
      |  CAST(SUM((a.qv[i] + b.qv[i]) * (a.qv[i] + b.qv[i])) AS BIGINT)
      |    AS s2_normsq
      |FROM nn JOIN m a ON nn.qid = a.vec_id JOIN m b ON nn.nid = b.vec_id,
      |     range(1, 65) t(i)
      |GROUP BY 1, 2, 3, 4
      |ORDER BY nn.qid""".stripMargin

  val entries: Seq[Entry] = Seq(Entry("q564_smote", q564Smote, q564Sql))
}
