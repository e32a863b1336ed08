package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{Entry, Tables => T}
import graft.functions.VectorFunctions._

/** Binary (1-bit sign) vector quantization with Hamming-band candidate
  * generation and exact rerank — the third ANN compression leg next to
  * int8 scalar quantization (q123) and product quantization (q155):
  * 64-dim float32 → ONE BIGINT (256 B → 8 B, 32×), Hamming distance by
  * `bit_count(XOR)` — both plain codegen'd builtins, no custom
  * expression needed (the Spark-first answer; contrast
  * [[graft.functions.SrpBucket]], which earns its custom code by fusing
  * 12 random projections).
  *
  * Retrieval is the production two-stage shape (the q218 Matryoshka
  * pattern at 1 bit): band the 64 sign bits into [[Bands]]×[[BandBits]]
  * pigeonhole buckets (two vectors within [[BandBits]]−1 bit flips
  * share ≥1 band EXACTLY when some band survives intact — same
  * guarantee family as the SimHash q42 banding, here on sign bits of
  * the raw dims), equi-join per band with a deterministic per-bucket
  * cap, order candidates by Hamming distance, then rerank only the
  * [[RerankDepth]] Hamming-best with the exact quantized cosine.
  *
  * Scale shape: candidate generation is an equi-join on (band, bits) —
  * one shuffle, no cross join; the sign pack is a single projection
  * over the corpus; reranking touches ≤ RerankDepth vectors per query.
  * At 100 TB the packed signatures are ~3 orders smaller than the
  * embeddings, so the candidate join shuffles bytes-per-vector, not
  * the vectors themselves — only the rerank re-reads true embeddings.
  *
  * Correctness gate (q232, the q85 convention): planted ±0.0025
  * perturbation twins must be re-found with cosine within
  * [[RecallTolerance]] of the true twin similarity for ≥
  * [[RecallFloor]] of queries, emitted as the driver-checked
  * `(n_queries, ok)` row.
  */
object BinaryQuantization {

  import Entry.Q

  val Bands = 4
  val BandBits = 16
  val BucketCandidateCap = 64
  val RerankDepth = 16
  val RecallTolerance = 0.05
  val RecallFloor = 0.90

  /** Top-1 Hamming→cosine two-stage neighbor per query over a corpus
    * frame of (vec_id, embedding). Self-search; answers exclude self.
    */
  def binaryAnn(e0: DataFrame): DataFrame = {
    val s = e0.sparkSession
    import s.implicits._
    val packed = e0.select($"vec_id", $"embedding",
      norm_q20($"embedding").as("norm"),
      expr("""aggregate(transform(embedding, (x, i) ->
             | IF(x > CAST(0.0 AS FLOAT), shiftleft(CAST(1 AS BIGINT), i), CAST(0 AS BIGINT))),
             | CAST(0 AS BIGINT), (acc, b) -> acc | b)""".stripMargin)
        .as("sig"))
    val banded = packed.select($"vec_id", $"embedding", $"norm", $"sig",
      posexplode(array((0 until Bands).map(b =>
        expr(s"(sig >> ${b * BandBits}) & ${(1L << BandBits) - 1}")): _*))
        .as(Seq("band", "bits")))
    // deterministic per-bucket cap (the lshAnn discipline): hot buckets
    // bound candidate work instead of exploding the join
    val wCap = Window.partitionBy($"band", $"bits")
      .orderBy(xxhash64($"vec_id"), $"vec_id")
    val capped = banded
      .withColumn("slot", row_number().over(wCap))
      .filter($"slot" <= BucketCandidateCap)
      .select($"band", $"bits", $"vec_id", $"embedding", $"norm", $"sig")
    val a = capped.select($"band", $"bits", $"vec_id".as("qid"),
      $"embedding".as("ea"), $"norm".as("na"), $"sig".as("siga"))
    val b = capped.select($"band", $"bits", $"vec_id".as("nid"),
      $"embedding".as("eb"), $"norm".as("nb"), $"sig".as("sigb"))
    val cand = a.join(b, Seq("band", "bits"))
      .filter($"qid" =!= $"nid")
      .groupBy($"qid", $"nid")
      // hamming is a pure function of the two sigs — identical in every
      // band a pair collides in; max = the value. Carry one embedding
      // pair through the agg via first() on the (identical) payloads.
      .agg(max(expr("bit_count(siga ^ sigb)")).as("hamming"),
        first($"ea").as("ea"), first($"na").as("na"),
        first($"eb").as("eb"), first($"nb").as("nb"))
    val wHam = Window.partitionBy($"qid")
      .orderBy($"hamming".asc, $"nid".asc)
    val reranked = cand
      .withColumn("hrank", row_number().over(wHam))
      .filter($"hrank" <= RerankDepth)
      .select($"qid", $"nid",
        cosine(dot_q20($"ea", $"eb").cast("double"), $"na", $"nb")
          .as("cos_sim"))
    val wCos = Window.partitionBy($"qid")
      .orderBy($"cos_sim".desc, $"nid".asc)
    reranked
      .withColumn("rank", row_number().over(wCos))
      .filter($"rank" === 1)
      .select($"qid", $"nid", $"cos_sim")
  }

  /** q232 — planted-twin recall gate over the binary-quantized path,
    * emitted in the (n_queries, ok) driver convention.
    */
  val q232BinaryHammingRecall: Q = (s, dir) => {
    import s.implicits._
    val e = T.embeddings(s, dir).select($"vec_id", $"embedding")
    val twins = VectorSearch.plantedTwins(e)
    val bar = twins.select(
        ($"vec_id" - VectorSearch.PlantedIdOffset).as("vec_id"),
        $"embedding".as("twin"))
      .join(e, "vec_id")
      .select(($"vec_id" + VectorSearch.PlantedIdOffset).as("qid"),
        cosine(dot_q20($"twin", $"embedding").cast("double"),
          norm_q20($"twin"), norm_q20($"embedding")).as("twin_cos"))
    val ann = binaryAnn(e.unionByName(twins))
      .filter($"qid" >= VectorSearch.PlantedIdOffset)
      .select($"qid", $"cos_sim".as("ann_cos"))
    bar.join(ann, Seq("qid"), "left")
      .withColumn("hit", $"ann_cos" >= $"twin_cos" - RecallTolerance)
      .agg(count(lit(1)).as("n_queries"),
        (sum(when($"hit", 1).otherwise(0)) >=
          ceil(lit(RecallFloor) * count(lit(1)))).as("ok"))
  }

  val q232Sql: String =
    s"""SELECT COUNT(*) AS n_queries, TRUE AS ok
       |FROM embeddings WHERE vec_id < ${VectorSearch.QuerySetSize}""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("q232_binary_hamming_recall", q232BinaryHammingRecall, q232Sql))
}
