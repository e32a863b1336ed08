package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.PlanBridge

import graft.core.{Entry, Tables => T}
import graft.functions.VectorFunctions._

/** MULTI-PROBE LSH ANN (Lv et al. VLDB'07 — the memory-side of the LSH
  * trade: q45 buys recall with FOUR independent hash tables (4× index
  * memory, 4× index build); multi-probe keeps ONE table and buys the
  * same recall by probing the query's NEIGHBOR buckets — every bucket
  * within Hamming distance ≤ [[MpProbeRadius]] of the query's own SRP
  * signature, the buckets a near-twin's few flipped hyperplane signs
  * land in): the serving configuration for memory-constrained indexes.
  *
  * Probe census at radius 2 over [[MpPlanes]] = 12 planes: 1 + 12 + 66
  * = 79 probe buckets per query, candidates ≈ 79·N/4096 ≈ N/52 per
  * query — the documented probe-work-for-memory trade vs q45's
  * 4-table OR.
  *
  * Gate (q85's planted-twin discipline): a ~0.999-cosine twin flips
  * each plane with prob ≈ arccos(0.999)/π ≈ 0.014, so P(≤ 2 flips of
  * 12) ≈ 0.9965 — the twin's bucket is inside the probe set for
  * ≥ [[VectorSearch.LshRecallFloor]] of queries with margin, and the
  * top-1 must reach the twin's cosine − tolerance. Deterministic:
  * hash-seeded planes, quantized cosine, id tie-breaks.
  *
  * Scale shape: index = ONE projection pass + per-bucket cap (q45's
  * skew guard); queries explode to 79 probe rows and equi-join the
  * ONE bucket index — never all pairs.
  */
object MultiprobeLsh {

  import Entry.Q

  val MpPlanes = 12
  val MpProbeRadius = 2
  val MpSeed = 42
  val MpBucketCap = 256

  /** Probe masks: all signatures within Hamming ≤ radius of 0. */
  val ProbeMasks: Seq[Long] = {
    val single = (0 until MpPlanes).map(i => 1L << i)
    val double_ = for {
      i <- 0 until MpPlanes; j <- (i + 1) until MpPlanes
    } yield (1L << i) | (1L << j)
    0L +: (single ++ double_)
  }

  /** Top-1 multi-probe ANN over a `(vec_id, embedding)` frame. */
  def multiprobeAnn(e0: DataFrame): DataFrame = {
    val s = e0.sparkSession
    import s.implicits._
    // index side AND probe side read it
    val sigs = PlanBridge.checkpointResetStats(
      e0.select($"vec_id", $"embedding",
        norm_q20($"embedding").as("norm"),
        srp_bucket($"embedding", MpPlanes, MpSeed).cast("long").as("bucket")))
    val wCap = Window.partitionBy($"bucket")
      .orderBy(xxhash64($"vec_id"), $"vec_id")
    val index = sigs
      .withColumn("slot", row_number().over(wCap))
      .filter($"slot" <= MpBucketCap)
      .select($"bucket", $"vec_id".as("nid"), $"embedding".as("eb"),
        $"norm".as("nb"))
    val masks = ProbeMasks.map(lit)
    val probes = sigs.select($"vec_id".as("qid"), $"embedding".as("ea"),
      $"norm".as("na"), $"bucket".as("own"),
      explode(array(masks: _*)).as("mask"))
      .withColumn("bucket", expr("own ^ mask"))
    val cand = probes
      .join(index, "bucket")
      .filter($"qid" =!= $"nid")
      .groupBy($"qid", $"nid")
      .agg(max(cosine(dot_q20($"ea", $"eb").cast("double"), $"na", $"nb"))
        .as("cos_sim"))
    val w = Window.partitionBy($"qid").orderBy($"cos_sim".desc, $"nid".asc)
    cand.withColumn("rank", row_number().over(w))
      .filter($"rank" === 1)
      .select($"qid", $"nid", $"cos_sim")
  }

  /** q543 — planted-twin recall gate (q85's discipline) over the
    * single-table multi-probe index.
    */
  val q543MultiprobeRecall: Q = (s, dir) => {
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
    val ann = multiprobeAnn(e.unionByName(twins))
      .filter($"qid" >= VectorSearch.PlantedIdOffset)
      .select($"qid", $"cos_sim".as("ann_cos"))
    val joined = bar.join(ann, Seq("qid"), "left")
      .withColumn("hit",
        $"ann_cos" >= $"twin_cos" - VectorSearch.LshRecallTolerance)
    joined.agg(count(lit(1)).as("n_queries"),
      (sum(when($"hit", 1).otherwise(0)) >=
        ceil(lit(VectorSearch.LshRecallFloor) * count(lit(1)))).as("ok"))
  }

  val q543Sql: String =
    s"""SELECT COUNT(*) AS n_queries, TRUE AS ok
       |FROM embeddings WHERE vec_id < ${VectorSearch.QuerySetSize}"""
      .stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("q543_multiprobe_recall", q543MultiprobeRecall, q543Sql))
}
