package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.PlanBridge

import graft.core.{Entry, Tables => T}

/** IVF-PQ SERVE WITH EXACT RE-RANK (the FAISS `IndexRefineFlat`
  * architecture; Jégou et al. TPAMI'11 §V.C's "re-ranking with source
  * coding"): the q157 IVF-ADC pipeline answers from QUANTIZED codes, so
  * its precision is capped by PQ distortion. The production fix keeps
  * ADC as a SHORTLIST generator (top-[[RefineR]] per query instead of
  * argmin) and re-ranks only those R candidates against the FULL
  * vectors — exact distance work is O(queries·R·d), corpus-independent,
  * while the corpus-sized scan stays m-byte ADC.
  *
  * Gate (in-engine, the q155/q157 convention): planted-twin top-1
  * recall of the REFINED answer must (a) beat-or-equal the plain
  * ADC-argmin answer on the SAME shortlist run — refinement can only
  * fix quantization mistakes, never introduce them, because the true
  * twin's exact distance is minimal whenever it reaches the shortlist —
  * and (b) clear the q155 floor. The oracle row pins (n_queries, ok).
  *
  * Scale shape: one broadcast-LUT join bounds the candidate frame
  * (probes·N/cells rows per query), TopK.perGroup bounds the shortlist
  * without a global sort, and the refine join touches R·|Q| full
  * vectors — the only stage reading d floats is corpus-size-free.
  */
object RefinedServe {

  import Entry.Q

  /** Shortlist depth handed to the exact re-ranker. */
  val RefineR = 16

  /** ADC top-R per query over IVF-bounded candidates (q157's pipeline
    * with the argmin widened to a bounded heap).
    */
  private def adcTopR(pairs: DataFrame, lut: DataFrame, r: Int)
      : DataFrame = {
    val s = pairs.sparkSession
    import s.implicits._
    val scored = pairs
      .select($"qid", $"vec_id", posexplode($"codes").as(Seq("sub", "code")))
      .join(broadcast(lut), Seq("qid", "sub", "code"))
      .groupBy($"qid", $"vec_id")
      .agg(sum($"d2").as("adc_d2"), count(lit(1)).as("n_sub"))
      .filter($"n_sub" === ProductQuantization.SubspaceCount)
    graft.plans.TopK.perGroup(scored.select($"qid", $"vec_id", $"adc_d2"),
      Seq("qid"), Seq("adc_d2" -> true, "vec_id" -> true), r)
  }

  /** (n_queries, adc_hits, refined_hits) — public for the spec. */
  def refineStats(s: SparkSession, dir: String): (Long, Long, Long) = {
    import s.implicits._
    val e = T.embeddings(s, dir).select($"vec_id", $"embedding")
    val cents = VectorSearch.fitCodebook(
      e, VectorSearch.ivfCellCount(e.count()))
    val corpusCells = VectorSearch.centroidCellsJoin(e, cents)
    val pcb = ProductQuantization.fitPq(e)
    val indexed = PlanBridge.checkpointResetStats(
      ProductQuantization.encode(e, pcb)
        .join(corpusCells, "vec_id"))
    val twins = VectorSearch.plantedTwins(e)
    val probes = math.min(cents.size, VectorSearch.IvfProbes)
    val qcells = VectorSearch.ivfRanked(
        twins.withColumn("norm", lit(0.0)), cents, probes)
      .select($"vec_id".as("qid"), $"cell")
    val queries = twins.select($"vec_id".as("qid"), $"embedding")
    val lut = ProductQuantization.adcLut(queries, pcb)
    val pairs = qcells.join(indexed, "cell")
      .select($"qid", $"vec_id", $"codes")
    val shortlist = PlanBridge.checkpointResetStats(
      adcTopR(pairs, lut, RefineR))

    // plain ADC answer = shortlist head (rank 1 by adc_d2)
    val adcTop1 = graft.plans.TopK.perGroup(shortlist,
      Seq("qid"), Seq("adc_d2" -> true, "vec_id" -> true), 1)
    // refined answer: exact L2 on normalized full vectors, R per query
    val qn = ProductQuantization.normalized(queries)
      .select($"qid", $"embedding".as("qe"))
    val cn = ProductQuantization.normalized(e)
      .select($"vec_id", $"embedding".as("ce"))
    val exactD2 = aggregate(
      zip_with($"qe", $"ce", (a, b) => (a - b) * (a - b)),
      lit(0.0), (acc, d) => acc + d)
    val refined = graft.plans.TopK.perGroup(
      shortlist.select($"qid", $"vec_id")
        .join(cn, "vec_id").join(broadcast(qn), "qid")
        .select($"qid", $"vec_id", exactD2.as("ex_d2")),
      Seq("qid"), Seq("ex_d2" -> true, "vec_id" -> true), 1)

    val n = queries.count()
    def hits(ans: DataFrame): Long = ans
      .filter($"vec_id" === $"qid" - VectorSearch.PlantedIdOffset).count()
    (n, hits(adcTop1), hits(refined))
  }

  val q482RefinedServe: Q = (s, dir) => {
    import s.implicits._
    val (n, adcHits, refHits) = refineStats(s, dir)
    val ok = refHits >= adcHits &&
      refHits >= math.ceil(ProductQuantization.PqRecallFloor * n).toLong
    Seq((n, ok)).toDF("n_queries", "ok")
  }

  val q482Sql: String = ProductQuantization.q157Sql

  val entries: Seq[Entry] = Seq(
    Entry("q482_refined_serve", q482RefinedServe, q482Sql))
}
