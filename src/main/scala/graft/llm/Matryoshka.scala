package graft.llm

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{Entry, Tables => T}
import graft.functions.VectorFunctions._

/** Matryoshka adaptive retrieval (Kusupati et al. 2022, "Matryoshka
  * Representation Learning"): shortlist candidates with a PREFIX of the
  * embedding dimensions, rerank the shortlist with the full vector. MRL
  * trains embeddings so prefixes are usable representations; serving
  * systems exploit that to scan 1/([[MatryoshkaFullDim]]/
  * [[MatryoshkaPrefixDim]]) of the vector bytes in the expensive
  * first pass and touch full vectors only for shortlist·|Q| pairs.
  *
  * The fixture's embeddings are not MRL-trained, which is exactly why
  * the gate is a measured contract and not an assumption: shortlist
  * depth [[MatryoshkaShortlist]] is sized so the reranked top-1 matches
  * the exact full-dim top-1 within the q86 tolerance for ≥ the floor
  * fraction of queries EVEN on untuned vectors — on MRL-trained
  * embeddings the same pipeline only gets better.
  */
object Matryoshka {

  import Entry.Q

  val MatryoshkaFullDim = 64
  val MatryoshkaPrefixDim = 16

  /** Candidates kept per query after the prefix-dim pass. */
  val MatryoshkaShortlist = 10

  /** Same contract constants as the IVF gate (q86): reranked top-1
    * within 0.1 cosine of the exact top-1 for ≥ 80% of queries.
    */
  val MatryoshkaTolerance = 0.1
  val MatryoshkaFloor = 0.8

  /** q218 — Matryoshka two-stage retrieval gate, the (n_queries, ok)
    * convention (q74/q85/q86): stage 1 scores corpus × query-set on the
    * first [[MatryoshkaPrefixDim]] components only (quantized int64
    * dot, engine-order independent) and keeps [[MatryoshkaShortlist]]
    * candidates per query; stage 2 recomputes the FULL-dimension
    * cosine for shortlist pairs only and takes the top-1; `ok` asserts
    * the reranked answer reaches the exact brute-force top-1 (the
    * oracle-verified q44 path) minus tolerance for ≥ floor of queries.
    *
    * Scale shape: stage 1 is the same bounded-broadcast scan as q44 but
    * reads a 4×-shorter slice of every vector — at 100 TB the
    * first-pass bandwidth is the whole cost, and the slice is the
    * point (with a column layout storing the prefix separately, the
    * scan prunes to 1/4 of the bytes). Stage 2 touches only
    * |Q|·shortlist full vectors. Composes with IVF (prefix-dim coarse
    * scan inside probed cells) for the non-broadcast regime.
    */
  val q218MatryoshkaGate: Q = (s, dir) => {
    import s.implicits._
    val e = T.embeddings(s, dir).select($"vec_id", $"embedding")
    val pre = e.select($"vec_id",
      slice($"embedding", 1, MatryoshkaPrefixDim).as("prefix"))
    val qset = pre.filter($"vec_id" < VectorSearch.QuerySetSize)
      .select($"vec_id".as("qid"), $"prefix".as("pa"),
        norm_q20($"prefix").as("pna"))
    val corpus = pre.select($"vec_id".as("nid"), $"prefix".as("pb"),
      norm_q20($"prefix").as("pnb"))
    val wPre = Window.partitionBy($"qid").orderBy($"pre_cos".desc, $"nid".asc)
    val shortlist = corpus.join(broadcast(qset), $"qid" =!= $"nid")
      .withColumn("pre_cos",
        cosine(dot_q20($"pa", $"pb").cast("double"), $"pna", $"pnb"))
      .withColumn("slot", row_number().over(wPre))
      .filter($"slot" <= MatryoshkaShortlist)
      .select($"qid", $"nid")
    val wFull = Window.partitionBy($"qid").orderBy($"cos_sim".desc, $"nid".asc)
    val reranked = shortlist
      .join(e.select($"vec_id".as("qid"), $"embedding".as("qe")), "qid")
      .join(e.select($"vec_id".as("nid"), $"embedding".as("ne")), "nid")
      .withColumn("cos_sim",
        cosine(dot_q20($"qe", $"ne").cast("double"),
          norm_q20($"qe"), norm_q20($"ne")))
      .withColumn("rank", row_number().over(wFull))
      .filter($"rank" === 1)
      .select($"qid", $"cos_sim".as("mrl_cos"))
    val exact = VectorSearch.q44CosineTopk(s, dir).filter($"rank" === 1)
      .select($"qid", $"cos_sim".as("exact_cos"))
    exact.join(reranked, Seq("qid"), "left")
      .withColumn("hit", $"mrl_cos" >= $"exact_cos" - MatryoshkaTolerance)
      .agg(count(lit(1)).as("n_queries"),
        (sum(when($"hit", 1).otherwise(0)) >=
          ceil(lit(MatryoshkaFloor) * count(lit(1)))).as("ok"))
  }

  val q218Sql: String =
    s"""SELECT COUNT(*) AS n_queries, TRUE AS ok
       |FROM embeddings WHERE vec_id < ${VectorSearch.QuerySetSize}""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("q218_matryoshka_gate", q218MatryoshkaGate, q218Sql))
}
