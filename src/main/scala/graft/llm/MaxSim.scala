package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.PlanBridge

import graft.core.{Entry, Tables => T}

/** LATE-INTERACTION MaxSim scoring (Khattab & Zaharia SIGIR'20
  * ColBERT §3.2 — the token-level multi-vector rerank every modern
  * retrieval stack runs between candidate generation and the
  * cross-encoder: score(q, d) = Σ_{t∈q} max_{t'∈d} ⟨t, t'⟩, "every
  * query token finds its best document token"; PLAID SIGIR'23 is the
  * same scoring over compressed residuals): documents are
  * MULTI-VECTOR — [[TokPerDoc]] consecutive `embeddings` rows form one
  * multi-vector doc (vec_id div TokPerDoc, the deterministic grouping
  * both engines replay) — a bounded query set is scored against
  * per-token candidates and reranked by exact MaxSim.
  *
  * Candidate generation is ColBERT-FAITHFUL: per QUERY TOKEN, the
  * top-[[MsTokK]] doc tokens by exact dot, the union of their docs
  * forming the candidate set (ColBERT §3.3's per-token retrieval —
  * measured here: a centroid-sum surrogate leg reached only 15/60
  * rank parity with exact full scoring on this corpus, the per-token
  * leg reaches 60/60 at K = 16 at BOTH sf0.001 and sf0.01 with ~54
  * candidate docs per query, the pinned spec). Everything is EXACT
  * Q20 integer arithmetic — token dots ≤ 64·2⁴⁰ < 2⁴⁶, MaxSim sums
  * < 2⁴⁹ — so the output carries no float anywhere (argmax and rank
  * ties break on exact integers + ids; no q540-class conversion
  * surface at all).
  *
  * Scale shape: q44's bounded-broadcast exact discipline — the query
  * set's [[MsQuerySet]]·TokPerDoc token vectors broadcast, the corpus
  * streams through ONE codegen token-dot stage consumed by BOTH the
  * per-token top-K (a |Qtok|-partition window, never corpus-keyed)
  * and the candidate-semi-joined rerank, so token dots are computed
  * once. At full-corpus query sets the token-dot stage swaps to the
  * q81 IVF / q45 LSH bucketed indexes (recall curves q435/q85/q86)
  * and the rerank — whose cost is candidates·TokPerDoc², independent
  * of corpus size — runs unchanged on their output.
  */
object MaxSim {

  import Entry.Q

  /** Consecutive embedding rows per multi-vector doc. */
  val TokPerDoc = 8L

  /** Bounded query set: docs with mdoc < MsQuerySet (the q44
    * QuerySetSize convention at doc granularity).
    */
  val MsQuerySet = 12L

  /** Per-query-token candidate depth (top-K doc tokens by exact dot).
    * Measured rank parity vs exact full scoring: 59/60 at K = 8,
    * 60/60 at K = 16 (sf0.001 AND sf0.01) — pinned by the spec.
    */
  val MsTokK = 16

  /** Reranked results per query. */
  val TopR = 5

  /** Component-wise Q20 quantization (the q44Sql shared spelling). */
  private val Q20 =
    "transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT))"

  val q578MaxSim: Q = (s, dir) => maxSim(T.embeddings(s, dir), MsTokK)

  /** `(qid, rank, did, maxsim)` for the bounded query set — per-token
    * top-`tokK` candidates, exact MaxSim rerank over them, top-[[TopR]]
    * emitted. `tokK ≥ corpus tokens` degrades the candidate stage to
    * exact full scoring (the spec's rank-parity reference).
    */
  def maxSim(emb: DataFrame, tokK: Int): DataFrame = {
    val s = emb.sparkSession
    import s.implicits._
    val tok = emb.select(expr(s"vec_id div $TokPerDoc").as("mdoc"),
      $"vec_id".as("tok"), expr(Q20).as("qv"))
    val qtok = tok.filter($"mdoc" < MsQuerySet)
      .select($"mdoc".as("qid"), $"tok".as("qt"), $"qv".as("qa"))
    val dtok = tok.select($"mdoc".as("did"), $"tok".as("dt"),
      $"qv".as("qb"))
    // ONE token-dot stage — queries broadcast, corpus streams; both
    // the per-token top-K and the rerank read it
    val tokdot = PlanBridge.checkpointResetStats(
      dtok.join(broadcast(qtok), $"qid" =!= $"did")
        .withColumn("dot", expr(
          "aggregate(zip_with(qa, qb, (x, y) -> x * y), 0L," +
            " (acc, v) -> acc + v)"))
        .select($"qid", $"qt", $"did", $"dt", $"dot"))
    val wTok = Window.partitionBy($"qid", $"qt")
      .orderBy($"dot".desc, $"did".asc, $"dt".asc)
    val cands = tokdot.withColumn("rr", row_number().over(wTok))
      .filter($"rr" <= tokK)
      .select($"qid", $"did").distinct()
    val wRank = Window.partitionBy($"qid")
      .orderBy($"maxsim".desc, $"did".asc)
    tokdot.join(cands, Seq("qid", "did"), "left_semi")
      .groupBy($"qid", $"did", $"qt").agg(max($"dot").as("m"))
      .groupBy($"qid", $"did").agg(sum($"m").as("maxsim"))
      .withColumn("rank", row_number().over(wRank))
      .filter($"rank" <= TopR)
      .select($"qid", $"rank", $"did", $"maxsim")
      .orderBy($"qid", $"rank")
  }

  val q578Sql: String =
    s"""WITH q AS (
      |  SELECT vec_id // $TokPerDoc AS mdoc, vec_id AS tok,
      |    list_transform(embedding,
      |      x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT)) AS qv
      |  FROM embeddings),
      |tokdot AS (
      |  SELECT qa.mdoc AS qid, qa.tok AS qt, qb.mdoc AS did,
      |    qb.tok AS dt, SUM(qa.qv[i] * qb.qv[i]) AS dot
      |  FROM q qa JOIN q qb ON qa.mdoc <> qb.mdoc, range(1, 65) t(i)
      |  WHERE qa.mdoc < $MsQuerySet
      |  GROUP BY 1, 2, 3, 4),
      |cands AS (
      |  SELECT DISTINCT qid, did FROM (
      |    SELECT qid, qt, did, dt, ROW_NUMBER() OVER (
      |      PARTITION BY qid, qt
      |      ORDER BY dot DESC, did ASC, dt ASC) AS rr
      |    FROM tokdot) z
      |  WHERE rr <= $MsTokK),
      |mx AS (
      |  SELECT td.qid, td.did, td.qt, MAX(td.dot) AS m
      |  FROM tokdot td JOIN cands c
      |    ON td.qid = c.qid AND td.did = c.did
      |  GROUP BY 1, 2, 3),
      |score AS (SELECT qid, did, CAST(SUM(m) AS BIGINT) AS maxsim
      |          FROM mx GROUP BY 1, 2)
      |SELECT qid, rank, did, maxsim FROM (
      |  SELECT qid, did, maxsim, ROW_NUMBER() OVER (PARTITION BY qid
      |    ORDER BY maxsim DESC, did ASC) AS rank
      |  FROM score) z
      |WHERE rank <= $TopR ORDER BY qid, rank""".stripMargin

  val entries: Seq[Entry] = Seq(Entry("q578_maxsim", q578MaxSim, q578Sql))
}
