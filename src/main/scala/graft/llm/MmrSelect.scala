package graft.llm

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.PlanBridge

import graft.core.{Entry, Tables => T}
import graft.functions.VectorFunctions._

/** MAXIMAL MARGINAL RELEVANCE selection (Carbonell & Goldstein
  * SIGIR'98 — the diversity-aware re-ranker used for RAG context
  * packing and diverse training-subset curation): greedily pick
  * documents maximizing `λ·rel(d) − (1−λ)·max_{s∈S} sim(d,s)` so each
  * pick is relevant AND far from everything already selected. λ = ½,
  * so the argmax reduces to integer `rel − maxsim`.
  *
  * Exactness discipline: rel and sim are `⌊10⁶ · cos⌋` where cos is
  * the quantized-dot cosine (`dot_q20` int64 over ⌊x·2²⁰⌋ components,
  * divided by sqrt-of-int norms in the SAME expression order both
  * engines) — the floor lands on identical doubles, so every score is
  * BIGINT and ties break on doc_id identically everywhere.
  *
  * Spark shape (the q478 admission rule): the UNBOUNDED corpus only
  * feeds the per-query top-[[MmrPool]] relevance heap (TopK.perGroup,
  * no global sort); pool×pool similarities and the O(k·pool)
  * sequential greedy run inside `flatMapGroups` with ≤ pool² rows per
  * group — per-group state is bounded by construction, queries
  * parallelize freely. The oracle replays the greedy as
  * [[MmrK]] − 1 UNROLLED DuckDB CTE steps (the q474 convention).
  */
object MmrSelect {

  import Entry.Q

  /** Queries = vectors with vec_id < MmrQueries. */
  val MmrQueries = 8L
  /** Per-query candidate pool (relevance top-K before MMR). */
  val MmrPool = 32
  /** Selected-set size. */
  val MmrK = 8

  /** ⌊10⁶·cos⌋ with both engines' expression order pinned. */
  private def relMicro(dot: org.apache.spark.sql.Column,
      na: org.apache.spark.sql.Column, nb: org.apache.spark.sql.Column) =
    floor(lit(1000000.0) * cosine(dot.cast("double"), na, nb)).cast("long")

  val q484MmrSelect: Q = (s, dir) => {
    import s.implicits._
    val e = PlanBridge.checkpointResetStats(T.embeddings(s, dir)
      .select($"vec_id", $"embedding", norm_q20($"embedding").as("nrm")))
    val qs = e.filter($"vec_id" < MmrQueries)
      .select($"vec_id".as("qid"), $"embedding".as("qe"), $"nrm".as("qn"))
    // relevance pool: top-MmrPool per query by ⌊10⁶·cos⌋, bounded heap
    val rel = e.crossJoin(broadcast(qs)).filter($"vec_id" =!= $"qid")
      .select($"qid", $"vec_id".as("did"),
        relMicro(dot_q20($"qe", $"embedding"), $"qn", $"nrm").as("rel"))
    val pool = PlanBridge.checkpointResetStats(graft.plans.TopK.perGroup(rel,
      Seq("qid"), Seq("rel" -> false, "did" -> true), MmrPool))
    // pool×pool sims (≤ pool² rows per query), then per-query greedy
    val pe = pool.join(e.select($"vec_id".as("did"), $"embedding", $"nrm"),
      "did")
    val p2 = pe.select($"qid", $"did".as("d2"), $"embedding".as("e2"),
      $"nrm".as("n2"))
    val simRows = pe.join(p2, "qid").filter($"did" =!= $"d2")
      .select($"qid", $"did", $"rel",
        $"d2", relMicro(dot_q20($"embedding", $"e2"), $"nrm", $"n2")
          .as("sim"))
      .as[(Long, Long, Long, Long, Long)]
    simRows.groupByKey(_._1).flatMapGroups { (qid, it) =>
      val rows = it.toArray
      val relOf = rows.map(r => r._2 -> r._3).toMap
      val simOf = rows.map(r => (r._2, r._4) -> r._5).toMap
      var sel = Vector.empty[Long]
      val out = Vector.newBuilder[(Long, Long, Long, Long)]
      for (step <- 1 to math.min(MmrK, relOf.size)) {
        val (doc, score) = relOf.keysIterator
          .filterNot(sel.contains)
          .map { d =>
            val ms = if (sel.isEmpty) 0L
              else sel.map(sd => simOf((d, sd))).max
            (d, relOf(d) - (if (sel.isEmpty) 0L else ms))
          }
          .minBy { case (d, sc) => (-sc, d) }
        sel :+= doc
        out += ((qid, step.toLong, doc, score))
      }
      out.result()
    }.toDF("qid", "step", "doc_id", "score_micro")
      .orderBy($"qid", $"step")
  }

  val q484Sql: String = {
    val pairs = "CAST(FLOOR(1000000.0 * (CAST(SUM(x.qv[i] * y.qv[i]) AS " +
      "DOUBLE) / (nx.nrm * ny.nrm))) AS BIGINT)"
    val steps = (2 to MmrK).map { t =>
      s"""st$t AS MATERIALIZED (
         |  SELECT p.qid, p.did, p.rel - MAX(s.sim) AS score
         |  FROM pool p
         |  JOIN sim s ON s.qid = p.qid AND s.d1 = p.did
         |  JOIN sel${t - 1} v ON v.qid = s.qid AND v.did = s.d2
         |  WHERE NOT EXISTS (SELECT 1 FROM sel${t - 1} v2
         |                    WHERE v2.qid = p.qid AND v2.did = p.did)
         |  GROUP BY p.qid, p.did, p.rel),
         |pk$t AS MATERIALIZED (
         |  SELECT qid, did, $t AS step, score FROM (
         |    SELECT qid, did, score, ROW_NUMBER() OVER (PARTITION BY qid
         |      ORDER BY score DESC, did) AS rn FROM st$t) WHERE rn = 1),
         |sel$t AS MATERIALIZED (SELECT * FROM sel${t - 1} UNION ALL
         |          SELECT * FROM pk$t)""".stripMargin
    }.mkString(",\n")
    s"""WITH q AS (
      |  SELECT vec_id,
      |    list_transform(embedding,
      |      x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT)) AS qv
      |  FROM embeddings),
      |nrm AS (
      |  SELECT vec_id, SQRT(CAST(SUM(qv[i] * qv[i]) AS DOUBLE)) AS nrm
      |  FROM q, range(1, 65) t(i) GROUP BY vec_id),
      |relm AS (
      |  SELECT a.vec_id AS qid, b.vec_id AS did,
      |    CAST(FLOOR(1000000.0 * (CAST(SUM(a.qv[i] * b.qv[i]) AS DOUBLE)
      |      / (na.nrm * nb.nrm))) AS BIGINT) AS rel
      |  FROM q a JOIN q b ON a.vec_id < $MmrQueries
      |    AND b.vec_id <> a.vec_id, range(1, 65) t(i)
      |  JOIN nrm na ON na.vec_id = a.vec_id
      |  JOIN nrm nb ON nb.vec_id = b.vec_id
      |  GROUP BY a.vec_id, b.vec_id, na.nrm, nb.nrm),
      |pool AS MATERIALIZED (
      |  SELECT qid, did, rel FROM (
      |    SELECT qid, did, rel, ROW_NUMBER() OVER (PARTITION BY qid
      |      ORDER BY rel DESC, did) AS rn FROM relm) WHERE rn <= $MmrPool),
      |sim AS MATERIALIZED (
      |  SELECT p1.qid, p1.did AS d1, p2.did AS d2, $pairs AS sim
      |  FROM pool p1 JOIN pool p2 ON p1.qid = p2.qid AND p1.did <> p2.did
      |  JOIN q x ON x.vec_id = p1.did JOIN q y ON y.vec_id = p2.did
      |  JOIN nrm nx ON nx.vec_id = p1.did
      |  JOIN nrm ny ON ny.vec_id = p2.did, range(1, 65) t(i)
      |  GROUP BY p1.qid, p1.did, p2.did, nx.nrm, ny.nrm),
      |sel1 AS MATERIALIZED (
      |  SELECT qid, did, 1 AS step, rel AS score FROM (
      |    SELECT qid, did, rel, ROW_NUMBER() OVER (PARTITION BY qid
      |      ORDER BY rel DESC, did) AS rn FROM pool) WHERE rn = 1),
      |$steps
      |SELECT qid, CAST(step AS BIGINT) AS step, did AS doc_id,
      |  score AS score_micro
      |FROM sel$MmrK
      |ORDER BY qid, step""".stripMargin
  }

  val entries: Seq[Entry] = Seq(
    Entry("q484_mmr_select", q484MmrSelect, q484Sql))
}
