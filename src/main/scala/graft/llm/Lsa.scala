package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.PlanBridge

import graft.core.{Entry, Tables => T}

/** LSA dominant topic direction by POWER ITERATION over the sparse
  * TF-IDF matrix — distributed sparse linear algebra as plain
  * DataFrame ops: the top right-singular vector of the docs×terms
  * matrix A is the fixpoint of v ← normalize(Aᵀ(A v)), and each
  * half-step (a sparse MATVEC) is exactly one equi-join of the
  * (doc, term, weight) triples with the current vector plus one
  * partial-aggregated SUM — the same shape PageRank/HITS use, applied
  * to a RECTANGULAR matrix. The resulting term loadings are the
  * corpus's dominant co-occurrence axis — LSA's first topic
  * (Deerwester et al. 1990), the direction a full truncated SVD would
  * refine.
  *
  * Determinism: the q138/q308 fixed-point discipline. Weights are
  * integer-quantized TF-IDF (⌊10³·tf·idf⌋ with q76's LOG-FREE
  * rational idf = (N−df+½)/(df+½) — one correctly-rounded division
  * and one multiply before the floor, identical cross-engine); every
  * matvec accumulates exact BIGINT products; normalization is L∞ in
  * integer division ((x·10⁶) div max). No float ever enters an
  * aggregate, so both engines produce bit-identical loadings.
  *
  * Int64 budget: w_q ≤ 10³·tf·(N/df) ≈ 2·10⁸ at hapax idf; a matvec
  * term is w_q·10⁶ ≤ 2·10¹⁴, summed over ≤ max(doc length, df) rows —
  * safe to ~10⁴-term docs / 10⁴-doc terms at these magnitudes; larger
  * corpora rescale WScale down (the budget is the contract,
  * q149-style).
  *
  * Scale shape: the triple frame is built once (one explode + two
  * partial-agg groupBys) and localCheckpoint'ed; each half-step is
  * one equi-join + one groupBy + a 1-row max broadcast, with the raw
  * sums checkpointed so the max/normalize branch never recomputes the
  * matvec. Vector frames are |docs| and |terms| rows — never wider
  * than the data.
  */
object Lsa {

  import Entry.Q

  val Scale = 1000000L
  val WScale = 1000L
  val Iterations = 2
  val TopK = 20

  /** q76's token filter (same stopword floor, kept identical so the
    * matrices of the two rows agree).
    */
  private val Stop = Seq("the", "a", "of", "and", "to")

  /** q309 — top-[[TopK]] term loadings of the corpus's dominant LSA
    * axis after [[Iterations]] power iterations.
    */
  val q309LsaPower: Q = (s, dir) => {
    import s.implicits._
    val docs = T.documents(s, dir)
    val nDocs = docs.select(countDistinct($"doc_id")).as[Long].head()
    val filt = docs
      .select($"doc_id", explode(split($"text", " ")).as("term"))
      .filter($"term" =!= "" && !$"term".isin(Stop: _*))
    val tf = filt.groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy($"term").agg(count(lit(1)).as("df"))
    val w = PlanBridge.checkpointResetStats(tf.join(df, "term")
      .select($"doc_id", $"term",
        expr(s"""CAST(FLOOR($WScale * CAST(tf AS DOUBLE)
                | * ((CAST($nDocs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
                |    / (CAST(df AS DOUBLE) + 0.5))) AS BIGINT)""".stripMargin)
          .as("wq"))
      .filter($"wq" > 0)) // joined once per half-step, 2·Iterations times
    def halfStep(vec: DataFrame, vecKey: String, outKey: String): DataFrame = {
      // read twice: max branch + normalize branch
      val raw = PlanBridge.checkpointResetStats(w.join(vec, vecKey)
        .groupBy(col(outKey)).agg(sum($"wq" * $"sc").as("raw")))
      val mx = raw.agg(max($"raw").as("mx"))
      raw.crossJoin(mx)
        .select(col(outKey), expr(s"(raw * $Scale) div mx").as("sc"))
    }
    var v = w.select($"term").distinct().select($"term", lit(Scale).as("sc"))
    for (_ <- 1 to Iterations) {
      val u = halfStep(v, "term", "doc_id")
      v = halfStep(u, "doc_id", "term")
    }
    v.select($"term", $"sc".as("loading"))
      .orderBy($"loading".desc, $"term".asc)
      .limit(TopK)
  }

  val q309Sql: String = {
    val stop = Stop.map(t => s"'$t'").mkString(", ")
    s"""WITH filt AS (
       |  SELECT doc_id, term
       |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
       |        FROM documents)
       |  WHERE term <> '' AND term NOT IN ($stop)),
       |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM filt GROUP BY 1, 2),
       |df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
       |n AS (SELECT COUNT(DISTINCT doc_id) AS n FROM documents),
       |w AS MATERIALIZED (
       |  SELECT doc_id, term,
       |    CAST(FLOOR($WScale * CAST(tf AS DOUBLE)
       |      * ((CAST(n AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
       |         / (CAST(df AS DOUBLE) + 0.5))) AS BIGINT) AS wq
       |  FROM tf JOIN df USING (term) CROSS JOIN n
       |  WHERE $WScale * CAST(tf AS DOUBLE)
       |      * ((CAST(n AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
       |         / (CAST(df AS DOUBLE) + 0.5)) >= 1),
       |v0 AS (SELECT DISTINCT term, CAST($Scale AS BIGINT) AS sc FROM w),
       |u1r AS MATERIALIZED (
       |  SELECT doc_id, CAST(SUM(wq * sc) AS BIGINT) AS raw
       |  FROM w JOIN v0 USING (term) GROUP BY doc_id),
       |u1 AS (SELECT doc_id, (raw * $Scale) // (SELECT MAX(raw) FROM u1r) AS sc
       |       FROM u1r),
       |v1r AS MATERIALIZED (
       |  SELECT term, CAST(SUM(wq * sc) AS BIGINT) AS raw
       |  FROM w JOIN u1 USING (doc_id) GROUP BY term),
       |v1 AS (SELECT term, (raw * $Scale) // (SELECT MAX(raw) FROM v1r) AS sc
       |       FROM v1r),
       |u2r AS MATERIALIZED (
       |  SELECT doc_id, CAST(SUM(wq * sc) AS BIGINT) AS raw
       |  FROM w JOIN v1 USING (term) GROUP BY doc_id),
       |u2 AS (SELECT doc_id, (raw * $Scale) // (SELECT MAX(raw) FROM u2r) AS sc
       |       FROM u2r),
       |v2r AS MATERIALIZED (
       |  SELECT term, CAST(SUM(wq * sc) AS BIGINT) AS raw
       |  FROM w JOIN u2 USING (doc_id) GROUP BY term),
       |v2 AS (SELECT term, (raw * $Scale) // (SELECT MAX(raw) FROM v2r) AS sc
       |       FROM v2r)
       |SELECT term, CAST(sc AS BIGINT) AS loading
       |FROM v2
       |ORDER BY loading DESC, term ASC
       |LIMIT $TopK""".stripMargin
  }

  val entries: Seq[Entry] = Seq(Entry("q309_lsa_power", q309LsaPower, q309Sql))
}
