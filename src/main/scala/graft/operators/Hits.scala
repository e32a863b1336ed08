package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.PlanBridge

import graft.core.{Entry, Tables => T}

/** HITS hubs-and-authorities (Kleinberg 1999) over the bipartite
  * customer→supplier purchase graph — the DIRECTED-importance
  * complement of [[PageRank]]'s single score: customers are pure hubs
  * (they point), suppliers pure authorities (they are pointed at), and
  * the mutual reinforcement — good hubs buy from good authorities,
  * good authorities attract good hubs — is the recommendation-quality
  * signal a one-sided degree count misses.
  *
  * Determinism: the PageRank fixed-point discipline — scores are
  * scaled BIGINTs, each half-iteration sums integer scores over edges
  * and renormalizes by the running MAX with integer division
  * (a' = (a · 10⁶) div max a, the fixed-point form of HITS' L∞
  * normalization), so both engines produce bit-identical scores after
  * any number of iterations; no float, no order sensitivity.
  *
  * Scale shape: the distinct edge list is computed once and
  * localCheckpoint'ed; each half-iteration is ONE equi-join (edges ⋈
  * scores on one side's key — the same hash partitioning every time)
  * + ONE partial-aggregated SUM groupBy; the normalizing max is a
  * 1-row aggregate broadcast by crossJoin. Zero per-iteration driver
  * traffic.
  */
object Hits {

  import Entry.Q

  val Scale = 1000000L
  val Iterations = 2
  val TopK = 10

  /** One authority/hub round-trip: `auth(v) = Σ_{u→v} hub(u)` then
    * renormalize, `hub(u) = Σ_{u→v} auth(v)` then renormalize.
    * `edges` is (u, v); hubs keyed by u, authorities by v.
    */
  private def halfStep(edges: DataFrame, scores: DataFrame,
      fromCol: String, toCol: String): DataFrame = {
    val s = edges.sparkSession
    import s.implicits._
    val summed = edges
      .join(scores.withColumnRenamed("id", fromCol), fromCol)
      .groupBy(col(toCol).as("id"))
      .agg(sum($"sc").as("raw"))
    val mx = summed.agg(max($"raw").as("mx"))
    summed.crossJoin(mx)
      .select($"id", expr(s"(raw * $Scale) div mx").as("sc"))
  }

  /** q308 — top-[[TopK]] supplier authorities after [[Iterations]]
    * mutual-reinforcement rounds.
    */
  val q308Hits: Q = (s, dir) => {
    import s.implicits._
    val edges = PlanBridge.checkpointResetStats(T.lineitem(s, dir)
      .join(T.orders(s, dir), $"l_orderkey" === $"o_orderkey")
      .select($"o_custkey".as("u"), $"l_suppkey".as("v"))
      .distinct())
    var hubs = edges.select($"u".as("id")).distinct()
      .select($"id", lit(Scale).as("sc"))
    var auths: DataFrame = null
    for (_ <- 1 to Iterations) {
      auths = halfStep(edges, hubs, "u", "v")
      hubs = halfStep(edges, auths, "v", "u")
    }
    auths
      .select($"id".as("s_suppkey"), $"sc".as("authority"))
      .orderBy($"authority".desc, $"s_suppkey".asc)
      .limit(TopK)
  }

  val q308Sql: String =
    s"""WITH ed AS MATERIALIZED (
       |  SELECT DISTINCT o_custkey AS u, l_suppkey AS v
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |h0 AS (SELECT u AS id, CAST($Scale AS BIGINT) AS sc
       |       FROM (SELECT DISTINCT u FROM ed)),
       |a1r AS (SELECT v AS id, CAST(SUM(sc) AS BIGINT) AS raw
       |        FROM ed JOIN h0 ON ed.u = h0.id GROUP BY v),
       |a1 AS (SELECT id, (raw * $Scale) // (SELECT MAX(raw) FROM a1r) AS sc
       |       FROM a1r),
       |h1r AS (SELECT u AS id, CAST(SUM(sc) AS BIGINT) AS raw
       |        FROM ed JOIN a1 ON ed.v = a1.id GROUP BY u),
       |h1 AS (SELECT id, (raw * $Scale) // (SELECT MAX(raw) FROM h1r) AS sc
       |       FROM h1r),
       |a2r AS (SELECT v AS id, CAST(SUM(sc) AS BIGINT) AS raw
       |        FROM ed JOIN h1 ON ed.u = h1.id GROUP BY v),
       |a2 AS (SELECT id, (raw * $Scale) // (SELECT MAX(raw) FROM a2r) AS sc
       |       FROM a2r)
       |SELECT id AS s_suppkey, CAST(sc AS BIGINT) AS authority
       |FROM a2
       |ORDER BY authority DESC, s_suppkey ASC
       |LIMIT $TopK""".stripMargin

  val entries: Seq[Entry] = Seq(Entry("q308_hits", q308Hits, q308Sql))
}
