package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.PlanBridge

import graft.core.Entry

/** RICH-CLUB COEFFICIENT curve (Zhou–Mondragón IEEE Comm. Lett.'04 —
  * "do the high-degree nodes form a club?": for every degree cutoff
  * k, the density φ(k) of the subgraph induced by nodes with degree
  * > k; the curve that separates a hub OLIGARCHY (φ→1) from hubs
  * that merely fan out (φ flat) — the cumulative cousin of q530's
  * single assortativity number, read next to coreness q520): one row
  * per cutoff with ≥ 2 qualifying nodes.
  *
  * Exactness: φ_ppm = ⌊10⁶·2·e_k/(n_k·(n_k−1))⌋ from exact integer
  * suffix sums — nodes by degree census, edges by min-endpoint-degree
  * census, both cumulated from the top over the DEGREE DOMAIN (block-
  * bounded ≤ 31 distinct degrees, so the suffix-sum windows are
  * domain-bounded, never data-bounded).
  *
  * Scale shape: one degree census + two census joins onto the
  * canonical edge list + one partial agg per census; the curve
  * assembly runs on the ≤ 31-row degree frames.
  */
object RichClub {

  import Entry.Q

  /** (k, n_k, e_k, phi_ppm) over canonical (u < v) edges. */
  def richClub(canonEdges: DataFrame): DataFrame = {
    val s = canonEdges.sparkSession
    import s.implicits._
    val edges = PlanBridge.checkpointResetStats(canonEdges)
    val deg = PlanBridge.checkpointResetStats(edges.select($"u".as("n"))
      .unionAll(edges.select($"v".as("n")))
      .groupBy($"n").agg(count(lit(1)).as("d")))
    // DENSIFY both censuses over the full degree domain so every
    // cutoff's suffix aligns exactly (a sparse key join would read 0
    // edges for a cutoff whose next PRESENT min-degree is higher)
    val maxD = deg.agg(max($"d")).as[Long].head()
    val dense = s.range(1L, maxD + 1L).select($"id".as("d"))
    val degCensus = dense
      .join(deg.groupBy($"d").agg(count(lit(1)).as("cnt")), Seq("d"),
        "left")
      .select($"d", coalesce($"cnt", lit(0L)).as("cnt"))
    val wUp = Window.orderBy($"d".desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val nk = degCensus.withColumn("n_k", sum($"cnt").over(wUp))
      .select(($"d" - 1L).as("k"), $"n_k")
    val em = edges
      .join(deg.select($"n".as("u"), $"d".as("du")), "u")
      .join(deg.select($"n".as("v"), $"d".as("dv")), "v")
      .select(least($"du", $"dv").as("d"))
      .groupBy($"d").agg(count(lit(1)).as("ecnt"))
    val ek = dense.join(em, Seq("d"), "left")
      .select($"d", coalesce($"ecnt", lit(0L)).as("ecnt"))
      .withColumn("e_k", sum($"ecnt").over(wUp))
      .select(($"d" - 1L).as("k"), $"e_k")
    nk.join(ek, Seq("k"))
      .filter($"n_k" >= 2L)
      .withColumn("phi_ppm",
        expr("(1000000L * 2 * e_k) div (n_k * (n_k - 1))"))
      .select($"k", $"n_k", $"e_k", $"phi_ppm")
      .orderBy($"k")
  }

  val q550RichClub: Q = (s, dir) => {
    import s.implicits._
    richClub(KTruss.ktEdges(s, dir).filter($"u" < $"v"))
  }

  val q550Sql: String =
    s"""WITH outs AS (
      |  SELECT c_custkey AS v,
      |    (c_custkey // ${KTruss.KtBlock}) * ${KTruss.KtBlock} +
      |    CAST('0x' || substring(md5('kt' || k || ':' || c_custkey), 1, 4)
      |      AS BIGINT) % ${KTruss.KtBlock} AS w
      |  FROM customer,
      |    (SELECT UNNEST(range(1, ${KTruss.KtOutEdges + 1})) AS k)),
      |f AS (SELECT v, w FROM outs WHERE v <> w),
      |sym AS (
      |  SELECT DISTINCT u, v FROM (
      |    SELECT v AS u, w AS v FROM f
      |    UNION ALL SELECT w AS u, v AS v FROM f)),
      |edges AS MATERIALIZED (SELECT u, v FROM sym WHERE u < v),
      |deg AS MATERIALIZED (
      |  SELECT n, COUNT(*) AS d FROM (
      |    SELECT u AS n FROM edges UNION ALL SELECT v AS n FROM edges)
      |  GROUP BY 1),
      |dense AS (
      |  SELECT UNNEST(range(1, (SELECT MAX(d) FROM deg) + 1)) AS d),
      |nk AS (
      |  SELECT d - 1 AS k,
      |    CAST(SUM(cnt) OVER (ORDER BY d DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS n_k
      |  FROM (
      |    SELECT dense.d, COALESCE(c.cnt, 0) AS cnt
      |    FROM dense LEFT JOIN
      |      (SELECT d, COUNT(*) AS cnt FROM deg GROUP BY 1) c
      |      ON c.d = dense.d)),
      |ek AS (
      |  SELECT d - 1 AS k,
      |    CAST(SUM(ecnt) OVER (ORDER BY d DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS e_k
      |  FROM (
      |    SELECT dense.d, COALESCE(e.ecnt, 0) AS ecnt
      |    FROM dense LEFT JOIN (
      |      SELECT LEAST(du.d, dv.d) AS m, COUNT(*) AS ecnt
      |      FROM edges
      |      JOIN deg du ON du.n = edges.u
      |      JOIN deg dv ON dv.n = edges.v
      |      GROUP BY 1) e ON e.m = dense.d))
      |SELECT nk.k, n_k, e_k,
      |  (1000000 * 2 * e_k) // (n_k * (n_k - 1)) AS phi_ppm
      |FROM nk JOIN ek ON ek.k = nk.k
      |WHERE n_k >= 2
      |ORDER BY nk.k""".stripMargin

  val entries: Seq[Entry] = Seq(Entry("q550_rich_club", q550RichClub, q550Sql))
}
