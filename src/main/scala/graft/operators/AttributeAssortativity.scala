package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.PlanBridge

import graft.core.{Entry, Tables => T}

/** CATEGORICAL (attribute) ASSORTATIVITY (Newman PRE'03 eq. 2 — "do
  * nodes link to their own KIND?": the mixing-matrix coefficient
  * r = (Σᵢeᵢᵢ − Σᵢaᵢbᵢ)/(1 − Σᵢaᵢbᵢ) over an attribute partition;
  * q530 answers the DEGREE version, this the categorical one — the
  * homophily number behind every community-vs-attribute analysis;
  * 1 = perfect homophily, 0 = random mixing, negative =
  * heterophily): customer nations over the block-local graph.
  *
  * Exactness: on the symmetrized directed edge list the coefficient
  * clears denominators to r = (M·e_same − Σᵢsᵢ²)/(M² − Σᵢsᵢ²) with
  * M = directed edge count, e_same = same-attribute edges, sᵢ = edges
  * incident (as source) to attribute i — three exact BIGINT censuses;
  * ONE shared NULLIF-guarded formula (the single-attribute degenerate
  * graph ⟹ NULL in both engines).
  *
  * Scale shape: one broadcast-sized attribute join onto each endpoint
  * + two partial aggs + a 1-row finish.
  */
object AttributeAssortativity {

  import Entry.Q

  /** Categorical r from the exact pieces — shared verbatim. */
  val RFormula: String =
    "(CAST(m2 AS DOUBLE) * e_same - CAST(s_sq AS DOUBLE)) " +
      "/ NULLIF(CAST(m2 AS DOUBLE) * m2 - CAST(s_sq AS DOUBLE), 0.0)"

  val q555AttrAssortativity: Q = (s, dir) => {
    import s.implicits._
    val nations = T.customer(s, dir)
      .select($"c_custkey".as("v"), $"c_nationkey".as("attr"))
    attrAssortativity(KTruss.ktEdges(s, dir), nations)
  }

  /** r over a symmetrized `(u, v)` list + `(v, attr)` labels. */
  def attrAssortativity(edges0: DataFrame, labels: DataFrame): DataFrame = {
    val s = edges0.sparkSession
    import s.implicits._
    val edges = PlanBridge.checkpointResetStats(edges0
      .join(labels.select($"v".as("u"), $"attr".as("au")), "u")
      .join(labels.select($"v", $"attr".as("av")), "v"))
    val (m2, eSame) = edges.agg(count(lit(1)),
      sum(when($"au" === $"av", 1L).otherwise(0L)))
      .as[(Long, Long)].head()
    val sSq = edges.groupBy($"au").agg(count(lit(1)).as("s"))
      .agg(sum(expr("CAST(s AS DECIMAL(38,0)) * s")).cast("long"))
      .as[Long].head()
    Seq((m2, eSame, sSq)).toDF("m2", "e_same", "s_sq")
      .withColumn("r", expr(RFormula))
      .withColumn("homophilous", expr(s"$RFormula > 0.0"))
  }

  val q555Sql: String =
    s"""WITH outs AS (
      |  SELECT c_custkey AS v,
      |    (c_custkey // ${KTruss.KtBlock}) * ${KTruss.KtBlock} +
      |    CAST('0x' || substring(md5('kt' || k || ':' || c_custkey), 1, 4)
      |      AS BIGINT) % ${KTruss.KtBlock} AS w
      |  FROM customer,
      |    (SELECT UNNEST(range(1, ${KTruss.KtOutEdges + 1})) AS k)),
      |f AS (SELECT v, w FROM outs WHERE v <> w),
      |le0 AS MATERIALIZED (
      |  SELECT DISTINCT u, v FROM (
      |    SELECT v AS u, w AS v FROM f
      |    UNION ALL SELECT w AS u, v AS v FROM f)),
      |lab AS (SELECT c_custkey AS v, c_nationkey AS attr FROM customer),
      |edges AS MATERIALIZED (
      |  SELECT le0.u, le0.v, lu.attr AS au, lv.attr AS av
      |  FROM le0
      |  JOIN lab lu ON lu.v = le0.u
      |  JOIN lab lv ON lv.v = le0.v),
      |m AS (
      |  SELECT
      |    (SELECT COUNT(*) FROM edges) AS m2,
      |    (SELECT CAST(SUM(CASE WHEN au = av THEN 1 ELSE 0 END) AS BIGINT)
      |       FROM edges) AS e_same,
      |    (SELECT CAST(SUM(CAST(s AS HUGEINT) * s) AS BIGINT) FROM
      |       (SELECT COUNT(*) AS s FROM edges GROUP BY au)) AS s_sq)
      |SELECT m2, e_same, s_sq, $RFormula AS r,
      |  $RFormula > 0.0 AS homophilous
      |FROM m""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("q555_attr_assortativity", q555AttrAssortativity, q555Sql))
}
