package graft.relational

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.{Entry, Tables => T}

/** COCHRAN–ARMITAGE TREND TEST (Cochran Biometrics'54 / Armitage'55 —
  * "does a BINARY rate trend across the ordered groups?": the
  * dose-response test; where χ² q230 asks 'is the 2×k table
  * independent at all', CA spends its single degree of freedom on the
  * ORDERED alternative, exactly as JT q528 sharpens KW q519 for
  * continuous responses — this is the binary-outcome member of the
  * ordered family): does the RETURN rate (order contains a returned
  * lineitem) trend across priorities 1-URGENT … 5-LOW?
  *
  * Exactness: the whole test reduces to five exact BIGINT censuses —
  * N, R (returned orders), Σg·n_g, Σg·r_g, Σg²·n_g with scores g =
  * 1..5 — and z = (N·Σgr − R·Σgn) / √(R(N−R)(N·Σg²n − (Σgn)²)/N)
  * finishes in ONE shared NULLIF-guarded formula string; two-sided
  * 95% verdict.
  *
  * Scale shape: one left-semi join (orders ⋉ returned lineitems) +
  * one partial agg to the 5-row group census + a 1-row finish.
  */
object CochranArmitage {

  import Entry.Q

  /** Two-sided normal 95% critical value (q535's). */
  val ZCrit2 = AnsariBradley.ZCrit2

  /** CA trend z from the exact pieces — shared verbatim. */
  val ZFormula: String =
    "(CAST(n AS DOUBLE) * sgr - CAST(rr AS DOUBLE) * sgn) " +
      "/ NULLIF(SQRT(CAST(rr AS DOUBLE) * (n - rr) " +
      "* (CAST(n AS DOUBLE) * sggn - CAST(sgn AS DOUBLE) * sgn) / n), " +
      "0.0)"

  val q541CochranArmitage: Q = (s, dir) => {
    import s.implicits._
    val returned = T.lineitem(s, dir)
      .filter($"l_returnflag" === "R")
      .select($"l_orderkey".as("o_orderkey"))
    val flagged = T.orders(s, dir)
      .join(returned, Seq("o_orderkey"), "left_semi")
      .select($"o_orderkey", lit(1L).as("y"))
    caTest(T.orders(s, dir)
      .join(flagged, Seq("o_orderkey"), "left")
      .select(
        expr("CAST(substring(o_orderpriority, 1, 1) AS BIGINT)").as("g"),
        coalesce($"y", lit(0L)).as("y")))
  }

  /** CA trend over a `(g ∈ 1..k ordered scores, y ∈ {0,1})` frame. */
  def caTest(rowsIn: DataFrame): DataFrame = {
    val s = rowsIn.sparkSession
    import s.implicits._
    rowsIn.agg(
      count(lit(1)).as("n"),
      sum($"y").as("rr"),
      sum($"g").as("sgn"),
      sum($"g" * $"y").as("sgr"),
      sum($"g" * $"g").as("sggn"))
      .withColumn("z", expr(ZFormula))
      .withColumn("reject_95", expr(s"ABS($ZFormula) > $ZCrit2"))
  }

  val q541Sql: String =
    s"""WITH flagged AS (
      |  SELECT o_orderkey, CASE WHEN EXISTS (
      |      SELECT 1 FROM lineitem
      |      WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
      |    THEN 1 ELSE 0 END AS y,
      |    CAST(substring(o_orderpriority, 1, 1) AS BIGINT) AS g
      |  FROM orders),
      |m AS (
      |  SELECT COUNT(*) AS n,
      |    CAST(SUM(y) AS BIGINT) AS rr,
      |    CAST(SUM(g) AS BIGINT) AS sgn,
      |    CAST(SUM(g * y) AS BIGINT) AS sgr,
      |    CAST(SUM(g * g) AS BIGINT) AS sggn
      |  FROM flagged)
      |SELECT n, rr, sgn, sgr, sggn, $ZFormula AS z,
      |  ABS($ZFormula) > $ZCrit2 AS reject_95
      |FROM m""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("q541_cochran_armitage", q541CochranArmitage, q541Sql))
}
