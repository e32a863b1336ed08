package graft.relational

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.PlanBridge

import graft.core.{Entry, Tables => T}

/** ANSARI–BRADLEY SCALE TEST (Ansari–Bradley AMS'60 — the rank test
  * for equality of DISPERSION: every two-sample member of the family
  * so far compares LOCATION (MW q285, KS q290's dominant mode, Welch
  * q229) or VARIANCE parametrically via k-group Brown–Forsythe q527;
  * AB is the nonparametric two-sample scale test — ranks assigned
  * inward from BOTH ends, so a group holding the extremes scores LOW):
  * score(r) = min(r, N+1−r) over the pooled ranks; AB = Σ scores of
  * group 1; small AB ⟹ group 1 is the more dispersed.
  *
  * Exactness: doubled tie-averaged ranks rd (the q285/q519 machinery
  * on the fullCumSum two-level scan) make the doubled score
  * a2 = min(rd, 2(N+1)−rd) an exact BIGINT; the null moments are the
  * PERMUTATION moments conditional on the observed scores (exact
  * under ties by construction — no tie-correction formula needed):
  * E[ab2] = n1·S/N and Var[ab2] = n1·n2·(N·Q − S²)/(N²(N−1)) with
  * S = Σa2, Q = Σa2² exact BIGINTs (Q ≤ N³ — fits through sf1,
  * DECIMAL(38,0) internally); z and the two-sided 95% verdict finish
  * in ONE shared NULLIF-guarded formula string.
  *
  * Scale shape: ranks = one two-level scan; one value-keyed join back;
  * two partial aggs and a 1-row finish.
  */
object AnsariBradley {

  import Entry.Q

  /** Two-sided normal 95% critical value, pinned literal. */
  val ZCrit2 = "1.959963984540054"

  /** AB z from the exact pieces — shared verbatim.
    * z = (ab2 − n1·S/N) / √(n1·n2·(N·Q − S²)/(N²(N−1))).
    */
  val ZFormula: String =
    "(CAST(ab2 AS DOUBLE) - CAST(n1 AS DOUBLE) * s2 / n) " +
      "/ NULLIF(SQRT(CAST(n1 AS DOUBLE) * n2 " +
      "* (CAST(n AS DOUBLE) * q2 - CAST(s2 AS DOUBLE) * s2) " +
      "/ (CAST(n AS DOUBLE) * n * (n - 1))), 0.0)"

  val q535AnsariBradley: Q = (s, dir) => {
    import s.implicits._
    abTest(T.orders(s, dir)
      .filter($"o_orderpriority".isin("1-URGENT", "5-LOW"))
      .select(when($"o_orderpriority" === "1-URGENT", 1L).otherwise(2L)
        .as("g"),
        expr("CAST(FLOOR(100 * o_totalprice) AS BIGINT)").as("v")))
  }

  /** Ansari–Bradley over a `(g ∈ {1,2}, v)` frame. */
  def abTest(rowsIn: DataFrame): DataFrame = {
    val s = rowsIn.sparkSession
    import s.implicits._
    val rows = PlanBridge.checkpointResetStats(rowsIn)
    val n = rows.count()
    val scored = PlanBridge.checkpointResetStats(
      SpearmanCorr.withDoubledRank(rows, "v", "rd")
        .withColumn("a2", least($"rd", lit(2L * (n + 1)) - $"rd")))
    val (ab2, n1) = scored.filter($"g" === 1L)
      .agg(sum($"a2"), count(lit(1))).as[(Long, Long)].head()
    val (s2, q2) = scored
      .agg(sum($"a2").cast("long"),
        sum(expr("CAST(a2 AS DECIMAL(38,0)) * a2")).cast("long"))
      .as[(Long, Long)].head()
    Seq((n, n1, n - n1, ab2, s2, q2))
      .toDF("n", "n1", "n2", "ab2", "s2", "q2")
      .withColumn("z", expr(ZFormula))
      .withColumn("reject_95", expr(s"ABS($ZFormula) > $ZCrit2"))
  }

  val q535Sql: String =
    s"""WITH rows_ AS MATERIALIZED (
      |  SELECT CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 2 END
      |    AS g,
      |    CAST(FLOOR(100 * o_totalprice) AS BIGINT) AS v
      |  FROM orders
      |  WHERE o_orderpriority IN ('1-URGENT', '5-LOW')),
      |nn AS (SELECT COUNT(*) AS n FROM rows_),
      |cnts AS MATERIALIZED (SELECT v, COUNT(*) AS cnt FROM rows_ GROUP BY 1),
      |rk AS (
      |  SELECT v, 2 * COALESCE(SUM(cnt) OVER (ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |    + cnt + 1 AS rd
      |  FROM cnts),
      |scored AS MATERIALIZED (
      |  SELECT g, LEAST(rd, 2 * ((SELECT n FROM nn) + 1) - rd) AS a2
      |  FROM rows_ JOIN rk USING (v)),
      |m AS (
      |  SELECT (SELECT n FROM nn) AS n,
      |    (SELECT COUNT(*) FROM scored WHERE g = 1) AS n1,
      |    (SELECT COUNT(*) FROM scored WHERE g <> 1) AS n2,
      |    (SELECT CAST(SUM(a2) AS BIGINT) FROM scored WHERE g = 1) AS ab2,
      |    (SELECT CAST(SUM(a2) AS BIGINT) FROM scored) AS s2,
      |    (SELECT CAST(SUM(CAST(a2 AS HUGEINT) * a2) AS BIGINT)
      |       FROM scored) AS q2)
      |SELECT n, n1, n2, ab2, s2, q2, $ZFormula AS z,
      |  ABS($ZFormula) > $ZCrit2 AS reject_95
      |FROM m""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("q535_ansari_bradley", q535AnsariBradley, q535Sql))
}
