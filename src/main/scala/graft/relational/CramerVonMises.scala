package graft.relational

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.PlanBridge

import graft.core.{Entry, Tables => T}

/** CRAMÉR–VON MISES TWO-SAMPLE TEST (Anderson AMS'62 rank form — the
  * L2-norm EDF test: where KS q290 reacts to the single worst ECDF
  * gap, CvM integrates the SQUARED gap over the whole distribution —
  * far more sensitive to broad shape differences that never open one
  * big gap; completes the EDF family next to KS sup-norm and the
  * χ²-binned q230): T = U/(n·m·N) − (4nm − 1)/(6N) with
  * U = n·Σᵢ(rᵢ − i)² + m·Σⱼ(sⱼ − j)² over pooled ranks r, s vs
  * within-sample positions i, j.
  *
  * Exactness: pooled ranks ride the DOUBLED tie-averaged integers
  * (q285/q519 machinery) and within-sample positions the fullRank
  * two-level scan, so u2 = 4U = n·Σ(rdᵢ−2i)² + m·Σ(sdⱼ−2j)² is an
  * exact BIGINT (≤ 4N³·max(n,m)/N ≈ 4N²·max(n,m) — fits through sf1
  * for the two-priority slice; DECIMAL(38,0) internally); T and the
  * verdict against the pinned asymptotic 95% point finish in ONE
  * shared formula string.
  *
  * Scale shape: one two-level doubled-rank scan + one per-group
  * fullRank + two partial aggs + a 1-row finish.
  */
object CramerVonMises {

  import Entry.Q

  /** Asymptotic CvM 95% critical value (Anderson–Darling table),
    * pinned literal.
    */
  val CvmCrit = "0.461"

  /** T from the exact doubled pieces — shared verbatim (u2 = 4U). */
  val TFormula: String =
    "CAST(u2 AS DOUBLE) / (4.0 * n1 * n2 * (n1 + n2)) " +
      "- (4.0 * CAST(n1 AS DOUBLE) * n2 - 1.0) / (6.0 * (n1 + n2))"

  val q538CramerVonMises: Q = (s, dir) => {
    import s.implicits._
    cvmTest(T.orders(s, dir)
      .filter($"o_orderpriority".isin("1-URGENT", "5-LOW"))
      .select(when($"o_orderpriority" === "1-URGENT", 1L).otherwise(2L)
        .as("g"),
        expr("CAST(FLOOR(100 * o_totalprice) AS BIGINT)").as("v"),
        $"o_orderkey".as("uid")))
  }

  /** CvM T over a `(g ∈ {1,2}, v, uid)` frame. */
  def cvmTest(rowsIn: DataFrame): DataFrame = {
    val s = rowsIn.sparkSession
    import s.implicits._
    val rows = PlanBridge.checkpointResetStats(rowsIn)
    val pooled = SpearmanCorr.withDoubledRank(rows, "v", "rd")
    val ranked = QuantileNormalize.fullRank(pooled, Seq("g"),
      Seq("v", "uid"), "i")
    val parts = ranked
      .groupBy($"g")
      .agg(count(lit(1)).as("n"),
        sum(expr("CAST(rd - 2 * i AS DECIMAL(38,0)) * (rd - 2 * i)"))
          .as("ss"))
      .collect().map(r => (r.getLong(0),
        (r.getLong(1), r.getDecimal(2)))).toMap
    val (n1, ss1) = parts(1L)
    val (n2, ss2) = parts(2L)
    val u2 = (ss1.toBigInteger.multiply(java.math.BigInteger.valueOf(n1))
      .add(ss2.toBigInteger.multiply(java.math.BigInteger.valueOf(n2))))
      .longValueExact()
    Seq((n1, n2, u2)).toDF("n1", "n2", "u2")
      .withColumn("t", expr(TFormula))
      .withColumn("reject_95", expr(s"$TFormula > $CvmCrit"))
  }

  val q538Sql: String =
    s"""WITH rows_ AS MATERIALIZED (
      |  SELECT CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 2 END
      |    AS g,
      |    CAST(FLOOR(100 * o_totalprice) AS BIGINT) AS v,
      |    o_orderkey AS uid
      |  FROM orders
      |  WHERE o_orderpriority IN ('1-URGENT', '5-LOW')),
      |cnts AS (SELECT v, COUNT(*) AS cnt FROM rows_ GROUP BY 1),
      |rk AS (
      |  SELECT v, 2 * COALESCE(SUM(cnt) OVER (ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |    + cnt + 1 AS rd
      |  FROM cnts),
      |ranked AS MATERIALIZED (
      |  SELECT g, rd,
      |    ROW_NUMBER() OVER (PARTITION BY g ORDER BY rows_.v, uid) AS i
      |  FROM rows_ JOIN rk USING (v)),
      |parts AS (
      |  SELECT g, COUNT(*) AS n,
      |    SUM(CAST(rd - 2 * i AS HUGEINT) * (rd - 2 * i)) AS ss
      |  FROM ranked GROUP BY 1),
      |m AS (
      |  SELECT
      |    (SELECT n FROM parts WHERE g = 1) AS n1,
      |    (SELECT n FROM parts WHERE g = 2) AS n2,
      |    CAST((SELECT SUM(n * ss) FROM parts) AS BIGINT) AS u2)
      |SELECT n1, n2, u2, $TFormula AS t,
      |  $TFormula > $CvmCrit AS reject_95
      |FROM m""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("q538_cramer_von_mises", q538CramerVonMises, q538Sql))
}
