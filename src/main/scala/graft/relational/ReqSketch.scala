package graft.relational

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.{Entry, Tables => T}

/** RELATIVE-ERROR QUANTILE SKETCH, deterministic log-bucket form
  * (DDSketch — Masson, Rim & Lee VLDB'19: quantile state whose error
  * is RELATIVE to the value, the guarantee tail quantiles need — a
  * uniform-rank sketch like KLL (qs08) answers p99.9 of a latency-like
  * metric with rank error that swamps the tail, a log-bucketed one is
  * within α of the true VALUE at every quantile; Cormode et al.
  * SIGMOD'21's REQ solves the rank-side version of the same problem —
  * r14 verdict missing item #5): counts per logarithmic bucket,
  * counter-additive (mergeable across shards/batches/partitions, the
  * q105/q122 re-aggregation discipline), constant state in the row
  * count.
  *
  * Bucketing is the DECIMAL two-leading-digits mantissa form — chosen
  * over the paper's log_γ(x) indexing because it is EXACTLY replayable
  * cross-engine: for a positive integer v with D = LENGTH(CAST(v AS
  * string)) digits, scale p = 10^(D−2) (integer; p = 1 when D = 1) and
  * mantissa m = v div p ∈ [10, 99] (= v itself when D = 1) — string
  * length and positive floor division only, no transcendental ever
  * enters (10^k via POWER is an exactly-representable double through
  * k = 15, cast back to BIGINT). Bucket estimate = the midpoint
  * m·p + p div 2, so |est − true| ≤ p/2 ≤ v/20: a GUARANTEED 5%
  * relative error at every quantile including p999.
  *
  * The q96 gate convention: the emitted row per tail quantile carries
  * the sketch estimate, the in-engine EXACT order statistic, and
  * ok = 20·|est − exact| ≤ exact as an exact integer cross-
  * multiplication — the oracle replays sketch AND exact sides.
  *
  * Scale shape: one narrow projection + one partial-aggregated groupBy
  * into a DOMAIN-bounded bucket census (≤ 90 buckets per decade —
  * constant, not data-sized; its cumulative window is bounded by
  * design); the exact side rides the NDV-bounded value census through
  * the two-level fullCumSum scan (the q90/q537 selection discipline —
  * no single-partition window over the corpus). Quantile probes join
  * both censuses via one broadcast of the 4 target ranks.
  */
object ReqSketch {

  import Entry.Q

  /** Tail-heavy probe set (permille). */
  val ReqPermilles = Seq(500L, 900L, 990L, 999L)

  /** Bucket pieces for a positive BIGINT column named `vName` —
    * (d10 digits, m mantissa, est midpoint). Spark spelling; the
    * oracle spells the identical arithmetic with VARCHAR/`//`.
    */
  def bucketExprs(vName: String): (Column, Column, Column) = {
    val pSql =
      s"CAST(POWER(10, GREATEST(LENGTH(CAST($vName AS STRING)) - 2, 0)) AS BIGINT)"
    (expr(s"LENGTH(CAST($vName AS STRING))"),
      expr(s"$vName div $pSql"),
      expr(s"$vName div $pSql * $pSql + $pSql div 2"))
  }

  /** (p_permille, n, est, exact, ok) over a single positive-BIGINT
    * column frame `vals(v)`.
    */
  def reqQuantiles(vals: DataFrame): DataFrame = {
    val s = vals.sparkSession
    import s.implicits._
    val n = vals.count()
    val ks = ReqPermilles.map(pp => (pp, pp * (n - 1) / 1000 + 1))
      .toDF("p_permille", "k")
    // sketch side: domain-bounded bucket census + inclusive cum
    val (d10, m, est) = bucketExprs("v")
    val buckets = vals
      .groupBy(d10.as("d10"), m.as("m"), est.as("est"))
      .agg(count(lit(1)).as("c"))
    val bcum = QuantileNormalize.fullCumSum(
      buckets, Seq(col("d10"), col("m")), "c" -> "cum")
    val sk = bcum.crossJoin(broadcast(ks))
      .filter($"cum" >= $"k")
      .groupBy($"p_permille").agg(min($"est").as("est"))
    // exact side: NDV-bounded value census + inclusive cum
    val vcum = QuantileNormalize.fullCumSum(
      vals.groupBy($"v").agg(count(lit(1)).as("c")), Seq(col("v")),
      "c" -> "cum")
    val ex = vcum.crossJoin(broadcast(ks))
      .filter($"cum" >= $"k")
      .groupBy($"p_permille").agg(min($"v").as("exact"))
    sk.join(ex, "p_permille")
      .select($"p_permille", lit(n).as("n"), $"est", $"exact",
        (abs($"est" - $"exact") * 20L <= $"exact").as("ok"))
      .orderBy($"p_permille")
  }

  /** q561 — relative-error quantiles of order totals (cents), gated
    * against the exact order statistics at the tail.
    */
  val q561ReqQuantiles: Q = (s, dir) => {
    import s.implicits._
    reqQuantiles(T.orders(s, dir)
      .select(expr("CAST(FLOOR(100 * o_totalprice) AS BIGINT)").as("v")))
  }

  val q561Sql: String = {
    val ppVals = ReqPermilles.map(p => s"($p)").mkString(", ")
    s"""WITH vals AS (
      |  SELECT CAST(FLOOR(100 * o_totalprice) AS BIGINT) AS v
      |  FROM orders),
      |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM vals),
      |ps(p_permille) AS (VALUES $ppVals),
      |ks AS (SELECT CAST(p_permille AS BIGINT) AS p_permille,
      |         (p_permille * (n - 1)) // 1000 + 1 AS k, n
      |       FROM ps CROSS JOIN nn),
      |b AS (
      |  SELECT LENGTH(CAST(v AS VARCHAR)) AS d10,
      |    v // CAST(POWER(10, GREATEST(LENGTH(CAST(v AS VARCHAR)) - 2, 0))
      |         AS BIGINT) AS m,
      |    v // CAST(POWER(10, GREATEST(LENGTH(CAST(v AS VARCHAR)) - 2, 0))
      |         AS BIGINT)
      |      * CAST(POWER(10, GREATEST(LENGTH(CAST(v AS VARCHAR)) - 2, 0))
      |         AS BIGINT)
      |      + CAST(POWER(10, GREATEST(LENGTH(CAST(v AS VARCHAR)) - 2, 0))
      |         AS BIGINT) // 2 AS est,
      |    COUNT(*) AS c
      |  FROM vals GROUP BY 1, 2, 3),
      |bcum AS (SELECT est, SUM(c) OVER (ORDER BY d10, m) AS cum FROM b),
      |sk AS (SELECT p_permille, MIN(est) AS est
      |       FROM ks JOIN bcum ON bcum.cum >= ks.k GROUP BY 1),
      |vc AS (SELECT v, COUNT(*) AS c FROM vals GROUP BY 1),
      |vcum AS (SELECT v, SUM(c) OVER (ORDER BY v) AS cum FROM vc),
      |ex AS (SELECT p_permille, MIN(v) AS exact
      |       FROM ks JOIN vcum ON vcum.cum >= ks.k GROUP BY 1)
      |SELECT ks.p_permille, n, est, exact,
      |  ABS(est - exact) * 20 <= exact AS ok
      |FROM ks JOIN sk ON sk.p_permille = ks.p_permille
      |        JOIN ex ON ex.p_permille = ks.p_permille
      |ORDER BY ks.p_permille""".stripMargin
  }

  val entries: Seq[Entry] = Seq(
    Entry("q561_req_quantiles", q561ReqQuantiles, q561Sql))
}
