package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.{Entry, Tables => T}

/** PASS@K — the unbiased any-of-k success estimator (Chen et al.
  * arXiv:2107.03374 eq. 1, the HumanEval estimator: "if k samples are
  * drawn from the n attempts, what is P(≥ 1 correct)?" = 1 −
  * C(n−c,k)/C(n,k); THE model-eval aggregate an LLM evaluation
  * pipeline computes per task, and a combinatorial shape the eval
  * family (q250 confusion/κ, q342 ROC-AUC, q434 DeLong, q347
  * calibration, q444 nDCG) did not cover — naive (c/n)^-style
  * plug-ins are biased, which is the whole point of the estimator):
  * task = part, attempts = its lineitems, "correct" = returned.
  *
  * Exactness: the falling-factorial ratio expands to the exact
  * BIGINT pieces num = Π_{i<k} max(0, n−c−i) and den = Π_{i<k} (n−i)
  * (k = [[PakK]] fixed ⟹ literal products, no product aggregate;
  * n ≈ 30 per part is SF-STABLE so n^k ≈ 10⁸ — BIGINT with 10¹⁰
  * headroom), and pass_ppm = 10⁶ − ⌊10⁶·num/den⌋ — all integer, the
  * max(0,·) clamp realizing C(n−c,k) = 0 when fewer than k failures
  * exist. Tasks with n < k are excluded (the estimator is undefined
  * there — the paper's protocol draws k ≤ n).
  *
  * Scale shape: one partial agg to the per-task (n, c) census + a
  * map-side literal-product projection.
  */
object PassAtK {

  import Entry.Q

  val PakK = 5

  /** pass@k in ppm from the exact pieces — one generator, rendered
    * per engine (Spark `div` + `0L` literal, DuckDB `//` + `0`; both
    * floor-divide POSITIVE operands, the q545 positivity rule holds by
    * the max(0,·) clamp).
    */
  def passExpr(bigintSuffix: String, divOp: String): String = {
    val num = (0 until PakK)
      .map(i => s"GREATEST(0$bigintSuffix, n - c - $i)").mkString(" * ")
    val den = (0 until PakK).map(i => s"(n - $i)").mkString(" * ")
    s"1000000 - (1000000 * $num) $divOp ($den)"
  }

  val q557PassAtK: Q = (s, dir) => {
    import s.implicits._
    passAtK(T.lineitem(s, dir).select($"l_partkey".as("task"),
      when($"l_returnflag" === "R", 1L).otherwise(0L).as("correct")))
  }

  /** Per-task pass@[[PakK]] over a `(task, correct ∈ {0,1})` frame. */
  def passAtK(attempts: DataFrame): DataFrame = {
    val s = attempts.sparkSession
    import s.implicits._
    attempts.groupBy($"task")
      .agg(count(lit(1)).as("n"), sum($"correct").as("c"))
      .filter($"n" >= PakK)
      .withColumn("pass_ppm", expr(passExpr("L", "div")))
      .orderBy($"task")
  }

  val q557Sql: String =
    s"""WITH census AS (
      |  SELECT l_partkey AS task, COUNT(*) AS n,
      |    CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS c
      |  FROM lineitem GROUP BY 1)
      |SELECT task, n, c, CAST(${passExpr("", "//")} AS BIGINT) AS pass_ppm
      |FROM census WHERE n >= $PakK
      |ORDER BY task""".stripMargin

  val entries: Seq[Entry] = Seq(Entry("q557_pass_at_k", q557PassAtK, q557Sql))
}
