package graft.relational

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.PlanBridge

import graft.core.{Entry, Tables => T}

/** ITERATIVE PROPORTIONAL FITTING / raking (Deming–Stephan AoMS'40;
  * the same alternating scaling as Sinkhorn–Knopp matrix balancing):
  * calibrate the observed (lang × source) document-count table to
  * TARGET margins — the survey-weighting / post-stratification step a
  * corpus-mixing pipeline runs when the crawl's language×source mix
  * must match a release contract. Targets here: uniform margins
  * (every lang the same total, every source the same total — "rake to
  * census").
  *
  * Exactness discipline: weights live in [[WScale]]-ths of a document
  * (BIGINT); each half-round rescales a margin with the overflow-safe
  * split `w·T div m = w·(T div m) + (w·(T mod m)) div m` (exact floor
  * identity) where the margin sum m is an exact integer — NO doubles
  * anywhere, so cross-engine equality is unconditional (a double
  * spelling would die on partition-order summation). [[Rounds]]
  * alternating row/column rescales are UNROLLED in the DuckDB oracle
  * (q474 convention). Floor truncation loses at most 1/[[WScale]] doc
  * per cell per half-round — the spec's margin-gap gate budgets it.
  *
  * Scale shape: the census collapses the corpus in ONE partial agg to
  * a langs×sources cell frame; every IPF half-round is one window sum
  * over that bounded frame (never the corpus) + one narrow projection.
  */
object Raking {

  import Entry.Q

  /** Weight granularity: 10⁴ units = one document. */
  val WScale = 10000L
  /** Alternating (row, column) rescale rounds. */
  val Rounds = 4

  /** The overflow-safe exact floor of w·T/m, as a SQL fragment shared
    * in spelling by both engines (`div` vs `//` differ only lexically).
    */
  private def scaleExpr(div: String): String =
    s"w * (t $div m) + (w * (t % m)) $div m"

  val q491Raking: Q = (s, dir) => {
    import s.implicits._
    val cells = PlanBridge.checkpointResetStats(T.documents(s, dir)
      .groupBy($"lang", $"source").agg(count(lit(1)).as("n")))
    val nDocs = cells.agg(sum($"n")).as[Long].head()
    val nLang = cells.select($"lang").distinct().count()
    val nSrc = cells.select($"source").distinct().count()
    val tRow = (nDocs / nLang) * WScale
    val tCol = (nDocs / nSrc) * WScale
    var w = cells.withColumn("w", $"n" * WScale)
    for (_ <- 1 to Rounds) {
      w = w
        .withColumn("m", expr("SUM(w) OVER (PARTITION BY lang)"))
        .withColumn("t", lit(tRow))
        .withColumn("w", expr(scaleExpr("div")))
        .drop("m", "t")
        .withColumn("m", expr("SUM(w) OVER (PARTITION BY source)"))
        .withColumn("t", lit(tCol))
        .withColumn("w", expr(scaleExpr("div")))
        .drop("m", "t")
    }
    w.select($"lang", $"source", $"n", $"w").orderBy($"lang", $"source")
  }

  val q491Sql: String = {
    val rounds = (1 to Rounds).map { i =>
      s"""r$i AS MATERIALIZED (
         |  SELECT lang, source, n, ${scaleExpr("//")} AS w FROM (
         |    SELECT lang, source, n, w,
         |      SUM(w) OVER (PARTITION BY lang) AS m,
         |      (SELECT t_row FROM t) AS t
         |    FROM ${if (i == 1) "c0" else s"s${i - 1}"})),
         |s$i AS MATERIALIZED (
         |  SELECT lang, source, n, ${scaleExpr("//")} AS w FROM (
         |    SELECT lang, source, n, w,
         |      SUM(w) OVER (PARTITION BY source) AS m,
         |      (SELECT t_col FROM t) AS t
         |    FROM r$i))""".stripMargin
    }.mkString(",\n")
    s"""WITH cells AS MATERIALIZED (
       |  SELECT lang, source, COUNT(*) AS n FROM documents GROUP BY 1, 2),
       |t AS (
       |  SELECT
       |    (CAST(SUM(n) AS BIGINT) // COUNT(DISTINCT lang)) * $WScale
       |      AS t_row,
       |    (CAST(SUM(n) AS BIGINT) // COUNT(DISTINCT source)) * $WScale
       |      AS t_col
       |  FROM cells),
       |c0 AS (SELECT lang, source, n, n * $WScale AS w FROM cells),
       |$rounds
       |SELECT lang, source, n, CAST(w AS BIGINT) AS w FROM s$Rounds
       |ORDER BY lang, source""".stripMargin
  }

  val entries: Seq[Entry] = Seq(Entry("q491_raking", q491Raking, q491Sql))
}
