package graft.relational

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{Entry, Tables => T}

/** HAAR WAVELET SYNOPSIS of the per-type daily revenue series
  * (Matias–Vitter–Wang SIGMOD'98 — the THIRD synopsis family next to
  * histograms (q154/q162/q497) and sketches (CMS/HLL/KLL/theta):
  * hierarchical averages+details whose top coefficients answer range
  * aggregates with bounded error; dropping small detail coefficients
  * IS the compression): each event type's [[WgDays]]-day cents grid
  * (zero-padded, day 0 = the type's first day, q478's calendar
  * convention) transforms through [[WgLevels]] average/difference
  * levels.
  *
  * Exactness: the grid is pre-scaled by 2^[[WgLevels]] = 32, so every
  * level's `(a+b)/2` and `(a−b)/2` stay EXACT BIGINT (each level
  * consumes one factor of two) — both engines produce identical
  * coefficients, full-value oracle (the DuckDB side unrolls the 5
  * levels as chained CTE joins on even/odd positions). The
  * NON-normalized Haar satisfies the exact Parseval identity
  * `Σx² = 2^m·avg² + Σ_ℓ 2^ℓ·Σd_ℓ²` — the spec checks it in BigInt,
  * and reads off the top-8 coefficient energy share (the synopsis
  * quality number).
  *
  * Scale shape: the corpus collapses to (type, day) in ONE partial
  * agg; the transform runs in flatMapGroups with a 32-value per-group
  * bound (the q478 admission rule) — types parallelize freely.
  */
object WaveletSynopsis {

  import Entry.Q

  val WgLevels = 5
  val WgDays = 32 // 2^WgLevels

  /** Scaled exact Haar: input 32 values (already ×32); returns
    * (lvl, pos, coef) — lvl 1..m details, lvl 0 pos 0 the average.
    */
  def haar(grid: Array[Long]): Seq[(Int, Int, Long)] = {
    require(grid.length == WgDays)
    var cur = grid
    val out = Seq.newBuilder[(Int, Int, Long)]
    for (lvl <- 1 to WgLevels) {
      val half = cur.length / 2
      val s = new Array[Long](half)
      val d = new Array[Long](half)
      for (i <- 0 until half) {
        s(i) = (cur(2 * i) + cur(2 * i + 1)) / 2
        d(i) = (cur(2 * i) - cur(2 * i + 1)) / 2
      }
      d.zipWithIndex.foreach { case (v, i) => out += ((lvl, i, v)) }
      cur = s
    }
    out += ((0, 0, cur(0)))
    out.result()
  }

  val q498WaveletSynopsis: Q = (s, dir) => {
    import s.implicits._
    val daily = T.events(s, dir)
      .select($"event_type", to_date($"ts").as("day"),
        expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)").as("c"))
      .groupBy($"event_type", $"day").agg(sum($"c").as("r"))
    val wKey = Window.partitionBy($"event_type")
    val pts = daily
      .withColumn("d", datediff($"day", min($"day").over(wKey)).cast("long"))
      .select($"event_type", $"d", $"r")
      .as[(String, Long, Long)]
    pts.groupByKey(_._1)
      .flatMapGroups { (tpe, it) =>
        val grid = new Array[Long](WgDays)
        it.foreach { case (_, d, r) =>
          if (d < WgDays) grid(d.toInt) = 32L * r
        }
        haar(grid).map { case (l, p, c) => (tpe, l.toLong, p.toLong, c) }
      }
      .toDF("event_type", "lvl", "pos", "coef32")
      .orderBy($"event_type", $"lvl", $"pos")
  }

  val q498Sql: String = {
    val levels = (1 to WgLevels).map { l =>
      s"""l$l AS MATERIALIZED (
         |  SELECT a.event_type, a.pos // 2 AS pos,
         |    (a.v + b.v) // 2 AS v, (a.v - b.v) // 2 AS d
         |  FROM l${l - 1} a JOIN l${l - 1} b
         |    ON a.event_type = b.event_type AND b.pos = a.pos + 1
         |  WHERE a.pos % 2 = 0)""".stripMargin
    }.mkString(",\n")
    val details = (1 to WgLevels).map(l =>
      s"SELECT event_type, $l AS lvl, pos, d AS coef32 FROM l$l")
      .mkString("\n  UNION ALL ")
    s"""WITH daily AS MATERIALIZED (
       |  SELECT event_type, CAST(ts AS DATE) AS day,
       |    CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
       |      AS BIGINT) AS r
       |  FROM events GROUP BY 1, 2),
       |pts AS (
       |  SELECT event_type,
       |    CAST(date_diff('day',
       |      MIN(day) OVER (PARTITION BY event_type), day) AS BIGINT) AS d,
       |    r
       |  FROM daily),
       |grid AS (
       |  SELECT t.event_type, g.pos, COALESCE(32 * pts.r, 0) AS v
       |  FROM (SELECT DISTINCT event_type FROM pts) t
       |  CROSS JOIN range(0, $WgDays) g(pos)
       |  LEFT JOIN pts ON pts.event_type = t.event_type
       |    AND pts.d = g.pos),
       |l0 AS (SELECT event_type, pos, v FROM grid),
       |$levels
       |SELECT event_type, CAST(lvl AS BIGINT) AS lvl,
       |  CAST(pos AS BIGINT) AS pos, coef32 FROM (
       |  $details
       |  UNION ALL SELECT event_type, 0 AS lvl, pos, v FROM l$WgLevels)
       |ORDER BY event_type, lvl, pos""".stripMargin
  }

  val entries: Seq[Entry] = Seq(
    Entry("q498_wavelet_synopsis", q498WaveletSynopsis, q498Sql))
}
