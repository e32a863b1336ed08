package graft.relational

import org.apache.spark.sql.functions._

import graft.core.{Entry, Tables => T}

/** DYNAMIC TIME WARPING distance between the event types' daily
  * series (Sakoe–Chiba ASSP'78; Berndt–Clifford KDD'94 brought it to
  * data mining — THE elastic series-similarity measure: two series
  * with the same shape but locally stretched timing compare close
  * where Euclidean (q516's SSD) charges every phase shift): for every
  * unordered type pair, the minimum cumulative squared-difference
  * cost over monotone alignment paths, dtw(i,j) = d(i,j) +
  * min(dtw(i−1,j), dtw(i,j−1), dtw(i−1,j−1)).
  *
  * Exactness: all-integer cents, cell costs (xᵢ−yⱼ)² and path sums in
  * BigInt/HUGEINT; BIGINT output exact through sf0.1-class daily
  * magnitudes (≤ 59·(Δcents)² ≈ 3·10¹⁷; the internal arithmetic never
  * overflows regardless — the q516 bound discipline).
  *
  * Scale shape: the corpus collapses to (type, day) in ONE partial
  * agg; the DP runs on the COLLECTED calendar-bounded frame (types ×
  * days = 150 rows — the q394/PACF model-sized-recursion precedent:
  * nobody DPs 10¹² rows, the series axis is bounded by the calendar
  * no matter the corpus size). For long series the standard scale
  * knob is the Sakoe–Chiba band (restrict |i−j| ≤ w), which bounds
  * the DP frame linearly — unnecessary at 30-day length.
  *
  * Oracle: the DP replayed as BELLMAN RELAXATION over the alignment
  * DAG, [[DtwUnrolledRounds]] rounds UNROLLED as MATERIALIZED CTEs
  * (longest dependency chain = nᵢ+nⱼ−2 ≤ 58 at the 30-day fixture;
  * relaxation is monotone non-increasing from the INF seed, so
  * overshoot rounds are no-ops); the full 10-pair (t1, t2, dtw)
  * table is value-checked.
  */
object DtwDistance {

  import Entry.Q

  /** ≥ longest alignment-DAG path (2·days − 2 = 58 measured at every
    * fixture SF — the day count is calendar-bounded) + margin.
    */
  val DtwUnrolledRounds = 62

  /** Exact DTW over two cent series (BigInt internally). */
  def dtw(x: Seq[Long], y: Seq[Long]): BigInt = {
    val n = x.length
    val m = y.length
    require(n > 0 && m > 0, "DTW needs non-empty series")
    val inf = BigInt(1) << 100
    var prev = Array.fill[BigInt](m + 1)(inf)
    var cur = Array.fill[BigInt](m + 1)(inf)
    for (i <- 1 to n) {
      cur(0) = inf
      for (j <- 1 to m) {
        val d = BigInt(x(i - 1) - y(j - 1)) * BigInt(x(i - 1) - y(j - 1))
        val best =
          if (i == 1 && j == 1) BigInt(0)
          else (prev(j) min cur(j - 1)) min prev(j - 1)
        cur(j) = d + best
      }
      val t = prev; prev = cur; cur = t
    }
    prev(m)
  }

  val q524DtwDistance: Q = (s, dir) => {
    import s.implicits._
    val daily = T.events(s, dir)
      .groupBy($"event_type".as("t"), to_date($"ts").as("d"))
      .agg(sum(expr("CAST(FLOOR(100 * value) AS BIGINT)")).as("v"))
      .orderBy($"t", $"d")
      .as[(String, java.sql.Date, Long)]
      .collect() // calendar-bounded: types × days (150 rows here)
    val series = daily.groupBy(_._1).map { case (t, rows) =>
      (t, rows.sortBy(_._2.toLocalDate.toEpochDay).map(_._3).toSeq)
    }
    val types = series.keys.toSeq.sorted
    val out = for {
      i <- types.indices
      j <- (i + 1) until types.size
    } yield (types(i), types(j),
      dtw(series(types(i)), series(types(j))).toLong)
    out.toDF("t1", "t2", "dtw").orderBy($"t1", $"t2")
  }

  val q524Sql: String = {
    val rounds = (1 to DtwUnrolledRounds).map { r =>
      s"""c$r AS MATERIALIZED (
        |  SELECT g.p, g.i, g.j,
        |    LEAST(prev.c, g.d + LEAST(
        |      COALESCE(pa.c, $Inf), COALESCE(pb.c, $Inf),
        |      COALESCE(pc.c, $Inf))) AS c
        |  FROM grid g
        |  JOIN c${r - 1} prev ON prev.p = g.p AND prev.i = g.i
        |    AND prev.j = g.j
        |  LEFT JOIN c${r - 1} pa ON pa.p = g.p AND pa.i = g.i - 1
        |    AND pa.j = g.j
        |  LEFT JOIN c${r - 1} pb ON pb.p = g.p AND pb.i = g.i
        |    AND pb.j = g.j - 1
        |  LEFT JOIN c${r - 1} pc ON pc.p = g.p AND pc.i = g.i - 1
        |    AND pc.j = g.j - 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH daily AS MATERIALIZED (
      |  SELECT event_type AS t, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d,
      |    CAST(SUM(CAST(FLOOR(100 * value) AS BIGINT)) AS BIGINT) AS v
      |  FROM events GROUP BY 1, 2),
      |idx AS MATERIALIZED (
      |  SELECT t, v,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY t ORDER BY d) AS BIGINT)
      |      AS i
      |  FROM daily),
      |grid AS MATERIALIZED (
      |  SELECT x.t || '|' || y.t AS p, x.i AS i, y.i AS j,
      |    CAST(CAST(x.v - y.v AS HUGEINT) * (x.v - y.v) AS HUGEINT) AS d
      |  FROM idx x JOIN idx y ON x.t < y.t),
      |c0 AS MATERIALIZED (
      |  SELECT p, i, j,
      |    CASE WHEN i = 1 AND j = 1 THEN d ELSE CAST($Inf AS HUGEINT) END
      |      AS c
      |  FROM grid),
      |$rounds,
      |dims AS (SELECT p, MAX(i) AS ni, MAX(j) AS nj FROM grid GROUP BY 1)
      |SELECT split_part(c.p, '|', 1) AS t1, split_part(c.p, '|', 2) AS t2,
      |  CAST(c.c AS BIGINT) AS dtw
      |FROM c$DtwUnrolledRounds c
      |JOIN dims ON dims.p = c.p AND c.i = dims.ni AND c.j = dims.nj
      |ORDER BY t1, t2""".stripMargin
  }

  /** INF sentinel (HUGEINT-safe): far above any real path cost, far
    * below HUGEINT overflow even after + d per round.
    */
  private def Inf: String = "170141183460469231731687303715884105"

  val entries: Seq[Entry] = Seq(
    Entry("q524_dtw_distance", q524DtwDistance, q524Sql))
}
