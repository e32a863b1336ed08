package graft.relational

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.PlanBridge

import graft.core.{Entry, Tables => T}

/** SYMBOLIC MOTIF CENSUS over daily series (SAX — Lin/Keogh/Lonardi
  * DMKD'07 — symbolize, then mine repeated words; the symbolic-
  * representation member of the time-series family next to
  * decomposition (STL), smoothing (EWMA/Holt), anomaly (z-score/CUSUM)
  * and sketching (LTTB/Haar)): each event type's daily-revenue series
  * quantizes to a 4-letter alphabet and every [[SaxWord]]-day sliding
  * window becomes a WORD; the word census is the motif table — "which
  * 4-day shapes recur" — and its head is the motif answer.
  *
  * EXACTNESS variant: breakpoints are the series' own EMPIRICAL
  * QUARTILES (exact per-type order statistics by rank arithmetic, the
  * q90/q162 machinery) rather than the Gaussian literals classic SAX
  * z-normalization needs — every comparison is BIGINT vs BIGINT, no
  * doubles anywhere, both engines bit-identical by construction. (PAA
  * is the identity here: segment width 1 day.)
  *
  * Scale shape: the corpus collapses to (type, day) in one partial
  * agg; everything after runs on the CALENDAR-BOUNDED frame (days per
  * type, the q275 discipline), where per-type windows are admissible.
  */
object SaxMotifs {

  import Entry.Q

  val SaxWord = 4
  val SaxTop = 20

  val q511SaxMotifs: Q = (s, dir) => {
    import s.implicits._
    val daily = PlanBridge.checkpointResetStats(T.events(s, dir)
      .groupBy($"event_type".as("t"), to_date($"ts").as("d"))
      .agg(sum(expr("CAST(FLOOR(100 * value) AS BIGINT)")).as("v")))
    // empirical quartile breakpoints: values at ranks ceil(n/4),
    // ceil(n/2), ceil(3n/4) per type (ties broken by day — total order)
    val wRank = Window.partitionBy($"t").orderBy($"v", $"d")
    val ranked = daily
      .withColumn("r", row_number().over(wRank).cast("long"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy($"t")))
    val breaks = ranked
      .filter($"r" === expr("(n + 3) div 4") ||
        $"r" === expr("(n + 1) div 2") ||
        $"r" === expr("(3 * n + 3) div 4"))
      .groupBy($"t").agg(sort_array(collect_list(struct($"r", $"v")))
        .getField("v").as("bks"))
    // symbol = #breakpoints <= v  (0..3); word = 4 consecutive days
    val wDay = Window.partitionBy($"t").orderBy($"d")
    val sym = daily.join(breaks, "t")
      .withColumn("sym",
        (when($"v" >= $"bks".getItem(0), 1).otherwise(0) +
          when($"v" >= $"bks".getItem(1), 1).otherwise(0) +
          when($"v" >= $"bks".getItem(2), 1).otherwise(0)).cast("string"))
    sym
      .withColumn("word", concat($"sym", lead($"sym", 1).over(wDay),
        lead($"sym", 2).over(wDay), lead($"sym", 3).over(wDay)))
      .filter($"word".isNotNull)
      .groupBy($"t", $"word").agg(count(lit(1)).as("cnt"))
      .orderBy($"cnt".desc, $"t", $"word")
      .limit(SaxTop)
  }

  val q511Sql: String =
    s"""WITH daily AS MATERIALIZED (
      |  SELECT event_type AS t, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d,
      |    CAST(SUM(CAST(FLOOR(100 * value) AS BIGINT)) AS BIGINT) AS v
      |  FROM events GROUP BY 1, 2),
      |ranked AS (
      |  SELECT t, d, v,
      |    ROW_NUMBER() OVER (PARTITION BY t ORDER BY v, d) AS r,
      |    COUNT(*) OVER (PARTITION BY t) AS n
      |  FROM daily),
      |breaks AS MATERIALIZED (
      |  SELECT t,
      |    MIN(CASE WHEN r = (n + 3) // 4 THEN v END) AS b1,
      |    MIN(CASE WHEN r = (n + 1) // 2 THEN v END) AS b2,
      |    MIN(CASE WHEN r = (3 * n + 3) // 4 THEN v END) AS b3
      |  FROM ranked
      |  WHERE r = (n + 3) // 4 OR r = (n + 1) // 2 OR r = (3 * n + 3) // 4
      |  GROUP BY 1),
      |sym AS MATERIALIZED (
      |  SELECT daily.t, d,
      |    CAST((CASE WHEN v >= b1 THEN 1 ELSE 0 END) +
      |      (CASE WHEN v >= b2 THEN 1 ELSE 0 END) +
      |      (CASE WHEN v >= b3 THEN 1 ELSE 0 END) AS VARCHAR) AS sym
      |  FROM daily JOIN breaks ON breaks.t = daily.t),
      |words AS (
      |  SELECT t, sym || LEAD(sym, 1) OVER w || LEAD(sym, 2) OVER w
      |      || LEAD(sym, 3) OVER w AS word
      |  FROM sym WINDOW w AS (PARTITION BY t ORDER BY d))
      |SELECT t, word, CAST(COUNT(*) AS BIGINT) AS cnt
      |FROM words WHERE word IS NOT NULL
      |GROUP BY 1, 2
      |ORDER BY cnt DESC, t, word
      |LIMIT $SaxTop""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("q511_sax_motifs", q511SaxMotifs, q511Sql))
}
