package graft.relational

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{Entry, Tables => T}

/** q406 — SLIDING-WINDOW DISTINCT via re-aggregable HLL sketch merge:
  * trailing-7-day unique users per day. The scale story is the whole
  * point: exact sliding distinct re-scans every window (each day's
  * answer touches 7 days of raw rows — 7× read amplification, and
  * distinct state that grows with the window), while the sketch path
  * builds ONE bounded sketch per day and answers every window by
  * MERGING 7 sketches — the daily sketches are the same objects a
  * 100 TB pipeline already persists for q122/q105-style rollups, so
  * the sliding answer is free of raw-data re-reads entirely.
  *
  * The driver row is a per-day GATE (q74's convention for sketch
  * estimates): the exact trailing-7-day distinct count rides along as
  * data (the oracle recomputes it relationally), and `ok` demands the
  * sketch estimate lands within ±5% of exact on EVERY day —
  * datasketches HLL at default lgK=12 has σ ≈ 1.6%, so 5% ≈ 3σ.
  *
  * Scale shape: one (day) partial agg builds daily sketches (bounded
  * state, mergeable — the qs11 contract); the 7-sketch window merge
  * runs on the days-bounded frame. The EXACT side (for the gate) is
  * one (day, user) dedup + a bounded day×7 expansion join — sf-cheap
  * here, and exactly the cost the sketch path exists to avoid.
  */
object SlidingDistinct {

  import Entry.Q

  val WindowDays = 7
  val TolMilli = 50L

  val q406SlidingDistinct: Q = (s, dir) => {
    import s.implicits._
    val ev = T.events(s, dir)
      .select(to_date($"ts").as("day"), $"user_id")
    // sketch path: one bounded sketch per day, window-merged
    val daily = ev.groupBy($"day").agg(hll_sketch_agg($"user_id").as("sk"))
      .withColumn("dn", expr("datediff(day, DATE '1970-01-01')").cast("long"))
    // RANGE frame on the day NUMBER: calendar-correct even across
    // empty days (a ROWS frame would silently widen over gaps)
    val w = Window.orderBy($"dn").rangeBetween(-(WindowDays - 1), 0)
    val est = daily
      .withColumn("est", hll_sketch_estimate(hll_union_agg($"sk").over(w)))
      .select($"day", $"est")
    // exact path (the gate's anchor): distinct (day, user) expanded to
    // the ≤7 windows each observation serves
    val du = ev.distinct()
    val offsets = s.range(0, WindowDays).select($"id".as("off"))
    val exact = du.crossJoin(broadcast(offsets))
      .select(date_add($"day", $"off".cast("int")).as("day"), $"user_id")
      .join(daily.select($"day"), "day") // only emitted days
      .distinct()
      .groupBy($"day").agg(count(lit(1)).as("exact_7d"))
    est.join(exact, "day")
      .select($"day", $"exact_7d",
        (abs($"est" - $"exact_7d".cast("double")) * 1000.0 <=
          lit(TolMilli.toDouble) * $"exact_7d".cast("double")).as("ok"))
      .orderBy($"day")
  }

  val q406Sql: String =
    s"""WITH du AS (
       |  SELECT DISTINCT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
       |    user_id
       |  FROM events),
       |days AS (SELECT DISTINCT day FROM du),
       |exact AS (
       |  SELECT d.day, CAST(COUNT(DISTINCT u.user_id) AS BIGINT)
       |    AS exact_7d
       |  FROM days d JOIN du u
       |    ON u.day <= d.day AND u.day > d.day - ${WindowDays}
       |  GROUP BY d.day)
       |SELECT day, exact_7d, TRUE AS ok
       |FROM exact ORDER BY day""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("q406_sliding_distinct", q406SlidingDistinct, q406Sql))
}
