package graft.relational

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.PlanBridge

import graft.core.{Entry, Tables => T}

/** PEAK CONCURRENCY by SWEEP LINE (the interval-scheduling classic —
  * Bentley–Ottmann is its geometric big sibling; ops dashboards call
  * it "max concurrent sessions", capacity planners "peak occupancy"):
  * each user-day activity interval [first event, last event]
  * contributes a +1 at its start and a −1 after its end; the running
  * sum over the time-ordered endpoint stream IS the number of live
  * intervals at every instant, and its per-day maximum is the answer.
  * The interval-overlap question q115's bin join answers PAIRWISE
  * ("which intervals overlap this one") becomes GLOBAL ("how many
  * overlap at once") — a different, non-join shape.
  *
  * Determinism: endpoints totally ordered by (ts, starts-before-ends,
  * user) — inclusive intervals, so a start at instant t counts before
  * any end at t (a single-event interval still registers concurrency
  * ≥ 1); ties beyond that break on the user key. Both engines fold
  * the same order.
  *
  * Scale shape: the corpus collapses to user-day intervals in ONE
  * partial agg; the running sum over the endpoint stream (2 rows per
  * interval — corpus-scale!) runs on [[QuantileNormalize.fullCumSum]]
  * — the two-level scan, NO single-task global window; per-day
  * argmax is one partial agg + a broadcast-back join.
  */
object SweepConcurrency {

  import Entry.Q

  val q525SweepConcurrency: Q = (s, dir) => {
    import s.implicits._
    val iv = PlanBridge.checkpointResetStats(T.events(s, dir)
      .groupBy($"user_id".as("u"), to_date($"ts").as("d"))
      .agg(min($"ts").as("st"), max($"ts").as("en")))
    val pts = iv.select($"u", $"st".as("ts"), lit(1L).as("delta"))
      .unionAll(iv.select($"u", $"en".as("ts"), lit(-1L).as("delta")))
      // starts sort before ends at the same instant: dsort = -delta
      .withColumn("dsort", -$"delta")
    val cum = PlanBridge.checkpointResetStats(QuantileNormalize.fullCumSum(pts,
      Seq(col("ts"), col("dsort"), col("u")), "delta" -> "cc")
      .withColumn("d", to_date($"ts")))
    val mx = cum.groupBy($"d").agg(max($"cc").as("max_cc"))
    cum.join(broadcast(mx), Seq("d"))
      .filter($"cc" === $"max_cc")
      .groupBy($"d", $"max_cc").agg(min($"ts").as("at_ts"))
      .orderBy($"d")
  }

  val q525Sql: String =
    """WITH iv AS MATERIALIZED (
      |  SELECT user_id AS u, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d,
      |    MIN(CAST(ts AS TIMESTAMP)) AS st, MAX(CAST(ts AS TIMESTAMP)) AS en
      |  FROM events GROUP BY 1, 2),
      |pts AS (
      |  SELECT u, st AS ts, CAST(1 AS BIGINT) AS delta, -1 AS dsort FROM iv
      |  UNION ALL
      |  SELECT u, en AS ts, CAST(-1 AS BIGINT) AS delta, 1 AS dsort FROM iv),
      |cum AS MATERIALIZED (
      |  SELECT CAST(ts AS DATE) AS d, ts,
      |    CAST(SUM(delta) OVER (ORDER BY ts, dsort, u
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS cc
      |  FROM pts),
      |mx AS (SELECT d, MAX(cc) AS max_cc FROM cum GROUP BY 1)
      |SELECT cum.d, max_cc, MIN(ts) AS at_ts
      |FROM cum JOIN mx ON mx.d = cum.d AND cum.cc = mx.max_cc
      |GROUP BY 1, 2
      |ORDER BY 1""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("q525_sweep_concurrency", q525SweepConcurrency, q525Sql))
}
