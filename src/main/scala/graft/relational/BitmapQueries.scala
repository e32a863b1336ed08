package graft.relational

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.PlanBridge

import graft.core.{Entry, Tables => T}
import graft.functions.GraftFunctions

/** Exact audience-overlap analytics on the native Roaring bitmap
  * algebra ([[graft.functions.BitmapAgg]] family) — the EXACT
  * counterpart of q257's theta-sketch gate, and the distinct-CUBE
  * pattern sketches cannot provide: COUNT(DISTINCT) rollups do not
  * re-aggregate (distinct counts are not additive), but bitmap
  * partials OR-fold losslessly, so a per-(key, day) bitmap cube
  * answers every coarser distinct question without rescanning raw
  * rows.
  */
object BitmapQueries {

  import Entry.Q

  /** q265 — exact pairwise audience overlap via bitmap algebra: per
    * event type, the exact distinct-user bitmap (`rbm_agg`), plus
    * the same bitmap REBUILT from a per-(type, day) cube through
    * `rbm_or_agg` — `rollup_ok` pins the lossless-re-aggregation
    * contract in-query. Output: for every type pair, exact |A|, |B|,
    * |A∩B|, |A∪B| — all hash-compared against DuckDB's exact
    * distinct-join recomputation (unlike q257's tolerance gate, every
    * number here must match exactly).
    *
    * Scale shape: both aggregates are ObjectHashAggregate with full
    * partial aggregation — partitions ship compressed bitmaps, never
    * user lists; the pair matrix is a broadcast theta-join of two
    * |types|-row frames; intersections/unions are scalar expression
    * calls (container-pairwise cardinalities, no materialized result
    * sets). At 100 TB the cube leg is the point: per-day bitmaps
    * persist once, every later overlap/rollup query reads bitmaps
    * only.
    */
  val q265BitmapOverlap: Q = (s, dir) => {
    GraftFunctions.register(s)
    import s.implicits._
    val ev = T.events(s, dir)
      .select($"event_type", $"user_id", to_date($"ts").as("day"))
    val direct = ev.groupBy($"event_type")
      .agg(expr("rbm_agg(user_id)").as("bm"))
    val rollup = ev.groupBy($"event_type", $"day")
      .agg(expr("rbm_agg(user_id)").as("bm_day"))
      .groupBy($"event_type")
      .agg(expr("rbm_or_agg(bm_day)").as("bm_roll"))
    val types = direct.join(rollup, "event_type")
      .select($"event_type", $"bm",
        expr("rbm_count(bm)").as("n"),
        (expr("rbm_count(bm)") === expr("rbm_count(bm_roll)"))
          .as("roll_ok"))
    val a = types.select($"event_type".as("type_a"), $"bm".as("bm_a"),
      $"n".as("n_a"), $"roll_ok".as("roll_a_ok"))
    val b = types.select($"event_type".as("type_b"), $"bm".as("bm_b"),
      $"n".as("n_b"), $"roll_ok".as("roll_b_ok"))
    a.join(b, $"type_a" < $"type_b")
      .select($"type_a", $"type_b", $"n_a", $"n_b",
        expr("rbm_and_count(bm_a, bm_b)").as("n_and"),
        expr("rbm_or_count(bm_a, bm_b)").as("n_or"),
        ($"roll_a_ok" && $"roll_b_ok").as("rollup_ok"))
      .orderBy($"type_a", $"type_b")
  }

  val q265Sql: String =
    """WITH d AS (SELECT DISTINCT event_type, user_id FROM events),
      |c AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
      |      FROM d GROUP BY event_type),
      |p AS (SELECT x.event_type AS type_a, y.event_type AS type_b,
      |        CAST(COUNT(*) AS BIGINT) AS n_and
      |      FROM d x JOIN d y USING (user_id)
      |      WHERE x.event_type < y.event_type
      |      GROUP BY 1, 2)
      |SELECT ca.event_type AS type_a, cb.event_type AS type_b,
      |  ca.n AS n_a, cb.n AS n_b,
      |  CAST(COALESCE(p.n_and, 0) AS BIGINT) AS n_and,
      |  CAST(ca.n + cb.n - COALESCE(p.n_and, 0) AS BIGINT) AS n_or,
      |  TRUE AS rollup_ok
      |FROM c ca JOIN c cb ON ca.event_type < cb.event_type
      |LEFT JOIN p ON p.type_a = ca.event_type AND p.type_b = cb.event_type
      |ORDER BY type_a, type_b""".stripMargin

  /** q271 — EXACT incremental distinct maintenance, the fourth IVM leg
    * (q105 counter-additive aggregates, q166 delta joins, q264 top-k)
    * and the exactness upgrade of q122's HLL leg: distinct counts are
    * not additive, but bitmap PARTIALS are losslessly mergeable, so
    * yesterday's rollup and today's delta (q105's before/after-cutoff
    * split) each store a per-group bitmap and the merged count is
    * EXACT — the gate joins the merged path against the one-pass path
    * and DuckDB's COUNT(DISTINCT), all three of which must agree to
    * the row (where q122 could only grant ±5%).
    *
    * Scale shape: both paths are partial-aggregated bitmap folds; the
    * production form persists the per-(group, day) bitmap column in
    * the rollup table and answers every later distinct question by
    * OR-fold, never rescanning raw events.
    */
  val q271BitmapIvm: Q = (s, dir) => {
    GraftFunctions.register(s)
    import s.implicits._
    import org.apache.spark.sql.types.TimestampType
    val cutoff = lit("2024-01-15").cast(TimestampType)
    val ev = T.events(s, dir).select($"event_type", $"ts", $"user_id")
    def partial(df: DataFrame): DataFrame = df
      .groupBy($"event_type").agg(expr("rbm_agg(user_id)").as("bm"))
    val merged = partial(ev.filter($"ts" < cutoff))
      .unionByName(partial(ev.filter($"ts" >= cutoff)))
      .groupBy($"event_type")
      .agg(expr("rbm_or_agg(bm)").as("bmm"))
      .select($"event_type", expr("rbm_count(bmm)").as("n_distinct_users"))
    val direct = ev.groupBy($"event_type")
      .agg(expr("rbm_count(rbm_agg(user_id))").as("n_direct"))
    merged.join(direct, "event_type")
      .select($"event_type", $"n_distinct_users",
        ($"n_distinct_users" === $"n_direct").as("merge_exact"))
      .orderBy($"event_type")
  }

  val q271Sql: String =
    """SELECT event_type,
      |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_distinct_users,
      |  TRUE AS merge_exact
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** q279 — the [[graft.plans.DistinctToBitmap]] optimizer rule under
    * the driver gate: with the rule scoped onto the session,
    * `countDistinct(intCol)` must plan as the single-pass bitmap
    * aggregate (plan REQUIREs: `rbm_agg` present, no distinct
    * machinery left) while the results — alongside an untouched plain
    * count in the SAME Aggregate — hash-match DuckDB's
    * COUNT(DISTINCT). The rule is appended and restored around the
    * query (the q266 scoped-session-state discipline).
    */
  val q279DistinctRewrite: Q = (s, dir) => {
    import s.implicits._
    val prev = s.experimental.extraOptimizations
    if (!prev.contains(graft.plans.DistinctToBitmap))
      s.experimental.extraOptimizations = prev :+ graft.plans.DistinctToBitmap
    try {
      val df = T.events(s, dir)
        .select($"event_type", $"user_id".cast("int").as("uid"))
        .groupBy($"event_type")
        .agg(countDistinct($"uid").as("n_users"),
          count(lit(1)).as("n_events"))
        .orderBy($"event_type")
      val plan = df.queryExecution.executedPlan.toString
      require(plan.contains("rbm_agg"),
        s"DistinctToBitmap did not fire; plan:\n$plan")
      require(!plan.toLowerCase.contains("distinct"),
        s"distinct machinery survived the rewrite; plan:\n$plan")
      PlanBridge.checkpointResetStats(df) // materialize under the scoped rule
    } finally s.experimental.extraOptimizations = prev
  }

  val q279Sql: String =
    """SELECT event_type,
      |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
      |  CAST(COUNT(*) AS BIGINT) AS n_events
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** q287 rolling window width (days, inclusive of the target day). */
  val RollingDays = 7

  /** q287 — ROLLING 7-DAY DISTINCT USERS via the bitmap cube: the
    * classic non-additive pain query (a rolling COUNT(DISTINCT) can
    * reuse nothing between adjacent windows in plain SQL — every
    * window recounts its raw rows) answered the warehouse way: one
    * per-day bitmap each (the q265/q271 cube), then each target day
    * OR-folds its trailing 7 daily bitmaps — work per window goes by
    * 7 compressed bitmaps, never by raw rows, and the count is EXACT
    * where an HLL-based rolling would be approximate. Oracle: DuckDB
    * recounts every window from raw rows — the expensive spelling the
    * cube replaces, which is exactly the point.
    *
    * Scale shape: one partial-agg bitmap fold over the scan; the
    * window expansion is a calendar-bounded self-join of the daily
    * frame (days × 7 rows); production persists the daily bitmap
    * column once and answers any window width from it.
    */
  val q287RollingDistinct: Q = (s, dir) => {
    GraftFunctions.register(s)
    import s.implicits._
    val daily = T.events(s, dir)
      .select(to_date($"ts").as("day"), $"user_id")
      .groupBy($"day").agg(expr("rbm_agg(user_id)").as("bm"))
    val pairs = daily.as("t").join(daily.as("srcd"),
        datediff($"t.day", $"srcd.day").between(0, RollingDays - 1))
      .select($"t.day".as("day"), $"srcd.bm".as("bm"))
    pairs.groupBy($"day")
      .agg(expr("rbm_count(rbm_or_agg(bm))").as("u7d"))
      .orderBy($"day")
  }

  val q287Sql: String =
    s"""WITH d AS (
       |  SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events)
       |SELECT t.day AS day,
       |  CAST(COUNT(DISTINCT s.user_id) AS BIGINT) AS u7d
       |FROM (SELECT DISTINCT day FROM d) t
       |JOIN d s ON s.day BETWEEN t.day - ${RollingDays - 1} AND t.day
       |GROUP BY t.day ORDER BY day""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("q265_bitmap_overlap", q265BitmapOverlap, q265Sql),
    Entry("q271_bitmap_ivm", q271BitmapIvm, q271Sql),
    Entry("q279_distinct_rewrite", q279DistinctRewrite, q279Sql),
    Entry("q287_rolling_distinct", q287RollingDistinct, q287Sql))
}
