package graft.streaming

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{Entry, Tables => T, dsl, OracleDsl => O}
import graft.operators.AsOfJoin

/** Event-time operators over the `events` table in their *batch* form —
  * the same plans Structured Streaming executes incrementally (the
  * streaming `writeStream` variants live in [[EventStreams]]; these
  * batch twins are the oracle-checkable surface).
  */
object StreamShapeQueries {

  import Entry.Q

  /** As-of join: each purchase event matched to the same user's most
    * recent signup at-or-before it ([[AsOfJoin]] union+window recipe —
    * one shuffle, no pair explosion). Oracle: DuckDB's native ASOF JOIN.
    * Signups are deduped to unique (user, µs) keeping max event_id so
    * ties are engine-independent.
    */
  val q31AsofJoin: Q = (s, dir) => {
    import s.implicits._
    val ev = T.events(s, dir)
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"event_id".as("purchase_id"), $"user_id", $"ts")
    val signups = ev.filter($"event_type" === "signup")
      .groupBy($"user_id", $"ts".as("signup_ts"))
      .agg(max($"event_id").as("signup_id"))
      .select($"user_id", $"signup_ts", $"signup_id")
    AsOfJoin.backward(purchases, signups, Seq("user_id"),
        leftTime = "ts", rightTime = "signup_ts")
      .select($"purchase_id", $"user_id", $"ts", $"signup_id")
      .orderBy($"purchase_id")
  }

  val q31Sql: String =
    """WITH p AS (SELECT event_id AS purchase_id, user_id, CAST(ts AS TIMESTAMP) AS ts
      |           FROM events WHERE event_type = 'purchase'),
      |     s AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS signup_ts,
      |                  MAX(event_id) AS signup_id
      |           FROM events WHERE event_type = 'signup'
      |           GROUP BY user_id, CAST(ts AS TIMESTAMP))
      |SELECT purchase_id, p.user_id AS user_id, ts, signup_id
      |FROM p ASOF JOIN s ON p.user_id = s.user_id AND p.ts >= s.signup_ts
      |ORDER BY purchase_id""".stripMargin

  /** q178 — NEAREST as-of (pandas merge_asof direction='nearest'
    * parity, completing the backward q31 / forward-spec'd family): each
    * purchase matches its temporally CLOSEST click by the same user on
    * either side, ties backward; emits the signed µs delta. The oracle
    * replays both directional window passes and the same pick rule.
    */
  val q178AsofNearest: Q = (s, dir) => {
    import s.implicits._
    val ev = T.events(s, dir)
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"event_id".as("purchase_id"), $"user_id", $"ts")
    val clicks = ev.filter($"event_type" === "click")
      .groupBy($"user_id", $"ts".as("click_ts"))
      .agg(max($"event_id").as("click_id"))
      .select($"user_id", $"click_ts", $"click_id")
    graft.operators.AsOfJoin.nearest(purchases, clicks, Seq("user_id"),
        leftId = "purchase_id", leftTime = "ts", rightTime = "click_ts")
      .select($"purchase_id", $"user_id", $"click_id", $"asof_delta_us")
      .orderBy($"purchase_id")
  }

  val q178Sql: String =
    """WITH p AS (SELECT event_id AS purchase_id, user_id,
      |             CAST(ts AS TIMESTAMP) AS ts
      |           FROM events WHERE event_type = 'purchase'),
      |c AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS click_ts,
      |        MAX(event_id) AS click_id
      |      FROM events WHERE event_type = 'click'
      |      GROUP BY user_id, CAST(ts AS TIMESTAMP)),
      |b AS (SELECT purchase_id, click_id AS b_id, click_ts AS b_ts FROM (
      |  SELECT p.purchase_id, c.click_id, c.click_ts,
      |    ROW_NUMBER() OVER (PARTITION BY p.purchase_id
      |      ORDER BY c.click_ts DESC) AS rn
      |  FROM p JOIN c ON p.user_id = c.user_id AND c.click_ts <= p.ts)
      |  WHERE rn = 1),
      |f AS (SELECT purchase_id, click_id AS f_id, click_ts AS f_ts FROM (
      |  SELECT p.purchase_id, c.click_id, c.click_ts,
      |    ROW_NUMBER() OVER (PARTITION BY p.purchase_id
      |      ORDER BY c.click_ts ASC) AS rn
      |  FROM p JOIN c ON p.user_id = c.user_id AND c.click_ts > p.ts)
      |  WHERE rn = 1)
      |SELECT p.purchase_id, p.user_id,
      |  CASE WHEN f_ts IS NULL THEN b_id
      |       WHEN b_ts IS NULL THEN f_id
      |       WHEN date_diff('microsecond', b_ts, p.ts)
      |            <= date_diff('microsecond', p.ts, f_ts) THEN b_id
      |       ELSE f_id END AS click_id,
      |  CASE WHEN f_ts IS NULL THEN date_diff('microsecond', p.ts, b_ts)
      |       WHEN b_ts IS NULL THEN date_diff('microsecond', p.ts, f_ts)
      |       WHEN date_diff('microsecond', b_ts, p.ts)
      |            <= date_diff('microsecond', p.ts, f_ts)
      |       THEN date_diff('microsecond', p.ts, b_ts)
      |       ELSE date_diff('microsecond', p.ts, f_ts) END AS asof_delta_us
      |FROM p
      |LEFT JOIN b ON p.purchase_id = b.purchase_id
      |LEFT JOIN f ON p.purchase_id = f.purchase_id
      |WHERE b_id IS NOT NULL OR f_id IS NOT NULL
      |ORDER BY p.purchase_id""".stripMargin

  /** Tumbling 1-hour window aggregation — `window()` start equals
    * date_trunc for epoch-aligned widths.
    */
  val q60TumblingWindow: Q = (s, dir) => {
    import s.implicits._
    T.events(s, dir)
      .groupBy(window($"ts", "1 hour").getField("start").as("window_start"),
        $"event_type")
      .agg(count(lit(1)).as("n"), dsl.dsum($"value").as("sum_value"))
      .orderBy($"window_start", $"event_type")
  }

  val q60Sql: String =
    s"""SELECT CAST(DATE_TRUNC('hour', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS window_start,
       |  event_type, COUNT(*) AS n, ${O.dsum("value")} AS sum_value
       |FROM events
       |GROUP BY 1, 2
       |ORDER BY window_start, event_type""".stripMargin

  /** Sliding window (1 hour wide, 30 min slide): every event belongs to
    * exactly 2 windows. Oracle reproduces the assignment arithmetic with
    * a 2-row offset cross join.
    */
  val q61SlidingWindow: Q = (s, dir) => {
    import s.implicits._
    T.events(s, dir)
      .groupBy(window($"ts", "1 hour", "30 minutes").getField("start")
        .as("window_start"))
      .agg(count(lit(1)).as("n"), dsl.dsum($"value").as("sum_value"))
      .orderBy($"window_start")
  }

  val q61Sql: String =
    s"""SELECT MAKE_TIMESTAMP(((EPOCH_US(CAST(ts AS TIMESTAMP)) // 1800000000) - i) * 1800000000) AS window_start,
       |  COUNT(*) AS n, ${O.dsum("value")} AS sum_value
       |FROM events CROSS JOIN (VALUES (0), (1)) AS offs(i)
       |GROUP BY 1
       |ORDER BY window_start""".stripMargin

  /** Session window (10-minute gap) per user, in batch form. Oracle uses
    * the classic lag + cumulative-flag rewrite; Spark uses the native
    * session_window, which Structured Streaming can also run with state.
    */
  val q62SessionWindow: Q = (s, dir) => {
    import s.implicits._
    T.events(s, dir)
      .groupBy($"user_id", session_window($"ts", "10 minutes"))
      .agg(count(lit(1)).as("n_events"), max($"ts").as("last_ts"))
      .select($"user_id", $"session_window.start".as("session_start"),
        $"n_events", $"last_ts")
      .orderBy($"user_id", $"session_start")
  }

  val q62Sql: String =
    """WITH t AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
      |     flagged AS (
      |  SELECT user_id, ts,
      |    CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
      |              < INTERVAL 10 MINUTE THEN 0 ELSE 1 END AS new_session
      |  FROM t),
      |     sessions AS (
      |  SELECT user_id, ts,
      |    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
      |                           ROWS UNBOUNDED PRECEDING) AS session_id
      |  FROM flagged)
      |SELECT user_id, MIN(ts) AS session_start,
      |  COUNT(*) AS n_events, MAX(ts) AS last_ts
      |FROM sessions
      |GROUP BY user_id, session_id
      |ORDER BY user_id, session_start""".stripMargin

  /** Dedup keep-earliest — the deterministic batch twin of streaming
    * `dropDuplicatesWithinWatermark` (keep first arrival): one row per
    * (user, event_type), the one with the smallest event_id.
    */
  val q63DedupKeepEarliest: Q = (s, dir) => {
    import s.implicits._
    val w = Window.partitionBy($"user_id", $"event_type")
      .orderBy($"event_id".asc)
    T.events(s, dir)
      .withColumn("rn", row_number().over(w))
      .filter($"rn" === 1)
      .select($"event_id", $"user_id", $"event_type", $"value")
      .orderBy($"event_id")
  }

  val q63Sql: String =
    """SELECT event_id, user_id, event_type, value
      |FROM (SELECT event_id, user_id, event_type, value,
      |        ROW_NUMBER() OVER (PARTITION BY user_id, event_type
      |                           ORDER BY event_id ASC) AS rn
      |      FROM events) t
      |WHERE rn = 1
      |ORDER BY event_id""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("q31_asof_join", q31AsofJoin, q31Sql),
    Entry("q178_asof_nearest", q178AsofNearest, q178Sql),
    Entry("q60_tumbling_window", q60TumblingWindow, q60Sql),
    Entry("q61_sliding_window", q61SlidingWindow, q61Sql),
    Entry("q62_session_window", q62SessionWindow, q62Sql),
    Entry("q63_dedup_keep_earliest", q63DedupKeepEarliest, q63Sql))
}
