package graft.relational

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.PlanBridge

import graft.core.{Entry, Tables => T}

/** Time-series regularization: resample an irregular per-key event
  * series onto a fixed time grid with forward fill — the step that
  * turns event logs into model-ready feature series (gap-free, one row
  * per key per interval), which Spark has no single operator for.
  *
  * Composition (all standard operators, so Catalyst optimizes each
  * edge): per-(key, bucket) "last observation" via one windowed
  * row_number; per-key grid via `sequence()` + `explode` (narrow — the
  * grid is GENERATED next to the data, never shuffled in); a left join
  * of grid onto observations (both sides hash-partition on the key);
  * and forward fill as `last(value, ignoreNulls)` over the per-key
  * time order. State never leaves the executors and every window is
  * keyed, so the shape survives any number of keys.
  */
object TimeSeriesQueries {

  import Entry.Q

  /** Resample `df`'s (keyCol, tsCol, valueCol) onto a per-key grid of
    * `step` (a calendar-interval SQL string), bucketing by
    * `date_trunc(unit)`, keeping the LAST observation per bucket
    * (latest tsCol, ties to the highest `tieCol`) and forward-filling
    * empty buckets from the previous observed one.
    */
  def resampleFfill(df: DataFrame, keyCol: String, tsCol: String,
      valueCol: String, tieCol: String, unit: String = "hour",
      step: String = "interval 1 hour"): DataFrame = {
    val wLast = Window.partitionBy(col(keyCol), col("h"))
      .orderBy(col(tsCol).desc, col(tieCol).desc)
    val obs = df
      .withColumn("h", date_trunc(unit, col(tsCol)))
      .withColumn("rn", row_number().over(wLast))
      .filter(col("rn") === 1)
      .select(col(keyCol), col("h"), col(valueCol).as("v"))
    val grid = df.groupBy(col(keyCol))
      .agg(date_trunc(unit, min(col(tsCol))).as("h0"),
        date_trunc(unit, max(col(tsCol))).as("h1"))
      .select(col(keyCol), explode(expr(s"sequence(h0, h1, $step)")).as("h"))
    val wFill = Window.partitionBy(col(keyCol)).orderBy(col("h"))
      .rowsBetween(Window.unboundedPreceding, 0)
    grid.join(obs, Seq(keyCol, "h"), "left")
      .select(col(keyCol), col("h"),
        last(col("v"), ignoreNulls = true).over(wFill).as("v_ffill"),
        col("v").isNotNull.as("has_obs"))
  }

  /** q104 — hourly resample + forward fill of each user's event-value
    * series. ~90% of grid points are gaps at test scale, so the fill
    * path carries the row; the oracle replays bucket-last, grid, and
    * `IGNORE NULLS` fill in SQL.
    */
  val q104ResampleFfill: Q = (s, dir) => {
    import s.implicits._
    resampleFfill(
      T.events(s, dir).select($"user_id", $"ts", $"value", $"event_id"),
      keyCol = "user_id", tsCol = "ts", valueCol = "value",
      tieCol = "event_id")
      .orderBy($"user_id", $"h")
  }

  val q104Sql: String =
    """WITH ev AS (
      |  SELECT user_id, event_id, value, CAST(ts AS TIMESTAMP) AS ts
      |  FROM events),
      |obs0 AS (
      |  SELECT user_id, date_trunc('hour', ts) AS h, value,
      |    ROW_NUMBER() OVER (PARTITION BY user_id, date_trunc('hour', ts)
      |      ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM ev),
      |obs AS (SELECT user_id, h, value AS v FROM obs0 WHERE rn = 1),
      |span AS (
      |  SELECT user_id, date_trunc('hour', MIN(ts)) AS h0,
      |    date_trunc('hour', MAX(ts)) AS h1
      |  FROM ev GROUP BY user_id),
      |grid AS (
      |  SELECT user_id, UNNEST(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
      |  FROM span),
      |j AS (
      |  SELECT g.user_id, g.h, obs.v
      |  FROM grid g LEFT JOIN obs ON g.user_id = obs.user_id AND g.h = obs.h)
      |SELECT user_id, h,
      |  LAST_VALUE(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY h
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_ffill,
      |  v IS NOT NULL AS has_obs
      |FROM j
      |ORDER BY user_id, h""".stripMargin

  /** q118 — rolling time-RANGE window: for every event, the count and
    * exact decimal-path sum of the same user's events in the trailing
    * hour (inclusive bounds both ends, peers included — the range-frame
    * contract). The Spark frame ranges over `unix_micros(ts)` — the
    * same µs quantity DuckDB's `RANGE INTERVAL 1 HOUR PRECEDING` frames
    * over, so frame membership is identical; the decimal sum keeps the
    * in-frame accumulation order-independent (dsl rationale).
    *
    * Scale shape: one hash-partition on the key, per-key sort, one
    * forward pass with a sliding frame — same exchange as any keyed
    * window; no self-join (the naive "events within an hour" spelling
    * is the q115 range join against itself).
    */
  val q118RollingWindow: Q = (s, dir) => {
    import s.implicits._
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    val w = Window.partitionBy($"user_id")
      .orderBy(unix_micros($"ts"))
      .rangeBetween(-3600L * 1000000L, 0L)
    T.events(s, dir).select($"user_id", $"event_id", $"ts", $"value")
      .withColumn("n_1h", count(lit(1)).over(w))
      .withColumn("sum_1h",
        sum($"value".cast(DecimalType(25, 6))).over(w).cast(DoubleType))
      .orderBy($"user_id", $"ts", $"event_id")
  }

  val q118Sql: String =
    """SELECT user_id, event_id, ts, value,
      |  COUNT(*) OVER w AS n_1h,
      |  CAST(SUM(CAST(value AS DECIMAL(25,6))) OVER w AS DOUBLE) AS sum_1h
      |FROM (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value
      |      FROM events)
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts
      |  RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
      |ORDER BY user_id, ts, event_id""".stripMargin

  /** Gap threshold for [[q120Sessionize]], strictly-greater semantics. */
  val SessionGapUs = 1800L * 1000000L

  /** q120 — gap-based sessionization, the batch window-prefix-sum form
    * (the streaming twin is q62's session_window): a new session starts
    * when the gap to the user's previous event exceeds 30 minutes;
    * session ids are the running count of starts; per-session stats
    * aggregate after. Two keyed windows (lag + running sum) over ONE
    * hash-partition on the user — no self-join, no session_window
    * dependency, so the same recipe works on any engine-agnostic
    * DataFrame.
    */
  val q120Sessionize: Q = (s, dir) => {
    import s.implicits._
    val wOrd = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val wRun = wOrd.rowsBetween(Window.unboundedPreceding, 0)
    T.events(s, dir).select($"user_id", $"event_id", $"ts")
      .withColumn("prev_ts", lag($"ts", 1).over(wOrd))
      .withColumn("new_s",
        when($"prev_ts".isNull ||
          unix_micros($"ts") - unix_micros($"prev_ts") > SessionGapUs, 1L)
          .otherwise(0L))
      .withColumn("session_id", sum($"new_s").over(wRun))
      .groupBy($"user_id", $"session_id")
      .agg(count(lit(1)).as("n_events"),
        min($"ts").as("session_start"), max($"ts").as("session_end"))
      .withColumn("duration_us",
        unix_micros($"session_end") - unix_micros($"session_start"))
      .orderBy($"user_id", $"session_id")
  }

  val q120Sql: String =
    s"""WITH ev AS (
       |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
       |fl AS (
       |  SELECT user_id, event_id, ts,
       |    CASE WHEN LAG(ts) OVER w IS NULL
       |           OR date_diff('microsecond', LAG(ts) OVER w, ts)
       |              > $SessionGapUs
       |         THEN 1 ELSE 0 END AS new_s
       |  FROM ev
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
       |ses AS (
       |  SELECT user_id, ts,
       |    CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      AS session_id
       |  FROM fl)
       |SELECT user_id, session_id, COUNT(*) AS n_events,
       |  MIN(ts) AS session_start, MAX(ts) AS session_end,
       |  date_diff('microsecond', MIN(ts), MAX(ts)) AS duration_us
       |FROM ses
       |GROUP BY user_id, session_id
       |ORDER BY user_id, session_id""".stripMargin

  /** q149 — trailing-window size (rows) and minimum history. */
  val AnomalyWindowRows = 5
  val AnomalyMinHistory = 3

  /** q149 — trailing-window z-score anomaly detection in EXACT integer
    * arithmetic: an event is anomalous when its value deviates from its
    * own key's trailing-[[AnomalyWindowRows]] history by more than 3
    * standard deviations. The float z-score `(x−μ)/σ > 3` is
    * order-sensitive cross-engine, so the test is algebraically
    * rearranged to integers: with q = floor(100·value), n the history
    * size, S = Σq, Q = Σq² over the trailing frame,
    *   (x−μ)² > 9·σ²  ⇔  (n·q − S)² > 9·(n·Q − S²)
    * — every term an exact BIGINT (q ≤ 5·10⁴ here ⇒ the square ≤
    * ~6·10¹⁰, far inside int64; the scaladoc'd budget holds to
    * |value| < 10⁷). The same integerization discipline as q89's
    * closed-form moments and q118's decimal range sums.
    *
    * Scale shape: ONE keyed window (user_id exchange + per-key sort,
    * bounded [[AnomalyWindowRows]]-row frame state) — no self-join;
    * output is the anomalous rows only, ∝ anomaly rate.
    */
  val q149ZscoreAnomaly: Q = (s, dir) => {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      .rowsBetween(-AnomalyWindowRows, -1)
    T.events(s, dir)
      .select($"user_id", $"event_id", $"ts",
        floor($"value" * 100).cast("long").as("q"))
      .withColumn("n_prev", count($"q").over(w))
      .withColumn("s_prev", sum($"q").over(w))
      .withColumn("qq_prev", sum($"q" * $"q").over(w))
      .filter($"n_prev" >= AnomalyMinHistory &&
        ($"n_prev" * $"q" - $"s_prev") * ($"n_prev" * $"q" - $"s_prev") >
          lit(9L) * ($"n_prev" * $"qq_prev" - $"s_prev" * $"s_prev"))
      .select($"user_id", $"event_id", $"q", $"n_prev", $"s_prev", $"qq_prev")
      .orderBy($"user_id", $"event_id")
  }

  val q149Sql: String =
    s"""WITH ev AS (
       |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
       |    CAST(FLOOR(100 * value) AS BIGINT) AS q
       |  FROM events),
       |m AS (
       |  SELECT user_id, event_id, q,
       |    CAST(COUNT(q) OVER w AS BIGINT) AS n_prev,
       |    CAST(SUM(q) OVER w AS BIGINT) AS s_prev,
       |    CAST(SUM(q * q) OVER w AS BIGINT) AS qq_prev
       |  FROM ev
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
       |    ROWS BETWEEN $AnomalyWindowRows PRECEDING AND 1 PRECEDING))
       |SELECT user_id, event_id, q, n_prev, s_prev, qq_prev
       |FROM m
       |WHERE n_prev >= $AnomalyMinHistory
       |  AND (n_prev * q - s_prev) * (n_prev * q - s_prev)
       |      > 9 * (n_prev * qq_prev - s_prev * s_prev)
       |ORDER BY user_id, event_id""".stripMargin

  /** q174 — resample with LINEAR INTERPOLATION (the upsampling sibling
    * of q104's forward fill): per user, an hourly grid where each grid
    * instant takes v_prev + (v_next − v_prev)·(g − t_prev)/(t_next −
    * t_prev) between its surrounding observations; grid points outside
    * [first, last] observation drop (no extrapolation — symmetric in
    * both engines). The arithmetic is ONE fixed op sequence over a
    * µs-integer ratio and 2-decimal values, so the interpolated doubles
    * are bit-identical cross-engine (the q108 fixed-order discipline).
    *
    * Scale shape: observations and grid instants UNION into one frame,
    * ONE keyed window ordered by (t_us, is_obs desc) provides both the
    * trailing observation (rows ≤ current) and the leading one (rows >
    * current) — no self-join, no per-grid-point probe; the grid
    * generates next to the data (q104's rule).
    */
  val q174ResampleInterp: Q = (s, dir) => {
    import s.implicits._
    val ev = T.events(s, dir)
      .select($"user_id", unix_micros($"ts").as("t_us"), $"value", $"event_id")
    // one observation per exact instant: max event_id wins (tie rule)
    val wTie = Window.partitionBy($"user_id", $"t_us")
      .orderBy($"event_id".desc)
    val obs = ev.withColumn("rn", row_number().over(wTie))
      .filter($"rn" === 1)
      .select($"user_id", $"t_us", $"value", lit(1).as("is_obs"))
    val HourUs = 3600L * 1000000
    val grid = ev.groupBy($"user_id")
      .agg(min($"t_us").as("t0"), max($"t_us").as("t1"))
      .select($"user_id", explode(sequence(
        ($"t0".cast("long") / HourUs).cast("long") * HourUs,
        ($"t1".cast("long") / HourUs).cast("long") * HourUs,
        lit(HourUs))).as("t_us"))
      .select($"user_id", $"t_us",
        lit(null).cast("double").as("value"), lit(0).as("is_obs"))
    val all = obs.unionByName(grid)
    val wOrd = Window.partitionBy($"user_id")
      .orderBy($"t_us".asc, $"is_obs".desc)
    val wPrev = wOrd.rowsBetween(Window.unboundedPreceding, 0)
    val wNext = wOrd.rowsBetween(1, Window.unboundedFollowing)
    all
      .withColumn("v_prev", last($"value", ignoreNulls = true).over(wPrev))
      .withColumn("t_prev", last(when($"is_obs" === 1, $"t_us"),
        ignoreNulls = true).over(wPrev))
      .withColumn("v_next", first($"value", ignoreNulls = true).over(wNext))
      .withColumn("t_next", first(when($"is_obs" === 1, $"t_us"),
        ignoreNulls = true).over(wNext))
      .filter($"is_obs" === 0 && $"v_prev".isNotNull && $"v_next".isNotNull)
      .select($"user_id", $"t_us",
        when($"t_next" === $"t_prev", $"v_prev").otherwise(
          $"v_prev" + ($"v_next" - $"v_prev") *
            (($"t_us" - $"t_prev").cast("double")
              / ($"t_next" - $"t_prev").cast("double"))).as("v_interp"))
      .orderBy($"user_id", $"t_us")
  }

  val q174Sql: String =
    """WITH ev AS (
      |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS t_us,
      |    value, event_id
      |  FROM events),
      |obs AS (
      |  SELECT user_id, t_us, value, 1 AS is_obs FROM (
      |    SELECT user_id, t_us, value,
      |      ROW_NUMBER() OVER (PARTITION BY user_id, t_us
      |        ORDER BY event_id DESC) AS rn
      |    FROM ev) WHERE rn = 1),
      |span AS (
      |  SELECT user_id,
      |    (MIN(t_us) // 3600000000) * 3600000000 AS g0,
      |    (MAX(t_us) // 3600000000) * 3600000000 AS g1
      |  FROM ev GROUP BY user_id),
      |grid AS (
      |  SELECT user_id, UNNEST(range(g0, g1 + 1, 3600000000)) AS t_us,
      |    CAST(NULL AS DOUBLE) AS value, 0 AS is_obs
      |  FROM span),
      |u AS (SELECT * FROM obs UNION ALL SELECT * FROM grid),
      |w AS (
      |  SELECT user_id, t_us, is_obs,
      |    LAST_VALUE(value IGNORE NULLS) OVER
      |      (PARTITION BY user_id ORDER BY t_us ASC, is_obs DESC
      |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_prev,
      |    LAST_VALUE(CASE WHEN is_obs = 1 THEN t_us END IGNORE NULLS) OVER
      |      (PARTITION BY user_id ORDER BY t_us ASC, is_obs DESC
      |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS t_prev,
      |    FIRST_VALUE(value IGNORE NULLS) OVER
      |      (PARTITION BY user_id ORDER BY t_us ASC, is_obs DESC
      |       ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS v_next,
      |    FIRST_VALUE(CASE WHEN is_obs = 1 THEN t_us END IGNORE NULLS) OVER
      |      (PARTITION BY user_id ORDER BY t_us ASC, is_obs DESC
      |       ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS t_next
      |  FROM u)
      |SELECT user_id, t_us,
      |  CASE WHEN t_next = t_prev THEN v_prev
      |       ELSE v_prev + (v_next - v_prev) *
      |         (CAST(t_us - t_prev AS DOUBLE) / CAST(t_next - t_prev AS DOUBLE))
      |  END AS v_interp
      |FROM w
      |WHERE is_obs = 0 AND v_prev IS NOT NULL AND v_next IS NOT NULL
      |ORDER BY user_id, t_us""".stripMargin

  /** EWMA truncation depth: weights below 2^-40 are under double ulp
    * for this value range, so the 40-term window IS the full-precision
    * answer of the adjust-form EWMA (pandas `adjust=True`) at α = ½.
    */
  val EwmaDepth = 40

  /** q199 — bit-exact exponentially weighted moving average (α = ½)
    * per user over the event stream. The float trap with EWMA is that
    * the recursion y_t = αx_t + (1-α)y_{t-1} compounds rounding
    * differently per engine; α = ½ dissolves it: every weight is a
    * power of two, so `cents · 2^k` is EXACT integer arithmetic.
    * Numerator and denominator are BIGINT sums of shifted cents
    * (order-free, overflow-safe: max cents 49k · 2^40 ≈ 5e16), and the
    * single final division is correctly rounded identically in both
    * engines. Truncation at [[EwmaDepth]] lags is part of the operator
    * contract, mirrored in the oracle frame.
    *
    * Scale shape: one shuffle on user_id for the row-number window,
    * then a self-equi-join on user_id with a ±39-row rn band — the
    * intermediate is a bounded 40× of the input (not quadratic), and
    * the whole pipeline shares the user_id partitioning. The streaming
    * twin is the recursion in a stateful processor; this is the batch
    * replay form.
    */
  val q199EwmaExact: Q = (s, dir) => {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val r = T.events(s, dir)
      .select($"user_id", $"event_id", $"ts",
        ($"value".cast(org.apache.spark.sql.types.DecimalType(18, 2)) * 100)
          .cast("long").as("cents"))
      .withColumn("rn", row_number().over(w))
    r.as("a").join(r.as("b"),
        $"a.user_id" === $"b.user_id" &&
          $"b.rn" >= $"a.rn" - (EwmaDepth - 1) && $"b.rn" <= $"a.rn")
      .groupBy($"a.user_id".as("user_id"), $"a.event_id".as("event_id"))
      .agg(
        sum(expr(s"shiftleft(b.cents, ${EwmaDepth - 1} - (a.rn - b.rn))"))
          .as("num"),
        sum(expr(
          s"shiftleft(CAST(1 AS BIGINT), ${EwmaDepth - 1} - (a.rn - b.rn))"))
          .as("den"))
      .select($"user_id", $"event_id",
        ($"num".cast("double") / $"den".cast("double") / 100.0).as("ewma"))
      .orderBy($"user_id", $"event_id")
  }

  val q199Sql: String =
    s"""WITH r AS (
       |  SELECT user_id, event_id,
       |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
       |    ROW_NUMBER() OVER (PARTITION BY user_id
       |      ORDER BY CAST(ts AS TIMESTAMP), event_id) AS rn
       |  FROM events)
       |SELECT a.user_id, a.event_id,
       |  CAST(SUM(b.cents << (${EwmaDepth - 1} - (a.rn - b.rn))) AS DOUBLE)
       |    / CAST(SUM(CAST(1 AS BIGINT) << (${EwmaDepth - 1} - (a.rn - b.rn)))
       |        AS DOUBLE) / 100.0 AS ewma
       |FROM r a JOIN r b ON a.user_id = b.user_id
       |  AND b.rn BETWEEN a.rn - ${EwmaDepth - 1} AND a.rn
       |GROUP BY a.user_id, a.event_id
       |ORDER BY a.user_id, a.event_id""".stripMargin

  /** q259 — per-(type, day) TIME-WEIGHTED average price (TWAP), the
    * irregular-sampling correction every monitoring/finance rollup
    * needs: a value that held for 50 minutes must weigh 50× one that
    * held for a minute, which a plain AVG cannot see. Each event's
    * value is weighted by its holding interval — microseconds until
    * the NEXT event of the same (type, day), via one lead() window;
    * the day's last event has no successor and carries zero weight
    * (the standard right-open convention, documented not fudged).
    *
    * Exactness: cents (exact decimal quantization) × interval-µs
    * products sum in DECIMAL(38,0) — cents·µs reaches ~10¹⁵ per row,
    * so the int64 headroom a BIGINT sum would need is gone by ~10⁴
    * rows; the decimal sum is exact at any scale, and the final
    * ÷(100·Σµs) is one correctly-rounded double division on identical
    * inputs in both engines.
    *
    * Scale shape: ONE keyed window (lead) + ONE partial-aggregated
    * groupBy, both hash-partitioned on (event_type, day) — the window
    * and the aggregate share the partitioning, so the whole query is
    * a single exchange.
    */
  val q259Twap: Q = (s, dir) => {
    import s.implicits._
    val ev = T.events(s, dir)
      .select($"event_type", to_date($"ts").as("day"),
        unix_micros($"ts").as("t_us"), $"event_id",
        expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)")
          .as("cents"))
    val w = Window.partitionBy($"event_type", $"day")
      .orderBy($"t_us".asc, $"event_id".asc)
    ev.withColumn("dt_us", lead($"t_us", 1).over(w) - $"t_us")
      .filter($"dt_us".isNotNull)
      .groupBy($"event_type", $"day")
      .agg(count(lit(1)).as("n_weighted"),
        sum($"dt_us").as("den_us"),
        sum(($"cents" * $"dt_us")
          .cast(org.apache.spark.sql.types.DecimalType(38, 0))).as("num"))
      .select($"event_type", $"day", $"n_weighted", $"den_us",
        ($"num".cast("double") / ($"den_us" * lit(100.0))).as("twap"))
      .orderBy($"event_type", $"day")
  }

  val q259Sql: String =
    """WITH e AS (
      |  SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
      |    epoch_us(CAST(ts AS TIMESTAMP)) AS t_us, event_id,
      |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |  FROM events),
      |d AS (
      |  SELECT event_type, day, cents,
      |    lead(t_us) OVER (PARTITION BY event_type, day
      |      ORDER BY t_us ASC, event_id ASC) - t_us AS dt_us
      |  FROM e)
      |SELECT event_type, day, COUNT(*) AS n_weighted,
      |  CAST(SUM(dt_us) AS BIGINT) AS den_us,
      |  CAST(SUM(CAST(cents * dt_us AS DECIMAL(38,0))) AS DOUBLE)
      |    / (CAST(SUM(dt_us) AS BIGINT) * 100.0) AS twap
      |FROM d WHERE dt_us IS NOT NULL
      |GROUP BY event_type, day
      |ORDER BY event_type, day""".stripMargin

  /** q261 — CUMULATIVE distinct users per (event_type, day) — the
    * "unique users to date" growth curve every product dashboard
    * carries. Spark (like most engines) rejects COUNT(DISTINCT) over a
    * running window; the scalable spelling is FIRST-ARRIVAL
    * decomposition: each (type, user)'s first active day is one keyed
    * aggregate, arrivals-per-day one more, and the running total is a
    * window over the tiny (type, day) frame — the heavy shuffles are
    * both partial-aggregated on user keys, and the window never sees
    * user-level rows (contrast a naive collect_set-over-window, which
    * ships every user id through every window frame).
    *
    * Emits per (type, day): new users that day, cumulative uniques,
    * and daily actives (for the new/returning split) — all exact
    * BIGINTs.
    */
  val q261CumulativeUniques: Q = (s, dir) => {
    import s.implicits._
    val ev = T.events(s, dir)
      .select($"event_type", $"user_id", to_date($"ts").as("day"))
    val daily = ev.groupBy($"event_type", $"day")
      .agg(countDistinct($"user_id").as("n_active"))
    val firstSeen = ev.groupBy($"event_type", $"user_id")
      .agg(min($"day").as("day"))
      .groupBy($"event_type", $"day")
      .agg(count(lit(1)).as("n_new"))
    val w = Window.partitionBy($"event_type").orderBy($"day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily.join(firstSeen, Seq("event_type", "day"), "left")
      .withColumn("n_new", coalesce($"n_new", lit(0L)))
      .withColumn("n_cumulative", sum($"n_new").over(w))
      .select($"event_type", $"day", $"n_active", $"n_new", $"n_cumulative")
      .orderBy($"event_type", $"day")
  }

  val q261Sql: String =
    """WITH e AS (
      |  SELECT event_type, user_id,
      |    CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day
      |  FROM events),
      |daily AS (
      |  SELECT event_type, day, COUNT(DISTINCT user_id) AS n_active
      |  FROM e GROUP BY 1, 2),
      |fs AS (
      |  SELECT event_type, day, COUNT(*) AS n_new FROM (
      |    SELECT event_type, user_id, MIN(day) AS day
      |    FROM e GROUP BY 1, 2) t
      |  GROUP BY 1, 2)
      |SELECT daily.event_type, daily.day, n_active,
      |  COALESCE(n_new, 0) AS n_new,
      |  CAST(SUM(COALESCE(n_new, 0)) OVER (PARTITION BY daily.event_type
      |    ORDER BY daily.day
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |    AS n_cumulative
      |FROM daily LEFT JOIN fs
      |  ON daily.event_type = fs.event_type AND daily.day = fs.day
      |ORDER BY daily.event_type, daily.day""".stripMargin

  /** q275 — THEIL–SEN robust trend per event type: the median of all
    * pairwise daily-revenue slopes — the estimator that shrugs off the
    * outlier days OLS (q228) is dragged by (29% breakdown point vs
    * zero). Exactness across engines without quantizing the slope:
    * daily revenues are exact BIGINT cents and day indices small ints,
    * so each pair slope Δy/Δx is ONE correctly-rounded IEEE division
    * of exactly-representable integers — bit-identical in Spark and
    * DuckDB — and the LOWER MEDIAN (element (n−1)/2 of the sorted
    * slopes, documented convention; no midpoint averaging) selects the
    * same double on both sides, so the raw double hash-matches.
    *
    * Scale shape: the corpus-sized work is one (type, day) partial
    * aggregation; the pair join runs on the DAILY frame
    * (types × C(days, 2) rows — calendar-bounded, corpus-size
    * independent), the q109/q244 in-group-quadratic discipline.
    */
  val q275TheilSen: Q = (s, dir) => {
    import s.implicits._
    val daily = T.events(s, dir)
      .select($"event_type",
        datediff(to_date($"ts"), lit("2024-01-01")).as("x"),
        expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)").as("c"))
      .groupBy($"event_type", $"x").agg(sum($"c").as("y"))
    val slopes = daily.as("a").join(daily.as("b"),
        $"a.event_type" === $"b.event_type" && $"a.x" < $"b.x")
      .select($"a.event_type".as("event_type"),
        (($"b.y" - $"a.y").cast("double") / ($"b.x" - $"a.x").cast("double"))
          .as("slope"))
    slopes.groupBy($"event_type")
      .agg(count(lit(1)).as("n_pairs"),
        sort_array(collect_list($"slope")).as("ss"))
      .select($"event_type", $"n_pairs",
        element_at($"ss", (($"n_pairs" - 1) / 2 + 1).cast("int"))
          .as("ts_slope"))
      .orderBy($"event_type")
  }

  val q275Sql: String =
    """WITH daily AS (
      |  SELECT event_type,
      |    datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS x,
      |    SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS y
      |  FROM events GROUP BY event_type, x),
      |pairs AS (
      |  SELECT a.event_type,
      |    CAST(b.y - a.y AS DOUBLE) / CAST(b.x - a.x AS DOUBLE) AS slope
      |  FROM daily a JOIN daily b
      |    ON a.event_type = b.event_type AND a.x < b.x),
      |r AS (
      |  SELECT event_type, slope,
      |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY slope) AS rn,
      |    COUNT(*) OVER (PARTITION BY event_type) AS n
      |  FROM pairs)
      |SELECT event_type, CAST(n AS BIGINT) AS n_pairs, slope AS ts_slope
      |FROM r WHERE rn = (n - 1) // 2 + 1
      |ORDER BY event_type""".stripMargin

  /** Activity halo per event for the q286 coverage merge (µs). */
  val ActivityWindowUs: Long = 5L * 60 * 1000000

  /** q286 — INTERVAL MERGE (gaps-and-islands union): each event opens
    * a 5-minute activity interval; overlapping/touching intervals per
    * user merge into disjoint islands, reported as interval count and
    * total covered time — the downtime-merging / session-coverage
    * primitive that is NOT expressible as a plain window aggregate
    * (coverage must not double-count overlaps). Island detection is
    * the classic spelling: a new island starts where the running MAX
    * of previous interval ends can't reach the current start; islands
    * then aggregate min(start)/max(end). All integer µs — exact.
    *
    * Scale shape: two windows on one user_id partitioning + two keyed
    * partial aggs; stable under tied timestamps (a tied row's start
    * never exceeds its twin's end, so tie order cannot flip island
    * assignment — scaladoc'd instead of hoped).
    */
  val q286IntervalMerge: Q = (s, dir) => {
    import s.implicits._
    val iv = T.events(s, dir)
      .select($"user_id", unix_micros($"ts").as("st"))
      .withColumn("en", $"st" + ActivityWindowUs)
    val w = Window.partitionBy($"user_id").orderBy($"st", $"en")
    iv
      .withColumn("max_en_prev",
        max($"en").over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("new_island",
        when($"max_en_prev".isNull || $"st" > $"max_en_prev", 1L)
          .otherwise(0L))
      .withColumn("island", sum($"new_island").over(
        w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy($"user_id", $"island")
      .agg(min($"st").as("ist"), max($"en").as("ien"))
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_intervals"),
        sum($"ien" - $"ist").as("covered_us"))
      .orderBy($"user_id")
  }

  val q286Sql: String =
    s"""WITH iv AS (
       |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS st,
       |    epoch_us(CAST(ts AS TIMESTAMP)) + $ActivityWindowUs AS en
       |  FROM events),
       |marked AS (
       |  SELECT *, MAX(en) OVER (PARTITION BY user_id ORDER BY st, en
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
       |    AS max_en_prev
       |  FROM iv),
       |islands AS (
       |  SELECT *, SUM(CASE WHEN max_en_prev IS NULL OR st > max_en_prev
       |      THEN 1 ELSE 0 END)
       |    OVER (PARTITION BY user_id ORDER BY st, en
       |          ROWS UNBOUNDED PRECEDING) AS island
       |  FROM marked),
       |merged AS (
       |  SELECT user_id, island, MIN(st) AS ist, MAX(en) AS ien
       |  FROM islands GROUP BY user_id, island)
       |SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_intervals,
       |  CAST(SUM(ien - ist) AS BIGINT) AS covered_us
       |FROM merged GROUP BY user_id ORDER BY user_id""".stripMargin

  /** q291 ACF maximum lag (days). */
  val AcfMaxLag = 7

  /** q291 — AUTOCORRELATION function of each event type's daily-volume
    * series at lags 1..[[AcfMaxLag]] — the seasonality/persistence
    * readout (a weekly cycle shows as a lag-7 spike) that complements
    * q199's EWMA smoothing and q275's trend: r_k says whether the
    * series REPEATS, not where it is heading. Standard estimator
    * (global mean and global variance in the denominator, the
    * statsmodels/Box–Jenkins convention):
    *   r_k = Σ_{t>k}(x_t−x̄)(x_{t−k}−x̄) / Σ_t(x_t−x̄)²
    * expanded to exact cent-BIGINT sufficient statistics — P_k =
    * Σx_t·x_{t−k}, A_k/B_k the two one-sided partial sums, n, S, Sxx —
    * so the numerator is P_k − x̄(A_k+B_k) + (n−k)x̄² and everything
    * before the final division is order-free integer arithmetic; the
    * finish is one identically spelled double expression per engine.
    *
    * Scale shape: the raw stream collapses to the (type, day) daily
    * frame in ONE partial-aggregated groupBy (the only pass over the
    * data); the frame is bounded by types × days, so the 7-lag
    * self-join and the moment aggregation run over thousands of rows
    * regardless of corpus size — the q261 "user-level rows never enter
    * a window" discipline applied to lags.
    */
  val q291Acf: Q = (s, dir) => {
    import s.implicits._
    val daily = T.events(s, dir)
      .groupBy($"event_type", date_trunc("day", $"ts").as("day"))
      .agg(sum(expr("CAST(FLOOR(100 * value) AS BIGINT)")).as("x"))
    val wd = Window.partitionBy($"event_type").orderBy($"day")
    // tiny (types × days); three consumers below
    val idx = PlanBridge.checkpointResetStats(daily
      .withColumn("t", row_number().over(wd))
      .select($"event_type", $"t", $"x"))
    val glob = idx.groupBy($"event_type")
      .agg(count(lit(1)).as("n"), sum($"x").as("sx"),
        sum($"x" * $"x").as("sxx"))
    val lags = s.range(1, AcfMaxLag + 1).select($"id".as("k"))
    val pairs = idx.as("a")
      .crossJoin(broadcast(lags))
      .join(idx.as("b"),
        $"a.event_type" === $"b.event_type" && $"b.t" === $"a.t" - $"k")
      .groupBy($"a.event_type".as("event_type"), $"k")
      .agg(count(lit(1)).as("m"),
        sum($"a.x" * $"b.x").as("pk"),
        sum($"a.x").as("sb"), sum($"b.x").as("sa"))
    pairs.join(glob, "event_type")
      .select($"event_type", $"k", $"n", $"m",
        expr("""(CAST(pk AS DOUBLE)
               | - (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(sa AS DOUBLE) + CAST(sb AS DOUBLE))
               | + CAST(m AS DOUBLE) * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)))
               | / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))""".stripMargin)
          .as("acf"))
      .orderBy($"event_type", $"k")
  }

  val q291Sql: String =
    s"""WITH daily AS (
       |  SELECT event_type, date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
       |    CAST(SUM(CAST(FLOOR(100 * value) AS BIGINT)) AS BIGINT) AS x
       |  FROM events GROUP BY event_type, day),
       |idx AS (
       |  SELECT event_type,
       |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS t, x
       |  FROM daily),
       |gm AS (
       |  SELECT event_type, COUNT(*) AS n, SUM(x) AS sx, SUM(x * x) AS sxx
       |  FROM idx GROUP BY event_type),
       |pairs AS (
       |  SELECT a.event_type, k, COUNT(*) AS m,
       |    SUM(a.x * b.x) AS pk, SUM(a.x) AS sb, SUM(b.x) AS sa
       |  FROM idx a
       |  CROSS JOIN (SELECT unnest(range(1, ${AcfMaxLag + 1})) AS k) lags
       |  JOIN idx b ON b.event_type = a.event_type AND b.t = a.t - k
       |  GROUP BY a.event_type, k)
       |SELECT p.event_type, CAST(k AS BIGINT) AS k, CAST(n AS BIGINT) AS n,
       |  CAST(m AS BIGINT) AS m,
       |  (CAST(pk AS DOUBLE)
       |   - (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(sa AS DOUBLE) + CAST(sb AS DOUBLE))
       |   + CAST(m AS DOUBLE) * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)))
       |   / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) AS acf
       |FROM pairs p JOIN gm g ON p.event_type = g.event_type
       |ORDER BY p.event_type, k""".stripMargin

  /** q292 — CUSUM CHANGEPOINT detection per event type: the day where
    * the cumulative deviation from the series' global mean peaks — the
    * standard single-changepoint estimator for a level shift (Page
    * 1954's CUSUM reduced to its offline argmax form), and the
    * monitoring question q149's z-score row does NOT answer (a z-score
    * flags single outliers; CUSUM accumulates small persistent shifts
    * until they are unmissable). Exactness: the mean-centered partial
    * sum is scaled by n — G_t = n·Σ_{i≤t}x_i − t·Σx — so every
    * compared magnitude is an exact BIGINT (cents ≤ 6·10¹⁰ × n ≈ 365
    * ≈ 2·10¹³, int64 headroom ~400×) and the argmax (ties → earliest
    * day, pinned by the sort) is deterministic cross-engine; no float
    * enters the query at all.
    *
    * Scale shape: same single daily-collapse pass as q291, then one
    * cumulative window + one whole-partition window over the bounded
    * (type, day) frame and a row_number argmax — no self-join, no
    * iteration, output one row per type.
    */
  val q292Cusum: Q = (s, dir) => {
    import s.implicits._
    val daily = T.events(s, dir)
      .groupBy($"event_type", date_trunc("day", $"ts").as("day"))
      .agg(sum(expr("CAST(FLOOR(100 * value) AS BIGINT)")).as("x"))
    val wd = Window.partitionBy($"event_type").orderBy($"day")
    val wCum = wd.rowsBetween(Window.unboundedPreceding, 0)
    val wAll = Window.partitionBy($"event_type")
    val g = daily
      .withColumn("t", row_number().over(wd))
      .withColumn("cs", sum($"x").over(wCum))
      .withColumn("n", count(lit(1)).over(wAll))
      .withColumn("sx", sum($"x").over(wAll))
      .withColumn("g", $"n" * $"cs" - $"t" * $"sx")
    g.withColumn("rn", row_number().over(
        Window.partitionBy($"event_type").orderBy(abs($"g").desc, $"day".asc)))
      .filter($"rn" === 1)
      .select($"event_type", $"n".as("n_days"),
        $"day".cast("date").as("cp_day"), abs($"g").as("g_abs"))
      .orderBy($"event_type")
  }

  val q292Sql: String =
    """WITH daily AS (
      |  SELECT event_type, date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
      |    CAST(SUM(CAST(FLOOR(100 * value) AS BIGINT)) AS BIGINT) AS x
      |  FROM events GROUP BY event_type, day),
      |g AS (
      |  SELECT event_type, day,
      |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS t,
      |    SUM(x) OVER (PARTITION BY event_type ORDER BY day
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cs,
      |    COUNT(*) OVER (PARTITION BY event_type) AS n,
      |    SUM(x) OVER (PARTITION BY event_type) AS sx
      |  FROM daily),
      |scored AS (
      |  SELECT event_type, day, n, ABS(n * cs - t * sx) AS g_abs,
      |    ROW_NUMBER() OVER (PARTITION BY event_type
      |      ORDER BY ABS(n * cs - t * sx) DESC, day ASC) AS rn
      |  FROM g)
      |SELECT event_type, CAST(n AS BIGINT) AS n_days,
      |  CAST(day AS DATE) AS cp_day, CAST(g_abs AS BIGINT) AS g_abs
      |FROM scored WHERE rn = 1 ORDER BY event_type""".stripMargin

  /** q313 business-hours window (UTC) for the campaign side. */
  val BizStartHourUs: Long = 9L * 3600 * 1000000
  val BizEndHourUs: Long = 17L * 3600 * 1000000

  /** q313 — INTERVAL-SET INTERSECTION (the set-algebra completion of
    * the interval family: q115 joins point-ranges, q286 merges a
    * set's overlaps — this intersects TWO sets): each user's merged
    * activity islands (q286's 30-min-gap spelling, verbatim) against
    * the corpus's business-hours windows (09:00–17:00 UTC daily,
    * generated from the observed date range) — "how much of each
    * user's activity was in-hours", the ad-window / SLA-window
    * attribution primitive. Overlap per (island, window) pair =
    * min(ends) − max(starts) where positive; all integer µs.
    *
    * Scale shape: islands come from q286's two keyed windows + one
    * partial agg; the window side is calendar-BOUNDED (days rows) and
    * broadcast, so the intersection is a broadcast nested-loop with a
    * range predicate over bounded candidates per island (~the few
    * windows an island can span); a data-sized right side would take
    * the q115 bin discipline instead (scaladoc'd by reference).
    */
  val q313IntervalIntersect: Q = (s, dir) => {
    import s.implicits._
    val iv = T.events(s, dir)
      .select($"user_id", unix_micros($"ts").as("st"))
      .withColumn("en", $"st" + ActivityWindowUs)
    val w = Window.partitionBy($"user_id").orderBy($"st", $"en")
    val islands = iv
      .withColumn("max_en_prev",
        max($"en").over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("new_island",
        when($"max_en_prev".isNull || $"st" > $"max_en_prev", 1L)
          .otherwise(0L))
      .withColumn("island", sum($"new_island").over(
        w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy($"user_id", $"island")
      .agg(min($"st").as("ist"), max($"en").as("ien"))
    val days = T.events(s, dir)
      .agg(date_trunc("day", min($"ts")).as("d0"),
        date_trunc("day", max($"ts")).as("d1"))
      .select(explode(expr("sequence(d0, d1, interval 1 day)")).as("day"))
      .select((unix_micros($"day") + BizStartHourUs).as("ws"),
        (unix_micros($"day") + BizEndHourUs).as("we"))
    islands.join(broadcast(days), $"ist" < $"we" && $"ws" < $"ien")
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_segments"),
        sum(least($"ien", $"we") - greatest($"ist", $"ws"))
          .as("inhours_us"))
      .orderBy($"user_id")
  }

  val q313Sql: String =
    s"""WITH iv AS (
       |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS st,
       |    epoch_us(CAST(ts AS TIMESTAMP)) + $ActivityWindowUs AS en
       |  FROM events),
       |marked AS (
       |  SELECT *, MAX(en) OVER (PARTITION BY user_id ORDER BY st, en
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
       |    AS max_en_prev
       |  FROM iv),
       |isl AS (
       |  SELECT *, SUM(CASE WHEN max_en_prev IS NULL OR st > max_en_prev
       |      THEN 1 ELSE 0 END)
       |    OVER (PARTITION BY user_id ORDER BY st, en
       |          ROWS UNBOUNDED PRECEDING) AS island
       |  FROM marked),
       |merged AS (
       |  SELECT user_id, island, MIN(st) AS ist, MAX(en) AS ien
       |  FROM isl GROUP BY user_id, island),
       |bounds AS (
       |  SELECT date_trunc('day', MIN(CAST(ts AS TIMESTAMP))) AS d0,
       |    date_trunc('day', MAX(CAST(ts AS TIMESTAMP))) AS d1
       |  FROM events),
       |wins AS (
       |  SELECT epoch_us(day) + $BizStartHourUs AS ws,
       |    epoch_us(day) + $BizEndHourUs AS we
       |  FROM bounds,
       |    unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS t(day))
       |SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_segments,
       |  CAST(SUM(LEAST(ien, we) - GREATEST(ist, ws)) AS BIGINT)
       |    AS inhours_us
       |FROM merged JOIN wins ON ist < we AND ws < ien
       |GROUP BY user_id ORDER BY user_id""".stripMargin

  /** q320 — classical ADDITIVE seasonal decomposition of the daily
    * revenue series (Macaulay's ratio-to-moving-average method in its
    * additive form, the `statsmodels seasonal_decompose` contract):
    * trend = centered 7-day moving average, seasonal index = per
    * day-of-week mean of the detrended series, residual = remainder.
    * q291's ACF DETECTS the weekly cycle; this row EXTRACTS it — the
    * pair is the standard seasonality readout.
    *
    * Exactness: revenue is cent-BIGINT; the centered MA is kept as the
    * un-divided 7-day SUM so "detrended" is the exact integer
    * 7·x_t − Σ_{|k|≤3} x_{t+k} (= 7·(x_t − trend)); day-of-week comes
    * from epoch-day mod 7 (Thursday=0 — 1970-01-01 anchor), never from
    * the engines' divergent DOW builtins. Only the final per-dow mean
    * divides (÷n, ÷7, ÷100 to whole currency — three identically
    * spelled double ops).
    *
    * Scale shape: the raw table collapses to the (day) frame in ONE
    * partial-aggregated groupBy — the only pass over orders; the MA
    * window and dow aggregation run on the days-bounded series (q291's
    * discipline), so the plan is scan + hash agg + one tiny window.
    * Edge days without a full 7-day window are excluded (centered-MA
    * convention), n_days counts what remains per dow.
    */
  val q320SeasonalDecompose: Q = (s, dir) => {
    import s.implicits._
    val daily = T.orders(s, dir)
      .groupBy(date_trunc("day", $"o_orderdate").as("day"))
      .agg(sum(expr("CAST(FLOOR(100 * o_totalprice) AS BIGINT)")).as("x"))
    decomposeDaily(daily)
  }

  /** The q320 core over any (day: timestamp, x: bigint) daily frame —
    * shared with the spec's planted trend+seasonal fixture.
    */
  def decomposeDaily(daily: DataFrame): DataFrame = {
    val s = daily.sparkSession
    import s.implicits._
    val w7 = Window.orderBy($"day").rowsBetween(-3, 3)
    val det = daily
      .withColumn("sum7", sum($"x").over(w7))
      .withColumn("cnt7", count(lit(1)).over(w7))
      .filter($"cnt7" === 7)
      .withColumn("dow",
        pmod(datediff($"day".cast("date"), lit("1970-01-01").cast("date")), lit(7)))
      .withColumn("det_q", lit(7) * $"x" - $"sum7")
    det.groupBy($"dow")
      .agg(count(lit(1)).as("n_days"), sum($"det_q").as("det_sum"))
      .withColumn("seasonal",
        expr("CAST(det_sum AS DOUBLE) / CAST(n_days AS DOUBLE) / 7.0 / 100.0"))
      .select($"dow".cast("long").as("dow"), $"n_days", $"det_sum", $"seasonal")
      .orderBy($"dow")
  }

  val q320Sql: String =
    """WITH daily AS (
      |  SELECT date_trunc('day', o_orderdate) AS day,
      |    SUM(CAST(FLOOR(100 * o_totalprice) AS BIGINT)) AS x
      |  FROM orders GROUP BY 1),
      |det AS (
      |  SELECT day, x,
      |    SUM(x) OVER (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS sum7,
      |    COUNT(*) OVER (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS cnt7
      |  FROM daily),
      |kept AS (
      |  SELECT ((date_diff('day', DATE '1970-01-01', CAST(day AS DATE)) % 7) + 7) % 7 AS dow,
      |    7 * x - sum7 AS det_q
      |  FROM det WHERE cnt7 = 7)
      |SELECT CAST(dow AS BIGINT) AS dow, COUNT(*) AS n_days,
      |  CAST(SUM(det_q) AS BIGINT) AS det_sum,
      |  CAST(SUM(det_q) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) / 7.0 / 100.0 AS seasonal
      |FROM kept GROUP BY dow ORDER BY dow""".stripMargin


  /** q338 — FORECAST BACKTEST of the two canonical baselines over the
    * daily revenue series: naive (x̂_t = x_{t−1}) and seasonal-naive
    * (x̂_t = x_{t−7}), scored by MAE and by MASE (Hyndman & Koehler
    * 2006 — the M-competition scale-free standard: seasonal-naive MAE
    * over naive MAE; < 1 means the weekly cycle q291/q320 detected is
    * PREDICTIVE, not just descriptive). Errors are exact |BIGINT|
    * cent sums; the three divisions are spelled once. Evaluation
    * region = days with both lags defined — identical in both engines
    * by the shared row_number convention.
    *
    * Scale shape: one partial-agged daily collapse (the only corpus
    * pass), lags + error sums on the days-bounded frame (q291's
    * discipline).
    */
  val q338ForecastBacktest: Q = (s, dir) => {
    import s.implicits._
    val daily = T.orders(s, dir)
      .groupBy(date_trunc("day", $"o_orderdate").as("day"))
      .agg(sum(expr("CAST(FLOOR(100 * o_totalprice) AS BIGINT)")).as("x"))
    val w = Window.orderBy($"day")
    daily
      .withColumn("l1", lag($"x", 1).over(w))
      .withColumn("l7", lag($"x", 7).over(w))
      .filter($"l1".isNotNull && $"l7".isNotNull)
      .agg(count(lit(1)).as("n_eval"),
        sum(abs($"x" - $"l1")).as("ae_naive"),
        sum(abs($"x" - $"l7")).as("ae_seasonal"))
      .select($"n_eval",
        expr("CAST(ae_naive AS DOUBLE) / CAST(n_eval AS DOUBLE) / 100.0")
          .as("mae_naive"),
        expr("CAST(ae_seasonal AS DOUBLE) / CAST(n_eval AS DOUBLE) / 100.0")
          .as("mae_seasonal"),
        expr("CAST(ae_seasonal AS DOUBLE) / CAST(ae_naive AS DOUBLE)")
          .as("mase"))
  }

  val q338Sql: String =
    """WITH daily AS (
      |  SELECT date_trunc('day', o_orderdate) AS day,
      |    SUM(CAST(FLOOR(100 * o_totalprice) AS BIGINT)) AS x
      |  FROM orders GROUP BY 1),
      |lagged AS (
      |  SELECT x,
      |    LAG(x, 1) OVER (ORDER BY day) AS l1,
      |    LAG(x, 7) OVER (ORDER BY day) AS l7
      |  FROM daily),
      |e AS (
      |  SELECT COUNT(*) AS n_eval,
      |    CAST(SUM(ABS(x - l1)) AS BIGINT) AS ae_naive,
      |    CAST(SUM(ABS(x - l7)) AS BIGINT) AS ae_seasonal
      |  FROM lagged WHERE l1 IS NOT NULL AND l7 IS NOT NULL)
      |SELECT n_eval,
      |  CAST(ae_naive AS DOUBLE) / CAST(n_eval AS DOUBLE) / 100.0 AS mae_naive,
      |  CAST(ae_seasonal AS DOUBLE) / CAST(n_eval AS DOUBLE) / 100.0 AS mae_seasonal,
      |  CAST(ae_seasonal AS DOUBLE) / CAST(ae_naive AS DOUBLE) AS mase
      |FROM e""".stripMargin

  /** q369 — EWMA CONTROL STATISTIC per event type (Roberts 1959 —
    * the standard monitoring sibling of q292's CUSUM: CUSUM
    * accumulates deviations linearly, EWMA discounts them
    * geometrically, so EWMA reacts faster to moderate shifts while
    * CUSUM wins on small persistent ones; a monitoring stack runs
    * both): λ = 1/4 (a DYADIC constant — 0.25·x and 0.75·e are exact
    * IEEE scalings, so the per-step arithmetic carries no rounding
    * surprise), folded SEQUENTIALLY over the daily series with the
    * identical operation order in both engines (Spark `aggregate`
    * HOF with a struct accumulator; DuckDB `list_reduce` with the
    * q348 list-accumulator idiom) — a float fold is deterministic
    * when the fold ORDER is pinned, which an array-local reduction
    * does and a SUM() never promises. Emits the final EWMA and the
    * maximum |EWMA − series mean| excursion, micro-quantized.
    *
    * Scale shape: the same single daily-collapse pass as q291/q292;
    * the fold runs array-local on the days-bounded series per type.
    */
  val q369Ewma: Q = (s, dir) => {
    import s.implicits._
    val daily = T.events(s, dir)
      .groupBy($"event_type", date_trunc("day", $"ts").as("day"))
      .agg(sum(expr("CAST(FLOOR(100 * value) AS BIGINT)")).as("x"))
    daily
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_days"), sum($"x").as("sx"),
        expr("""transform(array_sort(collect_list(struct(day, x))),
               |  p -> CAST(p.x AS DOUBLE))""".stripMargin).as("xs"))
      .withColumn("mu", $"sx".cast("double") / $"n_days".cast("double"))
      .withColumn("fold", expr(
        """aggregate(xs,
          |  named_struct('e', CAST(xs[0] AS DOUBLE), 'mx', CAST(0.0 AS DOUBLE),
          |               'i', CAST(0 AS INT)),
          |  (acc, v) -> named_struct(
          |    'e', IF(acc.i = 0, v, 0.25 * v + 0.75 * acc.e),
          |    'mx', greatest(acc.mx,
          |      abs(IF(acc.i = 0, v, 0.25 * v + 0.75 * acc.e) - mu)),
          |    'i', acc.i + 1))""".stripMargin))
      .select($"event_type", $"n_days",
        expr("CAST(FLOOR(1000000.0 * fold.e) AS BIGINT)").as("ewma_micro"),
        expr("CAST(FLOOR(1000000.0 * fold.mx) AS BIGINT)")
          .as("max_excursion_micro"))
      .orderBy($"event_type")
  }

  val q369Sql: String =
    """WITH daily AS (
      |  SELECT event_type, date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
      |    CAST(SUM(CAST(FLOOR(100 * value) AS BIGINT)) AS BIGINT) AS x
      |  FROM events GROUP BY 1, 2),
      |ser AS (
      |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
      |    CAST(SUM(x) AS BIGINT) AS sx,
      |    list_transform(list(x ORDER BY day), v -> CAST(v AS DOUBLE)) AS xs
      |  FROM daily GROUP BY event_type),
      |f AS (
      |  SELECT event_type, n_days,
      |    CAST(sx AS DOUBLE) / CAST(n_days AS DOUBLE) AS mu,
      |    list_reduce(
      |      list_prepend([xs[1], CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE)],
      |        list_transform(range(1, len(xs) + 1), i -> [xs[i],
      |          CAST(0.0 AS DOUBLE), CAST(i AS DOUBLE)])),
      |      (acc, p) -> [
      |        CASE WHEN p[3] = 1.0 THEN p[1]
      |             ELSE 0.25 * p[1] + 0.75 * acc[1] END,
      |        greatest(acc[2], abs(
      |          CASE WHEN p[3] = 1.0 THEN p[1]
      |               ELSE 0.25 * p[1] + 0.75 * acc[1] END
      |          - CAST(sx AS DOUBLE) / CAST(n_days AS DOUBLE))),
      |        p[3]]) AS fold
      |  FROM ser)
      |SELECT event_type, n_days,
      |  CAST(FLOOR(1000000.0 * fold[1]) AS BIGINT) AS ewma_micro,
      |  CAST(FLOOR(1000000.0 * fold[2]) AS BIGINT) AS max_excursion_micro
      |FROM f ORDER BY event_type""".stripMargin

  /** q380 — HOLT double-exponential smoothing per event type (Holt
    * 1957 — q369-EWMA's sibling with a TREND state: EWMA of a trending
    * series lags forever, Holt's b-component tracks the slope, so its
    * one-step forecast l+b is the first usable baseline for "is
    * tomorrow's volume surprising?"): α = β = 1/4 DYADIC (exact IEEE
    * scalings), init l₁ = x₁, b₁ = x₁ − x₀ (the standard two-point
    * start), folded sequentially with the identical operation order in
    * both engines (the q369/q348 pinned-fold idiom). Emits final
    * level, trend, and one-step forecast, micro-quantized.
    *
    * Scale shape: the same single daily-collapse pass as q291/q292/
    * q369; the fold runs array-local on the days-bounded series.
    */
  val q380Holt: Q = (s, dir) => {
    import s.implicits._
    holtFold(T.events(s, dir)
      .groupBy($"event_type", date_trunc("day", $"ts").as("day"))
      .agg(sum(expr("CAST(FLOOR(100 * value) AS BIGINT)")).as("x")))
  }

  /** The Holt fold over any (event_type, day, x) daily frame — the
    * spec pins the exact-on-linear-series closed form against it.
    */
  def holtFold(daily: DataFrame): DataFrame = {
    val s = daily.sparkSession
    import s.implicits._
    daily
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_days"),
        expr("""transform(array_sort(collect_list(struct(day, x))),
               |  p -> CAST(p.x AS DOUBLE))""".stripMargin).as("xs"))
      .withColumn("fold", expr(
        """aggregate(xs,
          |  named_struct('l', CAST(xs[0] AS DOUBLE),
          |               'b', CAST(0.0 AS DOUBLE), 'i', CAST(0 AS INT)),
          |  (acc, v) -> named_struct(
          |    'l', IF(acc.i <= 1, v,
          |            0.25 * v + 0.75 * (acc.l + acc.b)),
          |    'b', IF(acc.i = 0, CAST(0.0 AS DOUBLE),
          |         IF(acc.i = 1, v - acc.l,
          |            0.25 * ((0.25 * v + 0.75 * (acc.l + acc.b)) - acc.l)
          |            + 0.75 * acc.b)),
          |    'i', acc.i + 1))""".stripMargin))
      .select($"event_type", $"n_days",
        expr("CAST(FLOOR(1000000.0 * fold.l) AS BIGINT)").as("level_micro"),
        expr("CAST(FLOOR(1000000.0 * fold.b) AS BIGINT)").as("trend_micro"),
        expr("CAST(FLOOR(1000000.0 * (fold.l + fold.b)) AS BIGINT)")
          .as("forecast_micro"))
      .orderBy($"event_type")
  }

  val q380Sql: String =
    """WITH daily AS (
      |  SELECT event_type, date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
      |    CAST(SUM(CAST(FLOOR(100 * value) AS BIGINT)) AS BIGINT) AS x
      |  FROM events GROUP BY 1, 2),
      |ser AS (
      |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
      |    list_transform(list(x ORDER BY day), v -> CAST(v AS DOUBLE)) AS xs
      |  FROM daily GROUP BY event_type),
      |f AS (
      |  SELECT event_type, n_days,
      |    list_reduce(
      |      list_prepend([xs[1], CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE)],
      |        list_transform(range(1, len(xs) + 1), i -> [xs[i],
      |          CAST(0.0 AS DOUBLE), CAST(i AS DOUBLE)])),
      |      (acc, p) -> [
      |        CASE WHEN p[3] <= 2.0 THEN p[1]
      |             ELSE 0.25 * p[1] + 0.75 * (acc[1] + acc[2]) END,
      |        CASE WHEN p[3] = 1.0 THEN CAST(0.0 AS DOUBLE)
      |             WHEN p[3] = 2.0 THEN p[1] - acc[1]
      |             ELSE 0.25 * ((0.25 * p[1] + 0.75 * (acc[1] + acc[2]))
      |                          - acc[1])
      |                  + 0.75 * acc[2] END,
      |        p[3]]) AS fold
      |  FROM ser)
      |SELECT event_type, n_days,
      |  CAST(FLOOR(1000000.0 * fold[1]) AS BIGINT) AS level_micro,
      |  CAST(FLOOR(1000000.0 * fold[2]) AS BIGINT) AS trend_micro,
      |  CAST(FLOOR(1000000.0 * (fold[1] + fold[2])) AS BIGINT)
      |    AS forecast_micro
      |FROM f ORDER BY event_type""".stripMargin

  /** Hampel decision constants: |x − med| > 3·1.4826·MAD flags, as the
    * exact integer cross-multiplication 10000·dev > 44478·MAD (no
    * double in the verdict — the q366 discipline). MAD = 0 (constant
    * window) flags ANY deviation — the standard Hampel caveat, here a
    * deterministic contract rather than a surprise.
    */
  val HampelNum = 10000L
  val HampelDen = 44478L

  /** q381 — HAMPEL FILTER per event type (Hampel 1974; Pearson's
    * recommended despiker for sensor/volume series — q149's z-score
    * flags against a mean the spike itself shifted, the Hampel window
    * median/MAD has a 50% breakdown inside every window): centered
    * 7-day window (clamped at series edges), LOWER-median convention
    * for both the window median and the MAD (deterministic, no
    * midpoint averaging), integer verdict, repaired value = window
    * median where flagged.
    *
    * Scale shape: one daily-collapse pass; the window collect is
    * 7-bounded per row (array-local median — never a per-window
    * sort shuffle); verdict and repair are row-local integer ops.
    */
  val q381Hampel: Q = (s, dir) => {
    import s.implicits._
    hampelFilter(T.events(s, dir)
      .groupBy($"event_type", date_trunc("day", $"ts").as("day"))
      .agg(sum(expr("CAST(FLOOR(100 * value) AS BIGINT)")).as("x")))
  }

  /** The Hampel screen over any (event_type, day, x) daily frame. */
  def hampelFilter(daily: DataFrame): DataFrame = {
    val s = daily.sparkSession
    import s.implicits._
    val w = Window.partitionBy($"event_type").orderBy($"day")
      .rowsBetween(-3, 3)
    daily
      .withColumn("ws", collect_list($"x").over(w))
      .withColumn("med", expr(
        "array_sort(ws)[CAST((size(ws) + 1) div 2 AS INT) - 1]"))
      .withColumn("mad", expr(
        """array_sort(transform(ws, v -> abs(v - med)))
          |  [CAST((size(ws) + 1) div 2 AS INT) - 1]""".stripMargin))
      .withColumn("is_outlier",
        expr(s"$HampelNum * abs(x - med) > $HampelDen * mad"))
      .select($"event_type", to_date($"day").as("day"), $"x", $"med",
        $"mad", $"is_outlier",
        when($"is_outlier", $"med").otherwise($"x").as("repaired"))
      .orderBy($"event_type", $"day")
  }

  val q381Sql: String =
    s"""WITH daily AS (
       |  SELECT event_type, date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
       |    CAST(SUM(CAST(FLOOR(100 * value) AS BIGINT)) AS BIGINT) AS x
       |  FROM events GROUP BY 1, 2),
       |win AS (
       |  SELECT event_type, day, x,
       |    list(x) OVER (PARTITION BY event_type ORDER BY day
       |      ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS ws
       |  FROM daily),
       |m AS (
       |  SELECT event_type, day, x, ws,
       |    list_sort(ws)[(len(ws) + 1) // 2] AS med
       |  FROM win),
       |mm AS (
       |  SELECT event_type, day, x, med,
       |    list_sort(list_transform(ws, v -> abs(v - med)))
       |      [(len(ws) + 1) // 2] AS mad
       |  FROM m)
       |SELECT event_type, CAST(day AS DATE) AS day, x, med, mad,
       |  $HampelNum * abs(x - med) > $HampelDen * mad AS is_outlier,
       |  CASE WHEN $HampelNum * abs(x - med) > $HampelDen * mad
       |       THEN med ELSE x END AS repaired
       |FROM mm
       |ORDER BY event_type, day""".stripMargin

  /** q394 — PARTIAL autocorrelation (PACF) at lags 1..[[AcfMaxLag]]
    * via the Levinson–Durbin recursion (Box–Jenkins' AR-order tool:
    * ACF of an AR(p) tails off forever, PACF CUTS OFF at p — q291
    * says "correlated", this says "how many AR terms explain it"):
    * the ACF inputs are q291's exact-moment double chain (identical
    * both engines), and the recursion α_k = (r_k − Σφ_{k−1,j}r_{k−j})
    * /E_{k−1}, φ updates, E_k = E_{k−1}(1−α_k²) is pure +−×/ in a
    * PINNED operation order — Scala driver doubles and DuckDB's
    * recursive-CTE doubles are bit-identical because both are IEEE
    * and both spell the same tree (no transcendentals anywhere).
    * PACF values micro-quantized.
    *
    * Scale shape: ACF is q291's distributed pipeline; the recursion
    * runs on the collected types×[[AcfMaxLag]] frame — model-sized
    * (the q363 absorption-solve precedent), never row-sized.
    */
  val q394Pacf: Q = (s, dir) => {
    import s.implicits._
    val acf = q291Acf(s, dir)
      .select($"event_type", $"k", $"acf")
      .as[(String, Long, Double)].collect()
      .groupBy(_._1).map { case (t, rows) =>
        t -> rows.sortBy(_._2).map(_._3).toArray
      }
    val out = acf.toSeq.sortBy(_._1).flatMap { case (t, r) =>
      var phi = Array.empty[Double]
      var e = 1.0
      (1 to r.length).map { k =>
        var s2 = 0.0
        var j = 1
        while (j < k) { s2 += phi(j - 1) * r(k - j - 1); j += 1 }
        val a = (r(k - 1) - s2) / e
        val nphi = Array.tabulate(k - 1)(i => phi(i) - a * phi(k - i - 2)) :+ a
        e = e * (1.0 - a * a)
        phi = nphi
        (t, k.toLong, math.floor(1000000.0 * a).toLong)
      }
    }
    out.toDF("event_type", "k", "pacf_micro")
      .orderBy($"event_type", $"k")
  }

  val q394Sql: String =
    s"""WITH RECURSIVE daily AS (
       |  SELECT event_type, date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
       |    CAST(SUM(CAST(FLOOR(100 * value) AS BIGINT)) AS BIGINT) AS x
       |  FROM events GROUP BY event_type, day),
       |idx AS (
       |  SELECT event_type,
       |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS t, x
       |  FROM daily),
       |gm AS (
       |  SELECT event_type, COUNT(*) AS n, SUM(x) AS sx, SUM(x * x) AS sxx
       |  FROM idx GROUP BY event_type),
       |pairs AS (
       |  SELECT a.event_type, k, COUNT(*) AS m,
       |    SUM(a.x * b.x) AS pk, SUM(a.x) AS sb, SUM(b.x) AS sa
       |  FROM idx a
       |  CROSS JOIN (SELECT unnest(range(1, ${AcfMaxLag + 1})) AS k) lags
       |  JOIN idx b ON b.event_type = a.event_type AND b.t = a.t - k
       |  GROUP BY a.event_type, k),
       |acf AS (
       |  SELECT p.event_type, k,
       |    (CAST(pk AS DOUBLE)
       |     - (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(sa AS DOUBLE) + CAST(sb AS DOUBLE))
       |     + CAST(m AS DOUBLE) * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)))
       |     / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) AS acf
       |  FROM pairs p JOIN gm g ON p.event_type = g.event_type),
       |racf AS (
       |  SELECT event_type, list(acf ORDER BY k) AS r
       |  FROM acf GROUP BY event_type),
       |ld AS (
       |  SELECT event_type, 0 AS k, CAST(1.0 AS DOUBLE) AS e,
       |    CAST([] AS DOUBLE[]) AS phi, CAST([] AS DOUBLE[]) AS pacf
       |  FROM racf
       |  UNION ALL
       |  SELECT event_type, k + 1, e * (1.0 - a * a),
       |    list_append(list_transform(range(1, k + 1),
       |      j -> phi[j] - a * phi[k + 1 - j]), a),
       |    list_append(pacf, a)
       |  FROM (
       |    SELECT ld.*, racf.r,
       |      (r[k + 1] - CASE WHEN k = 0 THEN CAST(0.0 AS DOUBLE)
       |        ELSE list_reduce(
       |          list_prepend(CAST(0.0 AS DOUBLE),
       |            list_transform(range(1, k + 1), j -> phi[j] * r[k + 1 - j])),
       |          (acc2, v) -> acc2 + v) END) / e AS a
       |    FROM ld JOIN racf USING (event_type)
       |    WHERE k < ${AcfMaxLag}))
       |SELECT event_type, CAST(k AS BIGINT) AS k,
       |  CAST(FLOOR(1000000.0 * pacf[k]) AS BIGINT) AS pacf_micro
       |FROM ld WHERE k >= 1
       |ORDER BY event_type, k""".stripMargin

  /** q421 — event-time LATENESS profile (the watermark-design readout
    * every streaming deployment needs BEFORE picking a delay: how out
    * of order is this feed, really? a watermark tighter than the
    * observed lateness silently drops data — qs-family correctness
    * depends on this number): arrival order is the event_id sequence
    * (the fixture's generation order — a real feed would use ingest
    * offsets), per consecutive arrival the event-time REGRESSION
    * max(0, prev_ts − ts) in µs, reported per type as the late count,
    * max, and total — exact integers end to end.
    *
    * Scale shape: ONE per-type lag window + one partial agg.
    */
  val q421LatenessProfile: Q = (s, dir) => {
    import s.implicits._
    val w = Window.partitionBy($"event_type").orderBy($"event_id")
    T.events(s, dir)
      .select($"event_type", $"event_id", unix_micros($"ts").as("t_us"))
      .withColumn("late_us",
        greatest(lag($"t_us", 1).over(w) - $"t_us", lit(0L)))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_events"),
        sum(($"late_us" > 0L).cast("long")).as("n_late"),
        max($"late_us").as("max_late_us"),
        sum($"late_us").as("sum_late_us"))
      .orderBy($"event_type")
  }

  val q421Sql: String =
    """WITH l AS (
      |  SELECT event_type,
      |    greatest(LAG(epoch_us(CAST(ts AS TIMESTAMP))) OVER (
      |        PARTITION BY event_type ORDER BY event_id)
      |      - epoch_us(CAST(ts AS TIMESTAMP)), 0) AS late_us
      |  FROM events)
      |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
      |  CAST(SUM(CASE WHEN late_us > 0 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_late,
      |  CAST(MAX(late_us) AS BIGINT) AS max_late_us,
      |  CAST(SUM(late_us) AS BIGINT) AS sum_late_us
      |FROM l GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** q426 trailing window (days) for the MAU side. */
  val MauWindowDays = 30

  /** q426 — DAU/MAU STICKINESS per day (the engagement ratio every
    * product review opens with — "what fraction of the monthly
    * audience shows up daily"): exact trailing-30-day distinct via
    * the q406 offsets-expansion (each (user, day) observation serves
    * its ≤30 future windows — one narrow ×30 explode then a distinct
    * partial agg; at 100 TB the same query runs on q406's merged
    * daily HLL sketches instead, documented there), ratio
    * milli-quantized by exact integer division.
    *
    * Scale shape: one (day,user) dedup, one bounded ×30 expansion +
    * distinct partial agg, one day-keyed join — no window re-scan.
    */
  val q426Stickiness: Q = (s, dir) => {
    import s.implicits._
    // DAU side and MAU expansion share it
    val du = PlanBridge.checkpointResetStats(T.events(s, dir)
      .select(to_date($"ts").as("day"), $"user_id").distinct())
    val days = du.select($"day").distinct()
    val dau = du.groupBy($"day").agg(count(lit(1)).as("dau"))
    val offsets = s.range(0, MauWindowDays).select($"id".as("off"))
    val mau = du.crossJoin(broadcast(offsets))
      .select(date_add($"day", $"off".cast("int")).as("day"), $"user_id")
      .join(days, "day")
      .distinct()
      .groupBy($"day").agg(count(lit(1)).as("mau"))
    dau.join(mau, "day")
      .select($"day", $"dau", $"mau",
        expr("(1000 * dau) div mau").as("stickiness_milli"))
      .orderBy($"day")
  }

  val q426Sql: String =
    s"""WITH du AS (
       |  SELECT DISTINCT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
       |    user_id
       |  FROM events),
       |days AS (SELECT DISTINCT day FROM du),
       |dau AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS dau
       |        FROM du GROUP BY day),
       |mau AS (
       |  SELECT d.day, CAST(COUNT(DISTINCT u.user_id) AS BIGINT) AS mau
       |  FROM days d JOIN du u
       |    ON u.day <= d.day AND u.day > d.day - $MauWindowDays
       |  GROUP BY d.day)
       |SELECT day, dau, mau, (1000 * dau) // mau AS stickiness_milli
       |FROM dau JOIN mau USING (day)
       |ORDER BY day""".stripMargin

  /** q445's season length — weekly, the calendar period the fixture's
    * 30-day daily series actually contains four of.
    */
  val HwSeason = 7

  /** The Holt–Winters ADDITIVE fold (Winters 1960) over one daily
    * series — driver-side Scala doubles, the q394 discipline: the
    * series is days-bounded by contract, every constant is dyadic
    * (α = β = γ = 1/4, exact IEEE scalings), and the oracle replays
    * the IDENTICAL operation order through DuckDB's list_reduce with
    * a flat [l, b, s₀..s₆] accumulator. Standard two-season init:
    * l = mean(season 1), b = (mean(season 2) − mean(season 1))/m,
    * sⱼ = xⱼ − l; then per step
    *   l' = α(x − sᵢ) + (1−α)(l + b)
    *   b' = β(l' − l) + (1−β)b
    *   sᵢ' = γ(x − l') + (1−γ)sᵢ
    * Returns (level, trend, next-step forecast l+b+s_next).
    * EXACT FIXPOINTS pin the algebra in the spec: a constant series
    * folds to (C, 0, C) exactly, and a purely periodic series folds
    * to (mean, 0, next value) exactly — dyadic steps preserve both.
    */
  def hwFold(xs: Array[Double], m: Int = HwSeason)
      : (Double, Double, Double) = {
    require(xs.length >= 2 * m, s"need two seasons, got ${xs.length}")
    def seqSum(a: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i); i += 1 }
      s
    }
    val m1 = seqSum(xs.slice(0, m)) / m
    val m2 = seqSum(xs.slice(m, 2 * m)) / m
    var l = m1
    var b = (m2 - m1) / m
    val s = Array.tabulate(m)(j => xs(j) - m1)
    var i = m
    while (i < xs.length) {
      val si = i % m
      val lNew = 0.25 * (xs(i) - s(si)) + 0.75 * (l + b)
      val bNew = 0.25 * (lNew - l) + 0.75 * b
      val sNew = 0.25 * (xs(i) - lNew) + 0.75 * s(si)
      l = lNew; b = bNew; s(si) = sNew
      i += 1
    }
    (l, b, l + b + s(xs.length % m))
  }

  /** q445 — HOLT–WINTERS additive seasonal smoothing per event type:
    * the forecasting family's completion (q369 EWMA = level, q380
    * Holt = level+trend, this = level+trend+SEASON — the first
    * baseline whose one-step forecast can say "Mondays are just like
    * that" instead of alarming weekly). Daily integer-cent series,
    * [[hwFold]] on the driver (days-bounded collect), micro-quantized
    * outputs; the oracle replays the identical fold in DuckDB
    * list_reduce.
    */
  val q445HoltWinters: Q = (s, dir) => {
    import s.implicits._
    val daily = T.events(s, dir)
      .groupBy($"event_type", date_trunc("day", $"ts").as("day"))
      .agg(sum(expr("CAST(FLOOR(100 * value) AS BIGINT)")).as("x"))
      .groupBy($"event_type")
      .agg(expr("""transform(array_sort(collect_list(struct(day, x))),
                  |  p -> CAST(p.x AS DOUBLE))""".stripMargin).as("xs"))
      .as[(String, Array[Double])].collect()
    val rows = daily.toSeq.sortBy(_._1).map { case (t, xs) =>
      val (l, b, f) = hwFold(xs)
      (t, xs.length.toLong,
        math.floor(1000000.0 * l).toLong,
        math.floor(1000000.0 * b).toLong,
        math.floor(1000000.0 * f).toLong)
    }
    rows.toDF("event_type", "n_days", "level_micro", "trend_micro",
      "forecast_micro")
  }

  val q445Sql: String = {
    val m = HwSeason
    // lNew / bNew / sNew spelled inline (lambdas bind no
    // intermediates); recomputing the identical expression yields the
    // identical double, so the repetition is safe
    val lNew = s"0.25 * (p[1] - acc[3 + CAST(p[2] AS INT) % $m]) " +
      "+ 0.75 * (acc[1] + acc[2])"
    s"""WITH daily AS (
       |  SELECT event_type, date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
       |    CAST(SUM(CAST(FLOOR(100 * value) AS BIGINT)) AS BIGINT) AS x
       |  FROM events GROUP BY 1, 2),
       |ser AS (
       |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
       |    list_transform(list(x ORDER BY day), v -> CAST(v AS DOUBLE)) AS xs
       |  FROM ser0_src GROUP BY event_type),
       |init AS (
       |  SELECT event_type, n_days, xs,
       |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE), xs[1:$m]),
       |      (a, v) -> a + v) / $m AS m1,
       |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |      xs[${m + 1}:${2 * m}]), (a, v) -> a + v) / $m AS m2
       |  FROM ser),
       |folded AS (
       |  SELECT event_type, n_days, xs, m1,
       |    list_reduce(
       |      list_prepend(
       |        list_concat([m1, (m2 - m1) / $m],
       |          list_transform(range(1, $m + 1), j -> xs[j] - m1)),
       |        list_transform(range($m + 1, len(xs) + 1),
       |          i -> [xs[i], CAST(i - 1 AS DOUBLE)])),
       |      (acc, p) -> list_concat(
       |        [$lNew,
       |         0.25 * (($lNew) - acc[1]) + 0.75 * acc[2]],
       |        list_transform(range(0, $m), j ->
       |          CASE WHEN j = CAST(p[2] AS INT) % $m
       |               THEN 0.25 * (p[1] - ($lNew)) +
       |                    0.75 * acc[3 + CAST(p[2] AS INT) % $m]
       |               ELSE acc[3 + j] END))) AS f
       |  FROM init)
       |SELECT event_type, n_days,
       |  CAST(FLOOR(1000000.0 * f[1]) AS BIGINT) AS level_micro,
       |  CAST(FLOOR(1000000.0 * f[2]) AS BIGINT) AS trend_micro,
       |  CAST(FLOOR(1000000.0 * (f[1] + f[2]
       |    + f[3 + CAST(n_days AS INT) % $m])) AS BIGINT) AS forecast_micro
       |FROM folded
       |ORDER BY event_type""".stripMargin
      .replace("ser0_src", "daily")
  }

  /** q463 output size (selected points incl. the fixed endpoints). */
  val LttbOut = 100

  /** q463 — LTTB DOWNSAMPLING (Steinarsson 2013 "Largest Triangle
    * Three Buckets" — the dashboarding downsampler Grafana/Plotly
    * ship: a 100 TB daily series renders as [[LttbOut]] points that
    * preserve visual extremes, which uniform striding destroys):
    * endpoints fixed; interior points bucketed into LttbOut−2 equal
    * index ranges; each bucket keeps the point maximizing the
    * triangle area with the PREVIOUSLY SELECTED point and the NEXT
    * bucket's centroid. The sequential prev-dependency makes this a
    * driver fold over the DAYS-BOUNDED series (the q394/q445
    * contract); all arithmetic is exact: the m-scaled doubled area
    * |(xp·m − Sx)(yc − yp) − (xp − xc)(Sy − yp·m)| is an integer
    * < 2⁵³ (products bounded by days·bucketwidth·cents — scaladoc
    * budget), ties keep the EARLIEST candidate, and the oracle
    * replays the whole fold with DuckDB list_reduce lambdas (the
    * q445 idiom) value for value.
    */
  /** The LTTB fold over one ordered series — shared by q463's driver
    * fold and q478's per-key mapGroups fold; returns
    * (out_idx, d, v) for the k selected points.
    */
  private[relational] def lttbFold(series: Array[(Long, Long)], k: Int)
      : Seq[(Long, Long, Long)] = {
    val n = series.length
    require(n > k, s"series of $n points must exceed $k output points")
    // bucket j (0-based, j = 0..k-3) covers 0-based interior indices
    // [1 + j(n-2) div (k-2), 1 + (j+1)(n-2) div (k-2) - 1]
    def lo(j: Int): Int = (1L + j.toLong * (n - 2) / (k - 2)).toInt
    def hi(j: Int): Int = lo(j + 1) - 1
    val selected = scala.collection.mutable.ArrayBuffer(0)
    var j = 0
    while (j < k - 2) {
      val (xp, yp) = series(selected.last)
      // next anchor: bucket j+1's sums, or the final point
      val (sx, sy, m) =
        if (j < k - 3) {
          var a = 0L; var b = 0L; var c = 0L
          var i = lo(j + 1)
          while (i <= hi(j + 1)) {
            a += series(i)._1; b += series(i)._2; c += 1; i += 1
          }
          (a, b, c)
        } else (series(n - 1)._1, series(n - 1)._2, 1L)
      var best = -1
      var bestArea = -1L
      var i = lo(j)
      while (i <= hi(j)) {
        val (xc, yc) = series(i)
        val area = math.abs(
          (xp * m - sx) * (yc - yp) - (xp - xc) * (sy - yp * m))
        if (area > bestArea) { bestArea = area; best = i }
        i += 1
      }
      selected += best
      j += 1
    }
    selected += n - 1
    selected.zipWithIndex.map { case (idx, o) =>
      (o.toLong, series(idx)._1, series(idx)._2)
    }.toSeq
  }

  val q463LttbDownsample: Q = (s, dir) => {
    import s.implicits._
    val daily = T.orders(s, dir)
      .groupBy($"o_orderdate")
      .agg(sum(expr("CAST(FLOOR(100 * o_totalprice) AS BIGINT)")).as("r"))
    val d0 = daily.agg(min($"o_orderdate").as("dmin"))
    val series: Array[(Long, Long)] = daily.crossJoin(broadcast(d0))
      .select(datediff($"o_orderdate", $"dmin").cast("long").as("d"), $"r")
      .orderBy($"d")
      .as[(Long, Long)].collect()
    lttbFold(series, LttbOut).toDF("out_idx", "d", "r")
      .orderBy($"out_idx")
  }

  val q463Sql: String = {
    val k = LttbOut
    // lists are 1-indexed; selected indices are kept 0-based (like the
    // Spark fold) as DOUBLE-carried small ints (exact). Bucket j's
    // 0-based lo index is 1 + j(n-2)//(k-2); anchors (next-bucket
    // sums) precompute OUTSIDE the fold so the fold lambda only
    // indexes a list. jv/pix inline p[1]/acc[len(acc)] (lambdas bind
    // no intermediates — the q445 inlining discipline).
    val jv = "CAST(p[1] AS BIGINT)"
    val pix = "CAST(acc[len(acc)] AS BIGINT)"
    val loJ = s"(1 + ($jv) * (n - 2) // ($k - 2))"
    val loJ1 = s"(1 + (($jv) + 1) * (n - 2) // ($k - 2))"
    s"""WITH daily AS MATERIALIZED (
       |  SELECT o_orderdate,
       |    CAST(SUM(CAST(FLOOR(100 * o_totalprice) AS BIGINT)) AS BIGINT) AS r
       |  FROM orders GROUP BY o_orderdate),
       |pts AS (
       |  SELECT CAST(date_diff('day',
       |      (SELECT MIN(CAST(o_orderdate AS DATE)) FROM daily),
       |      CAST(o_orderdate AS DATE)) AS BIGINT) AS d, r
       |  FROM daily),
       |ser AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
       |    list(CAST(d AS DOUBLE) ORDER BY d) AS ds,
       |    list(CAST(r AS DOUBLE) ORDER BY d) AS rs
       |  FROM pts),
       |anch AS (
       |  SELECT n, ds, rs,
       |    list_transform(range(0, $k - 2), j ->
       |      CASE WHEN j < $k - 3 THEN [
       |        list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |          ds[(1 + (j + 1) * (n - 2) // ($k - 2)) + 1
       |             : (1 + (j + 2) * (n - 2) // ($k - 2))]),
       |          (a, v) -> a + v),
       |        list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |          rs[(1 + (j + 1) * (n - 2) // ($k - 2)) + 1
       |             : (1 + (j + 2) * (n - 2) // ($k - 2))]),
       |          (a, v) -> a + v),
       |        CAST((1 + (j + 2) * (n - 2) // ($k - 2))
       |          - (1 + (j + 1) * (n - 2) // ($k - 2)) AS DOUBLE)]
       |      ELSE [ds[CAST(n AS INT)], rs[CAST(n AS INT)], 1.0] END)
       |    AS anchors
       |  FROM ser),
       |folded AS (
       |  SELECT n, ds, rs,
       |    list_reduce(
       |      list_prepend([CAST(0 AS DOUBLE)],
       |        list_transform(range(0, $k - 2), j -> [CAST(j AS DOUBLE)])),
       |      (acc, p) -> list_append(acc,
       |        list_reduce(
       |          list_prepend([CAST(-1 AS DOUBLE), CAST(-1 AS DOUBLE)],
       |            list_transform(range($loJ, $loJ1),
       |              c -> [CAST(c AS DOUBLE),
       |                abs((ds[($pix) + 1] * anchors[($jv) + 1][3]
       |                     - anchors[($jv) + 1][1])
       |                  * (rs[CAST(c AS INT) + 1] - rs[($pix) + 1])
       |                  - (ds[($pix) + 1] - ds[CAST(c AS INT) + 1])
       |                  * (anchors[($jv) + 1][2]
       |                     - rs[($pix) + 1] * anchors[($jv) + 1][3]))])),
       |          (a2, q) -> CASE WHEN q[2] > a2[2] THEN q ELSE a2 END)[1]))
       |      AS idxs
       |  FROM anch)
       |SELECT CAST(o - 1 AS BIGINT) AS out_idx,
       |  CAST(ds[CAST(ix AS INT) + 1] AS BIGINT) AS d,
       |  CAST(rs[CAST(ix AS INT) + 1] AS BIGINT) AS r
       |FROM (
       |  SELECT n, ds, rs, UNNEST(list_append(idxs, CAST(n - 1 AS DOUBLE)))
       |    AS ix, UNNEST(range(1, $k + 1)) AS o
       |  FROM folded)
       |ORDER BY out_idx""".stripMargin
  }

  /** q478 output size per key (30-day series → 12 points). */
  val LttbKeyOut = 12

  /** q478 — LTTB PER KEY (the dashboard's real shape: one downsampled
    * trace PER SERIES, not one global fold): each event_type's daily
    * cents series runs the IDENTICAL [[lttbFold]] inside mapGroups —
    * series are independent, so the per-key sequential fold is
    * embarrassingly parallel across keys, and the per-group input is
    * CALENDAR-BOUNDED (days × one key), the mapGroups admission rule.
    * Day offsets are per-key (d = day − key's first day). Oracle: the
    * q463 DuckDB list-lambda replay, grouped by event_type — same
    * fold, five series, value for value.
    */
  val q478LttbPerKey: Q = (s, dir) => {
    import s.implicits._
    val daily = T.events(s, dir)
      .select($"event_type", to_date($"ts").as("day"),
        expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)").as("c"))
      .groupBy($"event_type", $"day").agg(sum($"c").as("r"))
    val wKey = org.apache.spark.sql.expressions.Window
      .partitionBy($"event_type")
    val pts = daily
      .withColumn("d", datediff($"day", min($"day").over(wKey)).cast("long"))
      .select($"event_type", $"d", $"r")
      .as[(String, Long, Long)]
    pts.groupByKey(_._1)
      .flatMapGroups { (tpe, it) =>
        val series = it.toArray.sortBy(_._2).map(t => (t._2, t._3))
        lttbFold(series, LttbKeyOut).map { case (o, d, v) => (tpe, o, d, v) }
      }
      .toDF("event_type", "out_idx", "d", "r")
      .orderBy($"event_type", $"out_idx")
  }

  val q478Sql: String = {
    val k = LttbKeyOut
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
       |ser AS (
       |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
       |    list(CAST(d AS DOUBLE) ORDER BY d) AS ds,
       |    list(CAST(r AS DOUBLE) ORDER BY d) AS rs
       |  FROM pts GROUP BY event_type),
       |anch AS (
       |  SELECT event_type, n, ds, rs,
       |    list_transform(range(0, $k - 2), j ->
       |      CASE WHEN j < $k - 3 THEN [
       |        list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |          ds[(1 + (j + 1) * (n - 2) // ($k - 2)) + 1
       |             : (1 + (j + 2) * (n - 2) // ($k - 2))]),
       |          (a, v) -> a + v),
       |        list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |          rs[(1 + (j + 1) * (n - 2) // ($k - 2)) + 1
       |             : (1 + (j + 2) * (n - 2) // ($k - 2))]),
       |          (a, v) -> a + v),
       |        CAST((1 + (j + 2) * (n - 2) // ($k - 2))
       |          - (1 + (j + 1) * (n - 2) // ($k - 2)) AS DOUBLE)]
       |      ELSE [ds[CAST(n AS INT)], rs[CAST(n AS INT)], 1.0] END)
       |    AS anchors
       |  FROM ser),
       |folded AS (
       |  SELECT event_type, n, ds, rs,
       |    list_reduce(
       |      list_prepend([CAST(0 AS DOUBLE)],
       |        list_transform(range(0, $k - 2), j -> [CAST(j AS DOUBLE)])),
       |      (acc, p) -> list_append(acc,
       |        list_reduce(
       |          list_prepend([CAST(-1 AS DOUBLE), CAST(-1 AS DOUBLE)],
       |            list_transform(range((1 + (CAST(p[1] AS BIGINT)) * (n - 2) // ($k - 2)), (1 + ((CAST(p[1] AS BIGINT)) + 1) * (n - 2) // ($k - 2))),
       |              c -> [CAST(c AS DOUBLE),
       |                abs((ds[(CAST(acc[len(acc)] AS BIGINT)) + 1] * anchors[(CAST(p[1] AS BIGINT)) + 1][3]
       |                     - anchors[(CAST(p[1] AS BIGINT)) + 1][1])
       |                  * (rs[CAST(c AS INT) + 1] - rs[(CAST(acc[len(acc)] AS BIGINT)) + 1])
       |                  - (ds[(CAST(acc[len(acc)] AS BIGINT)) + 1] - ds[CAST(c AS INT) + 1])
       |                  * (anchors[(CAST(p[1] AS BIGINT)) + 1][2]
       |                     - rs[(CAST(acc[len(acc)] AS BIGINT)) + 1] * anchors[(CAST(p[1] AS BIGINT)) + 1][3]))])),
       |          (a2, q) -> CASE WHEN q[2] > a2[2] THEN q ELSE a2 END)[1]))
       |      AS idxs
       |  FROM anch)
       |SELECT event_type, CAST(o - 1 AS BIGINT) AS out_idx,
       |  CAST(ds[CAST(ix AS INT) + 1] AS BIGINT) AS d,
       |  CAST(rs[CAST(ix AS INT) + 1] AS BIGINT) AS r
       |FROM (
       |  SELECT event_type, n, ds, rs,
       |    UNNEST(list_append(idxs, CAST(n - 1 AS DOUBLE))) AS ix,
       |    UNNEST(range(1, $k + 1)) AS o
       |  FROM folded)
       |ORDER BY event_type, out_idx""".stripMargin
  }

  val entries: Seq[Entry] = Seq(
    Entry("q478_lttb_per_key", q478LttbPerKey, q478Sql),
    Entry("q463_lttb_downsample", q463LttbDownsample, q463Sql),
    Entry("q445_holt_winters", q445HoltWinters, q445Sql),
    Entry("q426_stickiness", q426Stickiness, q426Sql),
    Entry("q421_lateness_profile", q421LatenessProfile, q421Sql),
    Entry("q394_pacf", q394Pacf, q394Sql),
    Entry("q380_holt", q380Holt, q380Sql),
    Entry("q381_hampel", q381Hampel, q381Sql),
    Entry("q369_ewma", q369Ewma, q369Sql),
    Entry("q338_forecast_backtest", q338ForecastBacktest, q338Sql),
    Entry("q320_seasonal_decompose", q320SeasonalDecompose, q320Sql),
    Entry("q313_interval_intersect", q313IntervalIntersect, q313Sql),
    Entry("q291_acf", q291Acf, q291Sql),
    Entry("q292_cusum", q292Cusum, q292Sql),
    Entry("q286_interval_merge", q286IntervalMerge, q286Sql),
    Entry("q275_theil_sen", q275TheilSen, q275Sql),
    Entry("q261_cumulative_uniques", q261CumulativeUniques, q261Sql),
    Entry("q259_twap", q259Twap, q259Sql),
    Entry("q199_ewma_exact", q199EwmaExact, q199Sql),
    Entry("q104_resample_ffill", q104ResampleFfill, q104Sql),
    Entry("q118_rolling_window", q118RollingWindow, q118Sql),
    Entry("q120_sessionize", q120Sessionize, q120Sql),
    Entry("q149_zscore_anomaly", q149ZscoreAnomaly, q149Sql),
    Entry("q174_resample_interp", q174ResampleInterp, q174Sql))
}
