package graft.relational

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.PlanBridge

import graft.core.{Entry, Tables => T}

/** MATRIX PROFILE over the daily series (Yeh et al. ICDM'16 — the
  * exact all-window nearest-neighbor distance vector; its argmin is
  * the top MOTIF pair and its argmax the top DISCORD): for every
  * [[MpLen]]-day window of each event type's daily-revenue series,
  * the minimum distance to any other window of the SAME series
  * outside the trivial-match exclusion zone (|i − j| > [[MpExcl]] =
  * ⌈m/2⌉, the standard self-match guard), plus the argmin index.
  * Completes the time-series family's motif leg next to q511 (SAX
  * answers "which SHAPES recur" via symbols; the profile answers
  * "WHERE is the closest repeated window and how close") and q514
  * (changepoints).
  *
  * Exactness (the q514 discipline): distances are z-normalization-free
  * sums of squared differences over exact BIGINT cent-sums,
  * accumulated in DECIMAL(38,0)/HUGEINT; the output mp is CAST to
  * BIGINT (4·Δv² with daily cent-sums ~7·10⁷ at sf1 is ~2·10¹⁶ —
  * inside int64 through ~sf10; the internal accumulation never
  * overflows regardless). Ties break to the EARLIEST partner index in
  * both engines.
  *
  * Scale shape: the corpus collapses to (type, day) in one partial
  * agg; everything after runs on the CALENDAR-BOUNDED frame (the
  * q275/q292 admission rule). The all-pairs join is quadratic in
  * WINDOWS BY DEFINITION — that is the exact matrix profile, not a
  * candidate blowup pruned later — and windows are calendar-bounded
  * (days per type), so the pair count is independent of corpus row
  * count: 100 TB of events over the same span produces the same
  * (days²·types) frame. The per-type quadratic rides the type-key
  * equi-join; no global window anywhere.
  */
object MatrixProfile {

  import Entry.Q

  /** Window length in days (matches q511's word length). */
  val MpLen = 4
  /** Trivial-match exclusion zone: admissible partners |i−j| > ⌈m/2⌉. */
  val MpExcl = MpLen / 2

  val q516MatrixProfile: Q = (s, dir) => {
    import s.implicits._
    profile(T.events(s, dir)
      .groupBy($"event_type".as("t"), to_date($"ts").as("d"))
      .agg(sum(expr("CAST(FLOOR(100 * value) AS BIGINT)")).as("v")))
  }

  /** Exact matrix profile of a `(t, d, v)` daily frame: one row per
    * admissible window (t, i) with its nearest-neighbor SSD `mp` and
    * earliest argmin partner `mpi`.
    */
  def profile(dailyIn: DataFrame): DataFrame = {
    val s = dailyIn.sparkSession
    import s.implicits._
    val daily = PlanBridge.checkpointResetStats(dailyIn)
    val wDay = Window.partitionBy($"t").orderBy($"d")
    val win = PlanBridge.checkpointResetStats(daily.select($"t", $"d", $"v",
      row_number().over(wDay).cast("long").as("i"),
      array(($"v" +: (1 until MpLen).map(k => lead($"v", k).over(wDay))): _*)
        .as("a"))
      .filter(element_at($"a", MpLen).isNotNull))
    val x = win.select($"t", $"i", $"d", $"a")
    val y = win.select($"t", $"i".as("j"), $"a".as("b"))
    x.join(y, Seq("t"))
      .filter(abs($"i" - $"j") > MpExcl)
      .select($"t", $"i", $"d",
        struct(aggregate(
          zip_with($"a", $"b",
            (p, q) => (p - q).cast("decimal(38,0)") * (p - q)),
          lit(0).cast("decimal(38,0)"),
          (acc, z) => acc + z).as("dist"), $"j").as("m"))
      .groupBy($"t", $"i", $"d")
      .agg(min($"m").as("m"))
      .select($"t", $"i", $"d".as("d_start"),
        $"m.dist".cast("long").as("mp"), $"m.j".as("mpi"))
      .orderBy($"t", $"i")
  }

  val q516Sql: String = {
    val leads = (1 until MpLen).map(k =>
      s"LEAD(v, $k) OVER w AS v$k").mkString(", ")
    val ssd = (0 until MpLen).map(k =>
      s"CAST(x.v$k - y.v$k AS HUGEINT) * (x.v$k - y.v$k)")
      .mkString("\n      + ")
    s"""WITH daily AS MATERIALIZED (
      |  SELECT event_type AS t, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d,
      |    CAST(SUM(CAST(FLOOR(100 * value) AS BIGINT)) AS BIGINT) AS v
      |  FROM events GROUP BY 1, 2),
      |idx AS (
      |  SELECT t, d, v,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY t ORDER BY d) AS BIGINT) AS i
      |  FROM daily),
      |win AS MATERIALIZED (
      |  SELECT * FROM (
      |    SELECT t, d, i, v AS v0, $leads
      |    FROM idx WINDOW w AS (PARTITION BY t ORDER BY d))
      |  WHERE v${MpLen - 1} IS NOT NULL),
      |pairs AS (
      |  SELECT x.t, x.i, x.d, y.i AS j,
      |    ($ssd) AS dist
      |  FROM win x JOIN win y ON x.t = y.t AND abs(x.i - y.i) > $MpExcl),
      |rk AS (
      |  SELECT t, i, d, dist, j,
      |    ROW_NUMBER() OVER (PARTITION BY t, i ORDER BY dist, j) AS rn
      |  FROM pairs)
      |SELECT t, i, d AS d_start, CAST(dist AS BIGINT) AS mp,
      |  CAST(j AS BIGINT) AS mpi
      |FROM rk WHERE rn = 1
      |ORDER BY t, i""".stripMargin
  }

  val entries: Seq[Entry] = Seq(
    Entry("q516_matrix_profile", q516MatrixProfile, q516Sql))
}
