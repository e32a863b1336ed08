package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.{Entry, Tables => T}

/** Batch interval (range) join — for each left row, every right row of
  * the same key whose timestamp falls in [left_ts − window, left_ts):
  * the attribution primitive ("views in the 10 minutes before each
  * purchase"), and the batch twin of the streaming interval join
  * (EventStreams).
  *
  * The naive spelling — join on key + two inequality predicates — plans
  * as a per-key nested loop (Spark: SMJ on the key with a quadratic
  * in-key filter; a key with v views and p purchases does v·p work).
  * The scale form here is BIN BUCKETING, the standard range-join
  * optimization: quantize time into bins of exactly the window width;
  * a right row lives in ONE bin, a left row's window spans EXACTLY TWO
  * consecutive bins (window length == bin width), so exploding the left
  * side to its two probe bins turns the range join into an EQUI-join on
  * (key, bin) + an exact residual filter. Each true pair arises once —
  * the right row's single bin matches exactly one probe — so no dedup
  * pass is needed. Work per key-bin is |left∩bin|·|right∩bin|, bounded
  * by time locality instead of key history; the shuffle is the same
  * hash exchange an ordinary equi-join pays.
  *
  * Reference anchor: the reference serves time-bounded slices by
  * opening exactly the partitions the range touches (main.go:226-238);
  * binning is that idea applied to a join key.
  */
object IntervalJoin {

  import Entry.Q

  /** Pairs of (`left` row, `right` row) with equal `key` and
    * right.`rightTs` ∈ [left.`leftTs` − `windowSec`, left.`leftTs`).
    * Column names from both inputs survive; inputs must not share
    * non-key names.
    */
  def intervalJoin(left: DataFrame, right: DataFrame, key: String,
      leftTs: String, rightTs: String, windowSec: Long): DataFrame = {
    def binOf(ts: Column): Column = floor(unix_timestamp(ts) / windowSec)
    val l = left
      .withColumn("_bin", explode(array_distinct(array(
        binOf(col(leftTs) - expr(s"INTERVAL $windowSec SECONDS")),
        binOf(col(leftTs))))))
    val r = right.withColumn("_bin", binOf(col(rightTs)))
    l.join(r, Seq(key, "_bin"))
      .filter(col(rightTs) >= col(leftTs) - expr(s"INTERVAL $windowSec SECONDS")
        && col(rightTs) < col(leftTs))
      .drop("_bin")
  }

  val AttributionWindowSec = 3600L

  /** q115 — per-purchase view attribution: all `view` events by the same
    * user in the hour before each `purchase`, aggregated per purchase.
    * The oracle replays the plain inequality join in DuckDB — same
    * pairs, so the binned equi-join must be exactly pair-preserving.
    */
  val q115IntervalJoin: Q = (s, dir) => {
    import s.implicits._
    val ev = T.events(s, dir)
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"user_id", $"event_id".as("purchase_id"), $"ts".as("p_ts"))
    val views = ev.filter($"event_type" === "view")
      .select($"user_id", $"ts".as("v_ts"))
    intervalJoin(purchases, views, "user_id", "p_ts", "v_ts",
      AttributionWindowSec)
      .groupBy($"user_id", $"purchase_id", $"p_ts")
      .agg(count(lit(1)).as("n_views"),
        min($"v_ts").as("first_view"), max($"v_ts").as("last_view"))
      .orderBy($"user_id", $"purchase_id")
  }

  val q115Sql: String =
    s"""WITH p AS (
       |  SELECT user_id, event_id AS purchase_id, CAST(ts AS TIMESTAMP) AS p_ts
       |  FROM events WHERE event_type = 'purchase'),
       |v AS (
       |  SELECT user_id, CAST(ts AS TIMESTAMP) AS v_ts
       |  FROM events WHERE event_type = 'view')
       |SELECT p.user_id, purchase_id, p_ts, COUNT(*) AS n_views,
       |  MIN(v_ts) AS first_view, MAX(v_ts) AS last_view
       |FROM p JOIN v ON p.user_id = v.user_id
       |  AND v.v_ts >= p.p_ts - INTERVAL $AttributionWindowSec SECOND
       |  AND v.v_ts < p.p_ts
       |GROUP BY p.user_id, purchase_id, p_ts
       |ORDER BY p.user_id, purchase_id""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("q115_interval_join", q115IntervalJoin, q115Sql))
}
