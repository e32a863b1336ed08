package graft.relational

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.PlanBridge

import graft.core.{Entry, Tables => T}

/** SEQUENTIAL CO-PURCHASE census (temporal market-basket: "bought p1,
  * then p2 within a week" — Agrawal–Srikant ICDE'95 sequential
  * patterns, the length-2 level): the DIRECTED, time-respecting
  * sibling of q134's same-basket co-occurrence. Pairs form per
  * customer across DIFFERENT orders with 0 < Δdate ≤ [[SeqWindowDays]].
  *
  * Scale shape — BIN BUCKETING (the q115 interval-join discipline,
  * [[graft.operators.IntervalJoin]]): days quantize into bins of
  * exactly [[SeqWindowDays]] width; the earlier purchase lives in ONE
  * bin and the later purchase's lookback window [d2 − 7, d2) spans
  * EXACTLY TWO consecutive bins (window length == bin width), so the
  * later side explodes to its two probe bins and the pair join is an
  * EQUI-join on (customer, bin) + exact day residual. Each true pair
  * arises once — the earlier row's single bin matches exactly one
  * probe — so no dedup pass is needed, and the per-join-group fan-out
  * is |customer-bin|², bounded by 7-day purchase locality instead of
  * the customer's full order history (a bare-customer-key self-join
  * would materialize orders² candidates inside one SMJ group — a
  * heavy account with 10⁶ orders is 10¹² pairs, the textbook
  * skewed-key scale-killer; pinned out in ScalePlanSpec round-14).
  *
  * Distinct from q134 (same order, undirected) and q150 (event-type
  * transitions): keys are (earlier part → later part) ACROSS orders,
  * the signal a "customers who bought X later bought Y" recommender
  * consumes.
  */
object SequentialPairs {

  import Entry.Q

  val SeqWindowDays = 7
  val SeqTop = 25

  val q508SequentialPairs: Q = (s, dir) => {
    import s.implicits._
    val li = T.lineitem(s, dir).select($"l_orderkey", $"l_partkey")
    val o = T.orders(s, dir)
      .select($"o_orderkey", $"o_custkey", to_date($"o_orderdate").as("d"))
    val bought = PlanBridge.checkpointResetStats(
      li.join(o, $"l_orderkey" === $"o_orderkey")
        .select($"o_custkey".as("c"), $"l_partkey".as("p"), $"d",
          $"l_orderkey".as("ok"))
        .distinct())
    def binOf(ud: Column): Column = floor(ud / SeqWindowDays)
    val earlier = bought
      .select($"c", $"p".as("p1"), $"d".as("d1"), $"ok".as("ok1"),
        binOf(unix_date($"d")).as("_bin"))
    // Δ ∈ [1, 7] ⟹ d1 ∈ [d2 − 7, d2): with bin width == window width
    // the two probe bins are always consecutive (floor(x/7) −
    // floor((x−7)/7) = 1), so the array needs no dedup.
    val later = bought
      .select($"c", $"p".as("p2"), $"d".as("d2"), $"ok".as("ok2"),
        explode(array(binOf(unix_date($"d") - SeqWindowDays),
          binOf(unix_date($"d")))).as("_bin"))
    earlier.join(later, Seq("c", "_bin"))
      .filter($"ok1" =!= $"ok2" && $"d2" > $"d1" &&
        datediff($"d2", $"d1") <= SeqWindowDays)
      .groupBy($"p1", $"p2").agg(count(lit(1)).as("cnt"))
      .orderBy($"cnt".desc, $"p1", $"p2")
      .limit(SeqTop)
  }

  val q508Sql: String =
    s"""WITH bought AS MATERIALIZED (
      |  SELECT DISTINCT o_custkey AS c, l_partkey AS p,
      |    CAST(o_orderdate AS DATE) AS d, o_orderkey AS ok
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
      |SELECT a.p AS p1, b.p AS p2, CAST(COUNT(*) AS BIGINT) AS cnt
      |FROM bought a JOIN bought b
      |  ON a.c = b.c AND a.ok <> b.ok AND b.d > a.d
      |  AND date_diff('day', a.d, b.d) <= $SeqWindowDays
      |GROUP BY 1, 2
      |ORDER BY cnt DESC, p1, p2
      |LIMIT $SeqTop""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("q508_sequential_pairs", q508SequentialPairs, q508Sql))
}
