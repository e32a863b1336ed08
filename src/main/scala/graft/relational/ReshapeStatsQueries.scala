package graft.relational

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{Entry, Tables => T, dsl, OracleDsl => O}

/** Reshaping (pivot / unpivot) and statistical-moment operators —
  * SURVEY.md §2.b agg/window extensions, round 3.
  *
  * Cross-engine determinism strategy for the moments: double summation
  * is order-dependent, so nothing here hash-compares a streamed double
  * aggregate. Instead both engines compute the CLOSED FORMS from exact
  * integer sums (Σx, Σx², Σxy … in int64 — associative, order-free),
  * finishing with the same fixed sequence of IEEE double ops (one
  * subtraction, one division, sqrt where needed) — bit-identical on both
  * sides. Spark ADDITIONALLY asserts its native streaming aggregates
  * (`var_samp`, `corr`, `percentile`) agree with the closed form within
  * 1e-9 relative, emitted as an oracle-checked `ok` boolean (the q74
  * tolerance convention), so the builtin surface is exercised too.
  */
object ReshapeStatsQueries {

  import Entry.Q

  /** q87 — pivot: order counts per priority, one column per order
    * status. The value list is explicit (F/O/P) so the output schema is
    * static — at scale an implicit pivot means a driver-side distinct
    * scan before planning. Empty combinations coalesce to 0 to match
    * SQL's `COUNT(*) FILTER` semantics (Spark pivot yields null there).
    */
  val q87Pivot: Q = (s, dir) => {
    import s.implicits._
    T.orders(s, dir)
      .groupBy($"o_orderpriority")
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)))
      .select($"o_orderpriority",
        coalesce($"F", lit(0L)).as("F"),
        coalesce($"O", lit(0L)).as("O"),
        coalesce($"P", lit(0L)).as("P"))
      .orderBy($"o_orderpriority")
  }

  val q87Sql: String =
    """SELECT o_orderpriority,
      |  COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS "F",
      |  COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS "O",
      |  COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS "P"
      |FROM orders
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  /** q88 — unpivot (melt): a wide per-priority aggregate reshaped to
    * long (priority, metric, value) rows via the native `unpivot`
    * operator (no explode-of-struct hand-rolling).
    */
  val q88Unpivot: Q = (s, dir) => {
    import s.implicits._
    T.orders(s, dir)
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).cast("double").as("n_orders"),
        dsl.dsum($"o_totalprice").as("total_price"),
        max($"o_totalprice").as("max_price"))
      .unpivot(Array($"o_orderpriority"),
        Array($"n_orders", $"total_price", $"max_price"),
        "metric", "value")
      .orderBy($"o_orderpriority", $"metric")
  }

  val q88Sql: String =
    s"""WITH agg AS (
       |  SELECT o_orderpriority,
       |    CAST(COUNT(*) AS DOUBLE) AS n_orders,
       |    ${O.dsum("o_totalprice")} AS total_price,
       |    MAX(o_totalprice) AS max_price
       |  FROM orders GROUP BY o_orderpriority)
       |SELECT o_orderpriority, metric, value FROM (
       |  SELECT o_orderpriority, 'n_orders' AS metric, n_orders AS value FROM agg
       |  UNION ALL
       |  SELECT o_orderpriority, 'total_price', total_price FROM agg
       |  UNION ALL
       |  SELECT o_orderpriority, 'max_price', max_price FROM agg)
       |ORDER BY o_orderpriority, metric""".stripMargin

  /** q89 — variance / correlation per return flag, closed-form over
    * exact integer sums (see object scaladoc); `ok` asserts the native
    * streaming `var_samp`/`corr` agree within 1e-9 relative.
    *
    * x = l_quantity (integer-valued 1..50), y = l_linenumber. The int64
    * cross-sums are exact up to ~10⁹ rows per group; past that the same
    * shape runs on DECIMAL sums.
    */
  val q89StatsMoments: Q = (s, dir) => {
    import s.implicits._
    val x = $"l_quantity".cast("long")
    val y = $"l_linenumber".cast("long")
    val g = T.lineitem(s, dir).groupBy($"l_returnflag").agg(
      count(lit(1)).as("n"),
      sum(x).as("sx"), sum(x * x).as("sxx"),
      sum(y).as("sy"), sum(y * y).as("syy"),
      sum(x * y).as("sxy"),
      var_samp(x).as("v_native"), corr(x, y).as("c_native"))
    val varCf = ($"n" * $"sxx" - $"sx" * $"sx").cast("double") /
      ($"n" * ($"n" - 1)).cast("double")
    val corrCf = ($"n" * $"sxy" - $"sx" * $"sy").cast("double") /
      (sqrt(($"n" * $"sxx" - $"sx" * $"sx").cast("double")) *
        sqrt(($"n" * $"syy" - $"sy" * $"sy").cast("double")))
    def close(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      abs(a - b) <= lit(1e-9) * (lit(1.0) + abs(b))
    g.select($"l_returnflag",
        varCf.as("var_qty"), corrCf.as("corr_qty_line"),
        (close($"v_native", varCf) && close($"c_native", corrCf)).as("ok"))
      .orderBy($"l_returnflag")
  }

  val q89Sql: String =
    """WITH s AS (
      |  SELECT l_returnflag, COUNT(*) AS n,
      |    SUM(x) AS sx, SUM(x*x) AS sxx,
      |    SUM(y) AS sy, SUM(y*y) AS syy,
      |    SUM(x*y) AS sxy
      |  FROM (SELECT l_returnflag,
      |          CAST(l_quantity AS BIGINT) AS x,
      |          CAST(l_linenumber AS BIGINT) AS y
      |        FROM lineitem)
      |  GROUP BY l_returnflag)
      |SELECT l_returnflag,
      |  CAST(n*sxx - sx*sx AS DOUBLE) / CAST(n*(n-1) AS DOUBLE) AS var_qty,
      |  CAST(n*sxy - sx*sy AS DOUBLE) /
      |    (SQRT(CAST(n*sxx - sx*sx AS DOUBLE)) * SQRT(CAST(n*syy - sy*sy AS DOUBLE)))
      |    AS corr_qty_line,
      |  TRUE AS ok
      |FROM s
      |ORDER BY l_returnflag""".stripMargin


  /** q339 — exact per-group WEIGHTED median (lower weighted median:
    * the smallest value whose cumulative weight reaches half the
    * group total) of extendedprice weighted by quantity — the robust
    * importance-weighted aggregate (a q216-style weighted corpus
    * reads its central tendency this way; an unweighted median would
    * let one high-multiplicity row count once). Integer weights and
    * cent values keep every comparison exact: 2·cumw ≥ totw is pure
    * BIGINT arithmetic, no midpoint averaging, no doubles at all.
    *
    * Scale shape: the rank window partitions on the 3-value flag key
    * (the q90 oracle-anchor caveat applies — the production spelling
    * at scale is a weighted histogram/selection pass, q307's shape);
    * one window + one argmin per group.
    */
  val q339WeightedMedian: Q = (s, dir) => {
    import s.implicits._
    val base = T.lineitem(s, dir)
      .select($"l_returnflag",
        expr("CAST(FLOOR(100 * l_extendedprice) AS BIGINT)").as("v"),
        expr("CAST(FLOOR(l_quantity) AS BIGINT)").as("w"))
    val wOrd = Window.partitionBy($"l_returnflag")
      .orderBy($"v", $"w").rowsBetween(Window.unboundedPreceding, 0)
    val wAll = Window.partitionBy($"l_returnflag")
    base
      .withColumn("cumw", sum($"w").over(wOrd))
      .withColumn("totw", sum($"w").over(wAll))
      .filter($"cumw" * 2 >= $"totw")
      .groupBy($"l_returnflag")
      .agg(min($"v").as("wmedian_cents"), max($"totw").as("total_weight"))
      .orderBy($"l_returnflag")
  }

  val q339Sql: String =
    """WITH base AS (
      |  SELECT l_returnflag,
      |    CAST(FLOOR(100 * l_extendedprice) AS BIGINT) AS v,
      |    CAST(FLOOR(l_quantity) AS BIGINT) AS w
      |  FROM lineitem),
      |c AS (
      |  SELECT l_returnflag, v,
      |    SUM(w) OVER (PARTITION BY l_returnflag ORDER BY v, w
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumw,
      |    SUM(w) OVER (PARTITION BY l_returnflag) AS totw
      |  FROM base)
      |SELECT l_returnflag,
      |  CAST(MIN(v) AS BIGINT) AS wmedian_cents,
      |  CAST(MAX(totw) AS BIGINT) AS total_weight
      |FROM c WHERE cumw * 2 >= totw
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** q90 — exact per-group median via rank arithmetic (the portable
    * spelling: average of the values at positions ⌊(n+1)/2⌋ and
    * ⌊n/2⌋+1), which both engines evaluate as the same 1-or-2-element
    * average of raw doubles; `ok` asserts Spark's native exact
    * `percentile(…, 0.5)` lands on the same value within 1e-9.
    *
    * Scale note: the rank window partitions on a 5-value key, so at
    * 100 TB each partition is a single-task sort — the rank spelling
    * exists as the cross-engine ORACLE ANCHOR only. The production
    * path at scale is the `percentile`/`approx_percentile` aggregate
    * (hash agg, no global per-group sort), which this query pins
    * against the anchor via the ok flag.
    */
  val q90MedianRank: Q = (s, dir) => {
    import s.implicits._
    val w = Window.partitionBy($"o_orderpriority").orderBy($"o_totalprice")
    val ranked = T.orders(s, dir)
      .select($"o_orderpriority", $"o_totalprice")
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(
        Window.partitionBy($"o_orderpriority")))
    val viaRank = ranked
      .filter($"rn" === expr("(n + 1) div 2") || $"rn" === expr("n div 2 + 1"))
      .groupBy($"o_orderpriority")
      .agg(avg($"o_totalprice").as("median_price"))
    val viaNative = T.orders(s, dir).groupBy($"o_orderpriority")
      .agg(percentile($"o_totalprice", lit(0.5)).as("p50"))
    viaRank.join(viaNative, "o_orderpriority")
      .select($"o_orderpriority", $"median_price",
        (abs($"median_price" - $"p50") <= lit(1e-9) * (lit(1.0) + abs($"p50")))
          .as("ok"))
      .orderBy($"o_orderpriority")
  }

  /** q162 — full decile summary per group (q90's median generalized to
    * the 9 inner deciles): value at rank ⌈k·n/10⌉ for k = 1..9 — one
    * exact order-statistic profile per event type, the distribution
    * fingerprint a drift monitor or feature-scaling step consumes. All
    * rank arithmetic is integer (`(k·n + 9) div 10`); values at a rank
    * are tie-invariant, so the frame hash-compares exactly.
    *
    * Scale shape: ONE keyed window (rank + count over event_type) and a
    * 9-value literal explode joined on the rank — no per-decile
    * re-scan; the same q90 caveat applies (the production spelling is
    * approx_percentile; this is the exact cross-engine anchor).
    */
  val q162DecileSummary: Q = (s, dir) => {
    import s.implicits._
    val w = Window.partitionBy($"event_type").orderBy($"value", $"event_id")
    val ranked = T.events(s, dir)
      .select($"event_type", $"event_id", $"value")
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(
        Window.partitionBy($"event_type")))
    ranked
      .select($"event_type", $"value", $"rn", $"n",
        explode(sequence(lit(1), lit(9))).as("decile"))
      .filter($"rn" === expr("(decile * n + 9) div 10"))
      .select($"event_type", $"decile", $"value".as("decile_value"))
      .orderBy($"event_type", $"decile")
  }

  val q162Sql: String =
    """WITH ranked AS (
      |  SELECT event_type, value,
      |    ROW_NUMBER() OVER (PARTITION BY event_type
      |      ORDER BY value, event_id) AS rn,
      |    COUNT(*) OVER (PARTITION BY event_type) AS n
      |  FROM events)
      |SELECT event_type, decile, value AS decile_value
      |FROM ranked, unnest(range(1, 10)) AS t(decile)
      |WHERE rn = (decile * n + 9) // 10
      |ORDER BY event_type, decile""".stripMargin

  val q90Sql: String =
    """WITH ranked AS (
      |  SELECT o_orderpriority, o_totalprice,
      |    ROW_NUMBER() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice) AS rn,
      |    COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
      |  FROM orders)
      |SELECT o_orderpriority, AVG(o_totalprice) AS median_price, TRUE AS ok
      |FROM ranked
      |WHERE rn = (n+1)//2 OR rn = n//2 + 1
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  /** q110 — per-group winsorization (outlier clipping at exact p05/p95
    * order statistics): every value clamps into [lo, hi] where lo/hi
    * are the values at ranks ⌈0.05·n⌉ / ⌈0.95·n⌉ — the feature-scaling
    * step that tames heavy tails before training. Rank bounds are
    * integer arithmetic (`(5n+99) div 100`), the clamp is
    * `least(greatest(x, lo), hi)` (identical IEEE comparisons in both
    * engines), and the clamped sum goes through the decimal path, so
    * the whole thing hash-compares exactly.
    *
    * Same scale caveat as q90: the rank window partitions on a 5-value
    * key and exists as the cross-engine oracle anchor; the production
    * spelling at scale is `approx_percentile` bounds + the same clamp
    * (hash agg, no per-group sort).
    */
  val q110Winsorize: Q = (s, dir) => {
    import s.implicits._
    val w = Window.partitionBy($"o_orderpriority").orderBy($"o_totalprice")
    val ranked = T.orders(s, dir)
      .select($"o_orderpriority", $"o_totalprice")
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(
        Window.partitionBy($"o_orderpriority")))
    val bounds = ranked
      .filter($"rn" === expr("(5 * n + 99) div 100") ||
        $"rn" === expr("(95 * n + 99) div 100"))
      .groupBy($"o_orderpriority")
      .agg(min($"o_totalprice").as("lo"), max($"o_totalprice").as("hi"))
    T.orders(s, dir)
      .select($"o_orderpriority", $"o_totalprice")
      .join(bounds, "o_orderpriority")
      .withColumn("clamped",
        least(greatest($"o_totalprice", $"lo"), $"hi"))
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n_rows"), min($"lo").as("lo"),
        max($"hi").as("hi"), dsl.dsumExpr($"clamped").as("clamped_sum"))
      .orderBy($"o_orderpriority")
  }

  val q110Sql: String =
    s"""WITH ranked AS (
      |  SELECT o_orderpriority, o_totalprice,
      |    ROW_NUMBER() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice) AS rn,
      |    COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
      |  FROM orders),
      |bounds AS (
      |  SELECT o_orderpriority, MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi
      |  FROM ranked
      |  WHERE rn = (5 * n + 99) // 100 OR rn = (95 * n + 99) // 100
      |  GROUP BY o_orderpriority)
      |SELECT o.o_orderpriority, COUNT(*) AS n_rows,
      |  MIN(lo) AS lo, MAX(hi) AS hi,
      |  ${O.dsumExpr("LEAST(GREATEST(o_totalprice, lo), hi)")} AS clamped_sum
      |FROM orders o JOIN bounds b ON o.o_orderpriority = b.o_orderpriority
      |GROUP BY o.o_orderpriority
      |ORDER BY o.o_orderpriority""".stripMargin

  /** q201 — approximate percentiles under a VERIFIED rank-error bound.
    * `percentile_approx` (Greenwald–Khanna) promises rank error
    * ≤ n/accuracy; DuckDB has no GK twin, so sketch values can never
    * hash-match — instead the gate recomputes, in the same query, the
    * EXACT rank of each approximate quantile (one conditional count
    * against the group) and asserts the promise. This is the q74
    * `(n, ok)` convention: the driver-checked row is (group, n, ok) and
    * the oracle contributes the trivially-true frame — but `ok` is
    * computed from the sketch's actual ranks, so a GK regression flips
    * the row red.
    *
    * Scale shape: the sketch is one partial-aggregated pass (GK
    * summaries merge); the rank check joins the 3-rows-per-group
    * quantile frame back as a broadcast and counts conditionally — one
    * more scan, no sort. The q90/q162 exact-rank spellings are the
    * full-precision cousins; this is what you run at 100 TB where an
    * exact global sort per group is not worth the answer.
    */
  val ApproxPctAccuracy = 1000

  val q201ApproxPctGate: Q = (s, dir) => {
    import s.implicits._
    val li = T.lineitem(s, dir).select($"l_returnflag", $"l_extendedprice")
    val sketch = li.groupBy($"l_returnflag")
      .agg(percentile_approx($"l_extendedprice",
        array(lit(0.5), lit(0.9), lit(0.99)), lit(ApproxPctAccuracy))
        .as("vs"), count(lit(1)).as("n"))
    val bound = $"n" / ApproxPctAccuracy + lit(1.0)
    li.join(broadcast(sketch), "l_returnflag")
      .groupBy($"l_returnflag")
      .agg(first($"n").as("n"),
        sum(when($"l_extendedprice" <= $"vs" (0), 1L).otherwise(0L)).as("r50"),
        sum(when($"l_extendedprice" <= $"vs" (1), 1L).otherwise(0L)).as("r90"),
        sum(when($"l_extendedprice" <= $"vs" (2), 1L).otherwise(0L)).as("r99"))
      .select($"l_returnflag", $"n",
        (abs($"r50" - $"n" * 0.5) <= bound &&
          abs($"r90" - $"n" * 0.9) <= bound &&
          abs($"r99" - $"n" * 0.99) <= bound).as("ok"))
      .orderBy($"l_returnflag")
  }

  val q201Sql: String =
    """SELECT l_returnflag, COUNT(*) AS n, TRUE AS ok
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  /** MAD multiplier: 5·MAD flags ~4% of events.value rows at every SF
    * (measured 37/1000, 430/10000, 4448/100000) — non-degenerate
    * output without flagging the bulk.
    */
  val MadK = 5.0

  /** q227 — robust anomaly detection via MEDIAN ABSOLUTE DEVIATION:
    * flag rows with |value − median| > [[MadK]]·MAD per event_type —
    * the robust twin of q149's z-score screen (mean/σ move with the
    * outliers they are supposed to catch; median/MAD have 50%
    * breakdown, the reason data-quality monitors prefer them on
    * heavy-tailed pipeline metrics).
    *
    * Determinism: both medians are lower order statistics selected by
    * integer rank arithmetic (q90's discipline — the value AT a rank
    * is tie-invariant), and the test |v − med| > k·mad is a chain of
    * individually correctly-rounded IEEE double ops on identical
    * inputs — no accumulation anywhere, so the row set hash-matches
    * exactly.
    *
    * Scale shape: two keyed windows (rank + count) and two tiny
    * median-per-group joins back — same q90/q162 shape; the production
    * variant swaps the exact rank windows for a KLL sketch (q220)
    * when groups stop fitting a window partition.
    */
  val q227MadAnomaly: Q = (s, dir) => {
    import s.implicits._
    val ev = T.events(s, dir).select($"event_id", $"event_type", $"value")
    val wN = Window.partitionBy($"event_type")
    val medOf: (DataFrame, String, String) => DataFrame = (df, c, out) => {
      val w = Window.partitionBy($"event_type").orderBy(col(c), $"event_id")
      df.withColumn("rn", row_number().over(w))
        .withColumn("n", count(lit(1)).over(wN))
        .filter($"rn" === expr("(n + 1) div 2"))
        .select($"event_type", col(c).as(out))
    }
    val dev = ev.join(medOf(ev, "value", "med"), "event_type")
      .withColumn("adev", abs($"value" - $"med"))
    dev.join(medOf(dev, "adev", "mad"), "event_type")
      .filter($"adev" > lit(MadK) * $"mad")
      .select($"event_id", $"event_type", $"value", $"med", $"mad")
      .orderBy($"event_id")
  }

  val q227Sql: String =
    s"""WITH ev AS (SELECT event_id, event_type, value FROM events),
       |r1 AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
       |         ORDER BY value, event_id) AS rn,
       |         COUNT(*) OVER (PARTITION BY event_type) AS n FROM ev),
       |med AS (SELECT event_type, value AS med FROM r1
       |        WHERE rn = (n + 1) // 2),
       |dev AS (SELECT ev.*, med, ABS(value - med) AS adev
       |        FROM ev JOIN med USING (event_type)),
       |r2 AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
       |         ORDER BY adev, event_id) AS rn,
       |         COUNT(*) OVER (PARTITION BY event_type) AS n FROM dev),
       |mad AS (SELECT event_type, adev AS mad FROM r2
       |        WHERE rn = (n + 1) // 2)
       |SELECT event_id, dev.event_type AS event_type, value, med, mad
       |FROM dev JOIN mad USING (event_type)
       |WHERE adev > $MadK * mad
       |ORDER BY event_id""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("q227_mad_anomaly", q227MadAnomaly, q227Sql),
    Entry("q201_approx_pct_gate", q201ApproxPctGate, q201Sql),
    Entry("q87_pivot", q87Pivot, q87Sql),
    Entry("q88_unpivot", q88Unpivot, q88Sql),
    Entry("q89_stats_moments", q89StatsMoments, q89Sql),
    Entry("q90_median_rank", q90MedianRank, q90Sql),
    Entry("q339_weighted_median", q339WeightedMedian, q339Sql),
    Entry("q110_winsorize", q110Winsorize, q110Sql),
    Entry("q162_decile_summary", q162DecileSummary, q162Sql))
}
