package graft.relational

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.{Entry, Tables => T, dsl, OracleDsl => O}

/** Multi-dimensional aggregation (rollup/cube/grouping sets), distinct
  * counts, window functions (ranking / analytic / frames), top-k, and set
  * operations — SURVEY.md §2.b aggregation/window/sort/set rows.
  *
  * Determinism rules applied throughout: window ORDER BY always ends in a
  * unique key (ties would otherwise make row_number/ntile/lag
  * nondeterministic), and windowed sums run in the exact decimal domain
  * (frame-by-frame double re-aggregation differs between engines).
  */
object WindowAggQueries {

  import Entry.Q

  /** ROLLUP: hierarchical subtotals. Map-side partial agg still applies;
    * at scale a rollup is one shuffle, not |levels| passes.
    */
  val q11AggRollup: Q = (s, dir) => {
    import s.implicits._
    T.orders(s, dir)
      .rollup($"o_orderstatus", $"o_orderpriority")
      .agg(count(lit(1)).as("n"), dsl.dsum($"o_totalprice").as("sum_total"))
      .orderBy($"o_orderstatus".asc_nulls_first, $"o_orderpriority".asc_nulls_first)
  }

  val q11Sql: String =
    s"""SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
       |  ${O.dsum("o_totalprice")} AS sum_total
       |FROM orders
       |GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
       |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin

  /** CUBE over lineitem flags. */
  val q12AggCube: Q = (s, dir) => {
    import s.implicits._
    T.lineitem(s, dir)
      .cube($"l_returnflag", $"l_linestatus")
      .agg(count(lit(1)).as("n"), dsl.dsum($"l_quantity").as("sum_qty"))
      .orderBy($"l_returnflag".asc_nulls_first, $"l_linestatus".asc_nulls_first)
  }

  val q12Sql: String =
    s"""SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
       |  ${O.dsum("l_quantity")} AS sum_qty
       |FROM lineitem
       |GROUP BY CUBE (l_returnflag, l_linestatus)
       |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin

  /** GROUPING SETS via the Dataset.groupingSets API (no session-global
    * temp view — a library function must not mutate shared session state);
    * subtotal NULLs disambiguated with coalesce since the keys are
    * non-null in the data.
    */
  val q13GroupingSets: Q = (s, dir) => {
    import s.implicits._
    T.orders(s, dir)
      .groupingSets(
        Seq(Seq($"o_orderstatus"), Seq($"o_orderpriority"), Seq.empty),
        $"o_orderstatus", $"o_orderpriority")
      .agg(count(lit(1)).as("n"), dsl.dsum($"o_totalprice").as("sum_total"))
      .select(coalesce($"o_orderstatus", lit("ALL")).as("status"),
        coalesce($"o_orderpriority", lit("ALL")).as("priority"),
        $"n", $"sum_total")
      .orderBy($"status", $"priority")
  }

  val q13Sql: String =
    s"""SELECT COALESCE(o_orderstatus, 'ALL') AS status,
       |  COALESCE(o_orderpriority, 'ALL') AS priority,
       |  COUNT(*) AS n, ${O.dsum("o_totalprice")} AS sum_total
       |FROM orders
       |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
       |ORDER BY status, priority""".stripMargin

  /** Exact COUNT(DISTINCT): expands to a two-stage aggregate in Spark —
    * at 100 TB prefer approx_count_distinct (q74) unless exactness is
    * contractual.
    */
  val q14CountDistinct: Q = (s, dir) => {
    import s.implicits._
    T.orders(s, dir)
      .groupBy($"o_orderpriority")
      .agg(
        countDistinct($"o_custkey").as("n_custs"),
        countDistinct($"o_orderstatus").as("n_status"),
        count(lit(1)).as("n_orders"))
      .orderBy($"o_orderpriority")
  }

  val q14Sql: String =
    """SELECT o_orderpriority,
      |  COUNT(DISTINCT o_custkey) AS n_custs,
      |  COUNT(DISTINCT o_orderstatus) AS n_status,
      |  COUNT(*) AS n_orders
      |FROM orders
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  /** Approximate COUNT(DISTINCT) via HyperLogLog++ (rsd 2%) — the
    * 100 TB-scale path: one pass, fixed-size sketch per group, no
    * two-stage distinct expansion. The sketch value itself is
    * engine-internal, so the oracle check anchors on the EXACT distinct
    * count: the query emits `approx_ok` = (|approx − exact| ≤ 5%·exact),
    * which the oracle asserts as literal TRUE — a tolerance check the
    * hash-compare gate can enforce exactly.
    */

  /** q335 — Spark 4's native `approx_top_k` sketch aggregate gated
    * against the exact heavy hitters (the q74/q84 convention for
    * engine-internal sketches, and the BUILTIN sibling of the
    * hand-rolled q96 Count-Min and q215 Misra–Gries rows): with
    * maxItemsTracked ≫ k over a ~100-key space the datasketches
    * frequent-items guarantee is exact containment, so `ok` demands
    * the sketch CONTAINS the exact top-k with exact counts. The
    * sketch is asked for its full tracked list (k=100 over a ~100-key
    * space) rather than exactly 10, so an exact-count tie at the
    * rank-10 boundary cannot flip the gate: containment is
    * tie-insensitive where set-equality at the boundary is not.
    *
    * Scale shape: one pass, mergeable bounded state per partition —
    * the same 100 TB contract as q74's HLL; the exact side exists
    * only as the gate's anchor.
    */
  val q335ApproxTopK: Q = (s, dir) => {
    import s.implicits._
    val items = T.lineitem(s, dir).select(($"l_partkey" % 100).as("item"))
    val k = 10
    val approx = items
      .select(expr(s"approx_top_k(item, 100, 1000)").as("tk"))
      .select(explode($"tk").as("e"))
      .select($"e.item".as("item"), $"e.count".as("est"))
    val exact = items.groupBy($"item").agg(count(lit(1)).as("n_exact"))
    val topExact = exact
      .orderBy($"n_exact".desc, $"item".asc).limit(k)
    val joined = topExact.join(approx, Seq("item"), "left")
    joined.agg(
        count(lit(1)).as("k"),
        sum(when($"est".isNull || $"est" =!= $"n_exact", 1L).otherwise(0L))
          .as("misses"))
      .select($"k",
        ($"misses" === 0L).as("ok"))
  }

  val q335Sql: String =
    """SELECT CAST(10 AS BIGINT) AS k, TRUE AS ok""".stripMargin


  val q74ApproxDistinct: Q = (s, dir) => {
    import s.implicits._
    T.orders(s, dir)
      .groupBy($"o_orderpriority")
      .agg(
        countDistinct($"o_custkey").as("n_exact"),
        approx_count_distinct($"o_custkey", 0.02).as("approx"))
      .select($"o_orderpriority", $"n_exact",
        (abs($"approx" - $"n_exact") <= $"n_exact" * 0.05).as("approx_ok"))
      .orderBy($"o_orderpriority")
  }

  val q74Sql: String =
    """SELECT o_orderpriority,
      |  COUNT(DISTINCT o_custkey) AS n_exact,
      |  TRUE AS approx_ok
      |FROM orders
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  /** Approximate percentiles via the Greenwald-Khanna sketch — the
    * other 100 TB sketch aggregate next to HLL (q74): one pass, bounded
    * memory, mergeable across partitions. Oracle pattern as q74: the
    * sketch value is engine-internal (and merge-order-sensitive in its
    * low bits), so the query emits `p50_ok` = approx-p50 lies within
    * the EXACT p45..p55 value band (rank error at accuracy 10k is ≤
    * N/10k rows ≪ the 5%-rank band), which the oracle asserts TRUE.
    * The exact percentiles exist ONLY as the gate's anchor — the
    * production aggregate at scale is the sketch alone (exact
    * percentile needs a per-group sort).
    */
  val q84ApproxPercentile: Q = (s, dir) => {
    import s.implicits._
    T.orders(s, dir)
      .groupBy($"o_orderpriority")
      .agg(
        expr("percentile(o_totalprice, 0.45)").as("p45"),
        expr("percentile(o_totalprice, 0.55)").as("p55"),
        expr("approx_percentile(o_totalprice, 0.5, 10000)").as("ap50"),
        count(lit(1)).as("n_orders"))
      .select($"o_orderpriority", $"n_orders",
        ($"ap50" >= $"p45" && $"ap50" <= $"p55").as("p50_ok"))
      .orderBy($"o_orderpriority")
  }

  val q84Sql: String =
    """SELECT o_orderpriority, COUNT(*) AS n_orders, TRUE AS p50_ok
      |FROM orders
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  /** q96 — heavy hitters via a Count-Min sketch (the third sketch next
    * to HLL q74 and the percentile sketch q84): the CMS is built
    * distributed (per-partition sketches merge by counter addition, so
    * the result is order-independent and deterministic for a fixed
    * seed), then the exact top-10 supplier keys are probed against it.
    * The CMS guarantee — estimate ∈ [exact, exact + ε·N] with
    * probability 1−δ per key — is emitted as the oracle-checked `ok`
    * boolean (q74 convention; ε=0.001, δ=0.01, so the slack at sf0.1 is
    * ~600 on 600k rows and failure odds are negligible across 10 keys).
    * At 100 TB the sketch is the point: top-k candidates without a full
    * exact groupBy is how heavy-hitter monitoring stays one pass.
    */
  val q96HeavyHitters: Q = (s, dir) => {
    import s.implicits._
    val li = T.lineitem(s, dir)
    val cms = li.stat.countMinSketch($"l_suppkey", eps = 0.001,
      confidence = 0.99, seed = 42)
    val total = cms.totalCount()
    val exactTop = li.groupBy($"l_suppkey")
      .agg(count(lit(1)).as("n_exact"))
      .orderBy($"n_exact".desc, $"l_suppkey".asc)
      .limit(10)
      .as[(Long, Long)].collect()
    val rows = exactTop.map { case (k, n) =>
      val est = cms.estimateCount(k)
      (k, n, est >= n && est <= n + (0.001 * total).toLong + 1)
    }.toSeq
    rows.toDF("l_suppkey", "n_exact", "ok")
      .orderBy($"l_suppkey")
  }

  val q96Sql: String =
    """SELECT l_suppkey, COUNT(*) AS n_exact, TRUE AS ok
      |FROM lineitem
      |GROUP BY l_suppkey
      |ORDER BY n_exact DESC, l_suppkey ASC
      |LIMIT 10""".stripMargin

  /** q98 — relative-position windows: percent_rank ((rank−1)/(n−1)) and
    * cume_dist (peers-inclusive fraction) per customer. Both are exact
    * small-integer ratios, so the doubles are bit-identical across
    * engines; ties resolve by the functions' own semantics (no
    * tiebreaker needed).
    */
  val q98WindowPct: Q = (s, dir) => {
    import s.implicits._
    val w = Window.partitionBy($"o_custkey").orderBy($"o_totalprice")
    T.orders(s, dir)
      .select($"o_orderkey", $"o_custkey", $"o_totalprice",
        percent_rank().over(w).as("pct_rank"),
        cume_dist().over(w).as("cume"))
      .orderBy($"o_custkey", $"o_orderkey")
  }

  val q98Sql: String =
    """SELECT o_orderkey, o_custkey, o_totalprice,
      |  PERCENT_RANK() OVER (PARTITION BY o_custkey ORDER BY o_totalprice)
      |    AS pct_rank,
      |  CUME_DIST() OVER (PARTITION BY o_custkey ORDER BY o_totalprice)
      |    AS cume
      |FROM orders
      |ORDER BY o_custkey, o_orderkey""".stripMargin

  /** Ranking windows. rank/dense_rank run on the tie-prone key (their
    * semantics absorb ties); row_number/ntile get a unique tiebreaker.
    */
  val q15WindowRanking: Q = (s, dir) => {
    import s.implicits._
    val byPrice = Window.partitionBy($"o_custkey")
      .orderBy($"o_totalprice".desc)
    val unique = Window.partitionBy($"o_custkey")
      .orderBy($"o_totalprice".desc, $"o_orderkey".asc)
    T.orders(s, dir)
      .select($"o_orderkey", $"o_custkey", $"o_totalprice",
        rank().over(byPrice).as("rnk"),
        dense_rank().over(byPrice).as("drnk"),
        row_number().over(unique).as("rn"),
        ntile(4).over(unique).as("quartile"))
      .orderBy($"o_custkey", $"o_orderkey")
  }

  val q15Sql: String =
    """SELECT o_orderkey, o_custkey, o_totalprice,
      |  RANK() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC) AS rnk,
      |  DENSE_RANK() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC) AS drnk,
      |  ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn,
      |  NTILE(4) OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS quartile
      |FROM orders
      |ORDER BY o_custkey, o_orderkey""".stripMargin

  /** Analytic windows over the event stream: lag/lead/first/last per
    * user. Oracle casts ts to µs so both engines order identically; the
    * event_id tiebreaker removes any same-µs ambiguity.
    */
  val q16WindowAnalytic: Q = (s, dir) => {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val wAll = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    T.events(s, dir)
      .select($"event_id", $"user_id", $"value",
        lag($"value", 1).over(w).as("prev_value"),
        lead($"value", 1).over(w).as("next_value"),
        first($"value").over(wAll).as("first_value"),
        last($"value").over(wAll).as("last_value"))
      .orderBy($"user_id", $"event_id")
  }

  val q16Sql: String =
    """SELECT event_id, user_id, value,
      |  LAG(value, 1) OVER w AS prev_value,
      |  LEAD(value, 1) OVER w AS next_value,
      |  FIRST_VALUE(value) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS first_value,
      |  LAST_VALUE(value) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_value
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)
      |ORDER BY user_id, event_id""".stripMargin

  /** Window frames: running sum (unbounded preceding), 3-row moving
    * average, and a numeric RANGE frame (orders within the last 30 days,
    * keyed on day number). All sums in the exact decimal domain.
    */
  val q17WindowFrames: Q = (s, dir) => {
    import s.implicits._
    val base = Window.partitionBy($"o_custkey")
      .orderBy($"o_orderdate".asc, $"o_orderkey".asc)
    val running = base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val mov3 = base.rowsBetween(-2, Window.currentRow)
    val days = Window.partitionBy($"o_custkey").orderBy($"day_no")
      .rangeBetween(-30, Window.currentRow)
    T.orders(s, dir)
      .withColumn("day_no",
        datediff(to_date($"o_orderdate"), lit("1990-01-01").cast(DateType)))
      .select($"o_orderkey", $"o_custkey", $"o_totalprice",
        sum($"o_totalprice".cast(DecimalType(18, 2))).over(running)
          .cast(DoubleType).as("running_total"),
        (sum($"o_totalprice".cast(DecimalType(18, 2))).over(mov3)
          .cast(DoubleType) / count(lit(1)).over(mov3)).as("mov_avg3"),
        count(lit(1)).over(days).as("n_last_30d"))
      .orderBy($"o_custkey", $"o_orderkey")
  }

  val q17Sql: String =
    """SELECT o_orderkey, o_custkey, o_totalprice,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (w ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE)
      |    / COUNT(*) OVER (w ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS mov_avg3,
      |  COUNT(*) OVER (PARTITION BY o_custkey ORDER BY datediff('day', DATE '1990-01-01', CAST(o_orderdate AS DATE))
      |                 RANGE BETWEEN 30 PRECEDING AND CURRENT ROW) AS n_last_30d
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC)
      |ORDER BY o_custkey, o_orderkey""".stripMargin

  /** Top-k per group: row_number ≤ k — the scalable idiom (one shuffle on
    * the group key; no global sort).
    */
  val q18TopkPerGroup: Q = (s, dir) => {
    import s.implicits._
    val w = Window.partitionBy($"c_mktsegment")
      .orderBy($"o_totalprice".desc, $"o_orderkey".asc)
    T.orders(s, dir)
      .join(T.customer(s, dir), $"o_custkey" === $"c_custkey")
      .select($"c_mktsegment", $"o_orderkey", $"o_totalprice")
      .withColumn("rn", row_number().over(w))
      .filter($"rn" <= 3)
      .orderBy($"c_mktsegment", $"rn")
  }

  val q18Sql: String =
    """SELECT * FROM (
      |  SELECT c_mktsegment, o_orderkey, o_totalprice,
      |    ROW_NUMBER() OVER (PARTITION BY c_mktsegment
      |                       ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
      |  FROM orders JOIN customer ON o_custkey = c_custkey) t
      |WHERE rn <= 3
      |ORDER BY c_mktsegment, rn""".stripMargin

  /** Global top-k: ORDER BY + LIMIT plans as TakeOrderedAndProject —
    * per-partition heaps + single merge, no full sort at scale.
    */
  val q19GlobalTopk: Q = (s, dir) => {
    import s.implicits._
    T.orders(s, dir)
      .select($"o_orderkey", $"o_custkey", $"o_totalprice")
      .orderBy($"o_totalprice".desc, $"o_orderkey".asc)
      .limit(100)
  }

  val q19Sql: String =
    """SELECT o_orderkey, o_custkey, o_totalprice
      |FROM orders
      |ORDER BY o_totalprice DESC, o_orderkey ASC
      |LIMIT 100""".stripMargin

  /** UNION / INTERSECT / EXCEPT plus the multiset `_all` variants in one
    * tagged result. The `_all` branches run on genuinely duplicated
    * inputs (order custkeys) so min-multiplicity (INTERSECT ALL) and
    * multiset difference (EXCEPT ALL) are actually exercised.
    */
  val q20SetOps: Q = (s, dir) => {
    import s.implicits._
    val rich = T.customer(s, dir).filter($"c_acctbal" > 5000.0)
      .select($"c_custkey".as("key"))
    val big = T.orders(s, dir).filter($"o_totalprice" > 200000.0)
      .select($"o_custkey".as("key"))
    val mid = T.orders(s, dir).filter($"o_totalprice" > 150000.0)
      .select($"o_custkey".as("key"))
    rich.union(big).distinct().withColumn("op", lit("union"))
      .unionByName(rich.intersect(big).withColumn("op", lit("intersect")))
      .unionByName(rich.except(big).withColumn("op", lit("except")))
      .unionByName(mid.intersectAll(big).withColumn("op", lit("intersect_all")))
      .unionByName(mid.exceptAll(big).withColumn("op", lit("except_all")))
      .select($"op", $"key")
      .orderBy($"op", $"key")
  }

  val q20Sql: String =
    """WITH rich AS (SELECT c_custkey AS key FROM customer WHERE c_acctbal > 5000.0),
      |     big AS (SELECT o_custkey AS key FROM orders WHERE o_totalprice > 200000.0),
      |     mid AS (SELECT o_custkey AS key FROM orders WHERE o_totalprice > 150000.0)
      |SELECT 'union' AS op, key FROM (SELECT key FROM rich UNION SELECT key FROM big)
      |UNION ALL
      |SELECT 'intersect', key FROM (SELECT key FROM rich INTERSECT SELECT key FROM big)
      |UNION ALL
      |SELECT 'except', key FROM (SELECT key FROM rich EXCEPT SELECT key FROM big)
      |UNION ALL
      |SELECT 'intersect_all', key FROM (SELECT key FROM mid INTERSECT ALL SELECT key FROM big)
      |UNION ALL
      |SELECT 'except_all', key FROM (SELECT key FROM mid EXCEPT ALL SELECT key FROM big)
      |ORDER BY op, key""".stripMargin

  /** q167 — distribution-rank window gallery (the legs q15/q98's
    * ranking rows don't cover): percent_rank, cume_dist, and ntile(4)
    * per order priority. The window order is made TOTAL with the
    * orderkey tiebreak, so rank-derived doubles ((rank−1)/(n−1),
    * rn/n — exact integer divisions) are identical cross-engine and
    * the quartile boundaries are deterministic.
    */
  val q167RankGallery: Q = (s, dir) => {
    import s.implicits._
    val w = Window.partitionBy($"o_orderpriority")
      .orderBy($"o_totalprice", $"o_orderkey")
    T.orders(s, dir)
      .select($"o_orderpriority", $"o_orderkey", $"o_totalprice")
      .withColumn("pct_rank", percent_rank().over(w))
      .withColumn("cume", cume_dist().over(w))
      .withColumn("quartile", ntile(4).over(w))
      .filter($"o_orderkey" % 100 === 0) // bounded output, post-window
      .orderBy($"o_orderpriority", $"o_orderkey")
  }

  val q167Sql: String =
    """SELECT o_orderpriority, o_orderkey, o_totalprice,
      |  PERCENT_RANK() OVER w AS pct_rank,
      |  CUME_DIST() OVER w AS cume,
      |  NTILE(4) OVER w AS quartile
      |FROM orders
      |WINDOW w AS (PARTITION BY o_orderpriority
      |             ORDER BY o_totalprice, o_orderkey)
      |QUALIFY o_orderkey % 100 = 0
      |ORDER BY o_orderpriority, o_orderkey""".stripMargin

  /** q168 — ordered string aggregation (the LISTAGG/STRING_AGG surface):
    * per priority, the alphabetized distinct status set joined with
    * ',', plus the first-5 orderkey list in key order. Both engines
    * sort INSIDE the aggregate expression (array_sort/ORDER BY), so the
    * concatenated strings are deterministic — a bare collect_list/
    * string_agg commits to no order and would not hash-compare.
    */
  val q168StringAgg: Q = (s, dir) => {
    import s.implicits._
    T.orders(s, dir)
      .groupBy($"o_orderpriority")
      .agg(
        concat_ws(",", array_sort(collect_set($"o_orderstatus")))
          .as("statuses"),
        concat_ws(",",
          slice(array_sort(collect_list($"o_orderkey")), 1, 5)
            .cast("array<string>")).as("first_keys"))
      .orderBy($"o_orderpriority")
  }

  val q168Sql: String =
    """SELECT o_orderpriority,
      |  string_agg(DISTINCT o_orderstatus, ',' ORDER BY o_orderstatus)
      |    AS statuses,
      |  array_to_string((list_sort(list(o_orderkey)))[1:5], ',')
      |    AS first_keys
      |FROM orders
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  /** q179 — ratio-to-report: each (status, priority) cell's share of
    * its status subtotal and of the grand total — the percent-of-parent
    * arithmetic every BI hierarchy renders, spelled as windows OVER the
    * aggregate (shares from one pass, no subtotal join). The divisions
    * are long/long → double, deterministic cross-engine.
    *
    * Scale shape: the windows run over the AGGREGATED frame (≤
    * |status|·|priority| rows), so the empty-partition global window is
    * a 15-row frame, never a data-sized single partition.
    */
  val q179RatioToReport: Q = (s, dir) => {
    import s.implicits._
    val agg = T.orders(s, dir)
      .groupBy($"o_orderstatus", $"o_orderpriority")
      .agg(count(lit(1)).as("n"))
    agg
      .withColumn("share_of_status",
        $"n" / sum($"n").over(Window.partitionBy($"o_orderstatus")))
      .withColumn("share_of_total",
        $"n" / sum($"n").over(Window.partitionBy()))
      .orderBy($"o_orderstatus", $"o_orderpriority")
  }

  val q179Sql: String =
    """WITH agg AS (
      |  SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
      |  FROM orders GROUP BY o_orderstatus, o_orderpriority)
      |SELECT o_orderstatus, o_orderpriority, n,
      |  n / CAST(SUM(n) OVER (PARTITION BY o_orderstatus) AS DOUBLE)
      |    AS share_of_status,
      |  n / CAST(SUM(n) OVER () AS DOUBLE) AS share_of_total
      |FROM agg
      |ORDER BY o_orderstatus, o_orderpriority""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("q167_rank_gallery", q167RankGallery, q167Sql),
    Entry("q168_string_agg", q168StringAgg, q168Sql),
    Entry("q179_ratio_to_report", q179RatioToReport, q179Sql),
    Entry("q11_agg_rollup", q11AggRollup, q11Sql),
    Entry("q12_agg_cube", q12AggCube, q12Sql),
    Entry("q13_grouping_sets", q13GroupingSets, q13Sql),
    Entry("q14_count_distinct", q14CountDistinct, q14Sql),
    Entry("q74_approx_distinct", q74ApproxDistinct, q74Sql),
    Entry("q335_approx_top_k", q335ApproxTopK, q335Sql),
    Entry("q84_approx_percentile", q84ApproxPercentile, q84Sql),
    Entry("q96_heavy_hitters", q96HeavyHitters, q96Sql),
    Entry("q98_window_pct", q98WindowPct, q98Sql),
    Entry("q15_window_ranking", q15WindowRanking, q15Sql),
    Entry("q16_window_analytic", q16WindowAnalytic, q16Sql),
    Entry("q17_window_frames", q17WindowFrames, q17Sql),
    Entry("q18_topk_per_group", q18TopkPerGroup, q18Sql),
    Entry("q19_global_topk", q19GlobalTopk, q19Sql),
    Entry("q20_set_ops", q20SetOps, q20Sql))
}
