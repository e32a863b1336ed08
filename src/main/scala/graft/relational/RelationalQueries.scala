package graft.relational

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.{Entry, Tables => T, dsl, OracleDsl => O}

/** Core relational operator surface (SURVEY.md §2.b, [T] rows): scans,
  * filters, projections, derived columns, every join type, aggregations.
  *
  * Each entry is a declarative DataFrame plan — Catalyst handles predicate
  * pushdown, column pruning, partial aggregation and join selection; AQE
  * handles runtime coalescing and skew. Scale notes are per-query.
  */
object RelationalQueries {

  import Entry.Q

  /** Flagship pricing summary (TPC-H Q1 shape): scan → filter → hash agg
    * (partial+final automatic) → sort. At 100 TB this is a single shuffle
    * of ~|groups| rows after map-side combine — the scan dominates, and
    * the shipdate filter + 7-column projection push into the parquet scan.
    */
  val q01PricingSummary: Q = (s, dir) => {
    import s.implicits._
    import dsl._
    T.lineitem(s, dir)
      .filter($"l_shipdate" <= lit("1998-09-02").cast(TimestampType))
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(
        dsum($"l_quantity").as("sum_qty"),
        dsum($"l_extendedprice").as("sum_base_price"),
        dsumExpr($"l_extendedprice" * (lit(1.0) - $"l_discount"))
          .as("sum_disc_price"),
        dsumExpr($"l_extendedprice" * (lit(1.0) - $"l_discount")
          * (lit(1.0) + $"l_tax")).as("sum_charge"),
        davg($"l_quantity").as("avg_qty"),
        davg($"l_extendedprice").as("avg_price"),
        davg($"l_discount").as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy($"l_returnflag", $"l_linestatus")
  }

  val q01Sql: String =
    s"""SELECT l_returnflag, l_linestatus,
       |  ${O.dsum("l_quantity")} AS sum_qty,
       |  ${O.dsum("l_extendedprice")} AS sum_base_price,
       |  ${O.dsumExpr("l_extendedprice * (1.0 - l_discount)")} AS sum_disc_price,
       |  ${O.dsumExpr("l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)")} AS sum_charge,
       |  ${O.davg("l_quantity")} AS avg_qty,
       |  ${O.davg("l_extendedprice")} AS avg_price,
       |  ${O.davg("l_discount")} AS avg_disc,
       |  COUNT(*) AS count_order
       |FROM lineitem
       |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
       |GROUP BY l_returnflag, l_linestatus
       |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** Predicate gallery: equality / range / IN / LIKE / BETWEEN — all push
    * down to the parquet scan (SURVEY R3, R13). Row-passthrough output, so
    * no float drift is possible.
    */
  val q02FilterPredicates: Q = (s, dir) => {
    import s.implicits._
    T.orders(s, dir)
      .filter($"o_orderstatus" === "F"
        && $"o_totalprice".between(1000.0, 150000.0)
        && $"o_orderpriority".isin("1-URGENT", "2-HIGH", "3-MEDIUM")
        && $"o_orderpriority".like("%H%")
        && $"o_orderdate" >= lit("1995-01-01").cast(TimestampType)
        && $"o_custkey".isNotNull)
      .select($"o_orderkey", $"o_custkey", $"o_totalprice", $"o_orderdate")
      .orderBy($"o_orderkey")
  }

  val q02Sql: String =
    """SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate
      |FROM orders
      |WHERE o_orderstatus = 'F'
      |  AND o_totalprice BETWEEN 1000.0 AND 150000.0
      |  AND o_orderpriority IN ('1-URGENT', '2-HIGH', '3-MEDIUM')
      |  AND o_orderpriority LIKE '%H%'
      |  AND o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
      |  AND o_custkey IS NOT NULL
      |ORDER BY o_orderkey""".stripMargin

  /** Derived partition-key projection — the reference's 3-way rule
    * (/root/reference/cache.go:100-106: use `name` when schema is
    * olm.package, `__global` when package is empty, else `package`)
    * re-expressed over `events`: when/otherwise + coalesce chain.
    */
  val q03DerivedKey: Q = (s, dir) => {
    import s.implicits._
    T.events(s, dir)
      .withColumn("part_key",
        when($"event_type" === "signup", concat(lit("user_"), $"user_id"))
          .otherwise(when($"props".isNull || $"props" === "", lit("__global"))
            .otherwise($"event_type")))
      .groupBy($"part_key")
      .agg(count(lit(1)).as("n"), dsl.dsum($"value").as("sum_value"))
      .orderBy($"part_key")
  }

  val q03Sql: String =
    s"""SELECT CASE WHEN event_type = 'signup' THEN 'user_' || user_id
       |            WHEN props IS NULL OR props = '' THEN '__global'
       |            ELSE event_type END AS part_key,
       |  COUNT(*) AS n,
       |  ${O.dsum("value")} AS sum_value
       |FROM events
       |GROUP BY 1
       |ORDER BY part_key""".stripMargin

  /** Broadcast hash join: `part` is the small side (200k rows/SF vs 6M
    * lineitem rows/SF), but it still scales linearly with SF, so the
    * broadcast decision is left to AQE rather than forced with a hint —
    * at test scale AQE broadcasts it (the fact table never shuffles);
    * at 100 TB, where part is multi-GB, AQE demotes the edge to a
    * shuffle join instead of OOMing the driver. A hard `broadcast()`
    * hint can never be demoted. Only fixed-cardinality dims
    * (nation=25, region=5) earn hard hints in this library.
    */
  val q04JoinBroadcast: Q = (s, dir) => {
    import s.implicits._
    T.lineitem(s, dir)
      .join(T.part(s, dir), $"l_partkey" === $"p_partkey")
      .groupBy($"p_brand")
      .agg(
        dsl.dsumExpr($"l_extendedprice" * (lit(1.0) - $"l_discount"))
          .as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy($"p_brand")
  }

  val q04Sql: String =
    s"""SELECT p_brand,
       |  ${O.dsumExpr("l_extendedprice * (1.0 - l_discount)")} AS revenue,
       |  COUNT(*) AS n_items
       |FROM lineitem JOIN part ON l_partkey = p_partkey
       |GROUP BY p_brand
       |ORDER BY p_brand""".stripMargin

  /** Shuffle (sort-merge) join on the fact-fact edge lineitem⋈orders:
    * both sides hash-partition on the order key; at scale this is the
    * canonical co-partitioned join (bucketing both tables on o_orderkey
    * would eliminate the shuffle entirely). AQE picks SMJ vs SHJ.
    */
  val q05JoinShuffle: Q = (s, dir) => {
    import s.implicits._
    T.lineitem(s, dir)
      .join(T.orders(s, dir), $"l_orderkey" === $"o_orderkey")
      .groupBy($"o_orderpriority")
      .agg(
        count(lit(1)).as("n_lines"),
        dsl.dsum($"l_quantity").as("sum_qty"),
        dsl.dsum($"o_totalprice").as("sum_total"))
      .orderBy($"o_orderpriority")
  }

  val q05Sql: String =
    s"""SELECT o_orderpriority,
       |  COUNT(*) AS n_lines,
       |  ${O.dsum("l_quantity")} AS sum_qty,
       |  ${O.dsum("o_totalprice")} AS sum_total
       |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |GROUP BY o_orderpriority
       |ORDER BY o_orderpriority""".stripMargin

  /** Left outer join with null-preserving aggregation: customers keep a
    * row even with zero qualifying orders (count of a null-keyed side is
    * 0, not 1). Dimension side is small → broadcast-left is invalid for
    * left-outer-preserving side, so Spark plans SMJ; correct at scale.
    */
  val q06JoinLeft: Q = (s, dir) => {
    import s.implicits._
    val bigOrders = T.orders(s, dir).filter($"o_totalprice" > 150000.0)
    T.customer(s, dir)
      .join(bigOrders, $"c_custkey" === $"o_custkey", "left")
      .groupBy($"c_custkey")
      .agg(count($"o_orderkey").as("n_big_orders"),
        dsl.dsum($"o_totalprice").as("sum_big"))
      .orderBy($"c_custkey")
  }

  val q06Sql: String =
    s"""SELECT c_custkey,
       |  COUNT(o_orderkey) AS n_big_orders,
       |  ${O.dsum("o_totalprice")} AS sum_big
       |FROM customer LEFT JOIN (SELECT * FROM orders WHERE o_totalprice > 150000.0) o
       |  ON c_custkey = o_custkey
       |GROUP BY c_custkey
       |ORDER BY c_custkey""".stripMargin

  /** Left-semi join (EXISTS): orders having at least one max-quantity
    * line. Semi join only materializes the left side — no row explosion.
    */
  val q07JoinSemi: Q = (s, dir) => {
    import s.implicits._
    val hot = T.lineitem(s, dir).filter($"l_quantity" >= 49.0)
    T.orders(s, dir)
      .join(hot, $"o_orderkey" === $"l_orderkey", "left_semi")
      .select($"o_orderkey", $"o_orderstatus", $"o_totalprice")
      .orderBy($"o_orderkey")
  }

  val q07Sql: String =
    """SELECT o_orderkey, o_orderstatus, o_totalprice
      |FROM orders
      |WHERE EXISTS (SELECT 1 FROM lineitem
      |              WHERE l_orderkey = o_orderkey AND l_quantity >= 49.0)
      |ORDER BY o_orderkey""".stripMargin

  /** Left-anti join (NOT EXISTS): customers with no open ('O') order. */
  val q08JoinAnti: Q = (s, dir) => {
    import s.implicits._
    val open = T.orders(s, dir).filter($"o_orderstatus" === "O")
    T.customer(s, dir)
      .join(open, $"c_custkey" === $"o_custkey", "left_anti")
      .select($"c_custkey", $"c_name", $"c_mktsegment")
      .orderBy($"c_custkey")
  }

  val q08Sql: String =
    """SELECT c_custkey, c_name, c_mktsegment
      |FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders
      |                  WHERE o_custkey = c_custkey AND o_orderstatus = 'O')
      |ORDER BY c_custkey""".stripMargin

  /** Theta (non-equi) join → broadcast nested loop. Only valid at scale
    * because one side (nation, 25 rows) is broadcast-small; a fact-fact
    * theta join would instead need a range-bucketed equi-join rewrite.
    */
  val q09JoinTheta: Q = (s, dir) => {
    import s.implicits._
    T.supplier(s, dir)
      .join(broadcast(T.nation(s, dir)), $"s_nationkey" < $"n_nationkey")
      .groupBy($"s_suppkey", $"s_name")
      .agg(count(lit(1)).as("n_greater_nations"))
      .orderBy($"s_suppkey")
  }

  val q09Sql: String =
    """SELECT s_suppkey, s_name, COUNT(*) AS n_greater_nations
      |FROM supplier JOIN nation ON s_nationkey < n_nationkey
      |GROUP BY s_suppkey, s_name
      |ORDER BY s_suppkey""".stripMargin

  /** Full outer join with mismatches on both sides: suppliers 1..10/SF vs
    * the supplier keys present in heavily-filtered lineitem. Coalesced
    * output key keeps the sort deterministic and null-free.
    */
  val q10JoinFullOuter: Q = (s, dir) => {
    import s.implicits._
    val liAgg = T.lineitem(s, dir)
      .filter($"l_quantity" <= 2.0)
      .groupBy($"l_suppkey")
      .agg(count(lit(1)).as("n_small_lines"))
    T.supplier(s, dir).filter($"s_acctbal" > 0.0)
      .join(liAgg, $"s_suppkey" === $"l_suppkey", "full_outer")
      .select(
        coalesce($"s_suppkey", $"l_suppkey").as("suppkey"),
        $"s_name", $"n_small_lines")
      .orderBy($"suppkey")
  }

  val q10Sql: String =
    """SELECT COALESCE(s_suppkey, l_suppkey) AS suppkey, s_name, n_small_lines
      |FROM (SELECT * FROM supplier WHERE s_acctbal > 0.0) s
      |FULL OUTER JOIN (SELECT l_suppkey, COUNT(*) AS n_small_lines
      |                 FROM lineitem WHERE l_quantity <= 2.0
      |                 GROUP BY l_suppkey) l
      |  ON s_suppkey = l_suppkey
      |ORDER BY suppkey""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("q01_pricing_summary", q01PricingSummary, q01Sql),
    Entry("q02_filter_predicates", q02FilterPredicates, q02Sql),
    Entry("q03_derived_key", q03DerivedKey, q03Sql),
    Entry("q04_join_broadcast", q04JoinBroadcast, q04Sql),
    Entry("q05_join_shuffle", q05JoinShuffle, q05Sql),
    Entry("q06_join_left", q06JoinLeft, q06Sql),
    Entry("q07_join_semi", q07JoinSemi, q07Sql),
    Entry("q08_join_anti", q08JoinAnti, q08Sql),
    Entry("q09_join_theta", q09JoinTheta, q09Sql),
    Entry("q10_join_full_outer", q10JoinFullOuter, q10Sql))
}
