package graft.relational

import org.apache.spark.sql.graftbridge.PlanBridge

import graft.core.{Entry, Tables => T}

/** Two more Spark 4 SQL surfaces proven against the oracle, in the
  * q349/q359 "certify the native surface" discipline: the |> pipe
  * operator (SPARK-49555, the linear query-authoring syntax) and
  * string collations (SPARK-46830 — comparison/grouping semantics as
  * a TYPE property instead of lower() rewrites scattered through the
  * query).
  */
object Sql4Surfaces {

  import Entry.Q

  /** q367 — SQL PIPE syntax: the literal `FROM … |> WHERE …
    * |> AGGREGATE … |> ORDER BY` program, gated against the classic
    * spelling DuckDB runs — the parser surface is the thing under
    * test; the optimized plan is identical to the classic query's
    * (pipe stages lower to the same logical operators, so there is
    * no plan-shape cost to the new syntax).
    */
  val q367PipeSyntax: Q = (s, dir) => {
    T.lineitem(s, dir).createOrReplaceTempView("q367_lineitem")
    s.sql(
      """FROM q367_lineitem
        ||> WHERE l_quantity > 30
        ||> AGGREGATE COUNT(*) AS n,
        |     CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
        |     GROUP BY l_returnflag
        ||> ORDER BY l_returnflag""".stripMargin)
  }

  val q367Sql: String =
    """SELECT l_returnflag, COUNT(*) AS n,
      |  CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
      |FROM lineitem
      |WHERE l_quantity > 30
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  /** q368 — UTF8_LCASE COLLATION grouping: a deterministically
    * mixed-case rendering of p_brand (upper for even keys, lower for
    * odd) groups under the case-insensitive collation exactly as the
    * oracle's lower() rewrite groups — the semantics a catalog
    * declares ONCE on the column type instead of remembering lower()
    * at every call site. The collated group key is cast back to a
    * plain string for the output (parquet/hash-compare surface stays
    * binary UTF8).
    */
  val q368CollationGroup: Q = (s, dir) => {
    T.part(s, dir).createOrReplaceTempView("q368_part")
    s.sql(
      """SELECT CAST(lower(k) AS STRING) AS brand_lc,
        |  COUNT(*) AS n
        |FROM (
        |  SELECT COLLATE(CASE WHEN p_partkey % 2 = 0
        |      THEN upper(p_brand) ELSE lower(p_brand) END,
        |    'UTF8_LCASE') AS k
        |  FROM q368_part)
        |GROUP BY k
        |ORDER BY brand_lc""".stripMargin)
  }

  val q368Sql: String =
    """SELECT lower(CASE WHEN p_partkey % 2 = 0
      |    THEN upper(p_brand) ELSE lower(p_brand) END) AS brand_lc,
      |  COUNT(*) AS n
      |FROM part
      |GROUP BY 1
      |ORDER BY brand_lc""".stripMargin

  /** q389 — GROUP BY ALL / ORDER BY ALL (SPARK-44120/SPARK-41231; the
    * analyst-ergonomics surface DuckDB popularized): every non-agg
    * select item becomes a group key, every output column an order
    * key — the query's MEANING is pinned by the resolver, so the gate
    * is that the sugar resolves to exactly the classic spelling's
    * result (the oracle runs the explicit form).
    */
  val q389GroupByAll: Q = (s, dir) => {
    T.lineitem(s, dir).createOrReplaceTempView("q389_lineitem")
    s.sql(
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
        |FROM q389_lineitem
        |GROUP BY ALL
        |ORDER BY ALL""".stripMargin)
  }

  val q389Sql: String =
    """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
      |  CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
      |FROM lineitem
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus, n, qty""".stripMargin

  /** q390 — SQL-DEFINED scalar function (SPARK-51096 SQL UDFs: CREATE
    * FUNCTION … RETURNS … RETURN expr — reusable business logic that
    * lives in the catalog, inlined by the analyzer into the plan, so
    * unlike a Scala UDF it stays inside codegen and pushdown): the
    * cent-exact margin expression defined ONCE as a function, used in
    * an aggregate; the oracle inlines the same expression.
    */
  val q390SqlUdf: Q = (s, dir) => {
    T.lineitem(s, dir).createOrReplaceTempView("q390_lineitem")
    s.sql(
      """CREATE OR REPLACE TEMPORARY FUNCTION q390_margin_cents(
        |  p DOUBLE, d DOUBLE) RETURNS BIGINT
        |RETURN CAST(FLOOR(100.0 * p * (1.0 - d)) AS BIGINT)""".stripMargin)
    s.sql(
      """SELECT l_returnflag,
        |  CAST(SUM(q390_margin_cents(l_extendedprice, l_discount))
        |    AS BIGINT) AS margin_cents,
        |  COUNT(*) AS n
        |FROM q390_lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin)
  }

  val q390Sql: String =
    """SELECT l_returnflag,
      |  CAST(SUM(CAST(FLOOR(100.0 * l_extendedprice * (1.0 - l_discount))
      |    AS BIGINT)) AS BIGINT) AS margin_cents,
      |  COUNT(*) AS n
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  /** q391 — PARAMETERIZED SQL with named markers (SPARK-44066
    * `spark.sql(text, args)`): the injection-safe plumbing every
    * service in front of a warehouse needs — the literal lives in the
    * args map, the text carries `:name` markers; the oracle inlines
    * the same constants.
    */
  val q391ParamSql: Q = (s, dir) => {
    T.orders(s, dir).createOrReplaceTempView("q391_orders")
    s.sql(
      """SELECT o_orderpriority, COUNT(*) AS n,
        |  CAST(SUM(CAST(FLOOR(100.0 * o_totalprice) AS BIGINT)) AS BIGINT)
        |    AS total_cents
        |FROM q391_orders
        |WHERE o_orderstatus = :status AND o_totalprice > :floorPrice
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
      Map("status" -> "F", "floorPrice" -> 1000))
  }

  val q391Sql: String =
    """SELECT o_orderpriority, COUNT(*) AS n,
      |  CAST(SUM(CAST(FLOOR(100.0 * o_totalprice) AS BIGINT)) AS BIGINT)
      |    AS total_cents
      |FROM orders
      |WHERE o_orderstatus = 'F' AND o_totalprice > 1000
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  /** q399 — named WINDOW clause (SQL:2003 F861; one definition, many
    * OVER references — the window-spec dedup a report with five
    * analytics per partition otherwise copy-pastes five times): both
    * a rank and a frame aggregate share one named spec, output
    * bounded to the top-3 rows per flag.
    */
  val q399WindowClause: Q = (s, dir) => {
    T.lineitem(s, dir).createOrReplaceTempView("q399_lineitem")
    s.sql(
      """SELECT * FROM (
        |  SELECT l_returnflag, l_orderkey, l_linenumber,
        |    RANK() OVER w AS rnk,
        |    CAST(SUM(CAST(l_quantity AS BIGINT)) OVER w AS BIGINT)
        |      AS run_qty
        |  FROM q399_lineitem
        |  WINDOW w AS (PARTITION BY l_returnflag
        |    ORDER BY l_quantity DESC, l_orderkey, l_linenumber))
        |WHERE rnk <= 3
        |ORDER BY l_returnflag, rnk, l_orderkey, l_linenumber""".stripMargin)
  }

  val q399Sql: String =
    """SELECT * FROM (
      |  SELECT l_returnflag, l_orderkey, l_linenumber,
      |    RANK() OVER w AS rnk,
      |    CAST(SUM(CAST(l_quantity AS BIGINT)) OVER w AS BIGINT)
      |      AS run_qty
      |  FROM lineitem
      |  WINDOW w AS (PARTITION BY l_returnflag
      |    ORDER BY l_quantity DESC, l_orderkey, l_linenumber))
      |WHERE rnk <= 3
      |ORDER BY l_returnflag, rnk, l_orderkey, l_linenumber""".stripMargin

  /** q400 — native SQL PIVOT / UNPIVOT round-trip (SPARK-38864: the
    * reshape sugar as PARSER surfaces — q87 pins the DataFrame API
    * melt/pivot; this pins the SQL spelling): lineitem flags pivot to
    * one column per return flag, then UNPIVOT melts them back, and
    * the round-trip must equal the plain GROUP BY the oracle runs —
    * DuckDB's PIVOT dialect differs, which is exactly why the oracle
    * speaks the classic spelling.
    */
  val q400PivotSql: Q = (s, dir) => {
    T.lineitem(s, dir).createOrReplaceTempView("q400_lineitem")
    s.sql(
      """SELECT l_linestatus, flag, CAST(qty AS BIGINT) AS qty FROM (
        |  SELECT * FROM (
        |    SELECT l_linestatus, l_returnflag,
        |      CAST(l_quantity AS BIGINT) AS q
        |    FROM q400_lineitem)
        |  PIVOT (SUM(q) FOR l_returnflag IN ('A' AS qa, 'N' AS qn,
        |    'R' AS qr)))
        |UNPIVOT (qty FOR flag IN (qa AS `A`, qn AS `N`, qr AS `R`))
        |ORDER BY l_linestatus, flag""".stripMargin)
  }

  val q400Sql: String =
    """SELECT l_linestatus, l_returnflag AS flag,
      |  CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
      |FROM lineitem
      |GROUP BY l_linestatus, l_returnflag
      |ORDER BY l_linestatus, flag""".stripMargin

  /** q407 — IDENTIFIER() templating (SPARK-43205: parameterize the
    * TABLE/COLUMN position, which `:param` markers cannot occupy —
    * the injection-safe form of every "same report over N tables"
    * template): table and group-column both arrive as IDENTIFIER
    * args; the oracle inlines them.
    */
  val q407Identifier: Q = (s, dir) => {
    T.orders(s, dir).createOrReplaceTempView("q407_orders")
    s.sql(
      """SELECT IDENTIFIER(:grpCol) AS grp, COUNT(*) AS n
        |FROM IDENTIFIER(:tbl)
        |GROUP BY IDENTIFIER(:grpCol)
        |ORDER BY grp""".stripMargin,
      Map("tbl" -> "q407_orders", "grpCol" -> "o_orderstatus"))
  }

  val q407Sql: String =
    """SELECT o_orderstatus AS grp, COUNT(*) AS n
      |FROM orders
      |GROUP BY o_orderstatus
      |ORDER BY grp""".stripMargin

  /** q411 — native `percentile_cont` WITHIN GROUP (SQL:2008 ordered-set
    * aggregate; SPARK-37691): the INTERPOLATING percentile both engines
    * define identically (idx = p·(n−1), linear between neighbors) —
    * pinned against DuckDB's native implementation rather than a
    * rank-arithmetic replay (q90 owns the exact-rank convention; this
    * row certifies the BUILTIN's semantics match across engines).
    * Micro-quantized to absorb last-ulp spelling differences.
    */
  val q411PercentileCont: Q = (s, dir) => {
    T.events(s, dir).createOrReplaceTempView("q411_events")
    s.sql(
      """SELECT event_type,
        |  CAST(FLOOR(1000000.0 * percentile_cont(0.5)
        |    WITHIN GROUP (ORDER BY CAST(FLOOR(100 * value) AS BIGINT)))
        |    AS BIGINT) AS p50_micro,
        |  CAST(FLOOR(1000000.0 * percentile_cont(0.9)
        |    WITHIN GROUP (ORDER BY CAST(FLOOR(100 * value) AS BIGINT)))
        |    AS BIGINT) AS p90_micro,
        |  CAST(FLOOR(1000000.0 * percentile_cont(0.99)
        |    WITHIN GROUP (ORDER BY CAST(FLOOR(100 * value) AS BIGINT)))
        |    AS BIGINT) AS p99_micro
        |FROM q411_events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin)
  }

  val q411Sql: String =
    """SELECT event_type,
      |  CAST(FLOOR(1000000.0 * percentile_cont(0.5)
      |    WITHIN GROUP (ORDER BY CAST(FLOOR(100 * value) AS BIGINT)))
      |    AS BIGINT) AS p50_micro,
      |  CAST(FLOOR(1000000.0 * percentile_cont(0.9)
      |    WITHIN GROUP (ORDER BY CAST(FLOOR(100 * value) AS BIGINT)))
      |    AS BIGINT) AS p90_micro,
      |  CAST(FLOOR(1000000.0 * percentile_cont(0.99)
      |    WITHIN GROUP (ORDER BY CAST(FLOOR(100 * value) AS BIGINT)))
      |    AS BIGINT) AS p99_micro
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** q418 — NULL-handling aggregate semantics gallery (the silent
    * cross-system divergence class: COUNT(*) vs COUNT(col), SUM over
    * an all-NULL group (NULL, not 0), MIN/MAX skipping NULLs,
    * COUNT(DISTINCT) excluding them — pinned value-for-value between
    * engines on a derived nullable column, including one group forced
    * all-NULL so the SUM-of-nothing convention is actually exercised).
    */
  val q418NullAggSemantics: Q = (s, dir) => {
    T.events(s, dir).createOrReplaceTempView("q418_events")
    s.sql(
      """SELECT event_type, COUNT(*) AS n_rows, COUNT(x) AS n_vals,
        |  COUNT(*) - COUNT(x) AS n_nulls,
        |  CAST(SUM(x) AS BIGINT) AS sum_x,
        |  MIN(x) AS min_x, MAX(x) AS max_x,
        |  COUNT(DISTINCT x) AS ndv_x
        |FROM (
        |  SELECT event_type,
        |    CASE WHEN event_type = 'error' OR value > 100 THEN NULL
        |         ELSE CAST(FLOOR(100 * value) AS BIGINT) END AS x
        |  FROM q418_events)
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin)
  }

  val q418Sql: String =
    """SELECT event_type, COUNT(*) AS n_rows, COUNT(x) AS n_vals,
      |  COUNT(*) - COUNT(x) AS n_nulls,
      |  CAST(SUM(x) AS BIGINT) AS sum_x,
      |  MIN(x) AS min_x, MAX(x) AS max_x,
      |  COUNT(DISTINCT x) AS ndv_x
      |FROM (
      |  SELECT event_type,
      |    CASE WHEN event_type = 'error' OR value > 100 THEN NULL
      |         ELSE CAST(FLOOR(100 * value) AS BIGINT) END AS x
      |  FROM events)
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** q419 — CALENDAR semantics gallery (the classic cross-system
    * discrepancy nest: month-end CLAMPING when adding months to a
    * Jan-31/leap-Feb date, ISO Monday week truncation, quarter
    * bucketing, day-of-week numbering): per distinct order month,
    * last_day, the +1-month month-end (clamped), the ISO week start
    * of the 15th, and the ISO day-of-week of the 1st — every value
    * compared cross-engine (Spark weekday() is Monday=0, DuckDB
    * isodow is Monday=1; the +1 normalization is pinned here).
    */
  val q419CalendarSemantics: Q = (s, dir) => {
    T.orders(s, dir).createOrReplaceTempView("q419_orders")
    s.sql(
      """SELECT DISTINCT
        |  date_trunc('month', o_orderdate) AS month_start,
        |  last_day(o_orderdate) AS month_end,
        |  add_months(last_day(o_orderdate), 1) AS next_month_end_clamped,
        |  CAST(date_trunc('week',
        |    date_add(CAST(date_trunc('month', o_orderdate) AS DATE), 14))
        |    AS DATE) AS week_start_of_15th,
        |  weekday(CAST(date_trunc('month', o_orderdate) AS DATE)) + 1
        |    AS isodow_of_first,
        |  quarter(o_orderdate) AS qtr
        |FROM q419_orders
        |ORDER BY month_start""".stripMargin)
      .selectExpr("CAST(month_start AS DATE) AS month_start", "month_end",
        "next_month_end_clamped", "week_start_of_15th", "isodow_of_first",
        "qtr")
  }

  val q419Sql: String =
    """SELECT DISTINCT
      |  CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
      |  last_day(o_orderdate) AS month_end,
      |  CAST(last_day(o_orderdate) + INTERVAL 1 MONTH AS DATE)
      |    AS next_month_end_clamped,
      |  CAST(date_trunc('week',
      |    CAST(date_trunc('month', o_orderdate) AS DATE) + 14) AS DATE)
      |    AS week_start_of_15th,
      |  CAST(isodow(CAST(date_trunc('month', o_orderdate) AS DATE))
      |    AS INTEGER) AS isodow_of_first,
      |  CAST(quarter(o_orderdate) AS INTEGER) AS qtr
      |FROM orders
      |ORDER BY month_start""".stripMargin

  /** q455 — the native TABLESAMPLE surface (the SQL sampling a 100 TB
    * exploration session leans on before any full scan), certified by
    * the q74 convention — sampling is engine-internal randomness, so
    * the oracle pins data-derivable values + a folded `ok`:
    *   - `TABLESAMPLE (p PERCENT) REPEATABLE (seed)` is per-row
    *     Bernoulli: the sampled COUNT must sit inside the 4σ binomial
    *     envelope, checked as the exact integer cross-multiplication
    *     (10·n₁ − n)² ≤ 144·n (p = 10% ⇒ σ² = 0.09n; both seeds of
    *     the gallery checked);
    *   - REPEATABLE means REPEATABLE: the same seed must return the
    *     IDENTICAL row set (symmetric key difference empty), not just
    *     the same count;
    *   - `TABLESAMPLE (k ROWS)` is exact: count == k.
    * Scale note: PERCENT sampling is a stateless per-row coin at the
    * scan (no shuffle, no global pass — the only sampling shape that
    * works at 100 TB); ROWS sampling is a limit (one-partition pull)
    * and is certified here as the SMALL-k convenience it is.
    */
  val q455Tablesample: Q = (s, dir) => {
    import s.implicits._
    T.orders(s, dir).createOrReplaceTempView("q455_orders")
    val nTotal = s.sql("SELECT COUNT(*) AS c FROM q455_orders")
      .head().getLong(0)
    def bern(seed: Int) = s.sql(
      s"""SELECT o_orderkey FROM q455_orders
         |TABLESAMPLE (10 PERCENT) REPEATABLE ($seed)""".stripMargin)
    val n1 = bern(42).count()
    val n2 = bern(7).count()
    // same seed ⇒ identical row set: two INDEPENDENT executions of the
    // seed-42 sample must have an empty difference in both directions
    val runA = PlanBridge.checkpointResetStats(bern(42))
    val runB = PlanBridge.checkpointResetStats(bern(42))
    val diff = runA.exceptAll(runB).count() + runB.exceptAll(runA).count()
    val nRows = s.sql(
      """SELECT o_orderkey FROM q455_orders TABLESAMPLE (500 ROWS)""")
      .count()
    def envelope(k: Long): Boolean = {
      val dev = 10L * k - nTotal
      dev * dev <= 144L * nTotal
    }
    val ok = nTotal > 0L && envelope(n1) && envelope(n2) &&
      diff == 0L && nRows == math.min(500L, nTotal)
    Seq((nTotal, math.min(500L, nTotal), ok))
      .toDF("n_total", "n_rows_sample", "ok")
  }

  val q455Sql: String =
    """SELECT CAST(COUNT(*) AS BIGINT) AS n_total,
      |  CAST(LEAST(500, COUNT(*)) AS BIGINT) AS n_rows_sample,
      |  TRUE AS ok
      |FROM orders""".stripMargin

  /** q465 hop bound — keeps the UNION ALL path expansion finite on a
    * cyclic graph (degree^hops rows from one seed; 4 is the honest
    * bound at the fixture densities and the portable spelling — the
    * deduplicating UNION mode changes engine row multiplicities).
    */
  val RecHops = 4

  /** q465 — RECURSIVE CTE surface (`WITH RECURSIVE`, SQL:1999's one
    * iteration construct — new in Spark 4.x, SPARK-24497): single-
    * source transitive closure with MIN-hop distances over the gear
    * co-purchase graph (the q239 edge list), the BOM-explosion /
    * reachability shape every warehouse eventually needs. The EXACT
    * SAME SQL text runs in both engines (anchor = the smallest node,
    * recursive step = frontier ⋈ edges bounded at [[RecHops]], final
    * MIN-hop aggregate), so the oracle certifies Spark's brand-new
    * recursion machinery against DuckDB's mature one value for value.
    *
    * Scale shape: each recursion level is one equi-join on the node
    * key (Spark plans levels as iterated joins — the Pregel shape);
    * the hop bound caps the blowup on cycles, and the closing
    * aggregate collapses path multiplicity. At 100 TB the same
    * closure runs as the q138-style bounded fixpoint; this row
    * certifies the declarative SURFACE.
    */
  val q465RecursiveCte: Q = (s, dir) => {
    import org.apache.spark.sql.functions._
    import s.implicits._
    val gl = T.lineitem(s, dir)
      .join(T.part(s, dir), $"l_partkey" === $"p_partkey")
      .filter($"p_name".like("%gear%"))
      .select($"l_orderkey", $"l_partkey")
    gl.as("a").join(gl.as("b"),
        $"a.l_orderkey" === $"b.l_orderkey" &&
          $"a.l_partkey" =!= $"b.l_partkey")
      .select($"a.l_partkey".as("u"), $"b.l_partkey".as("v"))
      .distinct()
      .createOrReplaceTempView("q465_edges")
    s.sql(recClosureSql("q465_edges"))
  }

  /** The shared recursive query text — `edges` is the table name. */
  private def recClosureSql(edges: String): String =
    s"""WITH RECURSIVE reach(node, hop) AS (
       |  SELECT CAST(MIN(u) AS BIGINT) AS node, 0 AS hop FROM $edges
       |  UNION ALL
       |  SELECT e.v AS node, r.hop + 1 AS hop
       |  FROM reach r JOIN $edges e ON e.u = r.node
       |  WHERE r.hop < $RecHops)
       |SELECT node, CAST(MIN(hop) AS BIGINT) AS min_hops
       |FROM reach GROUP BY node ORDER BY node""".stripMargin

  val q465Sql: String =
    s"""WITH RECURSIVE ed AS MATERIALIZED (
       |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
       |  FROM (SELECT l_orderkey, l_partkey FROM lineitem
       |        JOIN part ON l_partkey = p_partkey
       |        WHERE p_name LIKE '%gear%') a
       |  JOIN (SELECT l_orderkey, l_partkey FROM lineitem
       |        JOIN part ON l_partkey = p_partkey
       |        WHERE p_name LIKE '%gear%') b
       |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
       |reach(node, hop) AS (
       |  SELECT CAST(MIN(u) AS BIGINT) AS node, 0 AS hop FROM ed
       |  UNION ALL
       |  SELECT e.v AS node, r.hop + 1 AS hop
       |  FROM reach r JOIN ed e ON e.u = r.node
       |  WHERE r.hop < $RecHops)
       |SELECT node, CAST(MIN(hop) AS BIGINT) AS min_hops
       |FROM reach GROUP BY node ORDER BY node""".stripMargin

  /** q466 — SQL session VARIABLES (SPARK-46246 `DECLARE VARIABLE` /
    * `SET VAR`, new in Spark 4.x): the parameterization surface for
    * SQL-only pipelines (a threshold computed by one statement and
    * consumed by the next, no string templating). The variable is SET
    * from a scalar subquery (the p90 open-order price via exact
    * lower-rank selection) and consumed in a filter + aggregate; the
    * oracle inlines the identical selection as a scalar CTE.
    */
  val q466SessionVariable: Q = (s, dir) => {
    T.orders(s, dir).createOrReplaceTempView("q466_orders")
    s.sql("DECLARE OR REPLACE VARIABLE q466_floor BIGINT")
    s.sql(
      """SET VAR q466_floor = (
        |  SELECT cents FROM (
        |    SELECT CAST(FLOOR(100 * o_totalprice) AS BIGINT) AS cents,
        |      ROW_NUMBER() OVER (ORDER BY o_totalprice, o_orderkey) AS rn,
        |      COUNT(*) OVER () AS n
        |    FROM q466_orders) z
        |  WHERE rn = (9 * n) DIV 10)""".stripMargin)
    s.sql(
      """SELECT o_orderpriority, COUNT(*) AS n,
        |  CAST(MIN(CAST(FLOOR(100 * o_totalprice) AS BIGINT)) AS BIGINT)
        |    AS min_cents
        |FROM q466_orders
        |WHERE CAST(FLOOR(100 * o_totalprice) AS BIGINT) >= q466_floor
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin)
  }

  val q466Sql: String =
    """WITH f AS (
      |  SELECT cents FROM (
      |    SELECT CAST(FLOOR(100 * o_totalprice) AS BIGINT) AS cents,
      |      ROW_NUMBER() OVER (ORDER BY o_totalprice, o_orderkey) AS rn,
      |      COUNT(*) OVER () AS n
      |    FROM orders) z
      |  WHERE rn = (9 * n) // 10)
      |SELECT o_orderpriority, COUNT(*) AS n,
      |  CAST(MIN(CAST(FLOOR(100 * o_totalprice) AS BIGINT)) AS BIGINT)
      |    AS min_cents
      |FROM orders CROSS JOIN f
      |WHERE CAST(FLOOR(100 * o_totalprice) AS BIGINT) >= f.cents
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  /** q467 — LATERAL correlated subquery join (SPARK-34382): the
    * top-N-per-group spelling analysts write instead of a rank
    * window — the subquery re-executes per outer row with the
    * correlation pushed in. The IDENTICAL text runs in DuckDB
    * (LATERAL is SQL:1999), certifying Spark's decorrelation against
    * a reference implementation: per nation, its 2 cheapest suppliers.
    */
  val q467LateralJoin: Q = (s, dir) => {
    T.nation(s, dir).createOrReplaceTempView("q467_nation")
    T.supplier(s, dir).createOrReplaceTempView("q467_supplier")
    s.sql(lateralSql("q467_nation", "q467_supplier"))
  }

  private def lateralSql(nation: String, supplier: String): String =
    s"""SELECT n.n_name, t.s_name,
       |  CAST(FLOOR(100 * t.s_acctbal) AS BIGINT) AS bal_cents
       |FROM $nation n,
       |LATERAL (
       |  SELECT s_name, s_acctbal FROM $supplier s
       |  WHERE s.s_nationkey = n.n_nationkey
       |  ORDER BY s_acctbal, s_suppkey LIMIT 2) t
       |ORDER BY n.n_name, bal_cents, t.s_name""".stripMargin

  val q467Sql: String = lateralSql("nation", "supplier")

  val entries: Seq[Entry] = Seq(
    Entry("q466_session_variable", q466SessionVariable, q466Sql),
    Entry("q467_lateral_join", q467LateralJoin, q467Sql),
    Entry("q465_recursive_cte", q465RecursiveCte, q465Sql),
    Entry("q455_tablesample", q455Tablesample, q455Sql),
    Entry("q418_null_agg_semantics", q418NullAggSemantics, q418Sql),
    Entry("q419_calendar_semantics", q419CalendarSemantics, q419Sql),
    Entry("q411_percentile_cont", q411PercentileCont, q411Sql),
    Entry("q407_identifier", q407Identifier, q407Sql),
    Entry("q399_window_clause", q399WindowClause, q399Sql),
    Entry("q400_pivot_sql", q400PivotSql, q400Sql),
    Entry("q367_pipe_syntax", q367PipeSyntax, q367Sql),
    Entry("q368_collation_group", q368CollationGroup, q368Sql),
    Entry("q389_group_by_all", q389GroupByAll, q389Sql),
    Entry("q390_sql_udf", q390SqlUdf, q390Sql),
    Entry("q391_param_sql", q391ParamSql, q391Sql))
}
