package graft.relational

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.PlanBridge

import graft.core.{Entry, GraftSession, Tables => T}

/** Catalog-grade table statistics + co-occurrence analytics.
  *
  * q132 is the ANALYZE-style statistics collection every cost-based
  * planner (and every data-quality dashboard) runs over a warehouse
  * table: per-column row count, null count, exact NDV, min and max.
  * The reference serves per-directory listings whose freshness/shape is
  * its only "statistic" (cache.go:26-119); a Spark warehouse needs real
  * column stats to drive join ordering and broadcast decisions.
  *
  * q134 is market-basket co-occurrence — the "customers who bought X
  * also bought Y" pair mining that backs recommendation candidate
  * generation over order data.
  *
  * Scale shapes:
  *   - q132 issues ONE single-column aggregate per profiled column and
  *     unions the results. Each leg's parquet scan is pruned to exactly
  *     one column (`ReadSchema` shows a single field), so profiling N
  *     columns costs N cheap column-chunk reads that run as independent
  *     stages — the standard ANALYZE shape — instead of one wide scan
  *     carrying every column through a multi-distinct Expand, which at
  *     100 TB multiplies the shuffled row count by the number of
  *     distinct aggregates.
  *   - q134 pairs items WITHIN an order key only: the self-join is an
  *     equi-join on l_orderkey, so each task pairs its own co-located
  *     order groups (no cross-order blowup), and lines-per-order is
  *     bounded (≤7 in TPC-H-shaped data), so the pair explosion is a
  *     constant factor ≤ C(7,2). The heavy shuffle is the pair-count
  *     groupBy, which partial-aggregates map-side; top-k goes through
  *     TakeOrderedAndProject, never a global sort.
  */
object TableStatsQueries {

  import Entry.Q

  /** Columns profiled by q132 — one numeric key, one measure, one
    * low-cardinality flag, one timestamp.
    */
  private val ProfiledCols = Seq("l_orderkey", "l_quantity", "l_returnflag", "l_shipdate")

  /** q132 — per-column table statistics: count / nulls / exact NDV /
    * min / max, min-max stringified so one schema carries every column
    * type.
    */
  val q132TableStats: Q = (s, dir) => {
    val legs = ProfiledCols.map { c =>
      T.lineitem(s, dir).select(col(c))
        .agg(
          count(lit(1)).as("n_rows"),
          (count(lit(1)) - count(col(c))).as("n_null"),
          countDistinct(col(c)).as("n_distinct"),
          min(col(c)).cast("string").as("min_s"),
          max(col(c)).cast("string").as("max_s"))
        .select(lit(c).as("col_name"), col("n_rows"), col("n_null"),
          col("n_distinct"), col("min_s"), col("max_s"))
    }
    legs.reduce(_ unionByName _).orderBy(col("col_name"))
  }

  val q132Sql: String = ProfiledCols.map { c =>
    s"""SELECT '$c' AS col_name, COUNT(*) AS n_rows,
       |  COUNT(*) - COUNT($c) AS n_null,
       |  COUNT(DISTINCT $c) AS n_distinct,
       |  CAST(MIN($c) AS VARCHAR) AS min_s,
       |  CAST(MAX($c) AS VARCHAR) AS max_s
       |FROM lineitem""".stripMargin
  }.mkString("", "\nUNION ALL\n", "\nORDER BY col_name")

  /** q134 — part co-occurrence within orders: distinct (order, part)
    * pairs self-joined per order with p1 < p2, counted across orders,
    * pairs seen in ≥2 orders, top-100.
    */

  /** q334 — ASSOCIATION RULES with support/confidence/lift (Agrawal,
    * Imieliński & Swami SIGMOD'93; the step q134's raw co-occurrence
    * counts feed): baskets are orders over the 100 part-key residue
    * classes (the q329 item space — residue classes make rules dense
    * enough to rank), rules A→B with support(A,B) ≥ [[RuleMinSupport]]
    * baskets, emitted BOTH directions with
    *   confidence = sup(A,B)/sup(A),  lift = conf·N/sup(B),
    * ranked by (lift desc, A, B), top-50. Confidence and lift are the
    * two one-step divisions (spelled identically; counts exact).
    *
    * Scale shape: q134's bounded per-basket pairing (items² ceiling
    * per order) + one items-bounded singleton-support frame joined
    * twice — the items-squared rule frame never touches corpus rows
    * again. At 100 TB, baskets·items²/order is the canonical a-priori
    * candidate cost; the residue-class projection is what bounds it.
    */
  val RuleMinSupport = 20L
  val RuleTopK = 50

  val q334AssocRules: Q = (s, dir) => {
    import s.implicits._
    val ob = PlanBridge.checkpointResetStats(T.lineitem(s, dir)
      .select($"l_orderkey", ($"l_partkey" % 100).as("item")).distinct())
    val nBaskets = ob.select($"l_orderkey").distinct().count()
    val single = ob.groupBy($"item").agg(count(lit(1)).as("sup"))
    val pair = ob.as("a").join(ob.as("b"),
        $"a.l_orderkey" === $"b.l_orderkey" && $"a.item" < $"b.item")
      .groupBy($"a.item".as("i"), $"b.item".as("j"))
      .agg(count(lit(1)).as("sup_ab"))
      .filter($"sup_ab" >= RuleMinSupport)
    val rules = pair.select($"i".as("ante"), $"j".as("cons"), $"sup_ab")
      .unionByName(pair.select($"j".as("ante"), $"i".as("cons"), $"sup_ab"))
      .join(single.select($"item".as("ante"), $"sup".as("sup_a")), "ante")
      .join(single.select($"item".as("cons"), $"sup".as("sup_b")), "cons")
      .withColumn("confidence",
        expr("CAST(sup_ab AS DOUBLE) / CAST(sup_a AS DOUBLE)"))
      .withColumn("lift",
        expr(s"CAST(sup_ab AS DOUBLE) / CAST(sup_a AS DOUBLE) * $nBaskets.0 / CAST(sup_b AS DOUBLE)"))
    rules
      .orderBy($"lift".desc, $"ante".asc, $"cons".asc)
      .limit(RuleTopK)
      .select($"ante", $"cons", $"sup_ab", $"sup_a", $"sup_b",
        $"confidence", $"lift")
  }

  val q334Sql: String =
    s"""WITH ob AS (
       |  SELECT DISTINCT l_orderkey, l_partkey % 100 AS item FROM lineitem),
       |nb AS (SELECT COUNT(DISTINCT l_orderkey) AS n FROM ob),
       |single AS (SELECT item, COUNT(*) AS sup FROM ob GROUP BY item),
       |pair AS (
       |  SELECT a.item AS i, b.item AS j, COUNT(*) AS sup_ab
       |  FROM ob a JOIN ob b
       |    ON a.l_orderkey = b.l_orderkey AND a.item < b.item
       |  GROUP BY 1, 2 HAVING COUNT(*) >= $RuleMinSupport),
       |rules AS (
       |  SELECT i AS ante, j AS cons, sup_ab FROM pair
       |  UNION ALL SELECT j, i, sup_ab FROM pair),
       |scored AS (
       |  SELECT r.ante, r.cons, CAST(r.sup_ab AS BIGINT) AS sup_ab,
       |    CAST(sa.sup AS BIGINT) AS sup_a, CAST(sb.sup AS BIGINT) AS sup_b,
       |    CAST(r.sup_ab AS DOUBLE) / CAST(sa.sup AS DOUBLE) AS confidence,
       |    CAST(r.sup_ab AS DOUBLE) / CAST(sa.sup AS DOUBLE)
       |      * (SELECT CAST(n AS DOUBLE) FROM nb) / CAST(sb.sup AS DOUBLE) AS lift
       |  FROM rules r
       |  JOIN single sa ON r.ante = sa.item
       |  JOIN single sb ON r.cons = sb.item)
       |SELECT ante, cons, sup_ab, sup_a, sup_b, confidence, lift
       |FROM scored
       |ORDER BY lift DESC, ante ASC, cons ASC
       |LIMIT $RuleTopK""".stripMargin


  val q134Cooccurrence: Q = (s, dir) => {
    import s.implicits._
    val op = T.lineitem(s, dir)
      .select($"l_orderkey", $"l_partkey").distinct()
    op.as("a").join(op.as("b"),
        $"a.l_orderkey" === $"b.l_orderkey" && $"a.l_partkey" < $"b.l_partkey")
      .groupBy($"a.l_partkey".as("p1"), $"b.l_partkey".as("p2"))
      .agg(count(lit(1)).as("n_orders"))
      .filter($"n_orders" >= 2)
      .orderBy($"n_orders".desc, $"p1".asc, $"p2".asc)
      .limit(100)
  }

  val q134Sql: String =
    """WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
      |SELECT a.l_partkey AS p1, b.l_partkey AS p2, COUNT(*) AS n_orders
      |FROM op a JOIN op b
      |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      |GROUP BY p1, p2
      |HAVING COUNT(*) >= 2
      |ORDER BY n_orders DESC, p1 ASC, p2 ASC
      |LIMIT 100""".stripMargin

  /** q236 — item-item cosine similarity neighbor lists: the SCORING
    * stage of item-based collaborative filtering over q134's candidate
    * generation (Sarwar et al. WWW'01). Each item is the binary vector
    * of orders containing it; for co-purchased pairs,
    * `cos(i,j) = co / √(nᵢ·nⱼ)` — exactly two correctly-rounded IEEE
    * ops (one sqrt of an exact int64 product, one divide) over exact
    * integer counts, so the similarity DOUBLES hash-compare
    * cross-engine (the q89/q228 closed-form discipline). Top-3
    * neighbors per item, ties to the smaller part key.
    *
    * Scale shape: candidate pairs form only within co-located order
    * groups (q134's equi-join — never an all-pairs item join); degree
    * and similarity attach via two item-keyed joins (AQE-governed);
    * the neighbor cut is one row_number window over the PAIR frame,
    * which is already ≪ corpus size. The ≥2-order support floor is the
    * recsys noise gate, and it also bounds the undirected expansion.
    */
  val q236ItemSimilarity: Q = (s, dir) => {
    import s.implicits._
    // materialized once: it feeds the degree agg AND both self-join
    // sides — without the checkpoint Spark recomputes the distinct
    // (scan + shuffle) four times (measured in the formatted plan)
    val op = PlanBridge.checkpointResetStats(T.lineitem(s, dir)
      .select($"l_orderkey", $"l_partkey").distinct())
    val deg = op.groupBy($"l_partkey".as("p")).agg(count(lit(1)).as("n"))
    // materialized: the undirected expansion reads it twice
    val co = PlanBridge.checkpointResetStats(op.as("a").join(op.as("b"),
        $"a.l_orderkey" === $"b.l_orderkey" && $"a.l_partkey" < $"b.l_partkey")
      .groupBy($"a.l_partkey".as("p1"), $"b.l_partkey".as("p2"))
      .agg(count(lit(1)).as("c"))
      .filter($"c" >= 2))
    val und = co.select($"p1".as("item"), $"p2".as("nb"), $"c")
      .unionByName(co.select($"p2".as("item"), $"p1".as("nb"), $"c"))
    val scored = und
      .join(deg.select($"p".as("item"), $"n".as("n1")), "item")
      .join(deg.select($"p".as("nb"), $"n".as("n2")), "nb")
      .withColumn("sim",
        $"c".cast("double") / sqrt(($"n1" * $"n2").cast("double")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"item").orderBy($"sim".desc, $"nb".asc)
    scored.withColumn("rk", row_number().over(w))
      .filter($"rk" <= 3)
      .select($"item", $"nb", $"c".as("co"), $"sim", $"rk")
      .orderBy($"item", $"rk")
  }

  val q236Sql: String =
    """WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |deg AS (SELECT l_partkey AS p, COUNT(*) AS n FROM op GROUP BY 1),
      |co AS (SELECT a.l_partkey AS p1, b.l_partkey AS p2, COUNT(*) AS c
      |       FROM op a JOIN op b ON a.l_orderkey = b.l_orderkey
      |                          AND a.l_partkey < b.l_partkey
      |       GROUP BY 1, 2 HAVING COUNT(*) >= 2),
      |und AS (SELECT p1 AS item, p2 AS nb, c FROM co
      |        UNION ALL SELECT p2, p1, c FROM co),
      |scored AS (
      |  SELECT item, nb, c,
      |    CAST(c AS DOUBLE) / sqrt(CAST(d1.n * d2.n AS DOUBLE)) AS sim
      |  FROM und JOIN deg d1 ON und.item = d1.p
      |           JOIN deg d2 ON und.nb = d2.p)
      |SELECT item, nb, c AS co, sim, rk FROM (
      |  SELECT *, row_number() OVER (PARTITION BY item
      |            ORDER BY sim DESC, nb ASC) AS rk
      |  FROM scored) t
      |WHERE rk <= 3
      |ORDER BY item, rk""".stripMargin

  /** q244 — frequent 3-itemsets: the next lattice level above q134's
    * pairs (the Apriori step that matters in practice — triples are
    * where "bought together" becomes a bundle, and where naive
    * enumeration starts to hurt). Combinations are generated IN-GROUP
    * by a nested HOF over each order's sorted part array — C(n,3) per
    * order with n ≤ lines-per-order (bounded ≤7 in TPC-H-shaped data,
    * so ≤35 triples per order), never a three-way shuffle join; one
    * partial-aggregated groupBy counts triples, support ≥ 2, top-50.
    *
    * The oracle spells the same answer as the quadratic-free-hand
    * three-way self-join — fine at oracle scale, exactly what the
    * in-group generation avoids at 100 TB.
    */
  val q244Triples: Q = (s, dir) => {
    import s.implicits._
    T.lineitem(s, dir)
      .select($"l_orderkey", $"l_partkey").distinct()
      .groupBy($"l_orderkey")
      .agg(sort_array(collect_set($"l_partkey")).as("ps"))
      .select(explode(expr(
        """flatten(flatten(transform(ps, (x, i) ->
          |  transform(slice(ps, i + 2, size(ps)), (y, j) ->
          |    transform(slice(ps, i + j + 3, size(ps)), z ->
          |      struct(x AS p1, y AS p2, z AS p3))))))""".stripMargin))
        .as("t"))
      .groupBy($"t.p1".as("p1"), $"t.p2".as("p2"), $"t.p3".as("p3"))
      .agg(count(lit(1)).as("n_orders"))
      .filter($"n_orders" >= 2)
      .orderBy($"n_orders".desc, $"p1".asc, $"p2".asc, $"p3".asc)
      .limit(50)
  }

  val q244Sql: String =
    """WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
      |SELECT a.l_partkey AS p1, b.l_partkey AS p2, c.l_partkey AS p3,
      |  COUNT(*) AS n_orders
      |FROM op a
      |JOIN op b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      |JOIN op c ON b.l_orderkey = c.l_orderkey AND b.l_partkey < c.l_partkey
      |GROUP BY p1, p2, p3
      |HAVING COUNT(*) >= 2
      |ORDER BY n_orders DESC, p1 ASC, p2 ASC, p3 ASC
      |LIMIT 50""".stripMargin

  /** q245 — Benford first-digit audit over o_totalprice: the classic
    * fabricated-data / unit-mixing screen (naturally-occurring
    * multi-scale amounts follow log10(1 + 1/d); uniform or hand-typed
    * ones don't). Emits per digit the observed count and the
    * Benford-expected count in MICRO-quantized BIGINT (q230's
    * chi-square discipline: ⌊10⁶·N·log10(1+1/d)⌋ — the nine log10
    * literals are compile-time constants inlined identically into both
    * engines' SQL, so no runtime float log is ever compared), plus the
    * per-digit (o−e)² / e contribution micro-quantized the same way.
    *
    * Scale shape: first digit = one narrow projection — the amount is
    * cent-quantized to BIGINT first, so the string form is INTEGER
    * formatting (identical in both engines; a raw double→string cast
    * is engine-formatting territory) and its first character is the
    * first significant digit for the positive domain; one partial-agg
    * groupBy to ≤ 9 rows.
    */
  val q245BenfordAudit: Q = (s, dir) => {
    import s.implicits._
    val n = T.orders(s, dir).count() // one bounded scalar: the row count
    val digitExpr =
      "CAST(substring(CAST(CAST(FLOOR(100 * o_totalprice) AS BIGINT) AS STRING), 1, 1) AS INT)"
    val benford = (1 to 9).map(d =>
      (d, math.floor(1e6 * n * math.log10(1.0 + 1.0 / d)).toLong))
    val expected = benford.toDF("digit", "expected_micro")
    T.orders(s, dir)
      .select(expr(digitExpr).as("digit"))
      .groupBy($"digit").agg(count(lit(1)).as("observed"))
      .join(expected, "digit")
      .withColumn("chi_micro",
        expr("CAST(FLOOR(1e12 * observed * observed / expected_micro) AS BIGINT)" +
          " - 2000000 * observed + expected_micro"))
      .orderBy($"digit")
  }

  val q245Sql: String = {
    // the same nine compile-time constants, inlined as literals
    val lits = (1 to 9).map(d =>
      s"(${d}, CAST(FLOOR(1e6 * (SELECT COUNT(*) FROM orders) * ${math.log10(1.0 + 1.0 / d)}) AS BIGINT))")
      .mkString(", ")
    s"""WITH expected(digit, expected_micro) AS (VALUES $lits),
       |obs AS (
       |  SELECT CAST(substring(CAST(CAST(FLOOR(100 * o_totalprice) AS BIGINT)
       |    AS VARCHAR), 1, 1) AS INT) AS digit,
       |    COUNT(*) AS observed
       |  FROM orders GROUP BY 1)
       |SELECT obs.digit, observed, expected_micro,
       |  CAST(FLOOR(1e12 * observed * observed / expected_micro) AS BIGINT)
       |    - 2000000 * observed + expected_micro AS chi_micro
       |FROM obs JOIN expected ON obs.digit = expected.digit
       |ORDER BY obs.digit""".stripMargin
  }

  /** q246 — per-column value-CONCENTRATION profile: Herfindahl
    * numerator Σnᵢ² over each profiled column's value counts, emitted
    * with N and NDV as exact integers (Gini impurity = 1 − Σnᵢ²/N²,
    * normalized Herfindahl = Σnᵢ²/N² — both one consumer-side division
    * away, the q208/q211 exact num/den convention). The profiling
    * metric q132's NDV can't see: a column with NDV=1000 where one
    * value holds 99% of rows is a skew-join hazard and a
    * quality-drift signal; entropy would say the same thing but p·log p
    * never hash-matches cross-engine, while Σnᵢ² is a BIGINT.
    *
    * Scale shape: one partial-aggregated count per column + one
    * Σn² re-aggregate over the (already ≤NDV-sized) count frame,
    * unioned across the profiled columns — q132's one-leg-per-column
    * shape. Int64 budget: Σnᵢ² ≤ N², so past ~3·10⁹ rows a constant
    * column overflows — at that scale the count frame's counts are
    * pre-scaled (divide by 2ᵏ) or summed as DECIMAL; scaladoc'd rather
    * than silently wrong.
    */
  val q246ConcentrationProfile: Q = (s, dir) => {
    val legs = ProfiledCols.map { c =>
      T.lineitem(s, dir).select(col(c))
        .groupBy(col(c)).agg(count(lit(1)).as("n_i"))
        .agg(
          sum(col("n_i")).as("n_rows"),
          count(lit(1)).as("n_distinct"),
          sum(col("n_i") * col("n_i")).as("sum_sq"))
        .select(lit(c).as("col_name"), col("n_rows"), col("n_distinct"),
          col("sum_sq"))
    }
    legs.reduce(_ unionByName _).orderBy(col("col_name"))
  }

  val q246Sql: String = ProfiledCols.map { c =>
    s"""SELECT '$c' AS col_name,
       |  CAST(SUM(n_i) AS BIGINT) AS n_rows,
       |  COUNT(*) AS n_distinct,
       |  CAST(SUM(n_i * n_i) AS BIGINT) AS sum_sq
       |FROM (SELECT COUNT(*) AS n_i FROM lineitem GROUP BY $c) t""".stripMargin
  }.mkString("", "\nUNION ALL\n", "\nORDER BY col_name")

  /** q154 — histogram bin width in quantized cents (50.00 units). */
  val HistBinQ = 5000L

  /** q154 — equal-width value histogram per event type (the profiling
    * companion to q132's column stats): per (event_type, bin), row
    * count and exact decimal value mass. Binning runs on the QUANTIZED
    * integer (`floor(100·value)` then integer division by binQ) so the
    * bin id is the same BIGINT in both engines — a raw `floor(value/50)`
    * would sit on the float edge-rounding of each engine's division.
    * Both engines' integer division TRUNCATES toward zero (Spark `div`
    * and DuckDB `//` alike — verified empirically: `-7 // 2 = -3` in
    * DuckDB), so the bare `div` agrees across the whole BIGINT domain
    * including negatives; negative values share bin 0's width with the
    * positive side (the truncation-binning convention, documented
    * rather than adjusted away, since adjusting only ONE side is the
    * actual cross-engine hazard).
    *
    * Scale shape: one narrow projection + one partial-aggregated
    * groupBy to ≤ |types|·|bins| rows — the map-side combine does all
    * the work; nothing else shuffles.
    */
  val q154ValueHistogram: Q = (s, dir) => {
    import s.implicits._
    T.events(s, dir)
      .withColumn("q", expr("CAST(FLOOR(100 * value) AS BIGINT)"))
      .select($"event_type", $"value",
        expr(s"q div $HistBinQ").as("bin"))
      .groupBy($"event_type", $"bin")
      .agg(count(lit(1)).as("n"), graft.core.dsl.dsum($"value").as("mass"))
      .orderBy($"event_type", $"bin")
  }

  val q154Sql: String =
    s"""SELECT event_type,
       |  CAST(FLOOR(100 * value) AS BIGINT) // $HistBinQ AS bin,
       |  COUNT(*) AS n,
       |  ${graft.core.OracleDsl.dsum("value")} AS mass
       |FROM events
       |GROUP BY event_type, bin
       |ORDER BY event_type, bin""".stripMargin

  /** Catalog tables + ANALYZE for the CBO demo — the loop-closer the
    * q132 scaladoc promises: statistics a cost-based planner CONSUMES,
    * not just reports. External parquet tables point at the dataset's
    * own files (no copy); ANALYZE TABLE … COMPUTE STATISTICS FOR
    * COLUMNS persists rowCount/size plus per-column NDV/min/max into
    * the session catalog, which is what `spark.sql.cbo.enabled` +
    * `joinReorder.enabled` read to re-order joins by estimated size.
    * Temp views can't carry catalog stats, hence real tables here.
    */
  /** Dataset dirs whose cbo_ tables + stats are already in this
    * session's catalog — the in-catalog analogue of the marker-file
    * fixture caches (ensureLayout etc.): bench reps must time the JOIN,
    * not 3 DDLs + 3 ANALYZE table scans per run.
    */
  private val cboPrepared =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  def prepareCboTables(s: SparkSession, dir: String): Unit = {
    if (cboPrepared.contains(dir)) return
    // o_orderdate is deliberately NOT analyzed: it reads as
    // TimestampNTZ and Spark 4.1's FilterEstimation has no case for
    // that type — a column-stat on it makes optimization throw
    // (MatchError: TimestampNTZType). Without the stat the date
    // predicate falls back to default selectivity, which is enough:
    // the reorder signal comes from row counts + the s_acctbal stat.
    Seq(
      "lineitem" -> "l_orderkey, l_suppkey, l_quantity",
      "orders" -> "o_orderkey",
      "supplier" -> "s_suppkey, s_acctbal, s_nationkey",
    ).foreach { case (t, cols) =>
      s.sql(s"DROP TABLE IF EXISTS cbo_$t")
      s.sql(s"CREATE TABLE cbo_$t USING parquet LOCATION '$dir/$t.parquet'")
      s.sql(s"ANALYZE TABLE cbo_$t COMPUTE STATISTICS FOR COLUMNS $cols")
    }
    cboPrepared.add(dir)
  }

  /** CBO + join reorder ON, for `GraftSession.withConfs` — q183 must
    * not leave CBO enabled for every later query in the session.
    */
  val CboConfs: Seq[(String, String)] = Seq(
    "spark.sql.cbo.enabled" -> "true",
    "spark.sql.cbo.joinReorder.enabled" -> "true")

  /** The join written in a deliberately BAD order: the 600k-row fact
    * table joins the 15k-row orders table FIRST as stated, with the
    * highly selective supplier filter last. With stats + CBO the
    * reorderer flips it (supplier edge first); CboJoinReorderSpec pins
    * the flip and that plans differ only in order, never in result.
    */
  val CboJoinSql: String =
    """SELECT s_nationkey,
      |  CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty,
      |  COUNT(*) AS n_lines
      |FROM cbo_lineitem
      |JOIN cbo_orders ON l_orderkey = o_orderkey
      |JOIN cbo_supplier ON l_suppkey = s_suppkey
      |WHERE s_acctbal < 1000
      |  AND o_orderdate >= TIMESTAMP '1996-01-01'
      |GROUP BY s_nationkey
      |ORDER BY s_nationkey""".stripMargin

  /** q183 — the CBO-reordered join as a driver row: same answer as the
    * statistics-blind plan (the oracle replays it over the raw files),
    * reached through the stats-driven join order. `withConfs`
    * materializes the result inside the CBO scope.
    */
  val q183CboJoinReorder: Q = (s, dir) => {
    prepareCboTables(s, dir)
    GraftSession.withConfs(s, CboConfs: _*)(s.sql(CboJoinSql))
  }

  val q183Sql: String = CboJoinSql.replace("cbo_", "")

  /** q312 report size and edge support floor. */
  val RhTopK = 10
  val RhSupportMin = 2
  /** Item-kNN neighbor cap: each item keeps only its [[RhNeighbors]]
    * strongest co-occurrence partners (count desc, part asc) — the
    * top-N item-based CF practice (Sarwar et al. WWW'01; Deshpande &
    * Karypis TOIS'04): production item-item models are ALWAYS
    * truncated, and the cap is what bounds the scoring fan-out to
    * |history|·M instead of |history|·deg(item). Measured at sf0.1:
    * the uncapped matrix scored 21M (cust, cand) pairs in 8.2 s; the
    * cap keeps the model |items|·M and cut the whole query ~2×. */
  val RhNeighbors = 16

  /** q312 — RECOMMENDER EVALUATION by leave-last-out holdout: hold
    * out each customer's LAST purchased part (by ship order), train
    * the item-item co-occurrence model on everything else, and
    * measure hit-rate@[[RhTopK]] — whether the held-out item appears
    * in the customer's top-k recommendations. The eval harness every
    * recsys pipeline runs (q236 builds neighbor lists; this row says
    * whether they PREDICT), completing the train/predict/evaluate
    * trio next to q250 (classifier) and q305 (sequence baseline).
    *
    * Proper protocol: the model NEVER sees a customer's held-out
    * part — co-occurrence counts come from the train split only, so
    * the hit rate is out-of-sample. Scoring is the integer CO-COUNT
    * variant of item-based CF (score(cand) = Σ_{i ∈ train(u)}
    * co(i, cand)) — deliberately not the cosine sum, whose
    * float-accumulation order the cross-engine discipline forbids in
    * a hashed column; ranks tie to the smaller part key. Customer
    * baskets (not order baskets — q134/q236's unit) so a user's whole
    * history recommends.
    *
    * Scale shape: the holdout is one keyed window argmax; train pairs
    * form per customer (bounded by per-customer distinct parts, the
    * q284 discipline); scoring is one equi-join of the customer's
    * train items against the undirected model + one partial-agg SUM;
    * the verdict is a |customers|-row frame collapsed to one.
    */
  val q312RecsysHoldout: Q = (s, dir) => {
    import s.implicits._
    // r17 optimization (guide §2.4 "two operations keyed the same way
    // share one exchange"): everything downstream of the base join —
    // the holdout window, the (cust, part) distinct, the train join,
    // the co-occurrence self-join, the scoring groupBy(cust, cand),
    // the ownership anti-join and the final top-k — is keyed by cust
    // (or a key set containing it), so ONE repartition($"cust") here
    // establishes the partitioning every stage reuses
    // (HashPartitioning(cust) satisfies ClusteredDistribution of any
    // superset key, and checkpointKeepHashPartitioning preserves it
    // through the checkpoint — plain localCheckpoint drops it under
    // AQE). r18 (verdict item 2 + advice): the r17 broadcast(und)/
    // broadcast(train) hints are GONE — both frames grow with data
    // size (train is every distinct (cust, part) pair, und is
    // RhNeighbors·|items|), so a forced broadcast explodes at scale
    // (guide §3.1: broadcast only a side that provably fits) and the
    // driver's r17 protocol measured the broadcast-build-heavy shape
    // at 20.6 s cold / 0.24 8-vs-32-core scaling. AQE + stats now
    // pick the strategy per scale; the kept cust clustering still
    // makes the scoring groupBy and the anti-join exchange-reuse on
    // the cust side.
    val nPart = s.sparkContext.defaultParallelism
    val li = org.apache.spark.sql.graftbridge.PlanBridge
      .checkpointKeepHashPartitioning(
        T.lineitem(s, dir)
          .join(T.orders(s, dir), $"l_orderkey" === $"o_orderkey")
          .select($"o_custkey".as("cust"), $"l_partkey".as("part"),
            $"o_orderdate", $"l_orderkey", $"l_linenumber"),
        Seq("cust"), nPart) // feeds the holdout window AND the basket set
    val wLast = org.apache.spark.sql.expressions.Window
      .partitionBy($"cust")
      .orderBy($"o_orderdate".desc, $"l_orderkey".desc, $"l_linenumber".desc,
        $"part".desc) // (orderkey, linenumber) is NOT unique in the fixture
    val test = li.withColumn("rn", row_number().over(wLast))
      .filter($"rn" === 1).select($"cust", $"part".as("test_part"))
    val cp = li.select($"cust", $"part").distinct()
    val train = org.apache.spark.sql.graftbridge.PlanBridge
      .checkpointKeepHashPartitioning(
        cp.join(test, "cust")
          .filter($"part" =!= $"test_part")
          .select($"cust", $"part"),
        Seq("cust"), nPart) // feeds the pair join (twice) and the scoring
    // read twice by the undirected expansion; checkpointResetStats
    // (not bare localCheckpoint) so the planner sees the MEASURED size
    // and can auto-broadcast the ≤RhNeighbors-per-item model exactly
    // when it truly fits the threshold — the scale-adaptive replacement
    // for r17's unconditional broadcast hint
    val co = org.apache.spark.sql.graftbridge.PlanBridge
      .checkpointResetStats(
        train.as("a").join(train.as("b"),
            $"a.cust" === $"b.cust" && $"a.part" < $"b.part")
          .groupBy($"a.part".as("p1"), $"b.part".as("p2"))
          .agg(count(lit(1)).as("c"))
          .filter($"c" >= RhSupportMin))
    val undFull = co.select($"p1".as("item"), $"p2".as("cand"), $"c")
      .unionByName(co.select($"p2".as("item"), $"p1".as("cand"), $"c"))
    // item-kNN truncation via the bounded-heap exec (no per-item sort)
    val und = graft.plans.TopK.perGroup(undFull, Seq("item"),
      Seq("c" -> false, "cand" -> true), RhNeighbors)
    val scores = train.join(und, $"part" === $"item")
      .groupBy($"cust", $"cand").agg(sum($"c").as("score"))
      // never recommend something already in the TRAIN history — the
      // held-out part must stay recommendable (filtering on full
      // ownership would exclude the answer and pin the hit rate to 0)
      .join(train.select($"cust", $"part".as("cand")),
        Seq("cust", "cand"), "left_anti")
    val top = graft.plans.TopK.perGroup(scores, Seq("cust"),
      Seq("score" -> false, "cand" -> true), RhTopK)
    val evald = train.select($"cust").distinct()
    val hits = top.join(test, "cust")
      .filter($"cand" === $"test_part")
      .select($"cust").distinct()
    evald.agg(count(lit(1)).as("n_eval"))
      .crossJoin(hits.agg(count(lit(1)).as("n_hit")))
  }

  val q312Sql: String =
    s"""WITH li AS (
       |  SELECT o_custkey AS cust, l_partkey AS part,
       |    o_orderdate, l_orderkey, l_linenumber
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |test AS (
       |  SELECT cust, part AS test_part FROM (
       |    SELECT cust, part, ROW_NUMBER() OVER (PARTITION BY cust
       |      ORDER BY o_orderdate DESC, l_orderkey DESC, l_linenumber DESC,
       |        part DESC)
       |      AS rn
       |    FROM li) WHERE rn = 1),
       |cp AS (SELECT DISTINCT cust, part FROM li),
       |train AS MATERIALIZED (
       |  SELECT cp.cust, cp.part
       |  FROM cp JOIN test ON cp.cust = test.cust
       |  WHERE cp.part <> test.test_part),
       |co AS MATERIALIZED (
       |  SELECT a.part AS p1, b.part AS p2, COUNT(*) AS c
       |  FROM train a JOIN train b
       |    ON a.cust = b.cust AND a.part < b.part
       |  GROUP BY 1, 2 HAVING COUNT(*) >= $RhSupportMin),
       |und AS (
       |  SELECT item, cand, c FROM (
       |    SELECT item, cand, c, ROW_NUMBER() OVER (PARTITION BY item
       |      ORDER BY c DESC, cand ASC) AS nrk
       |    FROM (SELECT p1 AS item, p2 AS cand, c FROM co
       |          UNION ALL SELECT p2, p1, c FROM co))
       |  WHERE nrk <= $RhNeighbors),
       |scores AS (
       |  SELECT t.cust, und.cand, CAST(SUM(c) AS BIGINT) AS score
       |  FROM train t JOIN und ON t.part = und.item
       |  GROUP BY t.cust, und.cand),
       |fresh AS (
       |  SELECT s.* FROM scores s
       |  LEFT JOIN train tr ON tr.cust = s.cust AND tr.part = s.cand
       |  WHERE tr.part IS NULL),
       |top AS (
       |  SELECT cust, cand FROM (
       |    SELECT cust, cand, ROW_NUMBER() OVER (PARTITION BY cust
       |      ORDER BY score DESC, cand ASC) AS rk
       |    FROM fresh) WHERE rk <= $RhTopK)
       |SELECT
       |  (SELECT COUNT(DISTINCT cust) FROM train) AS n_eval,
       |  (SELECT COUNT(DISTINCT top.cust)
       |   FROM top JOIN test ON top.cust = test.cust
       |   WHERE top.cand = test.test_part) AS n_hit""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("q132_table_stats", q132TableStats, q132Sql),
    Entry("q183_cbo_join_reorder", q183CboJoinReorder, q183Sql),
    Entry("q134_cooccurrence", q134Cooccurrence, q134Sql),
    Entry("q334_assoc_rules", q334AssocRules, q334Sql),
    Entry("q154_value_histogram", q154ValueHistogram, q154Sql),
    Entry("q236_item_similarity", q236ItemSimilarity, q236Sql),
    Entry("q244_triple_itemsets", q244Triples, q244Sql),
    Entry("q245_benford_audit", q245BenfordAudit, q245Sql),
    Entry("q312_recsys_holdout", q312RecsysHoldout, q312Sql),
    Entry("q246_concentration_profile", q246ConcentrationProfile, q246Sql))
}
