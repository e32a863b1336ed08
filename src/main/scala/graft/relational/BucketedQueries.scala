package graft.relational

import java.nio.file.Paths

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.core.{Entry, Fixtures, Tables => T, dsl, OracleDsl => O}
import graft.operators.SaltedJoin

/** The two explicit shuffle-management recipes from SURVEY.md §4 /
  * §2.b join rows, as oracle-checked queries:
  *
  *   - q79: **bucketed co-located join** — both fact tables written
  *     `bucketBy(16, orderkey).sortBy(orderkey)`, so the sort-merge join
  *     needs NO exchange and NO per-task sort on either side (the
  *     BucketedJoinSpec pins the plan: zero hashpartitioning exchanges).
  *     This is the q05 comment made real: at 100 TB, bucketing the two
  *     biggest tables on their join key once at write time removes the
  *     dominant shuffle from every subsequent join.
  *   - q80: **salted skew join** ([[SaltedJoin]]) — results identical to
  *     the plain join, verified against the unsalted SQL.
  */
object BucketedQueries {

  import Entry.Q

  val Buckets = 16

  private val built = scala.collection.concurrent.TrieMap[String, (String, String)]()

  /** Write orders+lineitem for `dir` as bucketed+sorted managed tables
    * (once per JVM per scale dir). Bucketed layout only exists through
    * the catalog — `saveAsTable`, not `save` — which is exactly how a
    * production warehouse would register them.
    */
  def ensureBucketed(s: SparkSession, dir: String): (String, String) =
    built.getOrElseUpdate(dir, {
      val sfx = Paths.get(dir).getFileName.toString.replaceAll("[^A-Za-z0-9_]", "_")
      val (o, l) = (s"orders_bkt_$sfx", s"lineitem_bkt_$sfx")
      val warehouse = java.net.URI.create(
        s.conf.get("spark.sql.warehouse.dir")).getPath
      Seq(o, l).foreach { t =>
        s.sql(s"DROP TABLE IF EXISTS $t")
        Fixtures.deleteTree(Paths.get(warehouse, t)) // leftovers from prior JVMs
      }
      T.orders(s, dir).write.format("parquet")
        .bucketBy(Buckets, "o_orderkey").sortBy("o_orderkey")
        .saveAsTable(o)
      T.lineitem(s, dir).write.format("parquet")
        .bucketBy(Buckets, "l_orderkey").sortBy("l_orderkey")
        .saveAsTable(l)
      (o, l)
    })

  /** Shuffle-free sort-merge join over the bucketed twins of q05's
    * fact-fact edge. The `merge` hint keeps the demo honest at test SF
    * (orders would otherwise be broadcast-small).
    */
  val q79BucketedJoin: Q = (s, dir) => {
    val (o, l) = ensureBucketed(s, dir)
    val orders = s.table(o)
    val li = s.table(l)
    li.join(orders.hint("merge"), li("l_orderkey") === orders("o_orderkey"))
      .groupBy(orders("o_orderstatus"))
      .agg(count(lit(1)).as("n_lines"),
        dsl.dsum(li("l_extendedprice")).as("sum_price"))
      .orderBy("o_orderstatus")
  }

  val q79Sql: String =
    s"""SELECT o_orderstatus, COUNT(*) AS n_lines,
       |  ${O.dsum("l_extendedprice")} AS sum_price
       |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |GROUP BY o_orderstatus
       |ORDER BY o_orderstatus""".stripMargin

  /** Salted join producing byte-identical results to the plain join —
    * the skew-mitigation recipe, oracle-verified.
    */
  val q80SaltedJoin: Q = (s, dir) => {
    import s.implicits._
    val joined = SaltedJoin.inner(
      T.lineitem(s, dir), T.orders(s, dir), "l_orderkey", "o_orderkey",
      saltCols = Seq($"l_orderkey", $"l_linenumber"), factor = 4)
    joined.groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n_lines"),
        dsl.dsum($"l_quantity").as("sum_qty"))
      .orderBy($"o_orderpriority")
  }

  val q80Sql: String =
    s"""SELECT o_orderpriority, COUNT(*) AS n_lines,
       |  ${O.dsum("l_quantity")} AS sum_qty
       |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |GROUP BY o_orderpriority
       |ORDER BY o_orderpriority""".stripMargin

  /** q315 salt fan-out. */
  val AggSaltFactor = 16

  /** q315 — SALTED TWO-PHASE AGGREGATION (the aggregation twin of
    * q80's salted join): when one group dominates a high-volume
    * groupBy, the final-aggregate task owning that key becomes the
    * straggler even though partial aggregation bounds the DATA volume
    * — salting splits each group into [[AggSaltFactor]] sub-groups for
    * phase 1 (straggler key's work spreads over 16 tasks), and phase 2
    * re-aggregates the tiny (groups × salt) frame. Correct for any
    * DECOMPOSABLE aggregate (counts/sums re-sum; the ratio finishes
    * after phase 2 — never average-of-averages, the classic salting
    * bug). The salt is a deterministic hash of the row's own keys
    * (q80's discipline), so the result is reproducible and
    * oracle-checkable against the plain one-phase spelling.
    *
    * Scale shape: phase 1 = one partial-aggregated groupBy on
    * (group, salt) — the skewed key's partials now land on 16
    * reducers; phase 2 runs on |groups|·salt rows. The oracle
    * computes the UNSALTED aggregate — equality proves the
    * decomposition exact, not just plausible.
    */
  val q315SaltedAgg: Q = (s, dir) => {
    import s.implicits._
    val salted = T.lineitem(s, dir)
      .select($"l_returnflag",
        expr("CAST(FLOOR(l_quantity) AS BIGINT)").as("q"),
        (hash($"l_orderkey", $"l_linenumber") % AggSaltFactor).as("salt"))
    val phase1 = salted.groupBy($"l_returnflag", $"salt")
      .agg(count(lit(1)).as("n"), sum($"q").as("sq"))
    phase1.groupBy($"l_returnflag")
      .agg(sum($"n").as("n_rows"), sum($"sq").as("sum_qty"))
      .select($"l_returnflag", $"n_rows", $"sum_qty",
        expr("CAST(sum_qty AS DOUBLE) / CAST(n_rows AS DOUBLE)")
          .as("avg_qty"))
      .orderBy($"l_returnflag")
  }

  val q315Sql: String =
    """SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  CAST(SUM(CAST(FLOOR(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty,
      |  CAST(SUM(CAST(FLOOR(l_quantity) AS BIGINT)) AS DOUBLE)
      |    / CAST(COUNT(*) AS DOUBLE) AS avg_qty
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  /** q276 — SHUFFLED HASH JOIN, the third physical join strategy under
    * an explicit plan pin (q04 pins broadcast, q79 pins exchange-free
    * sort-merge): the `shuffle_hash` hint builds a hash table from the
    * smaller (orders) side per partition and STREAMS lineitem through
    * it — no sort on either side, which beats sort-merge exactly when
    * one side is modest-but-over-broadcast-threshold and sorting the
    * big side would dominate. The REQUIRE proves the planner honored
    * the hint (AQE is free to pick SHJ on its own; the hint makes the
    * demo deterministic); the aggregate hash-matches the plain-join
    * oracle, so strategy choice changed runtime shape and nothing
    * else.
    *
    * Scale shape: both sides shuffle on the join key once (same
    * exchanges a sort-merge join would pay) but skip both sorts; the
    * build side must fit per-partition memory — the documented
    * trade that keeps SMJ the safe default and SHJ the targeted
    * optimization.
    */
  val q276ShuffleHashJoin: Q = (s, dir) => {
    import s.implicits._
    val joined = T.lineitem(s, dir)
      .join(T.orders(s, dir).hint("shuffle_hash"),
        $"l_orderkey" === $"o_orderkey")
      .groupBy($"o_orderstatus")
      .agg(count(lit(1)).as("n_lines"),
        dsl.dsum($"l_extendedprice").as("sum_price"))
      .orderBy($"o_orderstatus")
    val plan = joined.queryExecution.executedPlan.toString
    require(plan.contains("ShuffledHashJoin"),
      s"shuffle_hash hint not honored; plan:\n$plan")
    require(!plan.contains("SortMergeJoin") && !plan.contains("BroadcastHashJoin"),
      s"expected only the shuffled hash join; plan:\n$plan")
    joined
  }

  val q276Sql: String =
    s"""SELECT o_orderstatus, COUNT(*) AS n_lines,
       |  ${O.dsum("l_extendedprice")} AS sum_price
       |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |GROUP BY o_orderstatus
       |ORDER BY o_orderstatus""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("q79_bucketed_join", q79BucketedJoin, q79Sql),
    Entry("q80_salted_join", q80SaltedJoin, q80Sql),
    Entry("q315_salted_agg", q315SaltedAgg, q315Sql),
    Entry("q276_shuffle_hash_join", q276ShuffleHashJoin, q276Sql))
}
