package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, RangePartitioning}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.graftbridge.PlanBridge

import graft.core.Entry

/** Whole-operator custom plan #2: an ORDER-CARRYING scan over a
  * total-order layout (q130's terasort shape — every file owns a
  * disjoint key range, rows sorted within).
  *
  * A stock `spark.read.parquet(root).orderBy(keys)` throws the layout's
  * order away and pays the full sort machinery again — a range EXCHANGE
  * (every row shuffled) plus a per-partition SORT — because a
  * FileSourceScan neither aligns partitions to files (bin-packing
  * reorders splits by size) nor declares an output ordering. This
  * operator re-derives what the writer already guaranteed:
  *
  *   1. the parquet FOOTERS certify the layout — per-file min/max of
  *      the lead key must be pairwise disjoint (the q130 contract;
  *      REQUIRE'd at plan build, so a scattered directory cannot claim
  *      order);
  *   2. each file becomes one run: per-file single-partition scans,
  *      unioned in ascending footer-min order (UnionRDD concatenates
  *      partitions in child order, so the partition sequence IS the
  *      global order);
  *   3. [[SortedRunsExec]] declares `outputOrdering = keys` and
  *      `outputPartitioning = RangePartitioning(keys)` — the properties
  *      EnsureRequirements and RemoveRedundantSorts consume to elide
  *      the exchange and the sort. The exec itself moves no rows.
  *
  * The 100 TB claim this encodes: re-sorting a sorted table is pure
  * waste — shuffle IO linear in the table — while reading it as runs is
  * free. The same trick is what a merge-phase of a sort-based pipeline
  * does; here Catalyst's own machinery performs the elision once the
  * physical properties are stated honestly.
  */
object SortedRuns {

  /** Read a total-order parquet layout as an order-carrying DataFrame.
    * `sortCols` must lead with the range-partitioned column the footers
    * certify; the remaining columns extend the per-file sort the writer
    * applied (trusted within a certified file, like any layout
    * contract).
    */
  def read(s: SparkSession, root: String, sortCols: Seq[String]): DataFrame = {
    PlanBridge.addStrategy(s, SortedRunsStrategy)
    val lead = sortCols.head
    val byFile = graft.sources.ZOrderQueries
      .footerRangesByFile(s, root, lead).sortBy(_._2)
    require(byFile.nonEmpty, s"no parquet files under $root")
    byFile.zip(byFile.drop(1)).foreach { case ((fa, _, aMax), (fb, bMin, _)) =>
      require(aMax <= bMin,
        s"footer ranges of $fa and $fb overlap on $lead — " +
          "this directory is not a total-order layout")
    }
    val schema = s.read.parquet(root).schema
    val union = byFile.map { case (f, _, _) =>
      s.read.schema(schema).parquet(f)
    }.reduce(_ unionByName _)
    val child = PlanBridge.analyzed(union)
    def attr(c: String): Attribute =
      child.output.find(_.name == c).getOrElse(
        throw new IllegalArgumentException(
          s"column '$c' not in ${child.output.map(_.name)}"))
    val order = sortCols.map(c => SortOrder(attr(c), Ascending))
    PlanBridge.ofRows(s, SortedRunsNode(order, byFile.size, child))
  }

  import Entry.Q

  /** q184 — the sorted-runs scan as a driver row. Three contracts:
    *   - PLAN: an explicit global `orderBy` over the operator must
    *     compile to NEITHER an Exchange NOR a SortExec (REQUIRE'd on
    *     the executed plan) — the layout's order is reused, not repaid;
    *   - ORDER: the oracle's checksum is position-sensitive —
    *     Σ rn·event_id over the (user_id, ts, event_id) total order —
    *     so a single out-of-place row anywhere in the stream breaks the
    *     hash match (DuckDB derives rn with a window over the raw
    *     events; we derive it from the operator's claimed order);
    *   - CONTENT: row count parity, scanning through the layout.
    * The zipWithIndex job is the verification harness, not the
    * operator: positional indices need each partition's predecessor
    * counts, which is exactly what zipWithIndex's one extra count job
    * provides without any sort or single-point collect.
    */
  val q184SortedRuns: Q = (s, dir) => {
    import s.implicits._
    graft.sources.ZOrderQueries.ensureSortedLayout(s, dir)
    val ordered = read(s, graft.sources.ZOrderQueries.SortRoot,
        Seq("user_id", "ts", "event_id"))
      .orderBy($"user_id", $"ts", $"event_id")
    val plan = ordered.queryExecution.executedPlan.toString
    require(!plan.contains("Exchange"),
      s"global orderBy over sorted runs must not shuffle; plan:\n$plan")
    require(!plan.contains("Sort ["),
      s"global orderBy over sorted runs must not re-sort; plan:\n$plan")
    // mod-prime arithmetic keeps the checksum scale-stable: the raw
    // Σ rn·event_id grows ~n³ and would wrap a Long (silently on the
    // Spark fold, loudly on DuckDB's BIGINT cast) somewhere around
    // sf 1; every mod-P term and partial sum stays < P² < 2^63 on both
    // engines, and incremental (acc + t) % P equals the total mod P
    // for non-negative terms.
    val P = ChecksumPrime
    val checksum = ordered.select($"event_id").as[Long].rdd
      .zipWithIndex()
      .map { case (id, i) => (((i + 1L) % P) * (id % P)) % P }
      .fold(0L)((a, b) => (a + b) % P)
    val n = ordered.count()
    Seq((n, checksum)).toDF("n_rows", "ord_checksum")
  }

  val ChecksumPrime = 2000000011L

  val q184Sql: String =
    s"""WITH o AS (
       |  SELECT event_id,
       |    ROW_NUMBER() OVER (ORDER BY user_id, CAST(ts AS TIMESTAMP),
       |      event_id) AS rn
       |  FROM events)
       |SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       |  CAST(SUM(((rn % $ChecksumPrime) * (event_id % $ChecksumPrime))
       |           % $ChecksumPrime) % $ChecksumPrime AS BIGINT)
       |    AS ord_checksum
       |FROM o""".stripMargin

  /** q263 layout root: events ranged on user_id ALONE. q184's layout
    * ranges on (user_id, ts), so one user may legitimately straddle two
    * files — fine for ordering, fatal for exchange-free aggregation
    * (a straddled group double-counts). The aggregation claim needs
    * every group in exactly one file, which ranging on the group key
    * alone guarantees.
    */
  val UserSortRoot = graft.core.Fixtures.path("usersort_events")
  val UserSortFiles = 16

  private def ensureUserLayout(s: SparkSession, dir: String): Unit = {
    import org.apache.spark.sql.functions.col
    graft.core.Fixtures.once("usersort_events",
        s"usersort:$dir:$UserSortFiles:v1") {
      graft.core.Tables.events(s, dir)
        .repartitionByRange(UserSortFiles, col("user_id"))
        .sortWithinPartitions(col("user_id"))
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(UserSortRoot)
    }
  }

  /** q263 — EXCHANGE-FREE aggregation over the user-keyed total-order
    * layout: SortedRunsExec declares RangePartitioning(user_id), which
    * satisfies the aggregate's ClusteredDistribution(user_id), so
    * EnsureRequirements inserts NO exchange — the whole per-user
    * rollup runs in the scan's own partitions (and the presentation
    * orderBy rides the same RangePartitioning). At 100 TB this is the
    * payoff of paying the sort ONCE at write: every later group-by on
    * the layout key is shuffle-free, the aggregation equivalent of
    * q79's bucketed join. The plan REQUIRE makes the claim
    * load-bearing; footer certification is STRICT here (aMax < bMin —
    * touching ranges would mean a straddled group and a silent
    * double-count).
    */
  val q263SortedAgg: Q = (s, dir) => {
    import s.implicits._
    import org.apache.spark.sql.functions._
    ensureUserLayout(s, dir)
    val byFile = graft.sources.ZOrderQueries
      .footerRangesByFile(s, UserSortRoot, "user_id").sortBy(_._2)
    byFile.zip(byFile.drop(1)).foreach { case ((fa, _, aMax), (fb, bMin, _)) =>
      require(aMax < bMin,
        s"user_id ranges of $fa and $fb touch or overlap — a straddled " +
          "group would double-count in the exchange-free plan")
    }
    val agg = read(s, UserSortRoot, Seq("user_id"))
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_events"),
        sum(expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)"))
          .as("sum_cents"))
      .orderBy($"user_id")
    val plan = agg.queryExecution.executedPlan.toString
    require(!plan.contains("Exchange"),
      s"group-by on the layout key must not shuffle; plan:\n$plan")
    agg
  }

  val q263Sql: String =
    """SELECT user_id, COUNT(*) AS n_events,
      |  CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
      |    AS BIGINT) AS sum_cents
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("q184_sorted_runs", q184SortedRuns, q184Sql),
    Entry("q263_sorted_agg", q263SortedAgg, q263Sql))
}

/** Logical marker: `child` (the per-file union) produces `sortOrder`
  * with one run per partition; `numRuns` pins the expected partition
  * count so a split/merged file fails loudly instead of silently
  * breaking the order claim.
  */
case class SortedRunsNode(
    sortOrder: Seq[SortOrder],
    numRuns: Int,
    child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(newChild: LogicalPlan)
      : SortedRunsNode = copy(child = newChild)
}

object SortedRunsStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case SortedRunsNode(so, n, child) =>
      SortedRunsExec(so, n, planLater(child)) :: Nil
    case _ => Nil
  }
}

/** Pass-through exec that states the physical properties the layout
  * certificate earned. Declaring RangePartitioning satisfies
  * OrderedDistribution (no exchange before a global sort); the declared
  * outputOrdering then lets RemoveRedundantSorts drop the SortExec
  * itself. Zero data movement — doExecute only checks the
  * run-per-partition alignment.
  */
case class SortedRunsExec(
    sortOrder: Seq[SortOrder],
    numRuns: Int,
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output

  override def outputOrdering: Seq[SortOrder] = sortOrder

  override def outputPartitioning: Partitioning =
    RangePartitioning(sortOrder, child.outputPartitioning.numPartitions)

  override protected def doExecute(): RDD[InternalRow] = {
    val rdd = child.execute()
    require(rdd.getNumPartitions == numRuns,
      s"expected $numRuns single-file runs but the scan produced " +
        s"${rdd.getNumPartitions} partitions — a layout file exceeded " +
        "spark.sql.files.maxPartitionBytes (raise it) or was merged")
    rdd
  }

  override protected def withNewChildInternal(newChild: SparkPlan)
      : SortedRunsExec = copy(child = newChild)
}
