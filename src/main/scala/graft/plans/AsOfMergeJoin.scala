package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeReference, Expression, GenericInternalRow, JoinedRow, RowOrdering, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.graftbridge.PlanBridge

import graft.core.Entry

/** Whole-operator custom plan #3: the as-of join as a NATIVE merge
  * operator (after the top-k heap, TopKPerGroup, and the order-carrying
  * scan, SortedRuns — this one is the missing JOIN leg).
  *
  * The composition spelling ([[graft.operators.AsOfJoin]], q31)
  * unions both sides into one padded schema and runs
  * `last(payload, ignoreNulls)` over a per-key window. That is
  * semantically exact and one-shuffle, but physically it pays for its
  * generality three times: (1) every row is WIDENED to the union
  * schema (left rows carry null right-payload structs and vice versa)
  * before the exchange, so the shuffle moves |L|+|R| rows of the FAT
  * schema; (2) WindowExec buffers/sorts the union; (3) the left side
  * is re-filtered back out afterwards. A dedicated merge exec ships
  * each side in its own schema, sorts each side only as (key, time) —
  * exactly what EnsureRequirements would give a sort-merge join — and
  * resolves matches in one forward walk with O(1) state (the latest
  * right row per key): no union blow-up, no window buffer, no
  * post-filter. Measured on a join-dominated synthetic (2M left × 1M
  * right, 100k keys, multi-column payloads, local[32], warm;
  * BASELINE.md, "Appendix: measurements from the retired probe
  * mains"): composition 0.74–0.89 s, native 0.52–0.58 s — ~1.4×; on
  * q31's own fixture the signups-dedup aggregate dominates both plans
  * and the spellings tie, which is why the bench carries both rows.
  *
  * Semantics: backward as-of — for each left row, the LATEST right row
  * with equal keys and rightTime ≤ leftTime. Ties on (key, rightTime)
  * must be pre-deduped (q31's contract). Keys compare by ordering, so
  * NULL keys group together (null-safe, q214's convention) — as-of
  * sources with nullable keys should filter them upstream. Time
  * columns must share a data type on both sides.
  *
  * Scale shape: `requiredChildDistribution` asks for the two
  * ClusteredDistributions a sort-merge join would — EnsureRequirements
  * co-partitions the sides (reusing any compatible existing exchange)
  * — and `requiredChildOrdering` delegates the (key, time) sort to
  * SortExec's spillable UnsafeExternalSorter, so the operator itself
  * holds ONE buffered right row and one matched row per key at a time:
  * constant memory, no spill path of its own to get wrong.
  */
case class AsOfJoinNode(
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTime: Expression,
    rightTime: Expression,
    isOuter: Boolean,
    left: LogicalPlan,
    right: LogicalPlan) extends BinaryNode {
  require(leftKeys.nonEmpty && leftKeys.length == rightKeys.length,
    "as-of join needs matching key lists")
  require(leftKeys.map(_.dataType) == rightKeys.map(_.dataType),
    "as-of join key types must match pairwise")
  require(leftTime.dataType == rightTime.dataType,
    s"as-of time types differ: ${leftTime.dataType} vs ${rightTime.dataType}")

  override def output: Seq[Attribute] =
    left.output ++ (if (isOuter) right.output.map(_.withNullability(true))
                    else right.output)

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinNode =
    copy(left = newLeft, right = newRight)
}

/** Plans [[AsOfJoinNode]] into [[AsOfMergeJoinExec]]. */
object AsOfStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinNode(lk, rk, lt, rt, outer, l, r) =>
      AsOfMergeJoinExec(lk, rk, lt, rt, outer,
        planLater(l), planLater(r)) :: Nil
    case _ => Nil
  }
}

case class AsOfMergeJoinExec(
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTime: Expression,
    rightTime: Expression,
    isOuter: Boolean,
    left: SparkPlan,
    right: SparkPlan) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ (if (isOuter) right.output.map(_.withNullability(true))
                    else right.output)

  /** The same pair a sort-merge join requires: EnsureRequirements
    * hash-co-partitions the sides on the keys (eliding exchanges that
    * already match).
    */
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKeys) :: ClusteredDistribution(rightKeys) :: Nil

  /** (keys…, time) ascending on both sides — SortExec (spillable) does
    * the heavy lifting; the merge walk below is then single-pass.
    */
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    leftKeys.map(SortOrder(_, Ascending)) :+ SortOrder(leftTime, Ascending),
    rightKeys.map(SortOrder(_, Ascending)) :+ SortOrder(rightTime, Ascending))

  override protected def doExecute(): RDD[InternalRow] = {
    val lOut = left.output
    val rOut = right.output
    val (lk, rk, lt, rt, outer) =
      (leftKeys, rightKeys, leftTime, rightTime, isOuter)
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val lKeyProj = UnsafeProjection.create(lk, lOut)
      val rKeyProj = UnsafeProjection.create(rk, rOut)
      val lTimeProj = UnsafeProjection.create(Seq(lt), lOut)
      val rTimeProj = UnsafeProjection.create(Seq(rt), rOut)
      // orderings over the PROJECTED single-purpose schemas (key tuple /
      // time scalar) — valid across sides because the types match
      val keyAttrs = lk.zipWithIndex.map { case (e, i) =>
        AttributeReference(s"k$i", e.dataType, nullable = true)()
      }
      val keyOrd = RowOrdering.create(
        keyAttrs.map(SortOrder(_, Ascending)), keyAttrs)
      val timeAttr = AttributeReference("t", lt.dataType, nullable = true)()
      val timeOrd = RowOrdering.create(
        Seq(SortOrder(timeAttr, Ascending)), Seq(timeAttr))

      val rBuf = rIter.buffered
      val joined = new JoinedRow
      val nullRight = new GenericInternalRow(rOut.length)
      var matchedKey: InternalRow = null // copies — survive buffer reuse
      var matchedRow: InternalRow = null

      lIter.flatMap { l =>
        val lKey = lKeyProj(l)
        val lTime = lTimeProj(l).copy()
        var done = false
        while (!done && rBuf.hasNext) {
          val r = rBuf.head
          val c = keyOrd.compare(rKeyProj(r), lKey)
          if (c > 0) done = true // right cursor is ahead of this key
          else if (c < 0) {
            rBuf.next() // stale key: discard, invalidate any match
            matchedKey = null
            matchedRow = null
          } else if (timeOrd.compare(rTimeProj(r), lTime) <= 0) {
            // same key, visible time: later rows only improve the match
            matchedRow = rBuf.next().copy()
            matchedKey = lKey.copy()
          } else done = true // same key but in the left row's future
        }
        val hit = matchedRow != null && matchedKey != null &&
          keyOrd.compare(matchedKey, lKey) == 0
        if (hit) Iterator.single[InternalRow](joined(l, matchedRow))
        else if (outer) Iterator.single[InternalRow](joined(l, nullRight))
        else Iterator.empty
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfMergeJoinExec =
    copy(left = newLeft, right = newRight)
}

/** Public API mirroring [[graft.operators.AsOfJoin.backward]]'s
  * signature and output contract (left columns + right payload), so the
  * two spellings are drop-in interchangeable — the parity property
  * AsOfMergeJoinSpec leans on.
  */
object AsOfMergeJoin {

  def backward(left: DataFrame, right: DataFrame, keys: Seq[String],
      leftTime: String, rightTime: String,
      keepUnmatched: Boolean = false): DataFrame = {
    val spark = left.sparkSession
    PlanBridge.addStrategy(spark, AsOfStrategy)
    val lPlan = PlanBridge.analyzed(left)
    // both sides often descend from the SAME scan (q31: one events
    // table filtered two ways), which leaves identical exprIds on both
    // outputs — the self-join conflict the analyzer dedups for real
    // Joins. A custom node gets no such service, so re-alias the right
    // side to fresh exprIds unconditionally.
    val rAliases = PlanBridge.analyzed(right).output
      .map(a => org.apache.spark.sql.catalyst.expressions.Alias(a, a.name)())
    val rPlan = Project(rAliases, PlanBridge.analyzed(right))
    def attr(p: LogicalPlan, c: String): Attribute =
      p.output.find(_.name == c).getOrElse(
        throw new IllegalArgumentException(
          s"column '$c' not in ${p.output.map(_.name)}"))
    val node = AsOfJoinNode(
      keys.map(attr(lPlan, _)), keys.map(attr(rPlan, _)),
      attr(lPlan, leftTime), attr(rPlan, rightTime),
      keepUnmatched, lPlan, rPlan)
    // project away the right side's key/time columns — the q31-family
    // output contract (also dissolves the duplicate key names)
    val rightDropIds = (keys.map(attr(rPlan, _)) :+ attr(rPlan, rightTime))
      .map(_.exprId).toSet
    val keep = node.output.take(lPlan.output.length) ++
      node.output.drop(lPlan.output.length)
        .filterNot(a => rightDropIds.contains(a.exprId))
    PlanBridge.ofRows(spark, Project(keep, node))
  }

  import Entry.Q

  /** q224 — q31's as-of query (purchases ← latest same-user signup at
    * or before) through [[AsOfMergeJoinExec]] instead of the
    * union+window composition; the oracle is the IDENTICAL DuckDB ASOF
    * JOIN, so the two spellings must agree row-for-row.
    */
  val q224AsofNative: Q = (s, dir) => {
    import org.apache.spark.sql.functions._
    import s.implicits._
    val ev = graft.core.Tables.events(s, dir)
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"event_id".as("purchase_id"), $"user_id", $"ts")
    val signups = ev.filter($"event_type" === "signup")
      .groupBy($"user_id", $"ts".as("signup_ts"))
      .agg(max($"event_id").as("signup_id"))
      .select($"user_id", $"signup_ts", $"signup_id")
    backward(purchases, signups, Seq("user_id"),
        leftTime = "ts", rightTime = "signup_ts")
      .select($"purchase_id", $"user_id", $"ts", $"signup_id")
      .orderBy($"purchase_id")
  }

  val q224Sql: String =
    """WITH p AS (SELECT event_id AS purchase_id, user_id, CAST(ts AS TIMESTAMP) AS ts
      |           FROM events WHERE event_type = 'purchase'),
      |     s AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS signup_ts,
      |                  MAX(event_id) AS signup_id
      |           FROM events WHERE event_type = 'signup'
      |           GROUP BY user_id, CAST(ts AS TIMESTAMP))
      |SELECT purchase_id, p.user_id AS user_id, ts, signup_id
      |FROM p ASOF JOIN s ON p.user_id = s.user_id AND p.ts >= s.signup_ts
      |ORDER BY purchase_id""".stripMargin

  val Buckets = 16

  private val bucketed =
    scala.collection.concurrent.TrieMap[String, (String, String)]()

  /** Write the q224 join's two sides as co-bucketed SORTED managed
    * tables (once per JVM per scale dir): both `bucketBy(16, user_id)
    * .sortBy(user_id, time)`, with a `repartition(16, user_id)` ahead
    * of the write so each task owns exactly one bucket — the
    * one-file-per-bucket layout FileSourceScanExec requires before it
    * reports the written sort order as `outputOrdering`.
    */
  private def ensureAsofBucketed(s: SparkSession,
      dir: String): (String, String) = bucketed.getOrElseUpdate(dir, {
    import org.apache.spark.sql.functions._
    import s.implicits._
    val sfx = java.nio.file.Paths.get(dir).getFileName.toString
      .replaceAll("[^A-Za-z0-9_]", "_")
    val (p, g) = (s"purchases_bkt_$sfx", s"signups_bkt_$sfx")
    val warehouse = java.net.URI.create(
      s.conf.get("spark.sql.warehouse.dir")).getPath
    Seq(p, g).foreach { t =>
      s.sql(s"DROP TABLE IF EXISTS $t")
      // leftovers from prior JVMs survive the in-memory catalog
      graft.core.Fixtures.deleteTree(java.nio.file.Paths.get(warehouse, t))
    }
    val ev = graft.core.Tables.events(s, dir)
    ev.filter($"event_type" === "purchase")
      .select($"event_id".as("purchase_id"), $"user_id", $"ts")
      .repartition(Buckets, $"user_id")
      .write.format("parquet")
      .bucketBy(Buckets, "user_id").sortBy("user_id", "ts")
      .saveAsTable(p)
    ev.filter($"event_type" === "signup")
      .groupBy($"user_id", $"ts".as("signup_ts"))
      .agg(max($"event_id").as("signup_id"))
      .repartition(Buckets, $"user_id")
      .write.format("parquet")
      .bucketBy(Buckets, "user_id").sortBy("user_id", "signup_ts")
      .saveAsTable(g)
    (p, g)
  })

  /** q266 — EXCHANGE-FREE and SORT-FREE native as-of join over
    * co-bucketed sorted layouts: the JOIN leg of the pay-once-at-write
    * trilogy (q184 order-carrying scan, q263 exchange-free aggregation,
    * this). [[AsOfMergeJoinExec]] asks for exactly what a sort-merge
    * join would — ClusteredDistribution + (key, time) ordering per side
    * — so over two tables bucketed on `user_id` and sorted
    * `(user_id, time)` with one file per bucket, EnsureRequirements
    * finds both demands already met and inserts NOTHING: no exchange,
    * no sort, straight to the O(1)-state merge walk. Both properties
    * are REQUIRE'd on the executed plan, and the result must match the
    * same DuckDB ASOF JOIN oracle as q224 — proving the fast plan is
    * still the correct join. At 100 TB: bucketing fact tables on the
    * as-of key once makes every later as-of lookup (the
    * feature-store point-in-time pattern) shuffle-free.
    */
  val q266AsofBucketed: Q = (s, dir) => {
    import s.implicits._
    val (p, g) = ensureAsofBucketed(s, dir)
    // Since 3.1 Spark reports a bucketed scan's written sort order only
    // behind this flag (the general case needs a files-per-bucket
    // check); our writer guarantees one file per bucket, which is
    // exactly the regime the flag serves. Scoped + restored: the
    // sort-elision claim should not leak into other queries' plans.
    graft.core.GraftSession.withConfs(s,
        "spark.sql.legacy.bucketedTableScan.outputOrdering" -> "true") {
      val joined = backward(s.table(p), s.table(g), Seq("user_id"),
        leftTime = "ts", rightTime = "signup_ts")
      val plan = joined.queryExecution.executedPlan.toString
      require(plan.contains("AsOfMergeJoin"),
        s"expected the native as-of exec; plan:\n$plan")
      require(!plan.contains("Exchange"),
        s"co-bucketed as-of join must not shuffle; plan:\n$plan")
      require(!plan.contains("Sort ["),
        s"co-bucketed sorted as-of join must not re-sort; plan:\n$plan")
      joined.select($"purchase_id", $"user_id", $"ts", $"signup_id")
        .orderBy($"purchase_id")
    }
  }

  val entries: Seq[Entry] = Seq(
    Entry("q224_asof_native", q224AsofNative, q224Sql),
    Entry("q266_asof_bucketed", q266AsofBucketed, q224Sql))
}
