package graft.relational

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.PlanBridge

import graft.core.{Entry, Tables => T}

/** QUANTILE NORMALIZATION (Bolstad et al. Bioinformatics'03 — the
  * feature-prep transform that forces every group's distribution onto
  * the pooled reference: row at within-group rank r of n_g maps to the
  * pooled order statistic at position ⌈r·N/n_g⌉). Batch-effect removal
  * for features, score calibration across heterogeneous sources.
  *
  * Everything integer: values are cents, the index composition
  * `⌈r·N/n_g⌉ = (r·N + n_g − 1) DIV n_g` is BIGINT, ties order by a
  * unique row key so both engines rank identically.
  *
  * Scale shape: NO single-task global window anywhere — both the
  * within-group rank and the pooled order-statistic index use the
  * TWO-LEVEL SCAN (q451's discipline): range-partition on the sort
  * key, per-partition `row_number`, broadcast the per-partition
  * offsets. The rank→value mapping is one keyed equi-join on the
  * computed index. Output = per-group exact aggregates of the fully
  * materialized normalized column.
  */
object QuantileNormalize {

  import Entry.Q

  /** Range partitions of the two-level scan: 32, or one per core of a
    * wider session, so the scan never runs on fewer tasks than cores.
    */
  private def scanParts(s: SparkSession): Int =
    math.max(32, s.sparkContext.defaultParallelism)

  /** 1-based full rank of every row under `partCols` ⨯ lexicographic
    * `ordCols` — two-level scan, no global window.
    */
  def fullRank(df: DataFrame, partCols: Seq[String], ordCols: Seq[String],
      rankName: String): DataFrame = {
    val s = df.sparkSession
    import s.implicits._
    val all: Seq[Column] = (partCols ++ ordCols).map(col)
    // CHECKPOINT the pid-stamped frame: the per-partition ranks and the
    // partition offsets are TWO plan branches over it, and an
    // un-pinned repartitionByRange re-SAMPLES its boundaries per
    // evaluation (AQE upstream can change input partitioning between
    // the two), silently disagreeing on pid assignments — ranks then
    // collide or exceed n (caught at sf0.1: max(rank)=14987 of 15000
    // with duplicates; bucket ids overflowed downstream arrays).
    val parts = PlanBridge
      .checkpointResetStats(df.repartitionByRange(scanParts(s), all: _*)
        .withColumn("pid", spark_partition_id()))
    val wIn = Window.partitionBy(($"pid" +: partCols.map(col)): _*)
      .orderBy(ordCols.map(col): _*)
    val withRn = parts.withColumn("rn", row_number().over(wIn).cast("long"))
    // offsets via the bounded triangular join (not a pid-ordered
    // window): same exclusive prefix, no single-partition WindowExec
    val cnt = withRn.groupBy(($"pid" +: partCols.map(col)): _*)
      .agg(count(lit(1)).as("c"))
    val offsets = exclusivePrefix(cnt, partCols, "pid", Seq("c"))
      .withColumnRenamed("c_off", "poff")
    withRn.join(broadcast(offsets), "pid" +: partCols)
      .withColumn(rankName, $"poff" + $"rn")
      .drop("pid", "rn", "poff")
  }

  /** Exclusive prefix sums of `valCols` under `keyCol` order within
    * `grpCols`, over a BOUNDED frame (one row per pid / group),
    * computed by a triangular left self-join + one agg instead of a
    * partition-less window (r18, verdict item 5: the offsets step of
    * every two-level scan was itself a `Window.orderBy(pid)` — a
    * single-partition WindowExec on every consumer's plan; the join
    * spelling is warning-free, shuffles nothing but the bounded frame,
    * and sums identically). Output: grpCols ++ keyCol ++ one
    * `<valCol>_off` per value column (0 for the first key).
    */
  private[graft] def exclusivePrefix(df: DataFrame, grpCols: Seq[String],
      keyCol: String, valCols: Seq[String]): DataFrame = {
    val keyAll = grpCols :+ keyCol
    val left = df.select(keyAll.map(c => col(c).as("__l_" + c)): _*)
    val right = df.select(
      keyAll.map(c => col(c).as("__r_" + c)) ++
        valCols.map(c => col(c).as("__rv_" + c)): _*)
    val cond = grpCols.map(c => col("__l_" + c) === col("__r_" + c))
      .foldLeft(col("__r_" + keyCol) < col("__l_" + keyCol))(_ && _)
    val aggs = valCols.map(c =>
      coalesce(sum(col("__rv_" + c)), lit(0L)).as(c + "_off"))
    left.join(right, cond, "left")
      .groupBy(keyAll.map(c => col("__l_" + c)): _*)
      .agg(aggs.head, aggs.tail: _*)
      .select(keyAll.map(c => col("__l_" + c).as(c)) ++
        valCols.map(c => col(c + "_off")): _*)
  }

  /** GLOBAL (partition-free) 1-based rank under `ordCols`, which may
    * carry sort directions (`$"x".desc`) — the Column variant of
    * [[fullRank]] for the corpus-sized `Window.orderBy(...)` sites the
    * r17 verdict flagged (a bare global window funnels the whole frame
    * through ONE task at scale — guide §2.5); same two-level scan:
    * range-partition on the exact sort order, per-partition
    * `row_number`, broadcast partition offsets. Ties must be broken by a
    * unique trailing column (every caller orders by a key suffix), so
    * range-boundary placement of equal keys never matters.
    */
  def fullRankGlobal(df: DataFrame, ordCols: Seq[Column],
      rankName: String): DataFrame = {
    val s = df.sparkSession
    import s.implicits._
    // checkpoint-pinned for the same two-branch pid-consistency reason
    // as [[fullRank]]
    val parts = PlanBridge
      .checkpointResetStats(df.repartitionByRange(scanParts(s), ordCols: _*)
        .withColumn("pid", spark_partition_id()))
    val wIn = Window.partitionBy($"pid").orderBy(ordCols: _*)
    val withRn = parts.withColumn("rn", row_number().over(wIn).cast("long"))
    // bounded triangular join, not a pid-ordered window (see fullRank)
    val cnt = withRn.groupBy($"pid").agg(count(lit(1)).as("c"))
    val offsets = exclusivePrefix(cnt, Seq(), "pid", Seq("c"))
      .withColumnRenamed("c_off", "poff")
    withRn.join(broadcast(offsets), Seq("pid"))
      .withColumn(rankName, $"poff" + $"rn")
      .drop("pid", "rn", "poff")
  }

  /** Exact inclusive running SUMs under lexicographic `ordCols`, one
    * `outName` per `(valueCol, outName)` pair — the cumulative twin of
    * [[fullRank]], same two-level scan: the per-partition cumulatives
    * share one window pass inside each range partition and only the
    * partition TOTALS pass through the bounded [[exclusivePrefix]]
    * join (never a window), broadcast back as offsets. Replaces the
    * one-task `Window.orderBy(...).rowsBetween(unboundedPreceding, 0)`
    * shape that funnels the whole frame through a single task at scale.
    */
  def fullCumSum(df: DataFrame, ordCols: Seq[Column],
      sums: (String, String)*): DataFrame = {
    val s = df.sparkSession
    import s.implicits._
    // pinned for the same two-branch consistency reason as [[fullRank]]
    val parts = PlanBridge
      .checkpointResetStats(df.repartitionByRange(scanParts(s), ordCols: _*)
        .withColumn("pid", spark_partition_id()))
    val wIn = Window.partitionBy($"pid").orderBy(ordCols: _*)
      .rowsBetween(Window.unboundedPreceding, 0)
    val withCum = sums.foldLeft(parts) { case (d, (v, _)) =>
      d.withColumn(s"__pc_$v", sum(col(v)).over(wIn))
    }
    // bounded triangular join, not a pid-ordered window (see fullRank)
    val psums = withCum.groupBy($"pid")
      .agg(sum(col(sums.head._1)).as(s"__ps_${sums.head._1}"),
        sums.tail.map { case (v, _) => sum(col(v)).as(s"__ps_$v") }: _*)
    val offsets = exclusivePrefix(psums, Seq(), "pid",
      sums.map { case (v, _) => s"__ps_$v" })
    sums.foldLeft(withCum.join(broadcast(offsets), "pid")) {
      case (d, (v, out)) =>
        d.withColumn(out, col(s"__ps_${v}_off") + col(s"__pc_$v"))
          .drop(s"__pc_$v", s"__ps_${v}_off")
    }.drop("pid")
  }

  val q487QuantileNorm: Q = (s, dir) => {
    import s.implicits._
    val rows = PlanBridge.checkpointResetStats(T.lineitem(s, dir).select(
      $"l_returnflag".as("grp"),
      expr("CAST(FLOOR(100 * l_extendedprice) AS BIGINT)").as("y"),
      ($"l_orderkey" * 8L + $"l_linenumber").as("uid")))
    val n = rows.count()
    val ranked = fullRank(rows, Seq("grp"), Seq("y", "uid"), "r")
    val ng = rows.groupBy($"grp").agg(count(lit(1)).as("n_g"))
    val pooled = fullRank(rows.select($"y", $"uid"), Seq(),
      Seq("y", "uid"), "idx")
      .select($"idx", $"y".as("norm_y"))
    val mapped = ranked.join(broadcast(ng), "grp")
      .withColumn("idx",
        expr(s"(r * ${n}L + n_g - 1) div n_g"))
      .select($"grp", $"idx")
    mapped.join(pooled, "idx")
      .groupBy($"grp")
      .agg(count(lit(1)).as("n_rows"),
        sum($"norm_y").as("sum_norm"),
        min($"norm_y").as("min_norm"),
        max($"norm_y").as("max_norm"))
      .orderBy($"grp")
  }

  val q487Sql: String =
    """WITH rows0 AS (
      |  SELECT l_returnflag AS grp,
      |    CAST(FLOOR(100 * l_extendedprice) AS BIGINT) AS y,
      |    l_orderkey * 8 + l_linenumber AS uid
      |  FROM lineitem),
      |ranked AS (
      |  SELECT grp, ROW_NUMBER() OVER (PARTITION BY grp ORDER BY y, uid)
      |    AS r FROM rows0),
      |ng AS (SELECT grp, COUNT(*) AS n_g FROM rows0 GROUP BY 1),
      |pooled AS (
      |  SELECT y AS norm_y, ROW_NUMBER() OVER (ORDER BY y, uid) AS idx
      |  FROM rows0),
      |mapped AS (
      |  SELECT ranked.grp,
      |    (r * (SELECT COUNT(*) FROM rows0) + n_g - 1) // n_g AS idx
      |  FROM ranked JOIN ng USING (grp))
      |SELECT grp, COUNT(*) AS n_rows,
      |  CAST(SUM(norm_y) AS BIGINT) AS sum_norm,
      |  MIN(norm_y) AS min_norm, MAX(norm_y) AS max_norm
      |FROM mapped JOIN pooled USING (idx)
      |GROUP BY grp
      |ORDER BY grp""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("q487_quantile_norm", q487QuantileNorm, q487Sql))
}
