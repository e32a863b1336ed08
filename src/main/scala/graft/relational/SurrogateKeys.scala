package graft.relational

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.PlanBridge

import graft.core.{Entry, Tables => T}

/** Distributed DENSE SURROGATE-KEY assignment — contiguous 1..n ids in
  * a stable order, the dimension-table ETL primitive
  * (`monotonically_increasing_id` is sparse and partition-dependent; a
  * global `row_number()` window is a single-partition sort). The
  * scalable two-pass recipe: range-repartition on the order key, count
  * rows per partition (a bounded frame), prefix-sum those counts into
  * per-partition OFFSETS, and add each row's within-partition
  * row_number — the distributed form of "number the concatenation".
  *
  * Correctness does not depend on the range boundaries: offsets +
  * local ranks reproduce the global dense rank for ANY partition
  * boundaries, as long as every row is numbered within the partition
  * that range-holds it and the order key is total (the unique
  * c_custkey here). The one real trap is scaladoc'd on the
  * localCheckpoint below.
  *
  * Scale shape: one range exchange + per-partition sort (the same
  * work a sorted write pays anyway), one bounded groupBy(pid) frame,
  * one broadcast join of |partitions| offsets. No global window, no
  * driver iteration.
  */
object SurrogateKeys {

  import Entry.Q

  val SkPartitions = 32

  /** q304 — dense surrogate keys for the customer dimension. */
  val q304SurrogateKeys: Q = (s, dir) => {
    import s.implicits._
    // localCheckpoint pins ONE materialization: RangePartitioner samples
    // boundaries with an RDD-id-derived seed, so the two consumers below
    // (counts, final numbering) would otherwise re-execute the exchange
    // with DIFFERENT boundaries — offsets from one layout applied to
    // ranks from another silently corrupts the numbering.
    val parted = PlanBridge.checkpointResetStats(
      T.customer(s, dir).select($"c_custkey", $"c_name")
        .repartitionByRange(SkPartitions, $"c_custkey")
        .sortWithinPartitions($"c_custkey")
        .withColumn("pid", spark_partition_id()))
    // bounded triangular join, not a pid-ordered window (r18, verdict
    // item 5 — see QuantileNormalize.exclusivePrefix)
    val offsets = QuantileNormalize.exclusivePrefix(
        parted.groupBy($"pid").agg(count(lit(1)).as("n")),
        Seq(), "pid", Seq("n"))
      .withColumnRenamed("n_off", "off")
    val wIn = Window.partitionBy($"pid").orderBy($"c_custkey")
    parted
      .withColumn("rn", row_number().over(wIn))
      .join(broadcast(offsets), "pid")
      .select($"c_custkey", $"c_name", ($"off" + $"rn").as("sk"))
      .orderBy($"sk")
  }

  /** The oracle is the SPEC, not the algorithm: a global dense
    * numbering in key order — what the two-pass recipe must equal for
    * any partition boundaries.
    */
  val q304Sql: String =
    """SELECT c_custkey, c_name,
      |  ROW_NUMBER() OVER (ORDER BY c_custkey) AS sk
      |FROM customer
      |ORDER BY sk""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("q304_surrogate_keys", q304SurrogateKeys, q304Sql))
}
