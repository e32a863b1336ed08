package graft.relational


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
  * c_custkey here). The one real trap — the boundaries must be
  * sampled once for both consumers of the layout — is handled by the
  * checkpoint pin inside [[QuantileNormalize.fullRankGlobal]], which
  * runs the recipe.
  *
  * Scale shape: one range exchange + per-partition sort (the same
  * work a sorted write pays anyway), one bounded groupBy(pid) frame,
  * one broadcast join of |partitions| offsets. No global window, no
  * driver iteration.
  */
object SurrogateKeys {

  import Entry.Q

  /** q304 — dense surrogate keys for the customer dimension. */
  val q304SurrogateKeys: Q = (s, dir) => {
    import s.implicits._
    QuantileNormalize.fullRankGlobal(
        T.customer(s, dir).select($"c_custkey", $"c_name"),
        Seq($"c_custkey"), "sk")
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
