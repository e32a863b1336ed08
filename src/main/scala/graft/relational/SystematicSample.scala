package graft.relational

import org.apache.spark.sql.functions._

import graft.core.{Entry, Tables => T}

/** SYSTEMATIC (every-kth) SAMPLING over a total order (Madow–Madow
  * AMS'44 — the fixed-interval design; completes the sampling family:
  * q100 stratified by rate, q116 per-group exact-k, q200 weighted,
  * q306 reservoir, q288 md5 key-sample): rank every row under the
  * (o_orderdate, o_orderkey) total order — the q130 sorted-layout
  * order, where the design is the classic "every kth record off the
  * sorted file" — and keep ranks ≡ [[SysOffset]] (mod [[SysK]]).
  * Unlike the md5-hash samples, the systematic draw is
  * ORDER-STRATIFIED: exactly one row per consecutive block of
  * [[SysK]], so any monotone trend in the sort key is represented
  * proportionally (the property survey samplers value it for).
  *
  * Determinism: the classic design draws the start uniformly from
  * [1, k]; here the start is the FIXED literal [[SysOffset]] so both
  * engines and every re-run see the same sample (the q95/q288
  * fixed-split discipline). Membership is checked ROW-FOR-ROW with
  * the rank (the q116 convention).
  *
  * Scale shape: the global rank runs on [[QuantileNormalize.fullRank]]
  * — the two-level scan (32 range partitions + broadcast pid offsets),
  * NO single-task global window; the mod-filter is a map over the
  * ranked frame.
  */
object SystematicSample {

  import Entry.Q

  val SysK = 20
  val SysOffset = 7

  val q518SystematicSample: Q = (s, dir) => {
    import s.implicits._
    val rows = T.orders(s, dir)
      .select($"o_orderkey", $"o_orderdate")
    QuantileNormalize.fullRank(rows, Seq(),
        Seq("o_orderdate", "o_orderkey"), "r")
      .filter(pmod($"r", lit(SysK.toLong)) === SysOffset.toLong)
      .select($"o_orderkey", $"r")
      .orderBy($"r")
  }

  val q518Sql: String =
    s"""WITH idx AS (
      |  SELECT o_orderkey,
      |    CAST(ROW_NUMBER() OVER (ORDER BY o_orderdate, o_orderkey)
      |      AS BIGINT) AS r
      |  FROM orders)
      |SELECT o_orderkey, r FROM idx
      |WHERE r % $SysK = $SysOffset
      |ORDER BY r""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("q518_systematic_sample", q518SystematicSample, q518Sql))
}
