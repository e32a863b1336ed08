package graft.relational

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.{Entry, Tables => T}

/** ORDER-INDEPENDENT TABLE FINGERPRINT — the data-reconciliation
  * primitive (compare replicas / before-after of a migration / two
  * engines' copies WITHOUT moving the data: ship one row of hashes,
  * not the table): fingerprint = commutative fold of per-row
  * canonical-string hashes. Two folds emitted — XOR (exact, overflow-
  * free, detects any single-row change) and SUM mod a < 2⁶³ prime
  * (catches the classic XOR blind spot: a row duplicated an EVEN
  * number of times XORs to zero) — both order- AND
  * partitioning-independent by commutativity, which the in-engine
  * gate proves by refolding under a hostile repartitioning.
  *
  * Canonical row string: integer/cents/string columns joined '|' —
  * no floats, so both engines render identical bytes (md5 of the
  * string is the q95 cross-engine hash discipline).
  *
  * Scale shape: ONE narrow map + one 1-row aggregate; nothing
  * shuffles but the partial-agg roll-up.
  */
object TableFingerprint {

  import Entry.Q

  /** Largest prime below 2⁶³ (the sum-fold modulus). */
  val FpMod = "9223372036854775783"

  /** Canonical per-row hash of orders (keys + cents + status). */
  private val RowHash =
    "CAST(conv(substring(md5(concat_ws('|', " +
      "CAST(o_orderkey AS STRING), CAST(o_custkey AS STRING), " +
      "CAST(CAST(FLOOR(100 * o_totalprice) AS BIGINT) AS STRING), " +
      "o_orderstatus)), 1, 15), 16, 10) AS BIGINT)"

  /** (n_rows, fp_xor, fp_summod) of `orders` under any partitioning. */
  def fingerprint(df: DataFrame): (Long, Long, Long) = {
    val s = df.sparkSession
    import s.implicits._
    df.select(expr(RowHash).as("h"))
      .agg(count(lit(1)),
        expr("bit_xor(h)"),
        expr(s"CAST(sum(CAST(h AS DECIMAL(38,0))) % $FpMod AS BIGINT)"))
      .as[(Long, Long, Long)].head()
  }

  val q513TableFingerprint: Q = (s, dir) => {
    import s.implicits._
    val orders = T.orders(s, dir)
    val (n, fx, fs) = fingerprint(orders)
    // partitioning independence: a hostile hash repartitioning and a
    // range repartitioning must fold to the SAME fingerprints
    val (n2, fx2, fs2) = fingerprint(orders.repartition(7, $"o_custkey"))
    val (n3, fx3, fs3) =
      fingerprint(orders.repartitionByRange(5, $"o_totalprice"))
    require(n == n2 && n == n3 && fx == fx2 && fx == fx3 &&
      fs == fs2 && fs == fs3,
      "fingerprint must be partitioning-independent")
    Seq((n, fx, fs)).toDF("n_rows", "fp_xor", "fp_summod")
  }

  val q513Sql: String =
    s"""SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  CAST(BIT_XOR(h) AS BIGINT) AS fp_xor,
      |  CAST(SUM(CAST(h AS HUGEINT)) % $FpMod AS BIGINT) AS fp_summod
      |FROM (
      |  SELECT CAST('0x' || substring(md5(concat_ws('|',
      |    CAST(o_orderkey AS VARCHAR), CAST(o_custkey AS VARCHAR),
      |    CAST(CAST(FLOOR(100 * o_totalprice) AS BIGINT) AS VARCHAR),
      |    o_orderstatus)), 1, 15) AS BIGINT) AS h
      |  FROM orders)""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("q513_table_fingerprint", q513TableFingerprint, q513Sql))
}
