package graft.sources

import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Entry, Fixtures, Tables => T, dsl, OracleDsl => O}

/** ORC source/sink coverage — the fourth format leg next to parquet
  * (everything), CSV (q75), and JSONL (q70-q73): `orders` is written
  * through Spark's ORC sink at a fixed path, read back through a real
  * `FileScan orc` (predicate pushdown and column pruning apply exactly
  * as for parquet — ORC carries its own stripe-level min/max), and
  * aggregated. DuckDB reads no ORC, so the oracle aggregates the
  * ORIGINAL parquet source instead — the green row therefore certifies
  * the WRITE→READ round trip preserved content (the q113 oracle
  * pattern), not just that a reader ran.
  */
object OrcSource {

  import Entry.Q

  val OrcRoot = Fixtures.path("orders_orc")

  private def ensureOrc(s: SparkSession, dir: String): Unit =
    Fixtures.once("orders_orc", s"orders:$dir") {
      T.orders(s, dir).write.mode(SaveMode.Overwrite).orc(OrcRoot)
    }

  /** q121 — order-status rollup off the ORC copy, with the status
    * filter REQUIRED to reach the ORC scan as a pushed filter (the same
    * pin q111 puts on partition pruning).
    */
  val q121OrcRoundtrip: Q = (s, dir) => {
    import s.implicits._
    ensureOrc(s, dir)
    val df = s.read.orc(OrcRoot)
      .filter($"o_orderstatus" =!= "X")
      .groupBy($"o_orderstatus", $"o_orderpriority")
      .agg(count(lit(1)).as("n"), dsl.dsumExpr($"o_totalprice").as("total"))
      .orderBy($"o_orderstatus", $"o_orderpriority")
    val plan = df.queryExecution.executedPlan.toString
    require(plan.contains("FileScan orc"),
      s"expected an ORC scan; plan:\n$plan")
    require(plan.contains("PushedFilters: [") &&
      !plan.contains("PushedFilters: []"),
      s"status filter did not push to the ORC scan; plan:\n$plan")
    df
  }

  val q121Sql: String =
    s"""SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
       |  ${O.dsumExpr("o_totalprice")} AS total
       |FROM orders
       |WHERE o_orderstatus <> 'X'
       |GROUP BY o_orderstatus, o_orderpriority
       |ORDER BY o_orderstatus, o_orderpriority""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("q121_orc_roundtrip", q121OrcRoundtrip, q121Sql))
}
