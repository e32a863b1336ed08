package graft.sources

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.{Entry, Fixtures, Tables => T, dsl, OracleDsl => O}

/** XML source leg (Spark 4 folded the spark-xml connector into core) —
  * the sixth format leg next to parquet/CSV/JSONL/ORC/binaryFile.
  * DuckDB cannot read XML, so the oracle checks the ROUND TRIP: a
  * deterministic orders slice is written as XML by Spark's distributed
  * writer, read back through the XML `FileScan` with an explicit
  * schema (never rowTag inference — that double-scans, the q75 CSV
  * rule), aggregated, and compared against the same aggregate computed
  * straight from the parquet ground truth. Any loss in the
  * write→parse→type-coerce chain (doubles, timestamps, strings with
  * spaces) breaks the hash.
  *
  * Fixture is keyed by the dataset dir (the BinaryFiles staleness
  * lesson — commit c506389) and rewritten wholesale each run.
  */
object XmlSource {

  import Entry.Q

  private def fixtureDir(dir: String): String =
    Fixtures.path("xml_orders_" + dir.replaceAll("[^A-Za-z0-9]", "_"))

  private val ordersXmlSchema = StructType(Seq(
    StructField("o_orderkey", LongType),
    StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType),
    StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", TimestampType),
    StructField("o_orderpriority", StringType)))

  /** q203 — XML round trip: every 20th order out and back through XML,
    * then a per-priority exact-decimal revenue profile. The slice
    * predicate is applied BEFORE the write (so the XML fixture is the
    * sole data path into the aggregate) and the oracle applies it to
    * the parquet table directly.
    */
  val q203XmlRoundtrip: Q = (s, dir) => {
    import s.implicits._
    val out = fixtureDir(dir)
    T.orders(s, dir)
      .filter($"o_orderkey" % 20 === 0)
      .select($"o_orderkey", $"o_custkey", $"o_orderstatus",
        $"o_totalprice", $"o_orderdate", $"o_orderpriority")
      .write.mode(SaveMode.Overwrite)
      .option("rootTag", "orders").option("rowTag", "order")
      .format("xml").save(out)
    s.read.schema(ordersXmlSchema)
      .option("rowTag", "order")
      .format("xml").load(out)
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n"),
        dsl.dsum($"o_totalprice").as("sum_total"),
        min($"o_orderkey").as("min_key"), max($"o_orderkey").as("max_key"))
      .orderBy($"o_orderpriority")
  }

  val q203Sql: String =
    s"""SELECT o_orderpriority, COUNT(*) AS n,
       |  ${O.dsum("o_totalprice")} AS sum_total,
       |  MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key
       |FROM orders
       |WHERE o_orderkey % 20 = 0
       |GROUP BY o_orderpriority
       |ORDER BY o_orderpriority""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("q203_xml_roundtrip", q203XmlRoundtrip, q203Sql))
}
