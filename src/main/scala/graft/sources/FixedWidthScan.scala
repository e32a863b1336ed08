package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.Paths

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.core.{Entry, Fixtures, Tables => T}

/** FIXED-WIDTH text source (SURVEY.md §2.b scan family, 7th format leg
  * after parquet/CSV/JSONL/ORC/XML/binaryFile): the mainframe/COBOL
  * export layout still common in bank and telco warehouses — no
  * delimiters, each field a byte range. Spark has no fixed-width
  * reader; the Spark-native spelling is `spark.read.text` (splittable,
  * whole-stage-codegen'd line scan) + one narrow projection of
  * `substring` slices — which is exactly what a custom reader would do
  * per line anyway, with none of the maintenance. The oracle parses
  * the SAME file with DuckDB `read_csv` in no-delimiter mode and the
  * same substring arithmetic, so layout drift (an off-by-one column
  * offset) breaks the hash.
  *
  * Layout (44 bytes + newline):
  *   1-10   s_suppkey   right-aligned, space-padded
  *   11-28  s_name      left-aligned, right-padded
  *   29-32  s_nationkey right-aligned
  *   33-44  acctbal_c   cents, right-aligned (sign included)
  *
  * Scale note: fixed-width text is line-splittable like CSV, so the
  * 100 TB read parallelizes per HDFS block; the parse is pure
  * substring/trim/cast — no regex, stays in codegen.
  */
object FixedWidthScan {

  import Entry.Q

  val FixturePath = Fixtures.path("supplier.fw")

  /** (Re)write the fixture from the parquet supplier table — bounded
    * (|supplier| rows), atomic tmp+move (the CsvScan discipline).
    */
  private def writeFixture(s: SparkSession, dir: String): Unit = {
    val rows = T.supplier(s, dir)
      .select(col("s_suppkey"), col("s_name"), col("s_nationkey"),
        expr("CAST(FLOOR(100 * s_acctbal) AS BIGINT)").as("bal_c"))
      .orderBy(col("s_suppkey"))
      .collect()
    val body = rows.map { r =>
      f"${r.getLong(0)}%10d${r.getString(1)}%-18s${r.getInt(2)}%4d${r.getLong(3)}%12d"
    }.mkString("", "\n", "\n")
    Fixtures.writeAtomic(Paths.get(FixturePath),
      body.getBytes(StandardCharsets.UTF_8))
  }

  /** q301 — fixed-width scan + typed parse + pushed-down-style filter. */
  val q301FixedWidth: Q = (s, dir) => {
    import s.implicits._
    writeFixture(s, dir)
    s.read.text(FixturePath)
      .select(
        trim(substring($"value", 1, 10)).cast("bigint").as("s_suppkey"),
        rtrim(substring($"value", 11, 18)).as("s_name"),
        trim(substring($"value", 29, 4)).cast("int").as("s_nationkey"),
        trim(substring($"value", 33, 12)).cast("bigint").as("bal_c"))
      .filter($"s_nationkey" < 10)
      .orderBy($"s_suppkey")
  }

  val q301Sql: String =
    s"""WITH raw AS (
       |  SELECT column0 AS line
       |  FROM read_csv('$FixturePath', delim='', header=false,
       |    columns={'column0': 'VARCHAR'})),
       |parsed AS (
       |  SELECT
       |    CAST(trim(substring(line, 1, 10)) AS BIGINT) AS s_suppkey,
       |    rtrim(substring(line, 11, 18)) AS s_name,
       |    CAST(trim(substring(line, 29, 4)) AS INTEGER) AS s_nationkey,
       |    CAST(trim(substring(line, 33, 12)) AS BIGINT) AS bal_c
       |  FROM raw)
       |SELECT s_suppkey, s_name, s_nationkey, bal_c
       |FROM parsed WHERE s_nationkey < 10
       |ORDER BY s_suppkey""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("q301_fixed_width", q301FixedWidth, q301Sql))
}
