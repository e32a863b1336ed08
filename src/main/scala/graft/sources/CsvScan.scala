package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.Paths

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.{Entry, Fixtures, Tables => T}

/** CSV source coverage (SURVEY.md §2.b scan row 3).
  *
  * The fixtures are parquet-only, so the query derives a small
  * deterministic CSV (nation, 25 rows, sorted by key) from the current
  * scale dir on each invocation and reads it back through Spark's CSV
  * source with an explicit schema — header handling, type coercion, and
  * pushed filters are all exercised on a real `FileScan csv`. The oracle
  * reads the same file via DuckDB `read_csv` with matching column types.
  *
  * Scale note: an explicit schema (never `inferSchema`, which double-scans)
  * and a splittable uncompressed layout are the 100 TB CSV rules; the
  * fixture is tiny but the plan shape is the same.
  */
object CsvScan {

  import Entry.Q

  /** Fixed absolute path so the static oracle SQL can address it. */
  val FixturePath = Fixtures.path("nation.csv")

  private val nationCsvSchema = StructType(Seq(
    StructField("n_nationkey", IntegerType),
    StructField("n_name", StringType),
    StructField("n_regionkey", IntegerType)))

  /** (Re)write the CSV fixture from the parquet nation table — atomic
    * tmp+move so concurrent readers never see a partial file.
    */
  private def writeFixture(s: SparkSession, dir: String): Unit = {
    val rows = T.nation(s, dir)
      .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
      .orderBy(col("n_nationkey"))
      .collect()
    val body = "n_nationkey,n_name,n_regionkey\n" + rows.map { r =>
      s"${r.getInt(0)},${r.getString(1)},${r.getInt(2)}"
    }.mkString("", "\n", "\n")
    Fixtures.writeAtomic(Paths.get(FixturePath),
      body.getBytes(StandardCharsets.UTF_8))
  }

  /** CSV scan with explicit schema + pushed filter + projection. */
  val q75CsvScan: Q = (s, dir) => {
    import s.implicits._
    writeFixture(s, dir)
    s.read
      .option("header", "true")
      .schema(nationCsvSchema)
      .csv(FixturePath)
      .filter($"n_regionkey" < 3)
      .select($"n_nationkey", $"n_name", $"n_regionkey")
      .orderBy($"n_nationkey")
  }

  val q75Sql: String =
    s"""SELECT n_nationkey, n_name, n_regionkey
       |FROM read_csv('$FixturePath', header=true,
       |  columns={'n_nationkey': 'INTEGER', 'n_name': 'VARCHAR', 'n_regionkey': 'INTEGER'})
       |WHERE n_regionkey < 3
       |ORDER BY n_nationkey""".stripMargin

  val entries: Seq[Entry] = Seq(Entry("q75_csv_scan", q75CsvScan, q75Sql))
}
