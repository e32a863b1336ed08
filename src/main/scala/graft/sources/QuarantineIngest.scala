package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.{Entry, Fixtures, Tables => T, dsl, OracleDsl => O}

/** Bad-record quarantine on ingest (SURVEY.md §2.b source surface).
  *
  * Real feeds carry malformed rows; an ETL engine must route them to a
  * quarantine lane instead of failing the job or silently dropping them
  * (the reference fails the whole directory listing on one unreadable
  * meta file — main.go:141-147; at 100 TB a poison record must cost one
  * row, not one job). The query ingests a CSV containing deterministic
  * corruptions through Spark's PERMISSIVE csv source and splits rows
  * into clean/quarantined by the typed-null pattern: clean source rows
  * are fully non-null, so any row that fails schema coercion surfaces
  * as at least one null typed field.
  *
  * The quarantine predicate is on the TYPED columns, not Spark's
  * `_corrupt_record` pseudo-column — identical outcome for the
  * corruption modes used, and it avoids the corrupt-column projection
  * restriction (Spark requires caching the raw frame to filter on
  * `_corrupt_record` alone), so the split stays a single streaming pass
  * with no cache. At scale the same predicate feeds a partitioned
  * two-way write (`when`-tagged union written `partitionBy("status")`).
  *
  * The oracle re-parses the SAME file independently: DuckDB reads raw
  * lines (a delimiter absent from the data) and re-derives
  * clean/quarantined with explicit field-count + regex checks, so
  * Spark's permissive-mode semantics are checked against a from-scratch
  * definition of "well-formed", not against itself.
  */
object QuarantineIngest {

  import Entry.Q

  /** This JVM's pid + the run's SF tag, baked into the fixture name so
    * two CONCURRENT runs (always distinct JVMs) never rewrite each
    * other's file, and two SFs inside one JVM (parallel spec suites)
    * get distinct files too (the PostingsIndex table-name discipline).
    * The static oracle SQL can't know the SF at class-init, so it
    * addresses `supplier_feed_p<pid>_*.csv` — a Verify JVM only ever
    * writes ONE SF, so the glob matches exactly one file (stale files
    * from dead pids are reaped below before any write).
    */
  private val Pid = ProcessHandle.current().pid()

  private def sfTag(dir: String): String =
    dir.split('/').filter(_.nonEmpty).lastOption.getOrElse("sf")
      .replaceAll("[^A-Za-z0-9.]", "_")

  def fixturePath(dir: String): String =
    s"${Fixtures.root}/supplier_feed_p${Pid}_${sfTag(dir)}.csv"

  /** Delete feed fixtures owned by pids that no longer resolve — a
    * dead JVM can't be racing, and a recycled pid must not inherit a
    * stale different-SF file that would widen this JVM's glob. */
  private def reapDeadPidFixtures(): Unit = {
    val d = Paths.get(Fixtures.root)
    if (Files.isDirectory(d)) {
      val st = Files.list(d)
      try {
        st.iterator().forEachRemaining { p =>
          val n = p.getFileName.toString
          if (n.startsWith("supplier_feed_p") && n.endsWith(".csv")) {
            val pid = n.stripPrefix("supplier_feed_p").takeWhile(_.isDigit)
            val alive = pid.nonEmpty && pid.toLongOption.exists(id =>
              id == Pid || ProcessHandle.of(id).isPresent)
            if (!alive) Files.deleteIfExists(p)
          }
        }
      } finally st.close()
    }
  }

  private val feedSchema = StructType(Seq(
    StructField("s_suppkey", LongType),
    StructField("s_name", StringType),
    StructField("s_acctbal", DoubleType)))

  /** (Re)write the feed fixture from the parquet supplier table with
    * two deterministic corruption modes: key%7==3 drops the balance
    * field (short row), key%7==5 replaces it with a non-numeric token.
    * No header; atomic tmp+move.
    */
  private def writeFixture(s: SparkSession, dir: String): Unit = {
    val rows = T.supplier(s, dir)
      .select(col("s_suppkey"), col("s_name"), col("s_acctbal"))
      .orderBy(col("s_suppkey"))
      .collect()
    val body = rows.map { r =>
      val k = r.getLong(0)
      if (k % 7 == 3) s"$k,${r.getString(1)}"
      else if (k % 7 == 5) s"$k,${r.getString(1)},NOT_A_NUMBER"
      else s"$k,${r.getString(1)},${r.getDouble(2)}"
    }.mkString("", "\n", "\n")
    reapDeadPidFixtures()
    Fixtures.writeAtomic(Paths.get(fixturePath(dir)),
      body.getBytes(StandardCharsets.UTF_8))
  }

  /** q133 — permissive ingest + quarantine split summary: row count and
    * exact balance total per lane.
    */
  val q133Quarantine: Q = (s, dir) => {
    import s.implicits._
    writeFixture(s, dir)
    s.read
      .option("header", "false")
      .option("mode", "PERMISSIVE")
      .schema(feedSchema)
      .csv(fixturePath(dir))
      .withColumn("status",
        when($"s_suppkey".isNotNull && $"s_name".isNotNull &&
          $"s_acctbal".isNotNull, "clean").otherwise("quarantined"))
      .groupBy($"status")
      .agg(count(lit(1)).as("n_rows"),
        dsl.dsum(coalesce($"s_acctbal", lit(0.0))).as("bal_sum"))
      .orderBy($"status")
  }

  val q133Sql: String =
    s"""WITH raw AS (
       |  SELECT line FROM read_csv('${Fixtures.root}/supplier_feed_p${Pid}_*.csv',
       |    header=false, delim='|',
       |    columns={'line': 'VARCHAR'})),
       |p AS (SELECT string_split(line, ',') AS f FROM raw),
       |c AS (
       |  SELECT CASE WHEN len(f) = 3
       |           AND regexp_matches(f[1], '^[0-9]+$$')
       |           AND regexp_matches(f[3], '^-?[0-9]+(\\.[0-9]+)?$$')
       |         THEN 'clean' ELSE 'quarantined' END AS status,
       |         CASE WHEN len(f) = 3
       |           AND regexp_matches(f[1], '^[0-9]+$$')
       |           AND regexp_matches(f[3], '^-?[0-9]+(\\.[0-9]+)?$$')
       |         THEN CAST(f[3] AS DOUBLE) ELSE 0.0 END AS bal
       |  FROM p)
       |SELECT status, COUNT(*) AS n_rows, ${O.dsum("bal")} AS bal_sum
       |FROM c GROUP BY status ORDER BY status""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("q133_quarantine", q133Quarantine, q133Sql))
}
