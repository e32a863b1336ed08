package graft.sources

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Entry, Fixtures, Tables => T}

/** Parquet schema evolution (SURVEY.md §2.b source surface): a table
  * whose later batches added a column must stay readable as ONE
  * relation, with the old batches' missing column as null — the
  * mergeSchema read every long-lived warehouse table eventually needs
  * (the reference re-reads whole directories on any change —
  * cache.go:79-117 — and has no schema story at all).
  *
  * The fixture is two parquet files written with DIFFERENT schemas
  * (batch1: key+name; batch2: key+name+region). Spark reads them with
  * `mergeSchema=true`; the oracle reads the same two files with
  * DuckDB's independent `union_by_name=true` — two engines' separate
  * schema-evolution implementations must agree on the unified relation.
  *
  * Scale note: mergeSchema reads EVERY file footer at planning time —
  * fine per-batch, wrong as a default on a 100k-file table; production
  * tables pin the evolved schema in a catalog and pass it explicitly
  * (`spark.read.schema(current)`), which reads zero extra footers. The
  * query exercises the merge semantics; the scaladoc records the
  * catalog-pinned form as the at-scale default.
  */
object SchemaEvolution {

  import Entry.Q

  /** Fixed absolute dir so the static oracle SQL can address it. */
  val FixtureDir = Fixtures.path("evo")

  /** Write one batch as a single parquet FILE (tmp dir write + move the
    * part file to a stable name, q91/compaction pattern), then delete
    * the tmp dir.
    */
  private def writeOneFile(df: DataFrame, target: Path): Unit = {
    val tmp = Files.createTempDirectory("evo_batch")
    try {
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val parts = Files.list(tmp)
      val part =
        try parts.filter(_.toString.endsWith(".parquet")).findFirst().orElseThrow()
        finally parts.close()
      Files.createDirectories(target.getParent)
      Files.move(part, target, StandardCopyOption.REPLACE_EXISTING)
    } finally Fixtures.deleteTree(tmp)
  }

  private def writeFixture(s: SparkSession, dir: String): Unit = {
    import s.implicits._
    val nation = T.nation(s, dir)
    writeOneFile(
      nation.filter($"n_nationkey" < 13)
        .select($"n_nationkey", $"n_name"),
      Paths.get(FixtureDir, "batch1.parquet"))
    writeOneFile(
      nation.filter($"n_nationkey" >= 13)
        .select($"n_nationkey", $"n_name", $"n_regionkey"),
      Paths.get(FixtureDir, "batch2.parquet"))
  }

  /** q144 — merged-schema read over evolving batches: old rows surface
    * the added column as null.
    */
  val q144SchemaEvolution: Q = (s, dir) => {
    import s.implicits._
    writeFixture(s, dir)
    s.read.option("mergeSchema", "true").parquet(FixtureDir)
      .select($"n_nationkey", $"n_name", $"n_regionkey")
      .orderBy($"n_nationkey")
  }

  val q144Sql: String =
    s"""SELECT n_nationkey, n_name, n_regionkey
       |FROM read_parquet('$FixtureDir/*.parquet', union_by_name=true)
       |ORDER BY n_nationkey""".stripMargin

  /** q273 fixture roots: two successive snapshots of one logical
    * table, exhibiting every drift class a contract checker must
    * catch — a column ADDED (added_at), a column REMOVED (legacy_flag),
    * a type WIDENED (id int → bigint), and untouched survivors.
    */
  val DriftV1 = Fixtures.path("drift_v1")
  val DriftV2 = Fixtures.path("drift_v2")

  private def writeDriftFixture(s: SparkSession): Unit = {
    import s.implicits._
    s.range(10)
      .select($"id".cast("int").as("id"),
        concat(lit("row"), $"id").as("name"),
        ($"id" * 1.5).cast("float").as("score"),
        ($"id" % 2 === 0).as("legacy_flag"))
      .write.mode("overwrite").parquet(DriftV1)
    s.range(10)
      .select($"id".as("id"), // bigint: widened
        concat(lit("row"), $"id").as("name"),
        ($"id" * 1.5).cast("float").as("score"),
        lit("2024-01-01 00:00:00").cast("timestamp").as("added_at"))
      .write.mode("overwrite").parquet(DriftV2)
  }

  /** q273 — SCHEMA-DRIFT report between two snapshots of a table: per
    * changed column, the change class and the before/after types — the
    * data-contract check a pipeline runs before promoting a new
    * snapshot (silent type widening and column removal are the classic
    * downstream breakers; q144 proves Spark can READ through benign
    * drift, this row proves the engine can DETECT and report all of
    * it). Driver-side and job-free: two footer schema reads, no data
    * scan — the q251/q253 plan-analysis discipline applied to the
    * storage layer. Oracle = the pinned truth table of the planted
    * drift (the q74 literal convention): a comparator that misses a
    * removal, misreports a widening, or hallucinates drift on the
    * untouched columns breaks the hash.
    */
  val q273SchemaDrift: Q = (s, dir) => {
    import s.implicits._
    writeDriftFixture(s)
    val a = s.read.parquet(DriftV1).schema
    val b = s.read.parquet(DriftV2).schema
    val am = a.fields.map(f => f.name -> f.dataType.simpleString).toMap
    val bm = b.fields.map(f => f.name -> f.dataType.simpleString).toMap
    val added = (bm.keySet -- am.keySet).toSeq
      .map(c => (c, "added", Option.empty[String], Option(bm(c))))
    val removed = (am.keySet -- bm.keySet).toSeq
      .map(c => (c, "removed", Option(am(c)), Option.empty[String]))
    val changed = (am.keySet & bm.keySet).toSeq
      .filter(c => am(c) != bm(c))
      .map(c => (c, "type_changed", Option(am(c)), Option(bm(c))))
    (added ++ removed ++ changed).sortBy(r => (r._1, r._2))
      .toDF("col_name", "change", "from_type", "to_type")
  }

  val q273Sql: String =
    """SELECT * FROM (VALUES
      |  ('added_at', 'added', CAST(NULL AS VARCHAR), 'timestamp'),
      |  ('id', 'type_changed', 'int', 'bigint'),
      |  ('legacy_flag', 'removed', 'boolean', CAST(NULL AS VARCHAR)))
      |  AS t(col_name, change, from_type, to_type)
      |ORDER BY col_name, change""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("q144_schema_evolution", q144SchemaEvolution, q144Sql),
    Entry("q273_schema_drift", q273SchemaDrift, q273Sql))
}
