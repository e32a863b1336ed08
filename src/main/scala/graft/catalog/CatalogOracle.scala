package graft.catalog

import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{base64, col, count, countDistinct,
  lit, row_number}

import graft.core.{Entry, Fixtures}

/** Oracle-checkable bindings of the catalog query surface (R10–R14) —
  * [[CatalogQueries]] run over a parquet snapshot materialized from the
  * checked-in FBC fixture through the REAL ingest path
  * ([[FbcIngest.writeSnapshot]]: 3-way package key, Hive partitioning),
  * at a fixed snapshot id so the static DuckDB oracle SQL can address
  * the same files with `read_parquet(..., hive_partitioning=1)`.
  *
  * This closes the gap where the reference's own API surface (list
  * packages/schemas/objects, point lookup, icon decode) was only
  * spec-tested: each route is now also hash-compared against DuckDB.
  */
object CatalogOracle {

  import Entry.Q

  /** Fixed paths so the static oracle SQL can address them. */
  val FixtureSource = Fixtures.resource("fbc/all.jsonl")
  val FixtureRoot = Fixtures.path("fbc")
  val SnapshotId = "oracle"
  private val parquetGlob = s"$FixtureRoot/snapshots/$SnapshotId/*/*/*.parquet"

  /** SHA-256 of the fixture source: every catalog fixture's key starts
    * with it, so a changed source rebuilds them all.
    */
  private[graft] lazy val sourceKey = MessageDigest.getInstance("SHA-256")
    .digest(Files.readAllBytes(Paths.get(FixtureSource)))
    .map("%02x".format(_)).mkString

  /** Ingest the fixture once (10 records, content-addressed like q91's)
    * and open the snapshot through [[FbcIngest.snapshotMeta]] —
    * partition columns (package, schema) reconstructed from the Hive
    * layout, exactly as DuckDB's hive_partitioning does.
    */
  private def fixtureMeta(s: SparkSession): DataFrame = {
    Fixtures.once("fbc", s"$sourceKey:snapshot=$SnapshotId") {
      FbcIngest.writeSnapshot(s, FbcIngest.readMetaStream(s, FixtureSource),
        FixtureRoot, snapshotId = Some(SnapshotId))
    }
    FbcIngest.snapshotMeta(s, FixtureRoot, SnapshotId)
  }

  /** R10 — list packages. */
  val q70CatalogPackages: Q = (s, _) => CatalogQueries.listPackages(fixtureMeta(s))

  val q70Sql: String =
    s"""SELECT DISTINCT package
       |FROM read_parquet('$parquetGlob', hive_partitioning=1)
       |ORDER BY package""".stripMargin

  /** R11 — list schemas of one package. */
  val q71CatalogSchemas: Q = (s, _) =>
    CatalogQueries.listSchemas(fixtureMeta(s), "pkg-a")

  val q71Sql: String =
    s"""SELECT DISTINCT "schema"
       |FROM read_parquet('$parquetGlob', hive_partitioning=1)
       |WHERE package = 'pkg-a'
       |ORDER BY "schema"""".stripMargin

  /** R12 — list objects of (package, schema) incl. the `.json` strip. */
  val q72CatalogObjects: Q = (s, _) =>
    CatalogQueries.listObjects(fixtureMeta(s), "pkg-b", "olm.bundle")

  val q72Sql: String =
    s"""SELECT regexp_replace(name, '\\.json$$', '') AS name
       |FROM read_parquet('$parquetGlob', hive_partitioning=1)
       |WHERE package = 'pkg-b' AND "schema" = 'olm.bundle'
       |ORDER BY name""".stripMargin

  /** R14 — icon point lookup: typed JSON decode of the verbatim blob +
    * base64 → binary (the reference's main.go:295-318 route). The
    * oracle-facing projection re-encodes the icon BYTES as normalized
    * base64: the checker's pandas sort cannot hash raw bytearrays
    * (ADVICE r2), and round-tripping through decode proves the binary
    * path on both engines rather than just echoing the source string.
    */
  val q73CatalogIcon: Q = (s, _) => {
    CatalogQueries.getIcon(fixtureMeta(s), "pkg-a")
      .select(col("mediatype"), base64(col("data")).as("data_b64"))
  }

  val q73Sql: String =
    s"""SELECT json_extract_string(blob, '$$.icon.mediatype') AS mediatype,
       |  to_base64(from_base64(json_extract_string(blob, '$$.icon.base64data'))) AS data_b64
       |FROM read_parquet('$parquetGlob', hive_partitioning=1)
       |WHERE package = 'pkg-a' AND "schema" = 'olm.package' AND name = 'pkg-a'
       |  AND json_extract_string(blob, '$$.icon.base64data') IS NOT NULL""".stripMargin

  /** q91 — snapshot publish + retention GC (R8/R9) as an oracle row,
    * closing the "spec-only" gap on the lifecycle surface: three
    * snapshots are written through the REAL publish path into a scratch
    * root, retention GC keeps the newest two, and the query emits the
    * MEASURED post-GC state (remaining snapshot ids + active flag). The
    * oracle pins the golden layout as literals: 0001 collected, 0002
    * kept, 0003 kept-and-active.
    *
    * The build is content-addressed ([[Fixtures.once]]): a marker file
    * records the SHA-256 of the fixture source plus the publish/GC
    * parameters, written only AFTER a successful GC. A later invocation
    * (warm bench run, next JVM) whose key matches skips the triple
    * publish and only re-reads the post-GC tree — the measurement, not
    * the build, is the query.
    * Any fixture or parameter change misses the key and rebuilds.
    */
  val GcRoot = Fixtures.path("gc")
  private val GcSnapshotIds = Seq("0001", "0002", "0003")
  private val GcKeep = 2

  val q91SnapshotGc: Q = (s, _) => {
    import s.implicits._
    Fixtures.once("gc",
        s"$sourceKey:keep=$GcKeep:ids=${GcSnapshotIds.mkString(",")}") {
      val meta = FbcIngest.readMetaStream(s, FixtureSource)
      GcSnapshotIds.foreach(id =>
        FbcIngest.writeSnapshot(s, meta, GcRoot, snapshotId = Some(id)))
      FbcIngest.gcSnapshots(GcRoot, keep = GcKeep)
    }
    val active = FbcIngest.activeSnapshot(GcRoot).map(_._1)
    FbcIngest.listSnapshots(GcRoot).map(id => (id, active.contains(id)))
      .toDF("snapshot_id", "is_active")
      .orderBy($"snapshot_id")
  }

  val q91Sql: String =
    """SELECT * FROM (VALUES ('0002', FALSE), ('0003', TRUE))
      |  t(snapshot_id, is_active)
      |ORDER BY snapshot_id""".stripMargin

  /** q169 — snapshot TIME TRAVEL (AS OF VERSION): three growing
    * versions publish through the real path (v3 ends up ACTIVE), then
    * the query reads the HISTORICAL v2 via
    * [[FbcIngest.snapshotMeta]] and aggregates it. The oracle addresses
    * v2's partition glob explicitly, so reading the wrong version
    * (e.g. following ACTIVE) changes row counts and breaks the hash.
    * Content-addressed build ([[Fixtures.once]], as q91).
    */
  val TtRoot = Fixtures.path("tt")
  private val ttVersions = Seq("v1" -> 4, "v2" -> 7, "v3" -> 10)

  val q169TimeTravel: Q = (s, _) => {
    import s.implicits._
    Fixtures.once("tt", s"$sourceKey:versions=" +
        ttVersions.map(v => s"${v._1}=${v._2}").mkString(",")) {
      // growing prefixes in name order — simulated append-only history
      val ranked = FbcIngest.readMetaStream(s, FixtureSource)
        .withColumn("rn", row_number().over(Window.orderBy(col("name"))))
      ttVersions.foreach { case (id, n) =>
        FbcIngest.writeSnapshot(s, ranked.filter(col("rn") <= n).drop("rn"),
          TtRoot, snapshotId = Some(id))
      }
    }
    FbcIngest.snapshotMeta(s, TtRoot, "v2")
      .groupBy($"package")
      .agg(count(lit(1)).as("n_objects"),
        countDistinct($"schema").as("n_schemas"))
      .orderBy($"package")
  }

  val q169Sql: String =
    s"""SELECT package, COUNT(*) AS n_objects,
       |  COUNT(DISTINCT "schema") AS n_schemas
       |FROM read_parquet('$TtRoot/snapshots/v2/*/*/*.parquet',
       |                  hive_partitioning=1)
       |GROUP BY package
       |ORDER BY package""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("q169_time_travel", q169TimeTravel, q169Sql),
    Entry("q70_catalog_packages", q70CatalogPackages, q70Sql),
    Entry("q71_catalog_schemas", q71CatalogSchemas, q71Sql),
    Entry("q72_catalog_objects", q72CatalogObjects, q72Sql),
    Entry("q73_catalog_icon", q73CatalogIcon, q73Sql),
    Entry("q91_snapshot_gc", q91SnapshotGc, q91Sql))
}
