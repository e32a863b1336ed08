package graft.catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import FbcModel._

/** The reference's query surface (SURVEY.md §2.a R10–R14;
  * /root/reference/main.go:124-320) as pure DataFrame → DataFrame ops
  * over the meta table.
  *
  * Every equality predicate here lands on a partition column, so at scale
  * these plan as partition-pruned scans — the Spark equivalent of the
  * reference's directory-walk-as-index design (SURVEY.md §4).
  */
object CatalogQueries {

  /** R10 — list packages (main.go:143-155): distinct over partition
    * column #1, answerable from partition metadata alone.
    */
  def listPackages(meta: DataFrame): DataFrame =
    meta.select("package").distinct().orderBy("package")

  /** R11 — list schemas of a package (main.go:185-197). */
  def listSchemas(meta: DataFrame, pkg: String): DataFrame =
    meta.filter(col("package") === pkg)
      .select("schema").distinct().orderBy("schema")

  /** R12 — list objects of (package, schema) (main.go:226-238). The
    * reference strips a ".json" filename suffix (main.go:235); `name`
    * here is already logical, but the strip is applied for parity with
    * file-derived listings.
    */
  def listObjects(meta: DataFrame, pkg: String, schema: String): DataFrame =
    meta.filter(col("package") === pkg && col("schema") === schema)
      .select(regexp_replace(col("name"), "\\.json$", "").as("name"))
      .orderBy("name")

  /** R13 — point lookup of one record's verbatim blob (main.go:249-270). */
  def getObject(meta: DataFrame, pkg: String, schema: String,
      name: String): DataFrame =
    meta.filter(col("package") === pkg && col("schema") === schema
        && col("name") === name)
      .select("blob")

  /** R14 — package icon (main.go:272-320): point lookup of the
    * `olm.package` record, typed JSON decode of the kept-verbatim blob,
    * base64 → binary, with the reference's null propagation (missing
    * record or null icon → empty result, i.e. the 404 paths at
    * main.go:297-300 and :310-313).
    */
  def getIcon(meta: DataFrame, pkg: String): DataFrame =
    meta.filter(col("package") === pkg
        && col("schema") === SchemaPackage && col("name") === pkg)
      .select(from_json(col("blob"), packageBlobSchema).as("pkg"))
      .filter(col("pkg.icon").isNotNull
        && col("pkg.icon.base64data").isNotNull)
      .select(col("pkg.icon.mediatype").as("mediatype"),
        unbase64(col("pkg.icon.base64data")).as("data"))

  /** The full catalog API bound to the active snapshot of a cache root.
    * `ACTIVE` is read on every call, so a publish is seen at once; the
    * snapshot's frame is opened once per session and reused while its
    * `_SUCCESS` marker is unchanged, and dropped when the snapshot is
    * rewritten or collected ([[FbcIngest.snapshotMeta]]).
    */
  def forRoot(spark: SparkSession, root: String): DataFrame =
    FbcIngest.activeMeta(spark, root)
}
