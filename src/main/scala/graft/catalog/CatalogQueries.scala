package graft.catalog

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String

import FbcModel._

/** The reference's query surface (SURVEY.md §2.a R10–R14;
  * /root/reference/main.go:124-320) as pure DataFrame → DataFrame ops
  * over the meta table.
  *
  * Every equality predicate here lands on a partition column, so at scale
  * these plan as partition-pruned scans, and the package and schema
  * listings read the partition index without a scan — the Spark
  * equivalent of the reference's directory-walk-as-index design
  * (SURVEY.md §4).
  */
object CatalogQueries {

  /** R10 — list packages (main.go:143-155): answered from the partition
    * index, no job. The distinct `package` values of the meta table's
    * partitions ([[FbcIngest.partitionValues]]), the rows and order of a
    * sorted distinct scan. `meta` must be a meta table as opened, not a
    * frame derived from one.
    */
  def listPackages(meta: DataFrame): DataFrame =
    sortedColumn(meta, "package", FbcIngest.partitionValues(meta).map(_._1))

  /** R11 — list schemas of a package (main.go:185-197): answered from the
    * partition index, no job, as [[listPackages]] is.
    */
  def listSchemas(meta: DataFrame, pkg: String): DataFrame =
    sortedColumn(meta, "schema", FbcIngest.partitionValues(meta)
      .collect { case (p, s) if pkg != null && p == pkg => s })

  /** The distinct `values` as a local one-column frame typed as `meta`'s
    * column `name`, in Spark's string order: binary UTF-8, nulls first.
    */
  private def sortedColumn(meta: DataFrame, name: String,
      values: Seq[String]): DataFrame = {
    val rows = values.distinct
      .sortBy(v => Option(v).map(UTF8String.fromString))
      .map(Row(_))
    meta.sparkSession.createDataFrame(rows.asJava,
      StructType(Seq(meta.schema(name))))
  }

  /** R12 — list objects of (package, schema) (main.go:226-238). The
    * reference strips a ".json" filename suffix (main.go:235); `name`
    * here is already logical, but the strip is applied for parity with
    * file-derived listings. The rows of one partition are sorted in one
    * task: one job, the same order as a global sort.
    */
  def listObjects(meta: DataFrame, pkg: String, schema: String): DataFrame =
    meta.filter(col("package") === pkg && col("schema") === schema)
      .select(regexp_replace(col("name"), "\\.json$", "").as("name"))
      .coalesce(1).sortWithinPartitions("name")

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
