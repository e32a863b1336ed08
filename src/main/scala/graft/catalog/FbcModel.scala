package graft.catalog

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Data model for File-Based Catalog (FBC) "meta" records — the
  * reference's unit of data (SURVEY.md §1.1; /root/reference/cache.go:96).
  *
  * A meta is one JSON object from the catalog stream; we keep the verbatim
  * blob alongside the extracted header fields, mirroring the reference's
  * write-blob-verbatim semantics (/root/reference/cache.go:111).
  */
object FbcModel {
  val SchemaPackage = "olm.package"
  val GlobalPackage = "__global"

  /** Header fields extracted from a meta blob. */
  val headerSchema: StructType = StructType(Seq(
    StructField("schema", StringType),
    StructField("package", StringType),
    StructField("name", StringType)))

  /** A published snapshot as read back: the data columns, then the
    * (package, schema) partition columns, all strings. Reading with it
    * skips schema inference and keeps numeric-looking package names
    * (`007`) verbatim.
    */
  val storedSchema: StructType = StructType(
    Seq("name", "blob", "package", "schema").map(StructField(_, StringType)))

  /** Typed view of an `olm.package` blob — only the fields the reference
    * decodes (/root/reference/main.go:306: name, icon{base64data,
    * mediatype}).
    */
  val packageBlobSchema: StructType = StructType(Seq(
    StructField("schema", StringType),
    StructField("name", StringType),
    StructField("icon", StructType(Seq(
      StructField("base64data", StringType),
      StructField("mediatype", StringType))))))

  /** The reference's 3-way partition-key rule
    * (/root/reference/cache.go:100-106): `olm.package` records key on
    * their own name; an empty/missing package maps to `__global`; all
    * other records key on their package field.
    */
  def packageKey(schema: Column, pkg: Column, name: Column): Column =
    when(schema === lit(SchemaPackage), name)
      .otherwise(when(pkg.isNull || pkg === "", lit(GlobalPackage))
        .otherwise(pkg))

  case class Meta(schema: String, `package`: String, name: String, blob: String)
}
