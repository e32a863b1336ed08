package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.{Entry, Fixtures}

/** Schema-on-read over a dumped stream of unstructured Kubernetes-style
  * objects — the reference's secondary source (SURVEY.md §2.a R1–R3:
  * dynamic-client list at main.go:93, unstructured→typed decode at
  * main.go:322-333, and the `Status.Phase == Unpacked` gate repeated in
  * five handlers).
  *
  * The pattern: keep the verbatim object as a string column, decode a
  * PARTIAL StructType with `from_json` — only the fields queried — so
  * unknown/new fields survive untouched (exactly what
  * `FromUnstructured` into a sparse Go struct does). Connectivity
  * plumbing (port-forward, watch) is out of scope; the input is a
  * landed JSONL dump.
  *
  * Scale: a linear scan with a codegen'd JSON projection; the partial
  * schema means the parser skips every unqueried subtree.
  */
object K8sObjects {

  import Entry.Q

  /** Fixed fixture path so the static oracle SQL addresses the same file. */
  val FixturePath = Fixtures.resource("k8s/clustercatalogs.jsonl")

  /** Partial typed view: just the fields the query layer touches
    * (mirrors the reference's sparse ClusterCatalog struct).
    */
  val partialSchema: StructType = StructType(Seq(
    StructField("kind", StringType),
    StructField("metadata", StructType(Seq(
      StructField("name", StringType)))),
    StructField("status", StructType(Seq(
      StructField("phase", StringType),
      StructField("contentURL", StringType))))))

  /** Verbatim blob + partial typed projection. */
  def readObjects(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    spark.read.textFile(path).toDF("blob")
      .filter(length(trim($"blob")) > 0)
      .select($"blob", from_json($"blob", partialSchema).as("o"))
  }

  /** R1 — list all objects of the resource: name + kind + phase. */
  val q77K8sList: Q = (s, _) => {
    import s.implicits._
    readObjects(s, FixturePath)
      .select($"o.metadata.name".as("name"), $"o.kind".as("kind"),
        $"o.status.phase".as("phase"))
      .orderBy($"name")
  }

  val q77Sql: String =
    s"""SELECT metadata.name AS name, kind, status.phase AS phase
       |FROM read_json('$FixturePath', format='newline_delimited',
       |  columns={'kind': 'VARCHAR',
       |           'metadata': 'STRUCT(name VARCHAR)',
       |           'status': 'STRUCT(phase VARCHAR, contentURL VARCHAR)'})
       |ORDER BY name""".stripMargin

  /** R2+R3 — typed point decode behind the readiness gate: only
    * `Unpacked` catalogs expose a content URL (the reference 503s
    * otherwise, main.go:132-135).
    */
  val q78K8sUnpacked: Q = (s, _) => {
    import s.implicits._
    readObjects(s, FixturePath)
      .filter($"o.status.phase" === "Unpacked")
      .select($"o.metadata.name".as("name"),
        $"o.status.contentURL".as("content_url"))
      .orderBy($"name")
  }

  val q78Sql: String =
    s"""SELECT metadata.name AS name, status.contentURL AS content_url
       |FROM read_json('$FixturePath', format='newline_delimited',
       |  columns={'kind': 'VARCHAR',
       |           'metadata': 'STRUCT(name VARCHAR)',
       |           'status': 'STRUCT(phase VARCHAR, contentURL VARCHAR)'})
       |WHERE status.phase = 'Unpacked'
       |ORDER BY name""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("q77_k8s_list", q77K8sList, q77Sql),
    Entry("q78_k8s_unpacked", q78K8sUnpacked, q78Sql))
}
