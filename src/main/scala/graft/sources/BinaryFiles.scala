package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.Paths

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.core.{Entry, Fixtures, Tables => T}

/** `binaryFile` source leg (5th format next to parquet / CSV q75 /
  * JSONL q70-q73 / ORC q121): read raw files as (path, modificationTime,
  * length, content) rows — the ingestion surface for multimodal blobs
  * (images/audio/video land as files long before they have a schema;
  * [[graft.llm.Multimodal]]'s decoders consume exactly this shape). The
  * reference serves file bodies byte-for-byte off disk
  * (main.go:300-333); this is that surface as a Spark scan.
  *
  * The fixture is a directory of one .bin file per document (text
  * bytes, fixed subset), so the oracle needs NO filesystem access: it
  * recomputes each file's length and md5 FROM the documents table —
  * the same independent round-trip discipline as q121's ORC oracle
  * (content must survive the format hop byte-for-byte).
  *
  * Scale notes: binaryFile is a real FileFormat — distributed listing,
  * per-file tasks, and a `pathGlobFilter`/partition-dir pushdown
  * surface; `spark.sql.files.maxPartitionBytes` governs task sizing
  * exactly as for parquet. Whole-file contents ride the row, so the
  * format is for blob INGEST (decode → columnar write), never for
  * repeated analytics over the same bytes.
  */
object BinaryFiles {

  import Entry.Q

  /** Fixture root, keyed by the sanitized dataset dir (the Federation /
    * DynamicOverwrite convention): the scan reads every *.bin under the
    * dir while writeFixture only overwrites the doc_ids present in the
    * CURRENT dataset — a shared fixed path let stale files from a prior
    * run against a different SF leak into the result.
    */
  def fixtureDir(dir: String): String =
    Fixtures.path(s"blobs_${Fixtures.dirTag(dir)}")

  /** Documents written as files: doc_id < this bound. */
  val BlobDocBound = 25L

  private def writeFixture(s: SparkSession, dir: String): Unit = {
    import s.implicits._
    val rows = T.documents(s, dir)
      .filter($"doc_id" < BlobDocBound)
      .select($"doc_id", $"text")
      .as[(Long, String)].collect()
    rows.foreach { case (id, text) =>
      Fixtures.writeAtomic(Paths.get(fixtureDir(dir), s"doc_$id.bin"),
        text.getBytes(StandardCharsets.UTF_8))
    }
  }

  /** q164 — binaryFile scan round trip: one row per blob with the
    * doc_id parsed from the file name, the byte length, and the
    * content md5 — all recomputable by the oracle from the source
    * table alone.
    */
  val q164BinaryFiles: Q = (s, dir) => {
    import s.implicits._
    writeFixture(s, dir)
    s.read.format("binaryFile")
      .option("pathGlobFilter", "*.bin")
      .load(fixtureDir(dir))
      .select(
        regexp_extract(input_file_name(), "doc_(\\d+)\\.bin", 1)
          .cast("long").as("doc_id"),
        length($"content").cast("long").as("n_bytes"),
        md5($"content").as("content_md5"))
      .orderBy($"doc_id")
  }

  val q164Sql: String =
    s"""SELECT doc_id,
       |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       |  md5(text) AS content_md5
       |FROM documents
       |WHERE doc_id < $BlobDocBound
       |ORDER BY doc_id""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("q164_binary_files", q164BinaryFiles, q164Sql))
}
