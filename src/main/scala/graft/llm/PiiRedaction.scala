package graft.llm

import org.apache.spark.sql.functions._

import graft.core.{Entry, Tables => T}

/** PII detection + redaction — the scrubbing pass training pipelines
  * run before text leaves curation (emails, IPv4 addresses, phone
  * numbers → typed placeholders). The fixture corpus is synthetic and
  * PII-free, so the query PLANTS deterministic PII on the `doc_id % 7`
  * slice first (the q42 planted-fixture convention) — the gate then
  * proves both that every planted item is found and redacted AND that
  * the clean majority yields zero false positives, cross-engine.
  *
  * Pattern discipline: all three regexes are RE2-class — character
  * classes and bounded counted repeats, no nested quantifiers, no
  * backreferences, no lookaround — so Java's backtracking engine
  * (Spark) and DuckDB's RE2 agree on semantics, and the scan stays
  * linear in the text (a backtracking blowup on adversarial text is a
  * real 100 TB incident class).
  *
  * Scale shape: the whole operator is map-only — regex count + three
  * chained replaces per row, no shuffle at all before the final
  * order-by; at 100 TB this is the ideal embarrassingly-parallel scan
  * and the only knob is input split size.
  */
object PiiRedaction {

  import Entry.Q

  private val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val Ipv4Re = "\\b(?:[0-9]{1,3}\\.){3}[0-9]{1,3}\\b"
  private val PhoneRe = "\\b555-[0-9]{4}\\b"

  /** q213 — detect-and-redact report: every doc carrying PII (exactly
    * the planted slice plus any false positives — none), with typed
    * match counts and the fully redacted text.
    */
  val q213PiiRedaction: Q = (s, dir) => {
    import s.implicits._
    val planted = concat(
      $"text",
      lit(" contact user"), $"doc_id".cast("string"), lit("@example.com ip 10.0."),
      ($"doc_id" % 250).cast("string"), lit("."), ($"doc_id" % 100).cast("string"),
      lit(" call 555-"), lpad(($"doc_id" % 10000).cast("string"), 4, "0"))
    val withPii = T.documents(s, dir)
      .select($"doc_id",
        when($"doc_id" % 7 === 0, planted).otherwise($"text").as("text"))
    withPii
      .select($"doc_id",
        // cast to long: DuckDB's len(regexp_extract_all(...)) is BIGINT
        regexp_count($"text", lit(EmailRe)).cast("long").as("n_email"),
        regexp_count($"text", lit(Ipv4Re)).cast("long").as("n_ip"),
        regexp_count($"text", lit(PhoneRe)).cast("long").as("n_phone"),
        regexp_replace(
          regexp_replace(
            regexp_replace($"text", EmailRe, "<EMAIL>"),
            Ipv4Re, "<IP>"),
          PhoneRe, "<PHONE>").as("redacted"))
      .filter($"n_email" + $"n_ip" + $"n_phone" > 0)
      .orderBy($"doc_id")
  }

  val q213Sql: String =
    """WITH planted AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 7 = 0 THEN
      |      text || ' contact user' || CAST(doc_id AS VARCHAR)
      |        || '@example.com ip 10.0.' || CAST(doc_id % 250 AS VARCHAR)
      |        || '.' || CAST(doc_id % 100 AS VARCHAR)
      |        || ' call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
      |    ELSE text END AS text
      |  FROM documents),
      |scanned AS (
      |  SELECT doc_id,
      |    len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email,
      |    len(regexp_extract_all(text, '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b')) AS n_ip,
      |    len(regexp_extract_all(text, '\b555-[0-9]{4}\b')) AS n_phone,
      |    regexp_replace(
      |      regexp_replace(
      |        regexp_replace(text,
      |          '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
      |        '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b', '<IP>', 'g'),
      |      '\b555-[0-9]{4}\b', '<PHONE>', 'g') AS redacted
      |  FROM planted)
      |SELECT doc_id, n_email, n_ip, n_phone, redacted
      |FROM scanned
      |WHERE n_email + n_ip + n_phone > 0
      |ORDER BY doc_id""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("q213_pii_redaction", q213PiiRedaction, q213Sql))
}
