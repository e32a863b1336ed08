package graft.llm

import org.apache.spark.sql.functions._

import graft.core.{Entry, Tables => T}
import graft.functions.AcMatchCounts

/** BLOCKLIST / LEXICON SCAN over the corpus via the [[AcMatchCounts]]
  * Aho–Corasick expression — the multi-pattern census a curation
  * pipeline runs for contamination markers, banned strings, or PII
  * lexicons: ALL occurrences of every pattern (SUBSTRING matches, not
  * token matches — "an" hits inside "scan", which q48-style token
  * censuses cannot see) counted in ONE pass over each document,
  * independent of pattern count. The k-pass `replace`/`regexp`
  * spelling re-scans the corpus per pattern — k full scans at 100 TB;
  * the automaton costs O(|text| + matches) per row inside a narrow
  * codegen projection, no shuffle before the k-row census.
  *
  * Every pattern here is BORDERLESS (no proper prefix = suffix), so
  * occurrences cannot self-overlap and the all-occurrence count
  * provably equals the non-overlapping replace-count the DuckDB
  * oracle computes; the overlapping case itself is pinned in the spec
  * ("aa" in "aaa" = 2).
  */
object BlocklistScan {

  import Entry.Q

  /** Borderless pattern set, present in the fixture text as token
    * substrings and across-token fragments. */
  val Patterns = Seq("an", "art", "data", "merge", "or", "row")

  val q507BlocklistScan: Q = (s, dir) => {
    import s.implicits._
    T.documents(s, dir)
      .select(posexplode(AcMatchCounts($"text", Patterns)).as(Seq("i", "cnt")))
      .groupBy($"i")
      .agg(sum(when($"cnt" > 0L, 1L).otherwise(0L)).as("n_docs"),
        sum($"cnt").as("n_matches"))
      .select(element_at(typedlit(Patterns), $"i".cast("int") + 1)
        .as("pattern"), $"n_docs", $"n_matches")
      .orderBy($"pattern")
  }

  val q507Sql: String = {
    val list = Patterns.map(p => s"'$p'").mkString(", ")
    s"""WITH pats AS (SELECT UNNEST([$list]) AS pattern),
      |per AS (
      |  SELECT p.pattern,
      |    (length(d.text) - length(replace(d.text, p.pattern, '')))
      |      // length(p.pattern) AS m
      |  FROM documents d CROSS JOIN pats p)
      |SELECT pattern,
      |  CAST(SUM(CASE WHEN m > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_docs,
      |  CAST(SUM(m) AS BIGINT) AS n_matches
      |FROM per GROUP BY 1 ORDER BY pattern""".stripMargin
  }

  val entries: Seq[Entry] = Seq(
    Entry("q507_blocklist_scan", q507BlocklistScan, q507Sql))
}
