package graft.llm

import org.apache.spark.sql.functions._

import graft.core.{Entry, Tables => T}

/** q440 — WORDPIECE ENCODE over the corpus vocabulary
  * ([[graft.functions.WordPieceTokens]]): the BERT-tokenizer leg of
  * the tokenizer family (BPE merge replay q140, GPT-2 pretokenizer
  * q402, UnigramLM q202). The vocab is DESIGNED so every fixture word
  * has one hand-derivable greedy segmentation AND the derivations
  * exercise the algorithm's decision points: `ag` beats `a` on "agg"
  * (longest-first at position 0), `##ter` beats `##t` on "filter" and
  * `##ge` beats `##g` on "merge" (longest-first on continuations),
  * `##ery` keeps "query" from dead-ending after `##er`, single-letter
  * fallbacks (`b`, `d`, `k`, `s`) split "big"/"dup"/"key"/"slow".
  *
  * The oracle replays the ground-truth (word, pieces) literals joined
  * to DuckDB's OWN token census (the q436 planted-truth convention,
  * with the count side fully data-derived) — an INNER join, so a
  * fixture word missing from the truth table surfaces as a row-count
  * mismatch, not a silent drop.
  *
  * Scale shape: one token-census partial agg (vocab-bounded output)
  * + an in-row greedy segmentation per DISTINCT token — the encode
  * cost a 100 TB tokenize pays per occurrence is here paid per TYPE,
  * because segmentation is a pure function of the token.
  */
object WordPieceQuery {

  import Entry.Q

  /** The designed vocab: intended first pieces, continuations, and
    * greedy decoys (`a` under `ag`, `##t` under `##ter`, `##er` under
    * `##ery`, `s` under `sm`/`sor`/`spark`/`str`).
    */
  val Vocab: Seq[String] = Seq(
    "a", "ag", "batch", "b", "col", "cust", "da", "d", "fas", "fil",
    "gr", "hash", "join", "k", "line", "mer", "ord", "par", "qu",
    "row", "scan", "s", "sm", "sor", "spark", "str", "ta", "the",
    "val", "vec", "win",
    "##g", "##ig", "##umn", "##omer", "##ta", "##up", "##t", "##ter",
    "##oup", "##ey", "##ge", "##er", "##ery", "##low", "##all",
    "##eam", "##ble", "##ue", "##tor", "##dow")

  /** Hand-derived greedy segmentations of the fixture's closed
    * 31-word vocabulary under [[Vocab]] — each verified by walking
    * longest-match-first by hand (and property-pinned in
    * WordPieceSpec).
    */
  val Truth: Seq[(String, String)] = Seq(
    "a" -> "a", "agg" -> "ag ##g", "batch" -> "batch", "big" -> "b ##ig",
    "column" -> "col ##umn", "customer" -> "cust ##omer",
    "data" -> "da ##ta", "dup" -> "d ##up", "fast" -> "fas ##t",
    "filter" -> "fil ##ter", "group" -> "gr ##oup", "hash" -> "hash",
    "join" -> "join", "key" -> "k ##ey", "line" -> "line",
    "merge" -> "mer ##ge", "order" -> "ord ##er", "part" -> "par ##t",
    "query" -> "qu ##ery", "row" -> "row", "scan" -> "scan",
    "slow" -> "s ##low", "small" -> "sm ##all", "sort" -> "sor ##t",
    "spark" -> "spark", "stream" -> "str ##eam", "table" -> "ta ##ble",
    "the" -> "the", "value" -> "val ##ue", "vector" -> "vec ##tor",
    "window" -> "win ##dow")

  val q440WordPiece: Q = (s, dir) => {
    import s.implicits._
    T.documents(s, dir)
      .select(explode(split($"text", " ")).as("tok"))
      .filter($"tok" =!= "")
      .groupBy($"tok").agg(count(lit(1)).as("n"))
      .select($"tok",
        array_join(graft.functions.WordPieceTokens($"tok", Vocab), " ")
          .as("pieces"),
        $"n")
      .orderBy($"tok")
  }

  val q440Sql: String = {
    val truthRows = Truth
      .map { case (w, p) => s"('$w', '$p')" }.mkString(", ")
    s"""WITH tc AS (
       |  SELECT tok, CAST(COUNT(*) AS BIGINT) AS n
       |  FROM (SELECT UNNEST(string_split(text, ' ')) AS tok
       |        FROM documents)
       |  WHERE tok <> '' GROUP BY tok),
       |truth(tok, pieces) AS (VALUES $truthRows)
       |SELECT tok, pieces, n
       |FROM truth JOIN tc USING (tok)
       |ORDER BY tok""".stripMargin
  }

  val entries: Seq[Entry] = Seq(Entry("q440_wordpiece", q440WordPiece, q440Sql))
}
