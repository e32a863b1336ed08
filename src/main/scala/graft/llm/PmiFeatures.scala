package graft.llm

import org.apache.spark.sql.functions._

import graft.core.Entry

/** PMI FEATURE SELECTION (Church & Hanks 1990 pointwise mutual
  * information, the feature-ranking workhorse of classic text
  * classification — Yang & Pedersen ICML'97 rank it next to chi²):
  * which TOKENS are evidence for the planted concept label? The
  * curation question behind every lexicon-boosted quality filter:
  * before training q321's classifier, this is how its vocabulary gets
  * chosen. PMI(w, pos) = ln( n·n_wl / (n_w·n_l) ) over DOC-LEVEL
  * PRESENCE (the standard feature-selection form — counts, not
  * frequencies, so every input is an exact BIGINT and the single ln
  * is micro-floored identically in both engines, the q374
  * discipline).
  *
  * Support floor [[MinDocs]] guards the classic PMI pathology (rare
  * words reach the ceiling ln(n/n_l) on one co-occurrence); ranking
  * ties break on the token. The planted markers must surface at the
  * top — the spec pins that reading.
  *
  * Scale shape: one explode → (doc, token) distinct → two partial
  * aggs keyed on token; the label frame joins on doc_id before the
  * shuffle; output is top-[[TopK]] by TakeOrdered.
  */
object PmiFeatures {

  import Entry.Q

  val MinDocs = 5L
  val TopK = 15

  val q461PmiFeatures: Q = (s, dir) => {
    import s.implicits._
    val labeled = NaiveBayes.plantedDocs(s, dir)
      .select($"doc_id", ($"lang" === "pro_join").cast("long").as("y"),
        $"text")
    val tot = labeled.agg(count(lit(1)).as("n"), sum($"y").as("n_l"))
    val toks = labeled
      .select($"doc_id", $"y", explode(split($"text", " ")).as("tok"))
      .distinct()
    val perTok = toks.groupBy($"tok")
      .agg(count(lit(1)).as("n_w"), sum($"y").as("n_wl"))
      .filter($"n_w" >= MinDocs && $"n_wl" > 0L)
    perTok.crossJoin(broadcast(tot))
      .select($"tok", $"n_w", $"n_wl",
        expr("""CAST(FLOOR(1000000.0 * LN(
               |  CAST(n * n_wl AS DOUBLE) / CAST(n_w * n_l AS DOUBLE)))
               |AS BIGINT)""".stripMargin).as("pmi_micro"))
      .orderBy($"pmi_micro".desc, $"tok".asc)
      .limit(TopK)
  }

  val q461Sql: String =
    s"""WITH planted AS MATERIALIZED (
       |  SELECT doc_id, CASE WHEN cj > cs THEN 1 ELSE 0 END AS y, text
       |  FROM (SELECT doc_id, text,
       |      (length(text) - length(replace(text, 'join', ''))) / 4 AS cj,
       |      (length(text) - length(replace(text, 'scan', ''))) / 4 AS cs
       |    FROM documents)
       |  WHERE abs(cj - cs) >= ${NaiveBayes.ConceptMargin}),
       |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
       |               CAST(SUM(y) AS BIGINT) AS n_l FROM planted),
       |toks AS (
       |  SELECT DISTINCT doc_id, y, tok FROM (
       |    SELECT doc_id, y, UNNEST(string_split(text, ' ')) AS tok
       |    FROM planted)),
       |per_tok AS (
       |  SELECT tok, CAST(COUNT(*) AS BIGINT) AS n_w,
       |    CAST(SUM(y) AS BIGINT) AS n_wl
       |  FROM toks GROUP BY tok
       |  HAVING COUNT(*) >= $MinDocs AND SUM(y) > 0)
       |SELECT tok, n_w, n_wl,
       |  CAST(FLOOR(1000000.0 * LN(
       |    CAST(n * n_wl AS DOUBLE) / CAST(n_w * n_l AS DOUBLE)))
       |    AS BIGINT) AS pmi_micro
       |FROM per_tok CROSS JOIN tot
       |ORDER BY pmi_micro DESC, tok ASC
       |LIMIT $TopK""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("q461_pmi_features", q461PmiFeatures, q461Sql))
}
