package graft.llm

import org.apache.spark.sql.functions._

import graft.core.{Entry, Tables => T}

/** DSIR-style importance weighting for target-domain data selection
  * (Xie et al. 2023, "Data Selection for Language Models via Importance
  * Resampling"): score every raw-corpus document by how much its
  * unigram distribution looks like a target domain's, then keep the
  * top-scoring slice. DSIR proper uses hashed n-gram features because a
  * web corpus's vocabulary is unbounded; this fixture's vocabulary is
  * tiny, so exact unigrams are the honest equivalent (the q146/q202
  * convention) — swapping in a hash of the token changes one
  * expression, not the shape.
  *
  * The paper's per-document log-likelihood ratio Σ log p̂_t(w)/p̂_r(w)
  * is replaced by the integer-exact surrogate this repo uses for every
  * probability score (q202): the per-occurrence add-one-smoothed
  * probability ratio, quantized to a BIGINT before summation —
  * cross-engine float logs would never hash-match, and the ranking the
  * selector consumes is preserved for the dominant single-feature
  * direction. All factors are positive BIGINTs, so Spark `div`
  * (truncate) and DuckDB `//` (floor) agree.
  */
object ImportanceWeights {

  import Entry.Q

  /** Quantization scale for the per-token probability ratio. 1e4 keeps
    * the full product S·(c_t+1)·(N_r+V) under ~1e17 at sf1 corpus
    * sizes — inside BIGINT with headroom.
    */
  val DsirScale = 10000L

  /** Selected-slice size — the "resampling budget". */
  val DsirTake = 100

  /** Target domain: English docs (the largest lang at every SF, so the
    * target estimate is never degenerate at sf0.001).
    */
  val DsirTargetLang = "en"

  /** q216 — DSIR importance weights: for every document, the sum over
    * its token occurrences of
    * ⌊S·(c_t(w)+1)·(N_r+V) / ((c_r(w)+1)·(N_t+V))⌋ — the quantized
    * add-one-smoothed ratio of target to raw unigram probability — and
    * the top-[[DsirTake]] docs by that score. Docs whose vocabulary
    * matches the target domain surface first; the LIMIT is the
    * importance-resampling selection step.
    *
    * Scale shape: one explode into (doc_id, w); the two count tables
    * and the ratio table are all vocabulary-bounded (hashed features
    * cap this by construction in real DSIR), so the score join is a
    * broadcast against the corpus-sized token stream; corpus totals are
    * a single-row cross join. One shuffle on doc_id for the final sum;
    * nothing quadratic, nothing corpus×corpus.
    */
  val q216DsirWeights: Q = (s, dir) => {
    import s.implicits._
    val docs = T.documents(s, dir)
    val tok = docs.select($"doc_id", $"lang",
      explode(split($"text", " ")).as("w"))
    val tot = tok.agg(
      count(lit(1)).as("n_r"),
      sum(when($"lang" === DsirTargetLang, 1L).otherwise(0L)).as("n_t"),
      countDistinct($"w").as("v"))
    val raw = tok.groupBy($"w").agg(count(lit(1)).as("c_r"))
    val tgt = tok.filter($"lang" === DsirTargetLang)
      .groupBy($"w").agg(count(lit(1)).as("c_t"))
    val ratio = raw.join(tgt, Seq("w"), "left")
      .crossJoin(broadcast(tot))
      .select($"w", expr(
        s"($DsirScale * (coalesce(c_t, 0L) + 1L) * (n_r + v)) div ((c_r + 1L) * (n_t + v))")
        .as("r"))
    tok.join(broadcast(ratio), Seq("w"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_toks"), sum($"r").as("score_q"))
      .join(docs.select($"doc_id", $"lang"), Seq("doc_id"))
      .select($"doc_id", $"lang", $"n_toks", $"score_q")
      .orderBy($"score_q".desc, $"doc_id")
      .limit(DsirTake)
  }

  val q216Sql: String =
    s"""WITH tok AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w
       |             FROM documents),
       |tot AS (SELECT COUNT(*) AS n_r,
       |               COUNT(*) FILTER (WHERE lang = '$DsirTargetLang') AS n_t,
       |               COUNT(DISTINCT w) AS v FROM tok),
       |raw AS (SELECT w, COUNT(*) AS c_r FROM tok GROUP BY w),
       |tgt AS (SELECT w, COUNT(*) AS c_t FROM tok
       |        WHERE lang = '$DsirTargetLang' GROUP BY w),
       |ratio AS (SELECT raw.w,
       |            ($DsirScale * (COALESCE(c_t, 0) + 1) * (n_r + v))
       |              // ((c_r + 1) * (n_t + v)) AS r
       |          FROM raw LEFT JOIN tgt ON raw.w = tgt.w CROSS JOIN tot),
       |score AS (SELECT doc_id, COUNT(*) AS n_toks,
       |                 CAST(SUM(r) AS BIGINT) AS score_q
       |          FROM tok JOIN ratio ON tok.w = ratio.w GROUP BY doc_id)
       |SELECT s.doc_id, d.lang, n_toks, score_q
       |FROM score s JOIN documents d ON s.doc_id = d.doc_id
       |ORDER BY score_q DESC, s.doc_id
       |LIMIT $DsirTake""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("q216_dsir_weights", q216DsirWeights, q216Sql))
}
