package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.PlanBridge

import graft.core.{Entry, Tables => T}

/** Lexical-diversity and distribution-distance statistics over the
  * corpus — the "how much MORE data is out there and how different is
  * each feed" readouts a 100 TB ingest review runs next to the drift
  * family (q314 PSI, q360 KL):
  *
  *   - q371 GOOD–TURING count-of-counts (Good 1953): the frequency-of-
  *     frequencies table N_r over token-trigram species and the
  *     adjusted count r* = (r+1)·N_{r+1}/N_r — the smoothing kernel of
  *     Katz/Kneser–Ney LMs and the direct estimate of how much
  *     probability mass belongs to UNSEEN events. Unigrams are useless
  *     here (the fixture's vocab is closed — 31 types, all frequent,
  *     N₁ = 0; SURVEY notes this honestly), so the species is the
  *     token TRIGRAM, whose census at sf0.01 is textbook Zipf-tailed
  *     (N₁ ≈ 9.4k, N₂ ≈ 4.5k, …).
  *   - q372 CHAO1 species-richness estimate (Chao 1984, bias-corrected
  *     form S_obs + N₁(N₁−1)/(2(N₂+1)) — defined even when N₂ = 0) +
  *     Good–Turing coverage 1 − N₁/N: "how many distinct trigram
  *     species would an infinite crawl of this corpus distribution
  *     see, and what fraction of mass have we already observed".
  *   - q373 Shannon ENTROPY per source + JENSEN–SHANNON divergence
  *     from the pooled corpus distribution — the symmetric, bounded
  *     (≤ ln 2) companion of q360's KL: JSD never explodes on
  *     disjoint support, so it is the number to ALERT on. Same cell
  *     construction as q360 (full source×vocab support, +1 Laplace
  *     smoothing), per-token terms micro-quantized and summed
  *     order-free (the q230/q314 fold).
  *
  * Reference: joelanford/console-etl has no text surface (it serves
  * opaque file bodies — main.go:300-333); these are north-star [N]
  * rows from SURVEY.md §2.b.
  *
  * Scale shapes: the trigram census is ONE partial-agg pass keyed on
  * the bounded-width 3-token string (short ids here; at web scale the
  * key would be md5'd per-doc pre-shuffle, the q139 span discipline);
  * the count-of-counts reduction then collapses the species frame to
  * ≤ max-count rows. q373 runs on the sources×vocab-bounded cell
  * frame.
  */
object DiversityStats {

  import Entry.Q

  /** Token-trigram species frame: (g, c) — one row per distinct
    * trigram with its corpus count. The split() is hoisted once per
    * doc (the q126 O(len²) trap), empty tokens filtered inside the
    * array.
    */
  private def trigramCounts(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    T.documents(s, dir)
      .withColumn("ts", expr("filter(split(text, ' '), t -> t <> '')"))
      .withColumn("g", explode(expr(
        """CASE WHEN size(ts) >= 3 THEN
          |  transform(sequence(0, size(ts) - 3),
          |    i -> concat_ws(' ', ts[i], ts[i+1], ts[i+2]))
          |ELSE array() END""".stripMargin)))
      .groupBy($"g").agg(count(lit(1)).as("c"))
  }

  private val TrigramCountsSql: String =
    """SELECT g, CAST(COUNT(*) AS BIGINT) AS c FROM (
      |  SELECT ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS g
      |  FROM (SELECT list_filter(string_split(text, ' '), t -> t <> '') AS ts
      |        FROM documents),
      |       UNNEST(range(1, len(ts) - 1)) AS t(i)
      |) GROUP BY g""".stripMargin

  /** q371 — Good–Turing count-of-counts over trigram species: per
    * observed frequency r, the number of species N_r seen exactly r
    * times and the Good–Turing adjusted count
    * r* = (r+1)·N_{r+1}/N_r (0 where N_{r+1} = 0 — the raw estimator,
    * honestly; smoothing N_r itself is q354's Zipf-fit territory).
    */
  val q371GoodTuring: Q = (s, dir) => {
    import s.implicits._
    val cc = trigramCounts(s, dir)
      .groupBy($"c".as("r")).agg(count(lit(1)).as("n_r"))
    val next = cc.select(($"r" - 1L).as("r"), $"n_r".as("n_next"))
    cc.join(next, Seq("r"), "left")
      .na.fill(0L, Seq("n_next"))
      .select($"r", $"n_r",
        expr("""CAST(FLOOR(1000000.0 *
               |  (CAST(r + 1 AS DOUBLE) * CAST(n_next AS DOUBLE)
               |   / CAST(n_r AS DOUBLE))) AS BIGINT)""".stripMargin)
          .as("rstar_micro"))
      .orderBy($"r")
  }

  val q371Sql: String =
    s"""WITH f AS ($TrigramCountsSql),
       |cc AS (SELECT c AS r, CAST(COUNT(*) AS BIGINT) AS n_r
       |       FROM f GROUP BY c)
       |SELECT cc.r, cc.n_r,
       |  CAST(FLOOR(1000000.0 *
       |    (CAST(cc.r + 1 AS DOUBLE) * CAST(COALESCE(nx.n_r, 0) AS DOUBLE)
       |     / CAST(cc.n_r AS DOUBLE))) AS BIGINT) AS rstar_micro
       |FROM cc LEFT JOIN cc nx ON nx.r = cc.r + 1
       |ORDER BY cc.r""".stripMargin

  /** q372 — Chao1 richness + Good–Turing coverage: one scalar row
    * (S_obs, N₁, N₂, N, chao1_micro, coverage_micro). Bias-corrected
    * Chao1 keeps the estimator defined when doubletons vanish; the
    * coverage 1 − N₁/N is the Good–Turing estimate of the probability
    * mass already observed (its complement is the missing mass —
    * exactly the chance the NEXT crawled trigram is novel).
    */
  val q372Chao1: Q = (s, dir) => {
    import s.implicits._
    trigramCounts(s, dir)
      .agg(count(lit(1)).as("s_obs"),
        sum(when($"c" === 1L, 1L).otherwise(0L)).as("n1"),
        sum(when($"c" === 2L, 1L).otherwise(0L)).as("n2"),
        sum($"c").as("n_tot"))
      .select($"s_obs", $"n1", $"n2", $"n_tot",
        expr("""CAST(FLOOR(1000000.0 * (CAST(s_obs AS DOUBLE)
               |  + CAST(n1 AS DOUBLE) * CAST(n1 - 1 AS DOUBLE)
               |    / (2.0 * CAST(n2 + 1 AS DOUBLE)))) AS BIGINT)"""
          .stripMargin).as("chao1_micro"),
        expr("""CAST(FLOOR(1000000.0 *
               |  (1.0 - CAST(n1 AS DOUBLE) / CAST(n_tot AS DOUBLE)))
               |  AS BIGINT)""".stripMargin).as("coverage_micro"))
  }

  val q372Sql: String =
    s"""WITH f AS ($TrigramCountsSql),
       |agg AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS s_obs,
       |    CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
       |    CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
       |    CAST(SUM(c) AS BIGINT) AS n_tot
       |  FROM f)
       |SELECT s_obs, n1, n2, n_tot,
       |  CAST(FLOOR(1000000.0 * (CAST(s_obs AS DOUBLE)
       |    + CAST(n1 AS DOUBLE) * CAST(n1 - 1 AS DOUBLE)
       |      / (2.0 * CAST(n2 + 1 AS DOUBLE)))) AS BIGINT) AS chao1_micro,
       |  CAST(FLOOR(1000000.0 *
       |    (1.0 - CAST(n1 AS DOUBLE) / CAST(n_tot AS DOUBLE)))
       |    AS BIGINT) AS coverage_micro
       |FROM agg""".stripMargin

  /** q373 — per-source Shannon entropy + Jensen–Shannon divergence
    * from the pooled corpus unigram distribution. Cell construction is
    * q360's verbatim (full source×vocab support, +1 smoothing, window
    * totals); each token's entropy term −p_s·ln p_s and JSD term
    * ½p_s·ln(p_s/m) + ½p_c·ln(p_c/m) with m = ½(p_s+p_c) is one
    * identically spelled double chain from exact BIGINT counts,
    * micro-quantized, summed order-free.
    */
  val q373EntropyJsd: Q = (s, dir) => {
    import s.implicits._
    // feeds the marginal and the per-source fold
    val st = PlanBridge.checkpointResetStats(T.documents(s, dir)
      .select($"source", explode(split($"text", " ")).as("tok"))
      .filter($"tok" =!= "")
      .groupBy($"source", $"tok").agg(count(lit(1)).as("c")))
    val vocab = st.groupBy($"tok").agg(sum($"c").as("ct"))
    val sources = st.select($"source").distinct()
    val cells = sources.crossJoin(vocab)
      .join(st, Seq("source", "tok"), "left")
      .na.fill(0L, Seq("c"))
    val wSrc = Window.partitionBy($"source")
    val tot = cells.withColumn("ts", sum($"c" + 1L).over(wSrc))
    val totC = vocab.agg(sum($"ct" + 1L).as("tc"))
    tot.crossJoin(broadcast(totC))
      .select($"source",
        expr("""CAST(FLOOR(1000000.0 * (
               |  -(CAST(c + 1 AS DOUBLE) / CAST(ts AS DOUBLE))
               |  * LN(CAST(c + 1 AS DOUBLE) / CAST(ts AS DOUBLE))
               |)) AS BIGINT)""".stripMargin).as("h_q"),
        expr("""CAST(FLOOR(1000000.0 * (
               |  0.5 * (CAST(c + 1 AS DOUBLE) / CAST(ts AS DOUBLE))
               |  * LN((CAST(c + 1 AS DOUBLE) / CAST(ts AS DOUBLE))
               |       / (0.5 * (CAST(c + 1 AS DOUBLE) / CAST(ts AS DOUBLE)
               |                 + CAST(ct + 1 AS DOUBLE) / CAST(tc AS DOUBLE))))
               |  + 0.5 * (CAST(ct + 1 AS DOUBLE) / CAST(tc AS DOUBLE))
               |  * LN((CAST(ct + 1 AS DOUBLE) / CAST(tc AS DOUBLE))
               |       / (0.5 * (CAST(c + 1 AS DOUBLE) / CAST(ts AS DOUBLE)
               |                 + CAST(ct + 1 AS DOUBLE) / CAST(tc AS DOUBLE))))
               |)) AS BIGINT)""".stripMargin).as("j_q"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_toks"), sum($"h_q").as("entropy_micro"),
        sum($"j_q").as("jsd_micro"))
      .orderBy($"source")
  }

  val q373Sql: String =
    """WITH st AS (
      |  SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS c
      |  FROM (SELECT source, UNNEST(string_split(text, ' ')) AS tok
      |        FROM documents)
      |  WHERE tok <> '' GROUP BY source, tok),
      |vocab AS (SELECT tok, CAST(SUM(c) AS BIGINT) AS ct
      |          FROM st GROUP BY tok),
      |cells AS (
      |  SELECT s.source, v.tok, v.ct, COALESCE(st.c, 0) AS c
      |  FROM (SELECT DISTINCT source FROM st) s
      |  CROSS JOIN vocab v
      |  LEFT JOIN st ON st.source = s.source AND st.tok = v.tok),
      |w AS (
      |  SELECT source, tok, ct, c,
      |    CAST(SUM(c + 1) OVER (PARTITION BY source) AS BIGINT) AS ts,
      |    (SELECT CAST(SUM(ct + 1) AS BIGINT) FROM vocab) AS tc
      |  FROM cells)
      |SELECT source, COUNT(*) AS n_toks,
      |  CAST(SUM(CAST(FLOOR(1000000.0 * (
      |    -(CAST(c + 1 AS DOUBLE) / CAST(ts AS DOUBLE))
      |    * LN(CAST(c + 1 AS DOUBLE) / CAST(ts AS DOUBLE))
      |  )) AS BIGINT)) AS BIGINT) AS entropy_micro,
      |  CAST(SUM(CAST(FLOOR(1000000.0 * (
      |    0.5 * (CAST(c + 1 AS DOUBLE) / CAST(ts AS DOUBLE))
      |    * LN((CAST(c + 1 AS DOUBLE) / CAST(ts AS DOUBLE))
      |         / (0.5 * (CAST(c + 1 AS DOUBLE) / CAST(ts AS DOUBLE)
      |                   + CAST(ct + 1 AS DOUBLE) / CAST(tc AS DOUBLE))))
      |    + 0.5 * (CAST(ct + 1 AS DOUBLE) / CAST(tc AS DOUBLE))
      |    * LN((CAST(ct + 1 AS DOUBLE) / CAST(tc AS DOUBLE))
      |         / (0.5 * (CAST(c + 1 AS DOUBLE) / CAST(ts AS DOUBLE)
      |                   + CAST(ct + 1 AS DOUBLE) / CAST(tc AS DOUBLE))))
      |  )) AS BIGINT)) AS BIGINT) AS jsd_micro
      |FROM w GROUP BY source
      |ORDER BY source""".stripMargin

  /** q379 — GINI coefficient of per-doc token counts by source (the
    * Lorenz/inequality readout of corpus concentration: "is this feed
    * a few whale documents or an even spread?" — the number that says
    * whether doc-level sampling is safe or a single doc dominates the
    * source's token budget): with x ranked ascending (rank i = 1..n),
    * G = (2Σi·xᵢ − (n+1)Σx)/(n·Σx) — every sufficient statistic an
    * exact BIGINT (rank·count products), ONE micro-quantized division
    * at the end. Ties don't disturb the sum (equal x under permuted
    * ranks contribute identically), so row_number is deterministic
    * enough without a tie-break convention.
    *
    * Scale shape: one per-source rank window + one partial agg; no
    * global sort (ranks are within-source).
    */
  val q379Gini: Q = (s, dir) => {
    import s.implicits._
    val w = Window.partitionBy($"source").orderBy($"ntok", $"doc_id")
    T.documents(s, dir)
      .select($"source", $"doc_id",
        size(expr("filter(split(text, ' '), t -> t <> '')")).cast("long")
          .as("ntok"))
      .withColumn("i", row_number().over(w).cast("long"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"), sum($"ntok").as("sum_tokens"),
        sum($"i" * $"ntok").as("rank_weighted"))
      .select($"source", $"n_docs", $"sum_tokens",
        expr("""CAST(FLOOR(1000000.0 *
               |  (CAST(2 * rank_weighted - (n_docs + 1) * sum_tokens
               |        AS DOUBLE)
               |   / CAST(n_docs * sum_tokens AS DOUBLE))) AS BIGINT)"""
          .stripMargin).as("gini_micro"))
      .orderBy($"source")
  }

  val q379Sql: String =
    """WITH d AS (
      |  SELECT source, doc_id,
      |    CAST(len(list_filter(string_split(text, ' '), t -> t <> ''))
      |      AS BIGINT) AS ntok
      |  FROM documents),
      |r AS (
      |  SELECT source, ntok,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY source
      |      ORDER BY ntok, doc_id) AS BIGINT) AS i
      |  FROM d),
      |a AS (
      |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |    CAST(SUM(ntok) AS BIGINT) AS sum_tokens,
      |    CAST(SUM(i * ntok) AS BIGINT) AS rank_weighted
      |  FROM r GROUP BY source)
      |SELECT source, n_docs, sum_tokens,
      |  CAST(FLOOR(1000000.0 *
      |    (CAST(2 * rank_weighted - (n_docs + 1) * sum_tokens AS DOUBLE)
      |     / CAST(n_docs * sum_tokens AS DOUBLE))) AS BIGINT) AS gini_micro
      |FROM a
      |ORDER BY source""".stripMargin

  /** q402 pretokenizer pattern — GPT-2's (Radford et al. 2019)
    * minus the `\s+(?!\S)` lookahead (RE2, DuckDB's engine, has no
    * lookahead; the dropped branch only changes how trailing spaces
    * attach, documented simplification): contractions, space-prefixed
    * letter runs, digit runs, punctuation runs, whitespace runs.
    */
  val PretokPattern =
    "'(?:[sdmt]|ll|ve|re)| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+|\\s+"

  /** q402 — BPE-style regex PRETOKENIZER census (the GPT-2 pattern
    * every modern tokenizer pipeline runs before merges): per source,
    * whitespace-token vs pretoken counts and the FERTILITY ratio
    * (pretokens per whitespace token — the "how many pieces does this
    * source shatter into" number that sets its real token budget;
    * the fixture's `tok123`-style words split into a letter run + a
    * digit run, so fertility ≈ 2, visible and oracle-checked).
    * Pure-whitespace matches are dropped from the pretoken count
    * (they merge into the following piece in real BPE).
    *
    * Scale shape: both counts are per-row narrow expressions inside
    * the scan; ONE per-source partial agg.
    */
  val q402Pretokenizer: Q = (s, dir) => {
    import s.implicits._
    T.documents(s, dir)
      .select($"source",
        size(expr("filter(split(text, ' '), t -> t <> '')")).cast("long")
          .as("ws"),
        size(filter(
          regexp_extract_all($"text", lit(PretokPattern), lit(0)),
          t => trim(t) =!= "")).cast("long").as("pre"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"), sum($"ws").as("ws_tokens"),
        sum($"pre").as("pre_tokens"))
      .select($"source", $"n_docs", $"ws_tokens", $"pre_tokens",
        expr("""CAST(FLOOR(1000000.0 * (CAST(pre_tokens AS DOUBLE)
               |  / CAST(ws_tokens AS DOUBLE))) AS BIGINT)""".stripMargin)
          .as("fertility_micro"))
      .orderBy($"source")
  }

  private val PretokSqlLit = PretokPattern.replace("'", "''")

  val q402Sql: String =
    s"""SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(ws) AS BIGINT) AS ws_tokens,
       |  CAST(SUM(pre) AS BIGINT) AS pre_tokens,
       |  CAST(FLOOR(1000000.0 * (CAST(SUM(pre) AS DOUBLE)
       |    / CAST(SUM(ws) AS DOUBLE))) AS BIGINT) AS fertility_micro
       |FROM (
       |  SELECT source,
       |    CAST(len(list_filter(string_split(text, ' '), t -> t <> ''))
       |      AS BIGINT) AS ws,
       |    CAST(len(list_filter(regexp_extract_all(text,
       |      '$PretokSqlLit'), t -> trim(t) <> '')) AS BIGINT) AS pre
       |  FROM documents)
       |GROUP BY source
       |ORDER BY source""".stripMargin

  /** q403 top-list size. */
  val SurgeTake = 10

  /** q403 — SURGING-TOKEN drill-down (the itemized companion the
    * aggregate drift family (PSI q314 / KL q360 / JSD q373 / EMD
    * q393) hands to a human: WHICH tokens moved?): corpus halves by
    * doc_id midpoint (the fixture's ingest-order proxy for old/new —
    * a dated corpus would split on time), per-token +1-smoothed rate
    * log-ratio ln((c_new+1)/(N_new+V) · (N_old+V)/(c_old+1)), exact
    * BIGINT counts into one spelled double per token, top-|ratio|
    * list with ties pinned by token.
    *
    * Scale shape: ONE (half, tok) partial agg; the ratio and top-k
    * run on the vocab-bounded frame (TakeOrdered, no global sort).
    */
  val q403SurgingTokens: Q = (s, dir) => {
    import s.implicits._
    val docs = T.documents(s, dir)
    val mid = docs.agg((((min($"doc_id") + max($"doc_id") + 1L) / 2L)
      .cast("long")).as("mid"))
    // totals + vocab + per-token ratios
    val tc = PlanBridge.checkpointResetStats(docs.crossJoin(broadcast(mid))
      .select(($"doc_id" >= $"mid").as("new_half"),
        explode(split($"text", " ")).as("tok"))
      .filter($"tok" =!= "")
      .groupBy($"tok")
      .agg(sum(when(!$"new_half", 1L).otherwise(0L)).as("c_old"),
        sum(when($"new_half", 1L).otherwise(0L)).as("c_new")))
    val tot = tc.agg(sum($"c_old").as("n_old"), sum($"c_new").as("n_new"),
      count(lit(1)).as("v"))
    tc.crossJoin(broadcast(tot))
      .select($"tok", $"c_old", $"c_new",
        expr("""CAST(FLOOR(1000000.0 * LN(
               |  (CAST(c_new + 1 AS DOUBLE) / CAST(n_new + v AS DOUBLE))
               |  / (CAST(c_old + 1 AS DOUBLE) / CAST(n_old + v AS DOUBLE))
               |)) AS BIGINT)""".stripMargin).as("log_ratio_micro"))
      .orderBy(abs($"log_ratio_micro").desc, $"tok".asc)
      .limit(SurgeTake)
  }

  val q403Sql: String =
    s"""WITH m AS (SELECT (MIN(doc_id) + MAX(doc_id) + 1) // 2 AS mid
       |           FROM documents),
       |tc AS (
       |  SELECT tok,
       |    CAST(SUM(CASE WHEN NOT new_half THEN 1 ELSE 0 END) AS BIGINT)
       |      AS c_old,
       |    CAST(SUM(CASE WHEN new_half THEN 1 ELSE 0 END) AS BIGINT)
       |      AS c_new
       |  FROM (
       |    SELECT doc_id >= mid AS new_half,
       |      UNNEST(string_split(text, ' ')) AS tok
       |    FROM documents CROSS JOIN m)
       |  WHERE tok <> '' GROUP BY tok),
       |tot AS (SELECT CAST(SUM(c_old) AS BIGINT) AS n_old,
       |  CAST(SUM(c_new) AS BIGINT) AS n_new,
       |  CAST(COUNT(*) AS BIGINT) AS v FROM tc)
       |SELECT tok, c_old, c_new,
       |  CAST(FLOOR(1000000.0 * LN(
       |    (CAST(c_new + 1 AS DOUBLE) / CAST(n_new + v AS DOUBLE))
       |    / (CAST(c_old + 1 AS DOUBLE) / CAST(n_old + v AS DOUBLE))
       |  )) AS BIGINT) AS log_ratio_micro
       |FROM tc CROSS JOIN tot
       |ORDER BY abs(log_ratio_micro) DESC, tok ASC
       |LIMIT $SurgeTake""".stripMargin

  /** q415 top-order-statistics count. */
  val HillK = 100

  /** q415 — HILL tail-index estimator over the trigram frequency
    * distribution (Hill 1975 — the standard power-law tail reading:
    * q354 fits the Zipf slope through the WHOLE rank-frequency line,
    * Hill reads only the top-k order statistics, which is where
    * heavy-tail behavior actually lives and what extreme-value theory
    * licenses): H = (1/k)Σᵢ₌₁..k ln(x₍ᵢ₎/x₍ₖ₊₁₎), α̂ = 1/H. Order
    * statistics come from one (count desc, species asc) rank window
    * (ties pinned); per-term logs micro-quantized from exact BIGINT
    * counts and summed order-free; α̂ one spelled double chain.
    *
    * Scale shape: the same single species census; ranking runs on the
    * census frame, the fold on k+1 rows.
    */
  val q415HillTail: Q = (s, dir) => {
    import s.implicits._
    // r18 (verdict item 5): census rank via the two-level scan, not a
    // one-task global window (the census grows with vocabulary)
    val top = graft.relational.QuantileNormalize.fullRankGlobal(
        trigramCounts(s, dir), Seq($"c".desc, $"g".asc), "rk")
      .filter($"rk" <= HillK + 1)
    val xk1 = top.filter($"rk" === HillK + 1).select($"c".as("xk1"))
    top.filter($"rk" <= HillK).crossJoin(broadcast(xk1))
      .select(expr("""CAST(FLOOR(1000000.0 *
                     |  LN(CAST(c AS DOUBLE) / CAST(xk1 AS DOUBLE)))
                     |  AS BIGINT)""".stripMargin).as("term_micro"),
        $"xk1")
      .groupBy($"xk1")
      .agg(sum($"term_micro").as("sum_micro"))
      .select(lit(HillK.toLong).as("k"), $"xk1",
        expr(s"CAST(sum_micro div $HillK AS BIGINT)").as("hill_micro"),
        expr(s"""CAST(FLOOR(1000000.0 /
                |  (CAST(sum_micro AS DOUBLE) / (1000000.0 * $HillK.0)))
                |  AS BIGINT)""".stripMargin).as("alpha_micro"))
  }

  val q415Sql: String =
    s"""WITH f AS ($TrigramCountsSql),
       |r AS (
       |  SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, g ASC) AS rk
       |  FROM f),
       |xk AS (SELECT c AS xk1 FROM r WHERE rk = ${HillK + 1}),
       |t AS (
       |  SELECT CAST(FLOOR(1000000.0 *
       |    LN(CAST(c AS DOUBLE) / CAST(xk1 AS DOUBLE))) AS BIGINT)
       |    AS term_micro, xk1
       |  FROM r CROSS JOIN xk WHERE rk <= $HillK)
       |SELECT CAST($HillK AS BIGINT) AS k, xk1,
       |  CAST(SUM(term_micro) // $HillK AS BIGINT) AS hill_micro,
       |  CAST(FLOOR(1000000.0 /
       |    (CAST(SUM(term_micro) AS DOUBLE) / (1000000.0 * $HillK.0)))
       |    AS BIGINT) AS alpha_micro
       |FROM t GROUP BY xk1""".stripMargin

  /** q416 — VOCABULARY COVERAGE curve points (the tokenizer-design
    * readout: how many highest-frequency species cover 50/90/99% of
    * corpus mass — the number that sizes a vocab before training it;
    * read on the trigram census where the tail actually exists):
    * k_X = smallest rank whose cumulative count clears X% — the
    * comparison is the exact integer cross-multiplication
    * 100·cum ≥ X·total, no ratio ever materialized.
    *
    * Scale shape: one census pass; one (count desc, species) rank +
    * cum window on the census frame; three MIN aggregates.
    */
  val q416VocabCoverage: Q = (s, dir) => {
    import s.implicits._
    // r18 (verdict item 5): rank + running mass via the two-level
    // scans, not one-task global windows over the growing census
    import graft.relational.QuantileNormalize.{fullCumSum, fullRankGlobal}
    val cum = fullCumSum(
      fullRankGlobal(trigramCounts(s, dir),
        Seq($"c".desc, $"g".asc), "rk"),
      Seq($"rk".asc), "c" -> "cum")
    val tot = cum.agg(max($"cum").as("total"), count(lit(1)).as("vocab"))
    cum.crossJoin(broadcast(tot))
      .agg(first($"vocab").as("vocab"), first($"total").as("total_mass"),
        min(when($"cum" * 100L >= $"total" * 50L, $"rk")).as("k50"),
        min(when($"cum" * 100L >= $"total" * 90L, $"rk")).as("k90"),
        min(when($"cum" * 100L >= $"total" * 99L, $"rk")).as("k99"))
  }

  val q416Sql: String =
    s"""WITH f AS ($TrigramCountsSql),
       |r AS (
       |  SELECT c,
       |    CAST(ROW_NUMBER() OVER (ORDER BY c DESC, g ASC) AS BIGINT) AS rk,
       |    CAST(SUM(c) OVER (ORDER BY c DESC, g ASC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      AS cum
       |  FROM f),
       |t AS (SELECT CAST(MAX(cum) AS BIGINT) AS total,
       |             CAST(COUNT(*) AS BIGINT) AS vocab FROM r)
       |SELECT ANY_VALUE(vocab) AS vocab, ANY_VALUE(total) AS total_mass,
       |  MIN(CASE WHEN cum * 100 >= total * 50 THEN rk END) AS k50,
       |  MIN(CASE WHEN cum * 100 >= total * 90 THEN rk END) AS k90,
       |  MIN(CASE WHEN cum * 100 >= total * 99 THEN rk END) AS k99
       |FROM r CROSS JOIN t""".stripMargin

  /** q427 — THEIL-T inequality with between/within DECOMPOSITION
    * (Theil 1967 — the reason to run it NEXT TO q379's Gini: Gini
    * doesn't decompose, Theil splits corpus token-mass inequality
    * exactly into "sources differ from each other" vs "docs differ
    * inside their source", which tells a curation review WHERE to
    * intervene): T = (1/N)Σ(xᵢ/μ)ln(xᵢ/μ), T_between from source
    * means, weighted within from per-source terms. Every per-doc and
    * per-source term is one identically spelled double chain from
    * exact BIGINTs, micro-quantized, summed order-free; the three
    * emitted numbers come from those quantized pieces (closure
    * T ≈ between + within then holds to quantization, checked in the
    * spec-free oracle by value equality of each piece).
    *
    * Scale shape: one per-doc narrow pass + one per-source partial
    * agg; the between fold runs on the sources-bounded frame.
    */
  val q427TheilDecomposition: Q = (s, dir) => {
    import s.implicits._
    val docs = PlanBridge.checkpointResetStats(T.documents(s, dir)
      .select($"source",
        size(expr("filter(split(text, ' '), t -> t <> '')")).cast("long")
          .as("x"))
      .filter($"x" > 0L)) // totals, per-source, and per-doc terms
    val tot = docs.agg(count(lit(1)).as("nn"), sum($"x").as("xx"))
    val bySrc = docs.groupBy($"source")
      .agg(count(lit(1)).as("n_s"), sum($"x").as("x_s"))
    val tTotal = docs.crossJoin(broadcast(tot))
      .select(expr(
        """CAST(FLOOR(1000000.0 * (
          |  (CAST(x AS DOUBLE) * CAST(nn AS DOUBLE) / CAST(xx AS DOUBLE))
          |  * LN(CAST(x AS DOUBLE) * CAST(nn AS DOUBLE)
          |       / CAST(xx AS DOUBLE)))) AS BIGINT)""".stripMargin)
        .as("tq"))
      .agg(sum($"tq").as("num"))
    val tBetween = bySrc.crossJoin(broadcast(tot))
      .select(expr(
        """CAST(FLOOR(1000000.0 * (
          |  (CAST(x_s AS DOUBLE) / CAST(xx AS DOUBLE))
          |  * LN((CAST(x_s AS DOUBLE) / CAST(n_s AS DOUBLE))
          |       / (CAST(xx AS DOUBLE) / CAST(nn AS DOUBLE)))))
          |  AS BIGINT)""".stripMargin).as("bq"))
      .agg(sum($"bq").as("between_micro"))
    val tWithin = docs.join(bySrc, "source").crossJoin(broadcast(tot))
      .select(expr(
        """CAST(FLOOR(1000000.0 * (
          |  (CAST(x AS DOUBLE) / CAST(xx AS DOUBLE))
          |  * LN(CAST(x AS DOUBLE) * CAST(n_s AS DOUBLE)
          |       / CAST(x_s AS DOUBLE)))) AS BIGINT)""".stripMargin)
        .as("wq"))
      .agg(sum($"wq").as("within_weighted_micro"))
    tot.crossJoin(broadcast(tTotal)).crossJoin(broadcast(tBetween))
      .crossJoin(broadcast(tWithin))
      .select($"nn".as("n_docs"), $"xx".as("tokens"),
        expr("CAST(num div nn AS BIGINT)").as("t_total_micro"),
        $"between_micro", $"within_weighted_micro")
  }

  val q427Sql: String =
    """WITH d AS (
      |  SELECT source,
      |    CAST(len(list_filter(string_split(text, ' '), t -> t <> ''))
      |      AS BIGINT) AS x
      |  FROM documents),
      |docs AS (SELECT * FROM d WHERE x > 0),
      |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS nn,
      |               CAST(SUM(x) AS BIGINT) AS xx FROM docs),
      |bysrc AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_s,
      |                 CAST(SUM(x) AS BIGINT) AS x_s
      |          FROM docs GROUP BY source),
      |tt AS (
      |  SELECT CAST(SUM(CAST(FLOOR(1000000.0 * (
      |    (CAST(x AS DOUBLE) * CAST(nn AS DOUBLE) / CAST(xx AS DOUBLE))
      |    * LN(CAST(x AS DOUBLE) * CAST(nn AS DOUBLE)
      |         / CAST(xx AS DOUBLE)))) AS BIGINT)) AS BIGINT) AS num
      |  FROM docs CROSS JOIN tot),
      |tb AS (
      |  SELECT CAST(SUM(CAST(FLOOR(1000000.0 * (
      |    (CAST(x_s AS DOUBLE) / CAST(xx AS DOUBLE))
      |    * LN((CAST(x_s AS DOUBLE) / CAST(n_s AS DOUBLE))
      |         / (CAST(xx AS DOUBLE) / CAST(nn AS DOUBLE)))))
      |    AS BIGINT)) AS BIGINT) AS between_micro
      |  FROM bysrc CROSS JOIN tot),
      |tw AS (
      |  SELECT CAST(SUM(CAST(FLOOR(1000000.0 * (
      |    (CAST(x AS DOUBLE) / CAST(xx AS DOUBLE))
      |    * LN(CAST(x AS DOUBLE) * CAST(n_s AS DOUBLE)
      |         / CAST(x_s AS DOUBLE)))) AS BIGINT)) AS BIGINT)
      |    AS within_weighted_micro
      |  FROM docs JOIN bysrc USING (source) CROSS JOIN tot)
      |SELECT nn AS n_docs, xx AS tokens,
      |  CAST(num // nn AS BIGINT) AS t_total_micro,
      |  between_micro, within_weighted_micro
      |FROM tot CROSS JOIN tt CROSS JOIN tb CROSS JOIN tw""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("q427_theil_decomposition", q427TheilDecomposition, q427Sql),
    Entry("q416_vocab_coverage", q416VocabCoverage, q416Sql),
    Entry("q415_hill_tail", q415HillTail, q415Sql),
    Entry("q402_pretokenizer", q402Pretokenizer, q402Sql),
    Entry("q403_surging_tokens", q403SurgingTokens, q403Sql),
    Entry("q379_gini", q379Gini, q379Sql),
    Entry("q371_good_turing", q371GoodTuring, q371Sql),
    Entry("q372_chao1", q372Chao1, q372Sql),
    Entry("q373_entropy_jsd", q373EntropyJsd, q373Sql))
}
