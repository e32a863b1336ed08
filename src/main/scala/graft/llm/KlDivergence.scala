package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.PlanBridge

import graft.core.{Entry, Tables => T}

/** PER-GROUP KL DIVERGENCE from the corpus unigram distribution
  * (Kullback–Leibler Ann.Math.Stat'51; the corpus-BALANCE diagnostic
  * data-mixing work reads before setting source weights — Xie et al.
  * 2023 DoReMi §3 optimizes exactly these per-domain divergences, and
  * CCNet-style pipelines report them per language/source shard):
  * for every language g, D(p_g ‖ p_corpus) = Σ_w p_g(w)·ln(p_g(w)/
  * p(w)) over the shared vocabulary — how far each shard's token
  * distribution sits from the blend it will be mixed into. Completes
  * the divergence family next to PMI (q384), DSIR's ratio scores
  * (q216) and the per-doc LM perplexity (q569).
  *
  * Exactness (the q569 discipline): all counts are exact BIGINTs; the
  * per-(g, w) log-ratio argument is the EXACT integer rational
  * (c_g·N_all)/(c_all·N_g) evaluated as one correctly-rounded double
  * division chain, LN'd once per (g, w) TYPE and micro-floored to a
  * BIGINT (⌊10⁶·ln r⌋ — FLOOR on a possibly-negative double is
  * floor-toward−∞ in BOTH engines, unlike integer div); the group sum
  * Σ_w c_g(w)·w_q is then an order-free exact integer = 10⁶·N_g·D̂_g
  * carried in DECIMAL(38,0)/HUGEINT on BOTH sides (r16 advice: at
  * N_g ~ 10¹³ tokens and |w_q| ≤ ~3·10⁷ micro-nats the per-term
  * product and the group sum pass int64, where a Long spelling wraps
  * Spark-side only while DuckDB's SUM promotes — the q540 trap class;
  * the DECIMAL bound N_g·|w_q| ≤ 10³⁸ holds to N_g ~ 3·10³⁰), and the
  * statistic finishes as EXACT INTEGER MICRO-NATS kl_micronats =
  * ⌊kl_q/N_g⌋ via [[graft.core.ExactDiv.floorDiv]] — no
  * wide-int→double conversion survives to the output (the r16 q540
  * per-build-rounding lesson, applied before it bites here). The spec
  * measures the fixture weights' distance to the floor boundary (the
  * q569 libm margin argument — measured 1.63·10⁻³ vs ~3·10⁻⁹ 1-ulp
  * drift).
  * c_g(w) ≤ c_all(w) always (the group is part of the corpus), so the
  * ratio is finite and positive — no NULLIF needed; zero-count terms
  * never appear (the weight table is built from OBSERVED (g, w)
  * pairs).
  *
  * Scale shape: one tokenize explode; the (g, w) and (w) count tables
  * are vocab-bounded partial aggs; the weight projection and the
  * per-group sum are one equi-join + one agg. Nothing quadratic, no
  * window, no broadcast of corpus-sized state.
  */
object KlDivergence {

  import Entry.Q

  /** Micro-nat quantization scale (the q569 constant). */
  val KlScale = 1000000L

  val q575KlDivergence: Q = (s, dir) =>
    klByGroup(T.documents(s, dir).select(col("lang").as("g"), col("text")))

  /** `(g, n_tokens, vocab_g, kl_q, kl_micronats)` over a `(g, text)`
    * frame — kl_q exact BIGINT (128-bit internally, finished at the
    * output boundary), kl_micronats = ⌊kl_q/N_g⌋ exact BIGINT
    * micro-nats.
    */
  def klByGroup(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val tok = docs.select($"g", explode(split($"text", " ")).as("w"))
    val cg = PlanBridge.checkpointResetStats(
      tok.groupBy($"g", $"w").agg(count(lit(1)).as("c_g")))
    val call = cg.groupBy($"w").agg(sum($"c_g").as("c_all"))
    val ng = cg.groupBy($"g").agg(sum($"c_g").as("n_g"),
      count(lit(1)).as("vocab_g"))
    val nall = call.agg(sum($"c_all").as("n_all"))
    val weighted = cg.join(call, Seq("w"))
      .join(ng, Seq("g"))
      .crossJoin(broadcast(nall))
      .withColumn("w_raw", expr(
        s"""$KlScale.0 * LN(
           |  (CAST(c_g AS DOUBLE) * CAST(n_all AS DOUBLE))
           |  / (CAST(c_all AS DOUBLE) * CAST(n_g AS DOUBLE)))"""
          .stripMargin))
      .withColumn("w_q", expr("CAST(FLOOR(w_raw) AS BIGINT)"))
    weighted.groupBy($"g")
      .agg(first($"n_g").as("n_tokens"), first($"vocab_g").as("vocab_g"),
        sum($"c_g".cast("decimal(38,0)") * $"w_q").as("kl_q"))
      .withColumn("kl_micronats", expr(KlMicroFormula("div")))
      // kl_q finishes as BIGINT at the output boundary (r17 driver
      // red: DECIMAL(38,0)/HUGEINT OUTPUT columns fail the driver's
      // parquet hash gate; |kl_q| ≤ N_g·|w_q| ≤ N_g·3·10⁷ stays
      // int64 to N_g ≈ 3·10¹¹ tokens per group — documented bound).
      // The 128-bit sum stays INTERNAL for the floor division above.
      .select($"g", $"n_tokens", $"vocab_g",
        $"kl_q".cast("long").as("kl_q"), $"kl_micronats")
      .orderBy($"g")
  }

  /** The weight table with the pre-floor value — the spec's boundary
    * measurement surface (q569 convention).
    */
  def klWeightTable(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    klByGroupInternalWeights(docs)
  }

  private def klByGroupInternalWeights(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val tok = docs.select($"g", explode(split($"text", " ")).as("w"))
    val cg = tok.groupBy($"g", $"w").agg(count(lit(1)).as("c_g"))
    val call = cg.groupBy($"w").agg(sum($"c_g").as("c_all"))
    val ng = cg.groupBy($"g").agg(sum($"c_g").as("n_g"))
    val nall = call.agg(sum($"c_all").as("n_all"))
    cg.join(call, Seq("w")).join(ng, Seq("g"))
      .crossJoin(broadcast(nall))
      .withColumn("w_raw", expr(
        s"""$KlScale.0 * LN(
           |  (CAST(c_g AS DOUBLE) * CAST(n_all AS DOUBLE))
           |  / (CAST(c_all AS DOUBLE) * CAST(n_g AS DOUBLE)))"""
          .stripMargin))
      .select($"g", $"w", $"w_raw")
  }

  /** Shared finish: micro-nats = ⌊kl_q / N_g⌋ (kl_q = 10⁶·N_g·D̂_g, so
    * the quotient is 10⁶·D̂_g) — exact integer floor division; kl_q
    * may dip slightly negative from the per-term floors, so the
    * true-floor spelling matters. Spark divides the DECIMAL(38,0)
    * column; DuckDB divides the HUGEINT pre-cast (its `//` on DECIMAL
    * returns DOUBLE — measured, the exact trap this avoids).
    */
  def KlMicroFormula(idiv: String): String =
    "CAST(" + graft.core.ExactDiv.floorDiv(
      "kl_q", "CAST(n_tokens AS DECIMAL(38,0))", idiv) + " AS BIGINT)"

  val KlMicroFormulaDuck: String =
    "CAST(" + graft.core.ExactDiv.floorDiv(
      "kl_qh", "CAST(n_tokens AS HUGEINT)", "//") + " AS BIGINT)"

  val q575Sql: String =
    s"""WITH tok AS (
      |  SELECT lang AS g, unnest(string_split(text, ' ')) AS w
      |  FROM documents),
      |cg AS (SELECT g, w, COUNT(*) AS c_g FROM tok GROUP BY 1, 2),
      |call_ AS (SELECT w, CAST(SUM(c_g) AS BIGINT) AS c_all
      |          FROM cg GROUP BY 1),
      |ng AS (SELECT g, CAST(SUM(c_g) AS BIGINT) AS n_g,
      |              COUNT(*) AS vocab_g FROM cg GROUP BY 1),
      |nall AS (SELECT CAST(SUM(c_all) AS BIGINT) AS n_all FROM call_),
      |wt AS (
      |  SELECT cg.g, cg.c_g, ng.n_g, ng.vocab_g,
      |    CAST(FLOOR($KlScale.0 * LN(
      |      (CAST(c_g AS DOUBLE) * CAST(n_all AS DOUBLE))
      |      / (CAST(c_all AS DOUBLE) * CAST(n_g AS DOUBLE))))
      |      AS BIGINT) AS w_q
      |  FROM cg JOIN call_ ON cg.w = call_.w
      |          JOIN ng ON cg.g = ng.g
      |          CROSS JOIN nall),
      |agg AS (
      |  -- divide in HUGEINT (DuckDB's // on DECIMAL returns DOUBLE —
      |  -- measured); kl_q goes DECIMAL only at the output boundary
      |  SELECT g, MAX(n_g) AS n_tokens, MAX(vocab_g) AS vocab_g,
      |    SUM(CAST(c_g AS HUGEINT) * w_q) AS kl_qh
      |  FROM wt GROUP BY g)
      |SELECT g, n_tokens, vocab_g, CAST(kl_qh AS BIGINT) AS kl_q,
      |  ${KlMicroFormulaDuck} AS kl_micronats
      |FROM agg ORDER BY g""".stripMargin

  /** q576 — pairwise JENSEN–SHANNON divergence matrix between
    * language shards (Lin IEEE-IT'91: the SYMMETRIC, bounded-by-ln 2
    * sibling of q575 — the shard-vs-shard distance data-mixing work
    * plots as a heatmap; q575 measures each shard against the blend,
    * this measures shards against EACH OTHER):
    * JS(p, q) = ½·KL(p ‖ m) + ½·KL(q ‖ m) with m = ½(p + q).
    *
    * Exactness: with p_w = a/N_p, q_w = b/N_q, the two log arguments
    * are the EXACT integer rationals 2·a·N_q / (a·N_q + b·N_p) and
    * 2·b·N_p / (a·N_q + b·N_p) — zero-count terms contribute exactly
    * nothing to their side's KL (x·ln x → 0), so the union vocabulary
    * needs no smoothing and every ratio is finite; the q575/q569
    * micro-floor discipline applies verbatim (one LN per (pair, w)
    * type per side, BIGINT weights, order-free exact sums
    * js2_q = Σ a·w_p + Σ b·w_q = 2·10⁶·N_p·N_q-scaled... the halves
    * fold as one shared formula over the two exact integer sums).
    *
    * Scale shape: the (g, w) count table is vocab-bounded; the pair
    * frame is a |langs|²-bounded self-join of PER-GROUP counts (never
    * of the corpus), FULL-OUTER on the term key so one-sided terms
    * survive with the correct zero weight.
    */
  val q576JsMatrix: Q = (s, dir) =>
    jsMatrix(T.documents(s, dir).select(col("lang").as("g"), col("text")))

  /** `(g1, g2, js_p_q, js_q_q, js_nats)` for every unordered group
    * pair, ordered.
    */
  /** Pre-floor log-ratio of the p-side (p vs the mixture) — shared by
    * the weight projection and the spec's boundary measurement.
    */
  private val RawP: String =
    s"""$KlScale.0 * LN(
       |  (2.0 * CAST(a AS DOUBLE) * CAST(nq AS DOUBLE))
       |  / (CAST(a AS DOUBLE) * CAST(nq AS DOUBLE)
       |     + CAST(b AS DOUBLE) * CAST(np AS DOUBLE)))""".stripMargin

  private val RawQ: String =
    s"""$KlScale.0 * LN(
       |  (2.0 * CAST(b AS DOUBLE) * CAST(np AS DOUBLE))
       |  / (CAST(a AS DOUBLE) * CAST(nq AS DOUBLE)
       |     + CAST(b AS DOUBLE) * CAST(np AS DOUBLE)))""".stripMargin

  /** The per-(pair, term) count frame `(g1, g2, w, a, b, np, nq)` over
    * the union vocabulary of each pair.
    */
  private def jsTerms(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val tok = docs.select($"g", explode(split($"text", " ")).as("w"))
    val cg = PlanBridge.checkpointResetStats(
      tok.groupBy($"g", $"w").agg(count(lit(1)).as("c")))
    val ng = cg.groupBy($"g").agg(sum($"c").as("n"))
    val pairsG = ng.as("x").join(ng.as("y"), $"x.g" < $"y.g")
      .select($"x.g".as("g1"), $"y.g".as("g2"),
        $"x.n".as("np"), $"y.n".as("nq"))
    // union vocabulary PER PAIR (two equi-joins + distinct — a term in
    // only one side must still contribute its a·ln 2 / b·ln 2 term)
    val vocabP = pairsG
      .join(cg.select($"g".as("g1"), $"w"), Seq("g1"))
      .select($"g1", $"g2", $"np", $"nq", $"w")
      .unionAll(pairsG.join(cg.select($"g".as("g2"), $"w"), Seq("g2"))
        .select($"g1", $"g2", $"np", $"nq", $"w"))
      .distinct()
    vocabP
      .join(cg.select($"g".as("g1"), $"w", $"c".as("a")),
        Seq("g1", "w"), "left")
      .join(cg.select($"g".as("g2"), $"w", $"c".as("b")),
        Seq("g2", "w"), "left")
      .select($"g1", $"g2", $"w",
        coalesce($"a", lit(0L)).as("a"), coalesce($"b", lit(0L)).as("b"),
        $"np", $"nq")
  }

  /** Every pre-floor JS weight of the corpus, both sides — the spec's
    * boundary-margin surface (q569 convention).
    */
  def jsWeightTable(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val t = jsTerms(docs)
    t.filter($"a" > 0L).select(expr(RawP).as("w_raw"))
      .unionAll(t.filter($"b" > 0L).select(expr(RawQ).as("w_raw")))
  }

  def jsMatrix(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val weighted = jsTerms(docs)
      .withColumn("wp_q", expr(
        s"CASE WHEN a = 0 THEN 0L ELSE CAST(FLOOR($RawP) AS BIGINT) END"))
      .withColumn("wq_q", expr(
        s"CASE WHEN b = 0 THEN 0L ELSE CAST(FLOOR($RawQ) AS BIGINT) END"))
    weighted.groupBy($"g1", $"g2")
      .agg(first($"np").as("np"), first($"nq").as("nq"),
        sum($"a".cast("decimal(38,0)") * $"wp_q").as("js_p_q"),
        sum($"b".cast("decimal(38,0)") * $"wq_q").as("js_q_q"))
      .withColumn("js_micronats", expr(JsMicroFormula("div",
        "js_p_q", "js_q_q",
        "CAST(np AS DECIMAL(38,0))", "CAST(nq AS DECIMAL(38,0))")))
      // BIGINT at the output boundary (same r17 driver-red mechanism
      // and bound as kl_q above); 128-bit sums stay INTERNAL.
      .select($"g1", $"g2", $"js_p_q".cast("long").as("js_p_q"),
        $"js_q_q".cast("long").as("js_q_q"), $"js_micronats")
      .orderBy($"g1", $"g2")
  }

  /** Shared finish: ½·KL(p‖m) + ½·KL(q‖m) in exact integer micro-nats
    * — ⌊js_p_q/(2·N_p)⌋ + ⌊js_q_q/(2·N_q)⌋, each side's exact sum
    * floor-divided by its own 2·N (per-side floor quantization, so the
    * reported value is within 2 micro-nats below the unquantized ½/½
    * blend — deterministic on every build, unlike the previous
    * wide-int→double finish).
    */
  def JsMicroFormula(idiv: String, p: String, q: String,
      np: String, nq: String): String =
    "CAST(" + graft.core.ExactDiv.floorDiv(p, s"(2 * $np)", idiv) +
      " + " + graft.core.ExactDiv.floorDiv(q, s"(2 * $nq)", idiv) +
      " AS BIGINT)"

  val q576Sql: String =
    s"""WITH tok AS (
      |  SELECT lang AS g, unnest(string_split(text, ' ')) AS w
      |  FROM documents),
      |cg AS (SELECT g, w, CAST(COUNT(*) AS BIGINT) AS c
      |       FROM tok GROUP BY 1, 2),
      |ng AS (SELECT g, CAST(SUM(c) AS BIGINT) AS n FROM cg GROUP BY 1),
      |pairsg AS (
      |  SELECT ga.g AS g1, gb.g AS g2, ga.n AS np, gb.n AS nq
      |  FROM ng ga JOIN ng gb ON ga.g < gb.g),
      |vocabp AS (
      |  SELECT DISTINCT g1, g2, np, nq, w FROM (
      |    SELECT p.g1, p.g2, p.np, p.nq, cg.w
      |    FROM pairsg p JOIN cg ON cg.g = p.g1
      |    UNION ALL
      |    SELECT p.g1, p.g2, p.np, p.nq, cg.w
      |    FROM pairsg p JOIN cg ON cg.g = p.g2) z),
      |terms AS (
      |  SELECT v.g1, v.g2, v.np, v.nq, v.w,
      |    COALESCE(ca.c, 0) AS a, COALESCE(cb.c, 0) AS b
      |  FROM vocabp v
      |  LEFT JOIN cg ca ON ca.g = v.g1 AND ca.w = v.w
      |  LEFT JOIN cg cb ON cb.g = v.g2 AND cb.w = v.w),
      |wt AS (
      |  SELECT g1, g2, np, nq, a, b,
      |    CASE WHEN a = 0 THEN 0 ELSE CAST(FLOOR($KlScale.0 * LN(
      |      (2.0 * CAST(a AS DOUBLE) * CAST(nq AS DOUBLE))
      |      / (CAST(a AS DOUBLE) * CAST(nq AS DOUBLE)
      |         + CAST(b AS DOUBLE) * CAST(np AS DOUBLE))))
      |      AS BIGINT) END AS wp_q,
      |    CASE WHEN b = 0 THEN 0 ELSE CAST(FLOOR($KlScale.0 * LN(
      |      (2.0 * CAST(b AS DOUBLE) * CAST(np AS DOUBLE))
      |      / (CAST(a AS DOUBLE) * CAST(nq AS DOUBLE)
      |         + CAST(b AS DOUBLE) * CAST(np AS DOUBLE))))
      |      AS BIGINT) END AS wq_q
      |  FROM terms),
      |agg AS (
      |  -- HUGEINT sums for the division (DuckDB // on DECIMAL is
      |  -- DOUBLE); DECIMAL(38,0) only at the output boundary
      |  SELECT g1, g2, MAX(np) AS np, MAX(nq) AS nq,
      |    SUM(CAST(a AS HUGEINT) * wp_q) AS jsp,
      |    SUM(CAST(b AS HUGEINT) * wq_q) AS jsq
      |  FROM wt GROUP BY 1, 2)
      |SELECT g1, g2,
      |  CAST(jsp AS BIGINT) AS js_p_q,
      |  CAST(jsq AS BIGINT) AS js_q_q,
      |  ${JsMicroFormula("//", "jsp", "jsq",
          "CAST(np AS HUGEINT)", "CAST(nq AS HUGEINT)")} AS js_micronats
      |FROM agg ORDER BY g1, g2""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("q575_kl_divergence", q575KlDivergence, q575Sql),
    Entry("q576_js_matrix", q576JsMatrix, q576Sql))
}
