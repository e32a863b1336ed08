package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.PlanBridge

import graft.core.{Entry, ExactDiv, Tables => T}

/** CONDITIONAL BIGRAM ENTROPY per source — H(next | previous) in
  * exact micro-nats (Shannon BSTJ'48 §7's printed-English estimate;
  * the MODEL-FREE floor on next-token loss: q569's perplexity scores
  * a FITTED bigram model, this is the corpus's own conditional
  * uncertainty — the number an LM's loss approaches from above — and
  * the member the information family lacked next to marginal entropy
  * q373, KL q575, JS q576, PMI q384, Huffman cost q493; with the
  * marginal H(V) from the same frame it yields the INFORMATION GAIN
  * I(U;V) = H(V) − H(V|U), "how much does one token of context
  * buy"): H(V|U) = Σ_{u,v} (c_uv/N)·ln(c_u/c_uv) over within-doc
  * consecutive token pairs.
  *
  * Exactness (q569/q575 discipline verbatim): both log arguments are
  * EXACT integer rationals (c_u/c_uv ≥ 1 and N/c_v ≥ 1, so every
  * per-TYPE weight ⌊10⁶·ln·⌋ is a non-negative BIGINT floor —
  * deterministic both engines), group sums Σ c·w ride
  * DECIMAL(38,0)/HUGEINT (c·w passes int64 at N_g ~ 10¹³ · w ~ 3·10⁷
  * — the r16/r17 widening class), and the micro-nat finishes are
  * true-floor [[ExactDiv]] divisions by N_g. info_gain_micro =
  * h − ce is exact integer arithmetic on the two quantized values
  * (I(U;V) ≥ 0 algebraically; the per-type floors can perturb the
  * DIFFERENCE by a few micro-nats at I ≈ 0 — measured ≫ 0 on real
  * text, gated in spec, never claimed as an identity).
  *
  * Scale shape (q575's): one bigram explode (≈ corpus tokens), ONE
  * (g, u, v) partial agg to the bigram-TYPE census (Heaps-bounded),
  * the prefix/suffix/total counts re-aggregate that census (never
  * the corpus), one broadcastable equi-join per side, one per-group
  * fold. No window, no self-join, no driver loop.
  */
object ConditionalEntropy {

  import Entry.Q

  /** Per-group conditional/marginal entropy off a `(g, u, v)` bigram
    * frame.
    */
  def conditionalEntropy(bigrams: DataFrame): DataFrame = {
    val s = bigrams.sparkSession
    import s.implicits._
    val cuv = PlanBridge.checkpointResetStats(bigrams.groupBy($"g", $"u", $"v")
      .agg(count(lit(1)).as("c_uv")))
    val cu = cuv.groupBy($"g", $"u").agg(sum($"c_uv").as("c_u"))
    val cv = cuv.groupBy($"g", $"v").agg(sum($"c_uv").as("c_v"))
    val ng = cuv.groupBy($"g").agg(sum($"c_uv").as("n_g"),
      count(lit(1)).as("vocab_uv"))
    // H(V|U): one LN per (g, u, v) TYPE; c_u ≥ c_uv ⟹ w ≥ 0
    val ce = cuv.join(cu, Seq("g", "u"))
      .withColumn("w", expr(
        "CAST(FLOOR(1000000.0 * LN(CAST(c_u AS DOUBLE)" +
          " / CAST(c_uv AS DOUBLE))) AS BIGINT)"))
      .groupBy($"g")
      .agg(sum($"c_uv".cast("decimal(38,0)") * $"w").as("ce_q"))
    // H(V): one LN per (g, v) TYPE off the same census
    val h = cv.join(ng.select($"g", $"n_g"), Seq("g"))
      .withColumn("w", expr(
        "CAST(FLOOR(1000000.0 * LN(CAST(n_g AS DOUBLE)" +
          " / CAST(c_v AS DOUBLE))) AS BIGINT)"))
      .groupBy($"g")
      .agg(sum($"c_v".cast("decimal(38,0)") * $"w").as("h_q"))
    ng.join(ce, Seq("g")).join(h, Seq("g"))
      .withColumn("ngw", expr("CAST(n_g AS DECIMAL(38,0))"))
      .withColumn("ce_micronats", expr("CAST(" +
        ExactDiv.floorDiv("ce_q", "ngw", "div") + " AS BIGINT)"))
      .withColumn("h_micronats", expr("CAST(" +
        ExactDiv.floorDiv("h_q", "ngw", "div") + " AS BIGINT)"))
      .withColumn("info_gain_micro", $"h_micronats" - $"ce_micronats")
      .select($"g", $"n_g", $"vocab_uv", $"ce_micronats",
        $"h_micronats", $"info_gain_micro")
      .orderBy($"g")
  }

  val q585ConditionalEntropy: Q = (s, dir) => {
    import s.implicits._
    val toks = T.documents(s, dir)
      .select($"source".as("g"), split($"text", " ").as("a"))
    val bigrams = toks
      .select($"g", explode(expr(
        "IF(size(a) >= 2, transform(sequence(1, size(a) - 1)," +
          " i -> struct(a[i-1] AS u, a[i] AS v)), " +
          "CAST(array() AS ARRAY<STRUCT<u: STRING, v: STRING>>))"))
        .as("p"))
      .select($"g", $"p.u", $"p.v")
    conditionalEntropy(bigrams)
  }

  val q585Sql: String =
    s"""WITH w AS (SELECT source AS g, string_split(text, ' ') AS ws
      |           FROM documents),
      |bg AS (
      |  SELECT g, ws[i] AS u, ws[i + 1] AS v
      |  FROM w, LATERAL (SELECT UNNEST(range(1, len(ws))) AS i) r),
      |cuv AS (
      |  SELECT g, u, v, COUNT(*) AS c_uv FROM bg GROUP BY 1, 2, 3),
      |cu AS (SELECT g, u, SUM(c_uv) AS c_u FROM cuv GROUP BY 1, 2),
      |cv AS (SELECT g, v, SUM(c_uv) AS c_v FROM cuv GROUP BY 1, 2),
      |ng AS (SELECT g, SUM(c_uv) AS n_g, COUNT(*) AS vocab_uv
      |       FROM cuv GROUP BY 1),
      |ce AS (
      |  SELECT cuv.g, SUM(CAST(c_uv AS HUGEINT)
      |    * CAST(FLOOR(1000000.0 * LN(CAST(c_u AS DOUBLE)
      |        / CAST(c_uv AS DOUBLE))) AS BIGINT)) AS ce_q
      |  FROM cuv JOIN cu ON cuv.g = cu.g AND cuv.u = cu.u
      |  GROUP BY 1),
      |h AS (
      |  SELECT cv.g, SUM(CAST(c_v AS HUGEINT)
      |    * CAST(FLOOR(1000000.0 * LN(CAST(n_g AS DOUBLE)
      |        / CAST(c_v AS DOUBLE))) AS BIGINT)) AS h_q
      |  FROM cv JOIN ng ON cv.g = ng.g
      |  GROUP BY 1),
      |f AS (
      |  SELECT ng.g, n_g, vocab_uv,
      |    ${ExactDiv.floorDiv("ce_q", "CAST(n_g AS HUGEINT)", "//")}
      |      AS cem,
      |    ${ExactDiv.floorDiv("h_q", "CAST(n_g AS HUGEINT)", "//")}
      |      AS hm
      |  FROM ng JOIN ce ON ng.g = ce.g JOIN h ON ng.g = h.g)
      |SELECT g, CAST(n_g AS BIGINT) AS n_g,
      |  CAST(vocab_uv AS BIGINT) AS vocab_uv,
      |  CAST(cem AS BIGINT) AS ce_micronats,
      |  CAST(hm AS BIGINT) AS h_micronats,
      |  CAST(hm - cem AS BIGINT) AS info_gain_micro
      |FROM f
      |ORDER BY g""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("q585_conditional_entropy", q585ConditionalEntropy, q585Sql))
}
