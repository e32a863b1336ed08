package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.PlanBridge

import graft.core.{Entry, Tables => T}

/** HEAPS'-LAW VOCABULARY GROWTH CURVE (Heaps 1978 §7.5 / Herdan's
  * law: V(T) ≈ k·T^β — the sublinearity every tokenizer-vocab and
  * dedup-capacity plan is sized against; a corpus whose curve bends
  * DOWN early is repetitive, one that stays near-linear is
  * high-entropy): cumulative distinct-vocabulary and token counts at
  * ten corpus prefixes under a DETERMINISTIC md5 document order (the
  * q142 order-key discipline — engine-independent, so the prefix
  * assignment itself is oracle-checkable), plus the running Heaps
  * exponent estimate β̂(d) = ln(V_d/V_1)/ln(T_d/T_1).
  *
  * Exactness: the document rank rides the two-level fullCumSum (never
  * a corpus window); decile = ((rank−1)·10) div n_docs — positive
  * floor-div, identical both engines; per-word FIRST-occurrence decile
  * is one min-agg, and the cumulative curve is a bounded 10×10
  * triangle self-join over the decile census — all exact BIGINTs.
  * β̂ quantizes to micro units (⌊10⁶·lnV-ratio/lnT-ratio⌋ — the q569
  * micro-floor discipline; the spec measures the fixture values'
  * boundary margin) and the decile-1 0/0 degenerates to NULL via
  * NULLIF in BOTH engines.
  *
  * Scale shape: one tokenize explode; rank = one range shuffle + one
  * two-level scan over DOCS (not tokens); first-decile = one
  * vocab-bounded min-agg; the curve itself is 10 rows. Nothing
  * quadratic, no corpus window.
  */
object HeapsLaw {

  import Entry.Q

  val HeapsScale = 1000000L
  val HeapsDeciles = 10L

  val q577HeapsGrowth: Q = (s, dir) =>
    heapsGrowth(T.documents(s, dir).select("doc_id", "text"))

  /** `(decile, docs_cum, tokens_cum, vocab_cum, beta_micro)` at the
    * ten md5-order corpus prefixes.
    */
  def heapsGrowth(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val n = docs.count()
    val ordered = docs.select($"doc_id", $"text",
      md5($"doc_id".cast("string")).as("ord"))
    val ranked = graft.relational.QuantileNormalize.fullCumSum(
        ordered.withColumn("one", lit(1L)),
        Seq(col("ord"), col("doc_id")), "one" -> "rnk")
      .withColumn("decile",
        expr(s"((rnk - 1L) * $HeapsDeciles) div ${n}L + 1L"))
    val tokD = ranked.select($"decile",
      explode(split($"text", " ")).as("w"))
    val firstDec = tokD.groupBy($"w").agg(min($"decile").as("fd"))
      .groupBy($"fd").agg(count(lit(1)).as("v_new"))
    val tokDec = tokD.groupBy($"decile").agg(count(lit(1)).as("t_d"))
    val docDec = ranked.groupBy($"decile").agg(count(lit(1)).as("d_d"))
    val census = PlanBridge.checkpointResetStats(docDec
      .join(tokDec, Seq("decile"), "left")
      .join(firstDec.select($"fd".as("decile"), $"v_new"),
        Seq("decile"), "left")
      .select($"decile", $"d_d",
        coalesce($"t_d", lit(0L)).as("t_d"),
        coalesce($"v_new", lit(0L)).as("v_new")))
    // bounded 10×10 triangle — the cumulative curve
    val cum = census.as("a").join(census.as("b"),
        $"b.decile" <= $"a.decile")
      .groupBy($"a.decile".as("decile"))
      .agg(sum($"b.d_d").as("docs_cum"), sum($"b.t_d").as("tokens_cum"),
        sum($"b.v_new").as("vocab_cum"))
    val first = census.orderBy($"decile").limit(1)
      .select($"t_d".as("t1"), $"v_new".as("v1"))
    cum.crossJoin(broadcast(first))
      .withColumn("beta_micro", expr(BetaFormula))
      .select($"decile", $"docs_cum", $"tokens_cum", $"vocab_cum",
        $"beta_micro")
      .orderBy($"decile")
  }

  /** β̂ in micro units — shared verbatim; NULL at decile 1 (0/0). */
  val BetaFormula: String =
    s"""CAST(FLOOR($HeapsScale.0
       | * LN(CAST(vocab_cum AS DOUBLE) / CAST(v1 AS DOUBLE))
       | / NULLIF(LN(CAST(tokens_cum AS DOUBLE) / CAST(t1 AS DOUBLE)),
       |          0.0)) AS BIGINT)""".stripMargin

  val q577Sql: String =
    s"""WITH d0 AS (
      |  SELECT doc_id, text, md5(CAST(doc_id AS VARCHAR)) AS ord
      |  FROM documents),
      |nn AS (SELECT COUNT(*) AS n FROM d0),
      |rk AS (
      |  SELECT doc_id, text,
      |    ((ROW_NUMBER() OVER (ORDER BY ord, doc_id) - 1)
      |      * $HeapsDeciles) // n + 1 AS decile
      |  FROM d0 CROSS JOIN nn),
      |tokd AS (
      |  SELECT decile, unnest(string_split(text, ' ')) AS w FROM rk),
      |firstdec AS (
      |  SELECT fd AS decile, CAST(COUNT(*) AS BIGINT) AS v_new FROM (
      |    SELECT w, MIN(decile) AS fd FROM tokd GROUP BY w) z
      |  GROUP BY fd),
      |tokdec AS (SELECT decile, CAST(COUNT(*) AS BIGINT) AS t_d
      |           FROM tokd GROUP BY decile),
      |docdec AS (SELECT decile, CAST(COUNT(*) AS BIGINT) AS d_d
      |           FROM rk GROUP BY decile),
      |census AS (
      |  SELECT dd.decile, dd.d_d,
      |    COALESCE(td.t_d, 0) AS t_d, COALESCE(fd.v_new, 0) AS v_new
      |  FROM docdec dd
      |  LEFT JOIN tokdec td ON dd.decile = td.decile
      |  LEFT JOIN firstdec fd ON dd.decile = fd.decile),
      |cum AS (
      |  SELECT a.decile,
      |    CAST(SUM(b.d_d) AS BIGINT) AS docs_cum,
      |    CAST(SUM(b.t_d) AS BIGINT) AS tokens_cum,
      |    CAST(SUM(b.v_new) AS BIGINT) AS vocab_cum
      |  FROM census a JOIN census b ON b.decile <= a.decile
      |  GROUP BY a.decile),
      |f1 AS (SELECT t_d AS t1, v_new AS v1 FROM census
      |       ORDER BY decile LIMIT 1)
      |SELECT decile, docs_cum, tokens_cum, vocab_cum,
      |  $BetaFormula AS beta_micro
      |FROM cum CROSS JOIN f1
      |ORDER BY decile""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("q577_heaps_growth", q577HeapsGrowth, q577Sql))
}
