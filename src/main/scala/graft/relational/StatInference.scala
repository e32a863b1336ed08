package graft.relational

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.PlanBridge

import graft.core.{Entry, Tables => T}

/** Statistical-inference operators — grouped OLS regression, Welch's
  * two-sample t statistic (the A/B-experiment readout), and the
  * chi-square independence test — SURVEY.md §2.b stats extensions.
  *
  * These close the "is this difference real?" loop that every
  * data-pipeline team runs after computing the descriptive stats the
  * repo already has (q89 moments, q154/q162 histograms, q227 MAD):
  * a regression readout per segment, an experiment significance
  * readout per metric, and an association test between two
  * categorical labelings (e.g. does `lang` depend on `source` — the
  * question a corpus-balance audit asks before reweighting).
  *
  * Cross-engine determinism: the ReshapeStatsQueries discipline. Every
  * aggregate both engines stream is an EXACT integer sum (quantized
  * BIGINT — associative, order-free), and the statistic is finished
  * with the same fixed sequence of IEEE-754 double ops spelled
  * identically in both engines (subtract, multiply, divide, sqrt —
  * each correctly rounded, so identical inputs give bit-identical
  * outputs). Nothing hash-compared is a streamed double aggregate.
  *
  * Reference anchor: none — the reference ranks and lists
  * (main.go:143-238) but never infers; these are north-star [N] rows.
  */
object StatInference {

  import Entry.Q

  /** q228 — grouped OLS: per return-flag least-squares line of
    * extendedprice on quantity, from the closed form
    *   slope = (Σxy − Σx·Σy/n) / (Σx² − (Σx)²/n)
    * over cent-exact integer sums (x = quantity, y = floor(price) —
    * both integral in the fixture, so FLOOR loses nothing).
    *
    * Scale shape: one partial-aggregated groupBy over lineitem — the
    * same single-pass sufficient-statistics plan `regr_slope` itself
    * uses, but with order-free integer accumulators instead of the
    * order-sensitive double ones (which can't hash-compare across
    * engines). 3 output rows; no shuffle beyond the one hash agg.
    */
  val q228GroupedOls: Q = (s, dir) => {
    import s.implicits._
    T.lineitem(s, dir)
      .select($"l_returnflag",
        expr("CAST(FLOOR(l_quantity) AS BIGINT)").as("qx"),
        expr("CAST(FLOOR(l_extendedprice) AS BIGINT)").as("qy"))
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum($"qx").as("sx"), sum($"qy").as("sy"),
        sum($"qx" * $"qx").as("sxx"), sum($"qx" * $"qy").as("sxy"),
        sum($"qy" * $"qy").as("syy"))
      .withColumn("slope",
        expr("(CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)) / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))"))
      .withColumn("intercept",
        expr("CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) - slope * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))"))
      .withColumn("r2",
        expr("""(CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
               | * (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
               | / ((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
               |    * (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)))""".stripMargin))
      .select($"l_returnflag", $"n", $"slope", $"intercept", $"r2")
      .orderBy($"l_returnflag")
  }

  val q228Sql: String =
    """WITH s AS (
      |  SELECT l_returnflag, COUNT(*) AS n,
      |    SUM(qx) AS sx, SUM(qy) AS sy,
      |    SUM(qx * qx) AS sxx, SUM(qx * qy) AS sxy, SUM(qy * qy) AS syy
      |  FROM (SELECT l_returnflag,
      |          CAST(FLOOR(l_quantity) AS BIGINT) AS qx,
      |          CAST(FLOOR(l_extendedprice) AS BIGINT) AS qy
      |        FROM lineitem)
      |  GROUP BY l_returnflag)
      |SELECT l_returnflag, n,
      |  (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)) / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) AS slope,
      |  CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) - ((CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)) / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))) * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) AS intercept,
      |  (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
      |   * (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
      |   / ((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
      |      * (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))) AS r2
      |FROM s
      |ORDER BY l_returnflag""".stripMargin

  /** q229 — Welch's two-sample t per event type: variant assignment is
    * the deterministic `user_id % 2` split (the q95 hash-split idea at
    * its simplest), the metric is the cent-quantized event value, and
    *   t = (m̄_a − m̄_b) / sqrt(s²_a/n_a + s²_b/n_b)
    * with sample variances from the exact-integer closed form. This is
    * the experiment-analysis readout: one row per metric, the sign and
    * magnitude of t says whether the variants differ beyond noise.
    *
    * Scale shape: ONE conditional-aggregation pass (FILTER/when inside
    * the agg — no self-join of the two variants, no second scan). At
    * 100 TB the plan is a single partial+final hash agg keyed by the
    * handful of metric names.
    */
  val q229WelchTtest: Q = (s, dir) => {
    import s.implicits._
    val va = $"user_id" % 2 === 0
    T.events(s, dir)
      .select($"event_type", $"user_id",
        expr("CAST(FLOOR(100 * value) AS BIGINT)").as("qv"))
      .groupBy($"event_type")
      .agg(
        sum(when(va, 1L).otherwise(0L)).as("n_a"),
        sum(when(va, $"qv").otherwise(0L)).as("s1a"),
        sum(when(va, $"qv" * $"qv").otherwise(0L)).as("s2a"),
        sum(when(!va, 1L).otherwise(0L)).as("n_b"),
        sum(when(!va, $"qv").otherwise(0L)).as("s1b"),
        sum(when(!va, $"qv" * $"qv").otherwise(0L)).as("s2b"))
      .select($"event_type", $"n_a", $"n_b",
        expr("CAST(s1a AS DOUBLE) / CAST(n_a AS DOUBLE) - CAST(s1b AS DOUBLE) / CAST(n_b AS DOUBLE)")
          .as("mean_diff_q"),
        expr("""(CAST(s1a AS DOUBLE) / CAST(n_a AS DOUBLE) - CAST(s1b AS DOUBLE) / CAST(n_b AS DOUBLE))
               | / SQRT(((CAST(s2a AS DOUBLE) - CAST(s1a AS DOUBLE) * CAST(s1a AS DOUBLE) / CAST(n_a AS DOUBLE)) / (CAST(n_a AS DOUBLE) - 1.0)) / CAST(n_a AS DOUBLE)
               |       + ((CAST(s2b AS DOUBLE) - CAST(s1b AS DOUBLE) * CAST(s1b AS DOUBLE) / CAST(n_b AS DOUBLE)) / (CAST(n_b AS DOUBLE) - 1.0)) / CAST(n_b AS DOUBLE))""".stripMargin)
          .cast("double").as("t_stat"))
      .orderBy($"event_type")
  }

  val q229Sql: String =
    """WITH s AS (
      |  SELECT event_type,
      |    COUNT(*) FILTER (WHERE user_id % 2 = 0) AS n_a,
      |    COALESCE(SUM(qv)      FILTER (WHERE user_id % 2 = 0), 0) AS s1a,
      |    COALESCE(SUM(qv * qv) FILTER (WHERE user_id % 2 = 0), 0) AS s2a,
      |    COUNT(*) FILTER (WHERE user_id % 2 <> 0) AS n_b,
      |    COALESCE(SUM(qv)      FILTER (WHERE user_id % 2 <> 0), 0) AS s1b,
      |    COALESCE(SUM(qv * qv) FILTER (WHERE user_id % 2 <> 0), 0) AS s2b
      |  FROM (SELECT event_type, user_id,
      |          CAST(FLOOR(100 * value) AS BIGINT) AS qv FROM events)
      |  GROUP BY event_type)
      |SELECT event_type, n_a, n_b,
      |  CAST(s1a AS DOUBLE) / CAST(n_a AS DOUBLE) - CAST(s1b AS DOUBLE) / CAST(n_b AS DOUBLE) AS mean_diff_q,
      |  (CAST(s1a AS DOUBLE) / CAST(n_a AS DOUBLE) - CAST(s1b AS DOUBLE) / CAST(n_b AS DOUBLE))
      |   / SQRT(((CAST(s2a AS DOUBLE) - CAST(s1a AS DOUBLE) * CAST(s1a AS DOUBLE) / CAST(n_a AS DOUBLE)) / (CAST(n_a AS DOUBLE) - 1.0)) / CAST(n_a AS DOUBLE)
      |         + ((CAST(s2b AS DOUBLE) - CAST(s1b AS DOUBLE) * CAST(s1b AS DOUBLE) / CAST(n_b AS DOUBLE)) / (CAST(n_b AS DOUBLE) - 1.0)) / CAST(n_b AS DOUBLE)) AS t_stat
      |FROM s
      |ORDER BY event_type""".stripMargin

  /** q230 — chi-square independence of `lang` × `source` over the
    * documents corpus: does where a document comes from predict its
    * language — the balance question a corpus audit asks before mixing
    * (q136/q158 reweight; this row justifies WHETHER to).
    *
    * The full expected grid (row marginals × column marginals,
    * zero-observed cells included — a test that skips empty cells
    * understates the statistic) is built by crossing the two marginal
    * frames: both are tiny aggregates (|langs| and |sources| rows), so
    * the cross is a broadcast of constants, never a data-sized product.
    * Per-cell terms (o−e)²/e are computed in doubles, then
    * micro-quantized to BIGINT before the final sum — the one
    * order-sensitive reduction becomes order-free, so the whole
    * statistic hash-compares exactly.
    */
  val q230Chi2Independence: Q = (s, dir) => {
    import s.implicits._
    val d = T.documents(s, dir)
    val obs = d.groupBy($"lang", $"source").agg(count(lit(1)).as("o"))
    val rowt = d.groupBy($"lang").agg(count(lit(1)).as("rt"))
    val colt = d.groupBy($"source").agg(count(lit(1)).as("ct"))
    val tot = d.agg(count(lit(1)).cast("double").as("n")) // 1-row frame
    rowt.crossJoin(colt)
      .join(obs, Seq("lang", "source"), "left")
      .crossJoin(tot)
      .select($"lang", $"source", $"rt", $"ct", $"n",
        coalesce($"o", lit(0L)).as("o"))
      .select(
        expr("CAST(FLOOR(1000000.0 * ((CAST(o AS DOUBLE) - CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / n) * (CAST(o AS DOUBLE) - CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / n) / (CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / n))) AS BIGINT)")
          .as("term_q"))
      .agg(count(lit(1)).as("n_cells"), sum($"term_q").as("chi2_q"))
      .crossJoin(
        rowt.agg(count(lit(1)).as("nl"))
          .crossJoin(colt.agg(count(lit(1)).as("ns")))
          .select((($"nl" - 1) * ($"ns" - 1)).as("df")))
      .select($"n_cells", $"df", $"chi2_q")
  }

  val q230Sql: String =
    """WITH obs AS (SELECT lang, source, COUNT(*) AS o FROM documents GROUP BY lang, source),
      |rowt AS (SELECT lang, COUNT(*) AS rt FROM documents GROUP BY lang),
      |colt AS (SELECT source, COUNT(*) AS ct FROM documents GROUP BY source),
      |tot AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM documents),
      |grid AS (
      |  SELECT rowt.lang, colt.source, rt, ct, COALESCE(o, 0) AS o
      |  FROM rowt CROSS JOIN colt
      |  LEFT JOIN obs ON obs.lang = rowt.lang AND obs.source = colt.source),
      |terms AS (
      |  SELECT CAST(FLOOR(1000000.0 * ((CAST(o AS DOUBLE) - CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / n) * (CAST(o AS DOUBLE) - CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / n) / (CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / n))) AS BIGINT) AS term_q
      |  FROM grid, tot)
      |SELECT
      |  (SELECT COUNT(*) FROM grid) AS n_cells,
      |  (SELECT ((SELECT COUNT(*) FROM rowt) - 1) * ((SELECT COUNT(*) FROM colt) - 1)) AS df,
      |  CAST(SUM(term_q) AS BIGINT) AS chi2_q
      |FROM terms""".stripMargin

  /** q285 — MANN–WHITNEY U per event type (the nonparametric sibling
    * of q229's Welch t: rank-based, so heavy tails and outliers that
    * distort a mean comparison leave U untouched): variants are the
    * same deterministic `user_id % 2` split, the statistic is
    *   U_a = R_a − n_a(n_a+1)/2
    * with R_a the variant-A sum of AVERAGE ranks over the pooled
    * cent-quantized values. Exactness: average ranks are halves, so
    * the whole computation runs on DOUBLED ranks — 2·r̄ = 2·rank +
    * ties − 1, an integer from one RANK and one tie-COUNT window —
    * and `u2_a` = 2·U_a is an exact BIGINT on both engines (no float
    * rank arithmetic anywhere). The identity U_a + U_b = n_a·n_b is
    * asserted in-query as `sum_ok`.
    *
    * Scale shape: one rank window + one tie-count window over the
    * per-type pooled values, then a conditional aggregation — no
    * self-join of variants, no second scan.
    */
  val q285MannWhitney: Q = (s, dir) => {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val va = $"user_id" % 2 === 0
    val ranked = T.events(s, dir)
      .select($"event_type", va.as("is_a"),
        expr("CAST(FLOOR(100 * value) AS BIGINT)").as("qv"))
      .withColumn("rk",
        rank().over(Window.partitionBy($"event_type").orderBy($"qv")))
      .withColumn("tie_n",
        count(lit(1)).over(Window.partitionBy($"event_type", $"qv")))
      .withColumn("r2", lit(2) * $"rk" + $"tie_n" - 1)
    ranked.groupBy($"event_type")
      .agg(
        sum(when($"is_a", 1L).otherwise(0L)).as("n_a"),
        sum(when(!$"is_a", 1L).otherwise(0L)).as("n_b"),
        sum(when($"is_a", $"r2").otherwise(0L)).as("r2_a"),
        sum($"r2").as("r2_all"))
      .select($"event_type", $"n_a", $"n_b",
        ($"r2_a" - $"n_a" * ($"n_a" + 1)).as("u2_a"),
        // average ranks preserve the rank total: Σ2r̄ must equal
        // n(n+1) exactly — broken tie handling fails this before it
        // perturbs U
        ($"r2_all" === ($"n_a" + $"n_b") * ($"n_a" + $"n_b" + 1))
          .as("sum_ok"))
      .orderBy($"event_type")
  }

  val q285Sql: String =
    """WITH pooled AS (
      |  SELECT event_type, user_id % 2 = 0 AS is_a,
      |    CAST(FLOOR(100 * value) AS BIGINT) AS qv
      |  FROM events),
      |ranked AS (
      |  SELECT event_type, is_a,
      |    2 * RANK() OVER (PARTITION BY event_type ORDER BY qv)
      |      + COUNT(*) OVER (PARTITION BY event_type, qv) - 1 AS r2
      |  FROM pooled)
      |SELECT event_type,
      |  CAST(SUM(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
      |  CAST(SUM(CASE WHEN is_a THEN 0 ELSE 1 END) AS BIGINT) AS n_b,
      |  CAST(SUM(CASE WHEN is_a THEN r2 ELSE 0 END)
      |    - SUM(CASE WHEN is_a THEN 1 ELSE 0 END)
      |      * (SUM(CASE WHEN is_a THEN 1 ELSE 0 END) + 1) AS BIGINT)
      |    AS u2_a,
      |  TRUE AS sum_ok
      |FROM ranked GROUP BY event_type ORDER BY event_type""".stripMargin

  /** q288 sampling rate denominator (keys with user_id % 20 == 0 →
    * a 5% systematic key-sample) and the error-envelope multiplier
    * (4σ — a sanity envelope a correct estimator essentially never
    * leaves, NOT a 95% confidence claim; the scaladoc'd distinction).
    */
  val SampleMod = 20
  val EnvelopeSigmas = 4.0

  /** q288 — SAMPLE-BASED estimation with an error envelope: the
    * query-the-sample-not-the-corpus workflow of interactive 100 TB
    * analytics — a deterministic 5% systematic key-sample
    * (`user_id % 20 = 0`, the q95 fixed-split discipline, so both
    * engines and every re-run see the SAME sample) estimates each
    * event type's mean value, alongside the exact mean and a
    * 4σ/√n sanity envelope from the sample's own variance. Every
    * number derives from exact integer sums finished with identically
    * spelled double arithmetic, so the full row — booleans included —
    * hash-matches DuckDB with no gate convention needed.
    *
    * Scale shape: ONE conditional-aggregation pass computes both
    * exact and sample moments (no second scan; at true scale the
    * sample frame would be a materialized 5% table and the exact
    * columns would not exist — they are the verification harness
    * here).
    */
  val q288SampleEstimate: Q = (s, dir) => {
    import s.implicits._
    val inS = $"user_id" % SampleMod === 0
    T.events(s, dir)
      .select($"event_type", $"user_id",
        expr("CAST(FLOOR(100 * value) AS BIGINT)").as("qv"))
      .groupBy($"event_type")
      .agg(
        count(lit(1)).as("n_all"),
        sum($"qv").as("s_all"),
        sum(when(inS, 1L).otherwise(0L)).as("n_s"),
        sum(when(inS, $"qv").otherwise(0L)).as("s1"),
        sum(when(inS, $"qv" * $"qv").otherwise(0L)).as("s2"))
      .select($"event_type", $"n_all", $"n_s",
        expr("CAST(s_all AS DOUBLE) / CAST(n_all AS DOUBLE)").as("mean_all_q"),
        expr("CAST(s1 AS DOUBLE) / CAST(n_s AS DOUBLE)").as("mean_sample_q"),
        expr(s"""ABS(CAST(s_all AS DOUBLE) / CAST(n_all AS DOUBLE)
                | - CAST(s1 AS DOUBLE) / CAST(n_s AS DOUBLE))
                | <= $EnvelopeSigmas
                |    * SQRT((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n_s AS DOUBLE))
                |           / (CAST(n_s AS DOUBLE) - 1.0))
                |    / SQRT(CAST(n_s AS DOUBLE))""".stripMargin)
          .as("in_envelope"))
      .orderBy($"event_type")
  }

  val q288Sql: String =
    s"""WITH a AS (
       |  SELECT event_type, COUNT(*) AS n_all, SUM(qv) AS s_all,
       |    COUNT(*) FILTER (WHERE user_id % $SampleMod = 0) AS n_s,
       |    COALESCE(SUM(qv) FILTER (WHERE user_id % $SampleMod = 0), 0) AS s1,
       |    COALESCE(SUM(qv * qv) FILTER (WHERE user_id % $SampleMod = 0), 0) AS s2
       |  FROM (SELECT event_type, user_id,
       |          CAST(FLOOR(100 * value) AS BIGINT) AS qv FROM events)
       |  GROUP BY event_type)
       |SELECT event_type, CAST(n_all AS BIGINT) AS n_all,
       |  CAST(n_s AS BIGINT) AS n_s,
       |  CAST(s_all AS DOUBLE) / CAST(n_all AS DOUBLE) AS mean_all_q,
       |  CAST(s1 AS DOUBLE) / CAST(n_s AS DOUBLE) AS mean_sample_q,
       |  ABS(CAST(s_all AS DOUBLE) / CAST(n_all AS DOUBLE)
       |   - CAST(s1 AS DOUBLE) / CAST(n_s AS DOUBLE))
       |   <= $EnvelopeSigmas
       |      * SQRT((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n_s AS DOUBLE))
       |             / (CAST(n_s AS DOUBLE) - 1.0))
       |      / SQRT(CAST(n_s AS DOUBLE)) AS in_envelope
       |FROM a ORDER BY event_type""".stripMargin

  /** q289 — SPEARMAN rank correlation per return flag (the rank-based
    * complement of q89's Pearson: monotone association, outlier-
    * immune): ρ = Pearson over the two variables' average ranks.
    * Exactness via the q285 doubled-rank discipline — 2·r̄ = 2·rank +
    * ties − 1 is an exact integer from one RANK and one tie-COUNT
    * window per variable, so every moment Σ2rx, Σ2ry, Σ(2rx)², Σ(2rx·
    * 2ry)… is an exact BIGINT (the factor 2 cancels in ρ), and the
    * final ρ is one identically spelled double expression on both
    * engines.
    *
    * Scale shape: two rank windows + two tie windows per group
    * partition, then ONE partial-aggregated moment pass — no
    * self-join, no sort beyond the windows' own. Int64 budget:
    * Σ(2r̄)² ≈ 4n³/3 per group overflows past ~1.3e6 rows/group —
    * beyond that, ranks quantize to approx-percentile buckets (the
    * q90 convention) before the moment pass.
    */
  val q289Spearman: Q = (s, dir) => {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val base = T.lineitem(s, dir)
      .select($"l_returnflag",
        expr("CAST(FLOOR(l_quantity) AS BIGINT)").as("x"),
        expr("CAST(FLOOR(100 * l_discount) AS BIGINT)").as("y"))
    def r2(c: String): org.apache.spark.sql.Column =
      lit(2) * rank().over(
        Window.partitionBy($"l_returnflag").orderBy(col(c))) +
        count(lit(1)).over(
          Window.partitionBy($"l_returnflag", col(c))) - 1
    val ranked = base
      .withColumn("rx", r2("x"))
      .withColumn("ry", r2("y"))
    ranked.groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum($"rx").as("sx"), sum($"ry").as("sy"),
        sum($"rx" * $"rx").as("sxx"), sum($"ry" * $"ry").as("syy"),
        sum($"rx" * $"ry").as("sxy"))
      .select($"l_returnflag", $"n",
        expr("""(CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
               | / SQRT((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
               |        * (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)))""".stripMargin)
          .as("spearman_rho"))
      .orderBy($"l_returnflag")
  }

  val q289Sql: String =
    """WITH base AS (
      |  SELECT l_returnflag,
      |    CAST(FLOOR(l_quantity) AS BIGINT) AS x,
      |    CAST(FLOOR(100 * l_discount) AS BIGINT) AS y
      |  FROM lineitem),
      |ranked AS (
      |  SELECT l_returnflag,
      |    2 * RANK() OVER (PARTITION BY l_returnflag ORDER BY x)
      |      + COUNT(*) OVER (PARTITION BY l_returnflag, x) - 1 AS rx,
      |    2 * RANK() OVER (PARTITION BY l_returnflag ORDER BY y)
      |      + COUNT(*) OVER (PARTITION BY l_returnflag, y) - 1 AS ry
      |  FROM base),
      |m AS (
      |  SELECT l_returnflag, COUNT(*) AS n,
      |    SUM(rx) AS sx, SUM(ry) AS sy,
      |    SUM(rx * rx) AS sxx, SUM(ry * ry) AS syy, SUM(rx * ry) AS sxy
      |  FROM ranked GROUP BY l_returnflag)
      |SELECT l_returnflag, n,
      |  (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
      |   / SQRT((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
      |          * (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))) AS spearman_rho
      |FROM m ORDER BY l_returnflag""".stripMargin

  /** q290 — two-sample KOLMOGOROV–SMIRNOV test per event type (the
    * distribution-shape complement of q229's mean test and q285's rank
    * test: D = sup|F_a − F_b| detects ANY distributional difference —
    * spread, shape, tails — not just location): variants are the same
    * deterministic `user_id % 2` split, and the statistic is the max
    * absolute gap between the two empirical CDFs over the pooled
    * cent-quantized support. Exactness: the gap at value v is
    * |cum_a/n_a − cum_b/n_b| = |n_b·cum_a − n_a·cum_b| / (n_a·n_b), so
    * the max runs over the exact BIGINT numerator (≤ n_a·n_b ≈ 10¹⁰ at
    * sf0.1 — int64 headroom to ~3·10⁹ rows per side) and only the
    * reported `ks_d` divides, one identically spelled double op.
    *
    * Scale shape: one partial-aggregated groupBy collapses the stream
    * to its DISTINCT (type, value) support before any window touches
    * it; the cumulative and total sums are two frames over ONE
    * (type)-partitioned window ordering — no self-join, no per-row
    * CDF probe. Evaluating only at observed support points is exact:
    * the CDF gap is constant between jumps, so the sup is attained at
    * a jump.
    */
  val q290KsTest: Q = (s, dir) => {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val pooled = T.events(s, dir)
      .select($"event_type", ($"user_id" % 2 === 0).as("is_a"),
        expr("CAST(FLOOR(100 * value) AS BIGINT)").as("qv"))
    val support = pooled.groupBy($"event_type", $"qv")
      .agg(sum(when($"is_a", 1L).otherwise(0L)).as("ca"),
        sum(when(!$"is_a", 1L).otherwise(0L)).as("cb"))
    val wCum = Window.partitionBy($"event_type").orderBy($"qv")
      .rowsBetween(Window.unboundedPreceding, 0)
    val wAll = Window.partitionBy($"event_type")
    support
      .withColumn("cua", sum($"ca").over(wCum))
      .withColumn("cub", sum($"cb").over(wCum))
      .withColumn("na", sum($"ca").over(wAll))
      .withColumn("nb", sum($"cb").over(wAll))
      .groupBy($"event_type")
      .agg(max($"na").as("n_a"), max($"nb").as("n_b"),
        max(abs($"nb" * $"cua" - $"na" * $"cub")).as("d_num"))
      .select($"event_type", $"n_a", $"n_b", $"d_num",
        expr("CAST(d_num AS DOUBLE) / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))")
          .as("ks_d"))
      .orderBy($"event_type")
  }

  val q290Sql: String =
    """WITH pooled AS (
      |  SELECT event_type, user_id % 2 = 0 AS is_a,
      |    CAST(FLOOR(100 * value) AS BIGINT) AS qv
      |  FROM events),
      |support AS (
      |  SELECT event_type, qv,
      |    CAST(COALESCE(SUM(CASE WHEN is_a THEN 1 ELSE 0 END), 0) AS BIGINT) AS ca,
      |    CAST(COALESCE(SUM(CASE WHEN is_a THEN 0 ELSE 1 END), 0) AS BIGINT) AS cb
      |  FROM pooled GROUP BY event_type, qv),
      |cum AS (
      |  SELECT event_type,
      |    SUM(ca) OVER (PARTITION BY event_type ORDER BY qv
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cua,
      |    SUM(cb) OVER (PARTITION BY event_type ORDER BY qv
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cub,
      |    SUM(ca) OVER (PARTITION BY event_type) AS na,
      |    SUM(cb) OVER (PARTITION BY event_type) AS nb
      |  FROM support)
      |SELECT event_type,
      |  CAST(MAX(na) AS BIGINT) AS n_a, CAST(MAX(nb) AS BIGINT) AS n_b,
      |  CAST(MAX(ABS(nb * cua - na * cub)) AS BIGINT) AS d_num,
      |  CAST(MAX(ABS(nb * cua - na * cub)) AS DOUBLE)
      |    / (CAST(MAX(na) AS DOUBLE) * CAST(MAX(nb) AS DOUBLE)) AS ks_d
      |FROM cum GROUP BY event_type ORDER BY event_type""".stripMargin

  /** q293 censoring horizon: a user whose LAST event falls within this
    * many days of the corpus end is censored (still active — their
    * true lifetime is only known to EXCEED the observed span), not
    * churned. 14 days ≈ 2 observation cycles of the weekly activity
    * the fixture carries.
    */
  val KmCensorDays = 14

  /** q293 — KAPLAN–MEIER survival risk table over user lifetimes: the
    * right-censoring-aware lifetime readout (retention teams' survival
    * curve) that a naive "average user lifespan" gets WRONG — users
    * still active at corpus end have unfinished lifetimes, and
    * dropping OR counting them as churned both bias the estimate; KM
    * is the standard fix (Kaplan & Meier 1958). Lifetime = days from
    * first to last event; users whose last event is within
    * [[KmCensorDays]] of the corpus end are censored. The row per
    * distinct lifetime d is the estimator's complete sufficient
    * statistics — (n_risk, n_event, n_censor): S(t) = Π_{d≤t, event}
    * (1 − n_event/n_risk) is a trivial running product over them. The
    * product itself is deliberately NOT a column: Spark has no exact
    * product aggregate, and an exp(Σln) spelling is the one
    * order-sensitive float reduction the repo's cross-engine
    * discipline exists to avoid — integers ARE the estimator.
    *
    * Scale shape: the stream collapses to per-user (first, last) in
    * ONE partial-aggregated groupBy; everything after runs on the
    * lifetime support (≤ observed-span days rows — bounded by the
    * calendar, not the corpus), so the single global-partition window
    * is a constant-size frame at any scale (the q261 discipline).
    */
  val q293KaplanMeier: Q = (s, dir) => {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val spans = T.events(s, dir)
      .groupBy($"user_id")
      .agg(min($"ts".cast("date")).as("d0"), max($"ts".cast("date")).as("d1"))
    val horizon = spans.agg(max($"d1").as("dmax")) // 1-row frame
    val lifetimes = spans.crossJoin(horizon)
      .select(datediff($"d1", $"d0").cast("long").as("dur"),
        (datediff($"dmax", $"d1") < KmCensorDays).as("censored"))
    val byDur = lifetimes.groupBy($"dur")
      .agg(sum(when(!$"censored", 1L).otherwise(0L)).as("n_event"),
        sum(when($"censored", 1L).otherwise(0L)).as("n_censor"))
    val wPrev = Window.orderBy($"dur")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wAll = Window.partitionBy()
    byDur
      .withColumn("gone_before",
        coalesce(sum($"n_event" + $"n_censor").over(wPrev), lit(0L)))
      .withColumn("n_total", sum($"n_event" + $"n_censor").over(wAll))
      .select($"dur", ($"n_total" - $"gone_before").as("n_risk"),
        $"n_event", $"n_censor")
      .orderBy($"dur")
  }

  /** q395 — NELSON–AALEN cumulative hazard over the q293 risk table
    * (Nelson 1972, Aalen 1978 — the estimator survival analysis
    * prefers when the SUM is the natural object: H(t) = Σ_{d≤t}
    * d_i/n_i is a plain sum of per-time hazards, so unlike q293's
    * product-form S(t) it fits the repo's exactness discipline
    * DIRECTLY: each term is one micro-quantized division of exact
    * BIGINTs, and the cumulative is an integer window sum of those
    * quantized terms — deterministic with no product workaround;
    * its exp(−H) transform is the Fleming–Harrington survival
    * curve, deliberately not emitted for the same no-exact-product
    * reason q293 documents).
    *
    * Scale shape: q293's one-pass per-user collapse; hazard terms
    * and the cum window run on the lifetime-support-bounded frame.
    */
  val q395NelsonAalen: Q = (s, dir) => {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val risk = q293KaplanMeier(s, dir)
    val wCum = Window.orderBy($"dur")
      .rowsBetween(Window.unboundedPreceding, 0)
    risk
      .withColumn("term_micro", expr(
        """CAST(FLOOR(1000000.0 * (CAST(n_event AS DOUBLE)
          |  / CAST(n_risk AS DOUBLE))) AS BIGINT)""".stripMargin))
      .withColumn("cum_hazard_micro", sum($"term_micro").over(wCum))
      .select($"dur", $"n_risk", $"n_event", $"term_micro",
        $"cum_hazard_micro")
      .orderBy($"dur")
  }

  val q395Sql: String =
    s"""WITH spans AS (
       |  SELECT user_id, CAST(MIN(CAST(ts AS TIMESTAMP)) AS DATE) AS d0,
       |    CAST(MAX(CAST(ts AS TIMESTAMP)) AS DATE) AS d1
       |  FROM events GROUP BY user_id),
       |h AS (SELECT MAX(d1) AS dmax FROM spans),
       |lifetimes AS (
       |  SELECT CAST(d1 - d0 AS BIGINT) AS dur,
       |    (dmax - d1) < $KmCensorDays AS censored
       |  FROM spans CROSS JOIN h),
       |by_dur AS (
       |  SELECT dur,
       |    CAST(SUM(CASE WHEN censored THEN 0 ELSE 1 END) AS BIGINT) AS n_event,
       |    CAST(SUM(CASE WHEN censored THEN 1 ELSE 0 END) AS BIGINT) AS n_censor
       |  FROM lifetimes GROUP BY dur),
       |risk AS (
       |  SELECT dur,
       |    CAST(SUM(n_event + n_censor) OVER ()
       |      - COALESCE(SUM(n_event + n_censor) OVER (ORDER BY dur
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      AS BIGINT) AS n_risk,
       |    n_event
       |  FROM by_dur),
       |terms AS (
       |  SELECT dur, n_risk, n_event,
       |    CAST(FLOOR(1000000.0 * (CAST(n_event AS DOUBLE)
       |      / CAST(n_risk AS DOUBLE))) AS BIGINT) AS term_micro
       |  FROM risk)
       |SELECT dur, n_risk, n_event, term_micro,
       |  CAST(SUM(term_micro) OVER (ORDER BY dur
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |    AS cum_hazard_micro
       |FROM terms ORDER BY dur""".stripMargin

  val q293Sql: String =
    s"""WITH spans AS (
       |  SELECT user_id, CAST(MIN(CAST(ts AS TIMESTAMP)) AS DATE) AS d0,
       |    CAST(MAX(CAST(ts AS TIMESTAMP)) AS DATE) AS d1
       |  FROM events GROUP BY user_id),
       |h AS (SELECT MAX(d1) AS dmax FROM spans),
       |lifetimes AS (
       |  SELECT CAST(d1 - d0 AS BIGINT) AS dur,
       |    (dmax - d1) < $KmCensorDays AS censored
       |  FROM spans CROSS JOIN h),
       |by_dur AS (
       |  SELECT dur,
       |    CAST(SUM(CASE WHEN censored THEN 0 ELSE 1 END) AS BIGINT) AS n_event,
       |    CAST(SUM(CASE WHEN censored THEN 1 ELSE 0 END) AS BIGINT) AS n_censor
       |  FROM lifetimes GROUP BY dur)
       |SELECT dur,
       |  CAST(SUM(n_event + n_censor) OVER ()
       |    - COALESCE(SUM(n_event + n_censor) OVER (ORDER BY dur
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |    AS BIGINT) AS n_risk,
       |  n_event, n_censor
       |FROM by_dur ORDER BY dur""".stripMargin

  /** q302 replicate count. */
  val BootReps = 32

  /** q302 Poisson(1) inverse-CDF thresholds at 16-bit resolution:
    * floor(65536 · P(X ≤ k)) for k = 0..4; u16 ≥ the last threshold
    * caps the draw at 5 (P ≈ 0.04%, bias far below the estimator's
    * own noise). Integer compares only — no float RNG anywhere.
    */
  val BootThresholds: Seq[Long] = Seq(24109L, 48218L, 60273L, 64291L, 65296L)

  /** q302 — POISSON BOOTSTRAP uncertainty for the mean (Chamandy et
    * al., "Estimating Uncertainty for Massive Data Streams", Google
    * 2012): the at-scale bootstrap — classical resampling needs n
    * draws WITH replacement per replicate (a global operation), the
    * Poisson trick gives each row an independent Poisson(1) weight
    * per replicate, turning the whole bootstrap into one stateless
    * scan that shards perfectly. [[BootReps]] replicate means of the
    * order totalprice; the spread across replicates IS the sampling
    * distribution of the mean. Determinism: weights come from 16-bit
    * md5(replicate:key) uniforms inverted through integer CDF
    * thresholds ([[BootThresholds]]) — both engines draw the SAME
    * weights, so the replicate means hash-compare exactly (sums are
    * exact cent-BIGINTs; each mean is one double division).
    *
    * Scale shape: one narrow ×[[BootReps]] row expansion (generated
    * next to the data — a broadcast of a 32-row frame, never a
    * shuffle) partial-aggregated straight down to 32 rows. No state,
    * no second pass; at 100 TB this is the only bootstrap that works.
    */
  val q302PoissonBootstrap: Q = (s, dir) => {
    import s.implicits._
    val reps = s.range(1, BootReps + 1).select($"id".cast("int").as("b"))
    val t = BootThresholds
    T.orders(s, dir)
      .select($"o_orderkey",
        expr("CAST(FLOOR(100 * o_totalprice) AS BIGINT)").as("y"))
      .crossJoin(broadcast(reps))
      .select($"b", $"y",
        conv(substring(md5(concat($"b".cast("string"), lit(":"),
          $"o_orderkey".cast("string"))), 1, 4), 16, 10)
          .cast("long").as("u"))
      .select($"b", $"y",
        when($"u" < t(0), 0L).when($"u" < t(1), 1L).when($"u" < t(2), 2L)
          .when($"u" < t(3), 3L).when($"u" < t(4), 4L).otherwise(5L)
          .as("w"))
      .groupBy($"b")
      .agg(sum($"w").as("n_eff"), sum($"w" * $"y").as("sw"))
      .select($"b", $"n_eff",
        expr("CAST(sw AS DOUBLE) / CAST(n_eff AS DOUBLE)").as("mean_cents"))
      .orderBy($"b")
  }

  val q302Sql: String = {
    val t = BootThresholds
    s"""WITH reps AS (SELECT unnest(range(1, ${BootReps + 1})) AS b),
       |expanded AS (
       |  SELECT b,
       |    CAST(FLOOR(100 * o_totalprice) AS BIGINT) AS y,
       |    CAST('0x' || substring(
       |      md5(CAST(b AS VARCHAR) || ':' || CAST(o_orderkey AS VARCHAR)),
       |      1, 4) AS BIGINT) AS u
       |  FROM orders CROSS JOIN reps),
       |weighted AS (
       |  SELECT b, y,
       |    CASE WHEN u < ${t(0)} THEN 0 WHEN u < ${t(1)} THEN 1
       |         WHEN u < ${t(2)} THEN 2 WHEN u < ${t(3)} THEN 3
       |         WHEN u < ${t(4)} THEN 4 ELSE 5 END AS w
       |  FROM expanded)
       |SELECT CAST(b AS INTEGER) AS b,
       |  CAST(SUM(w) AS BIGINT) AS n_eff,
       |  CAST(SUM(w * y) AS DOUBLE) / CAST(SUM(w) AS DOUBLE) AS mean_cents
       |FROM weighted GROUP BY b ORDER BY b""".stripMargin
  }

  /** q454 replicate count (finer quantile grid than q302's 32). */
  val BcaReps = 64

  /** Pinned Φ⁻¹(k/64) literals, k = 0..64 — the bias-correction z₀
    * lookup (z₀'s argument is the COUNT of replicates below θ̂, so it
    * has exactly 65 possible values; tabulating them as round-trip
    * string literals keeps ALL transcendentals out of both engines —
    * the q444 pinned-constant discipline). Endpoints are ±1e18
    * sentinels; the gate rejects them (z₀ must be finite).
    */
  val BcaZ0: Seq[String] = Seq("-1e18", "-2.1538746940614555", "-1.862731867421651", "-1.6759397227734436", "-1.5341205443525459", "-1.4177971379962673", "-1.3180108973035367", "-1.229858759216589", "-1.1503493803760079", "-1.0775155670402803", "-1.009990169249582", "-0.9467817563010456", "-0.8871465590188758", "-0.8305108782053992", "-0.7764217611479276", "-0.7245143834923653", "-0.6744897501960817", "-0.6260990123464213", "-0.579132162255556", "-0.5334097062412805", "-0.4887764111146694", "-0.44509652498551633", "-0.40225006532172525", "-0.3601298917895694", "-0.31863936396437514", "-0.27769043982157676", "-0.2372021093287877", "-0.1970990842943123", "-0.15731068461017067", "-0.1177698745790953", "-0.0784124127331122", "-0.03917608550309764", "0.0", "0.03917608550309764", "0.0784124127331122", "0.1177698745790953", "0.15731068461017067", "0.1970990842943123", "0.2372021093287877", "0.27769043982157676", "0.31863936396437514", "0.3601298917895694", "0.40225006532172525", "0.44509652498551633", "0.4887764111146694", "0.5334097062412805", "0.579132162255556", "0.6260990123464213", "0.6744897501960817", "0.7245143834923653", "0.7764217611479276", "0.8305108782053992", "0.8871465590188758", "0.9467817563010456", "1.009990169249582", "1.0775155670402803", "1.1503493803760079", "1.229858759216589", "1.3180108973035367", "1.4177971379962673", "1.5341205443525459", "1.6759397227734436", "1.862731867421651", "2.1538746940614555", "1e18")

  /** Pinned Φ⁻¹(j/65) literals, j = 1..64 — the plotting-position
    * grid the adjusted endpoints are counted against.
    */
  val BcaZj: Seq[String] = Seq("-2.1600444231842824", "-1.8696066471189026", "-1.6833482640036073", "-1.541986298854446", "-1.4260768722728472", "-1.3266775070350316", "-1.2388943795813598", "-1.159742045435351", "-1.0872573835362354", "-1.0200762327862016", "-0.9572094693644215", "-0.8979151835449686", "-0.8416212335729142", "-0.7878760170254153", "-0.7363159173761294", "-0.6866430509241719", "-0.6386096176206588", "-0.5920066223547551", "-0.5466555687662381", "-0.5024022233733554", "-0.45911185185086445", "-0.4166655212801165", "-0.37495718657255717", "-0.3338913617012391", "-0.29338123212119327", "-0.2533471031357998", "-0.21371510579760275", "-0.17441610093770255", "-0.1353847355175167", "-0.09655861528963908", "-0.05787756481121016", "-0.019282950895712154", "0.019282950895712154", "0.0578775648112103", "0.09655861528963908", "0.13538473551751684", "0.17441610093770255", "0.21371510579760286", "0.2533471031357998", "0.29338123212119355", "0.3338913617012391", "0.3749571865725573", "0.4166655212801165", "0.4591118518508645", "0.5024022233733554", "0.5466555687662383", "0.5920066223547551", "0.6386096176206588", "0.6866430509241719", "0.7363159173761297", "0.7878760170254153", "0.8416212335729144", "0.8979151835449686", "0.9572094693644219", "1.0200762327862016", "1.0872573835362356", "1.159742045435351", "1.2388943795813603", "1.3266775070350316", "1.4260768722728479", "1.541986298854446", "1.6833482640036077", "1.8696066471189026", "2.1600444231842837")

  val BcaZLo = "-1.9599639845400538"
  val BcaZHi = "1.9599639845400536"

  /** q454 — BCa BOOTSTRAP confidence interval for the mean (Efron
    * 1987 "Better Bootstrap Confidence Intervals" — the finishing
    * piece next to q302's Poisson bootstrap: percentile intervals are
    * first-order, BCa corrects BIAS (z₀, from the fraction of
    * replicate means below θ̂) and SKEW-driven ACCELERATION (a, from
    * the jackknife third moment) for second-order coverage).
    *
    * Engine-equality engineering (everything hash-compares exactly):
    *   - y is floor(totalprice) div 100 (hundred-dollar ints);
    *     replicate means reuse q302's integer Poisson(1) coins at
    *     B = [[BcaReps]] — exact-int sums, one double division each.
    *   - the jackknife acceleration collapses EXACTLY: with
    *     θ₍ᵢ₎ = (T−yᵢ)/(n−1), the mean of the jackknife means is T/n
    *     and a = Σẽᵢ³ / (6·(Σẽᵢ²)^{3/2}) for ẽᵢ = yᵢ − T/n — the
    *     n(n−1) factors cancel. ẽᵢ is computed as
    *     (yᵢ−c) − ρ/n (c = T div n, ρ = T mod n — exact ints, one
    *     pinned double division), and the two power sums are per-row
    *     quantized BEFORE summation (⌊256·ẽ²⌋, ⌊ẽ³⌋ — ẽ is
    *     n-INDEPENDENT deviation scale, so the int64 budget is
    *     n ≲ 1.6·10¹⁰ rows; at 100 TB drop the 256 shift, scaladoc'd).
    *   - Φ and Φ⁻¹ never run at query time: z₀ has 65 possible values
    *     (a count) and the endpoint-vs-grid comparisons need only the
    *     64 grid quantiles — all pinned round-trip literals
    *     ([[BcaZ0]]/[[BcaZj]]), with the interval endpoints picked by
    *     COUNTING grid points under the adjusted z (an integer), then
    *     reading that order statistic of the replicate means.
    * Gate folds: finite z₀ (0 < k₀ < B), positive curvature (Σẽ² > 0),
    * ordered indices, and the interval brackets θ̂ strictly.
    */
  val q454BcaBootstrap: Q = (s, dir) => {
    import s.implicits._
    // r17 optimization: orders.parquet is one small file → a 1-task
    // scan, and the 64-replicate fan-out (B·n rows, one md5 each) ran
    // entirely inside that single task (measured 7.6 s isolated with
    // 31 idle cores). Spreading the base across the session's cores
    // parallelizes the replicate hashing; hash-repartition on the key
    // (not round-robin) skips sortBeforeRepartition. Same rows, same
    // coins, same medians — only the placement changes.
    val base = PlanBridge.checkpointResetStats(T.orders(s, dir)
      .select($"o_orderkey",
        expr("CAST(FLOOR(o_totalprice) AS BIGINT) div 100").as("yh"))
      .repartition(s.sparkContext.defaultParallelism, $"o_orderkey"))
    val momRow = base.agg(count(lit(1)).as("n"), sum($"yh").as("t")).head()
    val n = momRow.getLong(0); val t = momRow.getLong(1)
    val c = t / n; val rho = t - n * c
    val eCol = expr(
      s"CAST(yh - $c AS DOUBLE) - CAST($rho AS DOUBLE) / CAST($n AS DOUBLE)")
    val uuRow = base
      .select(eCol.as("e"))
      .agg(sum(expr("CAST(FLOOR(e * e * 256.0) AS BIGINT)")).as("e2"),
        sum(expr("CAST(FLOOR(e * e * e) AS BIGINT)")).as("e3")).head()
    val e2 = uuRow.getLong(0); val e3 = uuRow.getLong(1)
    val reps = s.range(1, BcaReps + 1).select($"id".cast("int").as("b"))
    val th = BootThresholds
    val boot = base.crossJoin(broadcast(reps))
      .select($"b", $"yh",
        conv(substring(md5(concat($"b".cast("string"), lit(":"),
          $"o_orderkey".cast("string"))), 1, 4), 16, 10)
          .cast("long").as("u"))
      .select($"b", $"yh",
        when($"u" < th(0), 0L).when($"u" < th(1), 1L).when($"u" < th(2), 2L)
          .when($"u" < th(3), 3L).when($"u" < th(4), 4L).otherwise(5L)
          .as("w"))
      .groupBy($"b")
      .agg(sum($"w").as("ne"), sum($"w" * $"yh").as("sw"))
      .select($"b",
        expr("CAST(sw AS DOUBLE) / CAST(ne AS DOUBLE)").as("m"))
      .as[(Int, Double)].collect().sortBy(x => (x._2, x._1))
    val theta = t.toDouble / n.toDouble
    val k0 = boot.count(_._2 < theta)
    val aAcc = e3.toDouble /
      (6.0 * (e2.toDouble / 256.0) * math.sqrt(e2.toDouble / 256.0))
    val z0 = BcaZ0(k0).toDouble
    def adjusted(zA: Double): Double = {
      val w = z0 + zA
      z0 + w / (1.0 - aAcc * w)
    }
    val aLo = adjusted(BcaZLo.toDouble)
    val aHi = adjusted(BcaZHi.toDouble)
    val zj = BcaZj.map(_.toDouble)
    val k1 = math.max(1, math.min(zj.count(_ <= aLo), BcaReps))
    val k2 = math.max(1, math.min(zj.count(_ <= aHi), BcaReps))
    val lo = boot(k1 - 1)._2
    val hi = boot(k2 - 1)._2
    val ok = k0 > 0 && k0 < BcaReps && e2 > 0L && k1 <= k2 &&
      lo < theta && theta < hi
    Seq((n, k0.toLong, k1.toLong, k2.toLong, lo, hi, ok))
      .toDF("n", "k0", "k1", "k2", "lo_mean", "hi_mean", "ok")
  }

  val q454Sql: String = {
    val th = BootThresholds
    val z0Rows = BcaZ0.zipWithIndex
      .map { case (z, k) => s"($k, CAST('$z' AS DOUBLE))" }.mkString(", ")
    val zjRows = BcaZj.zipWithIndex
      .map { case (z, j) => s"(${j + 1}, CAST('$z' AS DOUBLE))" }.mkString(", ")
    s"""WITH base AS MATERIALIZED (
       |  SELECT o_orderkey, CAST(FLOOR(o_totalprice) AS BIGINT) // 100 AS yh
       |  FROM orders),
       |mom AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
       |               CAST(SUM(yh) AS BIGINT) AS t FROM base),
       |ctr AS (SELECT n, t, t // n AS c, t - n * (t // n) AS rho FROM mom),
       |dev AS (
       |  SELECT CAST(yh - c AS DOUBLE)
       |    - CAST(rho AS DOUBLE) / CAST(n AS DOUBLE) AS e
       |  FROM base CROSS JOIN ctr),
       |uu AS (
       |  SELECT CAST(SUM(CAST(FLOOR(e * e * 256.0) AS BIGINT)) AS BIGINT) AS e2,
       |         CAST(SUM(CAST(FLOOR(e * e * e) AS BIGINT)) AS BIGINT) AS e3
       |  FROM dev),
       |reps AS (SELECT unnest(range(1, ${BcaReps + 1})) AS b),
       |weighted AS (
       |  SELECT b, yh,
       |    CASE WHEN u < ${th(0)} THEN 0 WHEN u < ${th(1)} THEN 1
       |         WHEN u < ${th(2)} THEN 2 WHEN u < ${th(3)} THEN 3
       |         WHEN u < ${th(4)} THEN 4 ELSE 5 END AS w
       |  FROM (SELECT b, yh,
       |      CAST('0x' || substring(
       |        md5(CAST(b AS VARCHAR) || ':' || CAST(o_orderkey AS VARCHAR)),
       |        1, 4) AS BIGINT) AS u
       |    FROM base CROSS JOIN reps) z),
       |bm AS MATERIALIZED (
       |  SELECT b, CAST(SUM(w * yh) AS DOUBLE) / CAST(SUM(w) AS DOUBLE) AS m
       |  FROM weighted GROUP BY b),
       |k0c AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS k0 FROM bm CROSS JOIN ctr
       |  WHERE m < CAST(t AS DOUBLE) / CAST(n AS DOUBLE)),
       |z0t(k, z) AS (VALUES $z0Rows),
       |zjt(j, z) AS (VALUES $zjRows),
       |acc AS (
       |  SELECT CAST(e3 AS DOUBLE) /
       |    (6.0 * (CAST(e2 AS DOUBLE) / 256.0)
       |     * sqrt(CAST(e2 AS DOUBLE) / 256.0)) AS a
       |  FROM uu),
       |z0v AS (SELECT z AS z0 FROM z0t JOIN k0c ON k = k0),
       |adj AS (
       |  SELECT
       |    z0 + (z0 + CAST('$BcaZLo' AS DOUBLE))
       |      / (1.0 - a * (z0 + CAST('$BcaZLo' AS DOUBLE))) AS alo,
       |    z0 + (z0 + CAST('$BcaZHi' AS DOUBLE))
       |      / (1.0 - a * (z0 + CAST('$BcaZHi' AS DOUBLE))) AS ahi
       |  FROM z0v CROSS JOIN acc),
       |ks AS (
       |  SELECT
       |    GREATEST(1, LEAST((SELECT CAST(COUNT(*) AS BIGINT) FROM zjt
       |      CROSS JOIN adj WHERE z <= alo), $BcaReps)) AS k1,
       |    GREATEST(1, LEAST((SELECT CAST(COUNT(*) AS BIGINT) FROM zjt
       |      CROSS JOIN adj WHERE z <= ahi), $BcaReps)) AS k2),
       |ord AS (SELECT m, ROW_NUMBER() OVER (ORDER BY m, b) AS r FROM bm)
       |SELECT ctr.n, k0c.k0, ks.k1, ks.k2,
       |  (SELECT m FROM ord WHERE r = ks.k1) AS lo_mean,
       |  (SELECT m FROM ord WHERE r = ks.k2) AS hi_mean,
       |  k0c.k0 > 0 AND k0c.k0 < $BcaReps
       |    AND (SELECT e2 FROM uu) > 0 AND ks.k1 <= ks.k2
       |    AND (SELECT m FROM ord WHERE r = ks.k1)
       |        < CAST(ctr.t AS DOUBLE) / CAST(ctr.n AS DOUBLE)
       |    AND CAST(ctr.t AS DOUBLE) / CAST(ctr.n AS DOUBLE)
       |        < (SELECT m FROM ord WHERE r = ks.k2) AS ok
       |FROM ctr CROSS JOIN k0c CROSS JOIN ks""".stripMargin
  }

  /** q458 slope bucket width (micro-cents/day) for the selection pass. */
  val TsBucket = 4294967296L // 2^32

  /** q458 — THEIL–SEN robust slope (Theil 1950 / Sen 1968 — the
    * robust-regression leg next to q228's OLS and q423's
    * median-of-means: OLS's slope has breakdown point 0, one corrupt
    * day drags it arbitrarily; the median of pairwise slopes survives
    * ~29% contamination) over the daily-revenue series.
    *
    * Exactness: day index and daily cents are exact ints; each pair's
    * slope is micro-quantized by ONE double division then floor
    * (identical spelling both engines); the median slope is found by
    * the q307 BUCKETED SELECTION (histogram pass over 2³²-wide slope
    * buckets + cumulative locate + a window over ONLY the target
    * bucket — no global sort over the O(days²) pair frame); the
    * intercept is the exact-integer median of 10⁶·rᵢ − slope·dᵢ over
    * the days-bounded frame. Lower-median convention ((n+1) div 2)
    * in both engines. Int64 budget: |slope·d| ≤ ~10¹⁸ at the tested
    * revenue scale (scaladoc'd; the 100 TB form drops to milli
    * quantization).
    *
    * Scale shape: the pair frame is days²-bounded (the series axis,
    * not the row count — orders collapse to ≤ days rows first); one
    * partial-agg histogram + bounded cumulative + pruned window.
    */
  /** The Theil–Sen core on a (d: Long, r: Long) series frame — public
    * for the hand-fixture spec (planted line + outlier robustness).
    * Returns (n_days, n_pairs, slope_micro, intercept_micro).
    */
  def theilSenOn(daysIn: DataFrame): (Long, Long, Long, Long) = {
    val s = daysIn.sparkSession
    import s.implicits._
    val days = PlanBridge.checkpointResetStats(daysIn)
    val nDays = days.count()
    val pairs = PlanBridge.checkpointResetStats(
      days.as("a").join(days.as("b"), $"a.d" < $"b.d")
        .select($"a.d".as("da"), $"b.d".as("db"), $"a.r".as("ra"), $"b.r".as("rb"))
        .select($"da", $"db", expr(
          """CAST(FLOOR(1000000.0 * CAST(rb - ra AS DOUBLE)
            |  / CAST(db - da AS DOUBLE)) AS BIGINT)""".stripMargin).as("sm")))
    val nPairs = pairs.count()
    val k = (nPairs + 1) / 2
    // bucketed selection for the k-th smallest slope
    val hist = pairs
      .withColumn("bkt", expr(s"CAST(FLOOR(CAST(sm AS DOUBLE) / $TsBucket) AS BIGINT)"))
      .groupBy($"bkt").agg(count(lit(1)).as("c"))
    val wCum = Window.orderBy($"bkt")
      .rowsBetween(Window.unboundedPreceding, 0)
    val loc = hist
      .withColumn("cum", sum($"c").over(wCum))
      .withColumn("before", $"cum" - $"c")
      .filter($"before" < k && $"cum" >= k)
      .select($"bkt", (lit(k) - $"before").as("resid"))
    val wIn = Window.partitionBy($"bkt").orderBy($"sm", $"da", $"db")
    val slope = pairs
      .withColumn("bkt", expr(s"CAST(FLOOR(CAST(sm AS DOUBLE) / $TsBucket) AS BIGINT)"))
      .join(broadcast(loc), "bkt")
      .withColumn("rn", row_number().over(wIn).cast("long"))
      .filter($"rn" === $"resid")
      .select($"sm").head().getLong(0)
    // intercept: exact-integer median over the days-bounded frame
    val wI = Window.orderBy($"v", $"d")
    val ki = (nDays + 1) / 2
    val intercept = days
      .select($"d", (lit(1000000L) * $"r" - lit(slope) * $"d").as("v"))
      .withColumn("rn", row_number().over(wI).cast("long"))
      .filter($"rn" === ki)
      .select($"v").head().getLong(0)
    (nDays, nPairs, slope, intercept)
  }

  val q458TheilSen: Q = (s, dir) => {
    import s.implicits._
    val daily = T.orders(s, dir)
      .groupBy($"o_orderdate")
      .agg(sum(expr("CAST(FLOOR(100 * o_totalprice) AS BIGINT)")).as("r"))
    val d0 = daily.agg(min($"o_orderdate").as("dmin"))
    val days = daily.crossJoin(broadcast(d0))
      .select(datediff($"o_orderdate", $"dmin").cast("long").as("d"), $"r")
    val (nDays, nPairs, slope, intercept) = theilSenOn(days)
    Seq((nDays, nPairs, slope, intercept))
      .toDF("n_days", "n_pairs", "slope_micro", "intercept_micro")
  }

  val q458Sql: String =
    s"""WITH daily AS MATERIALIZED (
       |  SELECT o_orderdate,
       |    CAST(SUM(CAST(FLOOR(100 * o_totalprice) AS BIGINT)) AS BIGINT) AS r
       |  FROM orders GROUP BY o_orderdate),
       |days AS MATERIALIZED (
       |  SELECT CAST(date_diff('day',
       |      (SELECT MIN(CAST(o_orderdate AS DATE)) FROM daily),
       |      CAST(o_orderdate AS DATE)) AS BIGINT) AS d, r
       |  FROM daily),
       |pairs AS MATERIALIZED (
       |  SELECT CAST(FLOOR(1000000.0 * CAST(b.r - a.r AS DOUBLE)
       |    / CAST(b.d - a.d AS DOUBLE)) AS BIGINT) AS sm,
       |    a.d AS da, b.d AS db
       |  FROM days a JOIN days b ON a.d < b.d),
       |np AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs FROM pairs),
       |slope AS (
       |  SELECT sm FROM (
       |    SELECT sm, ROW_NUMBER() OVER (ORDER BY sm, da, db) AS rn
       |    FROM pairs) z CROSS JOIN np
       |  WHERE rn = (n_pairs + 1) // 2),
       |nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_days FROM days),
       |icept AS (
       |  SELECT v FROM (
       |    SELECT 1000000 * r - (SELECT sm FROM slope) * d AS v, d,
       |      ROW_NUMBER() OVER (ORDER BY 1000000 * r
       |        - (SELECT sm FROM slope) * d, d) AS rn
       |    FROM days) z CROSS JOIN nd
       |  WHERE rn = (n_days + 1) // 2)
       |SELECT nd.n_days, np.n_pairs,
       |  (SELECT sm FROM slope) AS slope_micro,
       |  CAST((SELECT v FROM icept) AS BIGINT) AS intercept_micro
       |FROM nd CROSS JOIN np""".stripMargin

  /** q314 PSI bin width (cents) and the smoothing pseudo-count that
    * keeps empty bins finite (industry-standard Laplace +1 — an empty
    * serve-side bin is a REAL drift signal, not a division error).
    */
  val PsiBinCents = 2000L
  val PsiSmooth = 1L

  /** q314 — POPULATION STABILITY INDEX per event type between the
    * observation window's two halves — the industry drift metric for
    * ML feature monitoring: PSI = Σ_bins (p_i − q_i)·ln(p_i/q_i),
    * read as <0.1 stable / 0.1–0.25 shifting / >0.25 retrain. The
    * distribution-comparison triple this completes: q290's KS is the
    * sup-norm test, q230's chi-square the independence test, PSI the
    * MONITORING number teams actually alert on (it weights by the
    * log-ratio, so mass moving into near-empty bins screams).
    *
    * Determinism: bins are FIXED equal-width (the q154 histogram
    * discipline — no data-dependent quantile fitting, so the binning
    * is reproducible across engines and runs); counts are exact
    * BIGINTs with +1 smoothing; each bin's term is computed in
    * doubles from exact integers, micro-quantized to BIGINT, and
    * summed order-free (the q230 chi-square convention — the one
    * order-sensitive float reduction becomes exact).
    *
    * Scale shape: ONE conditional-aggregation pass collapses the
    * stream to (type, bin, n_first, n_second); the PSI fold runs on
    * that bounded frame. The split is by the observed time midpoint —
    * one 1-row aggregate broadcast, no second scan.
    */
  val q314PsiDrift: Q = (s, dir) => {
    import s.implicits._
    val ev = T.events(s, dir)
      .select($"event_type", unix_micros($"ts").as("t_us"),
        expr(s"CAST(FLOOR(100 * value) AS BIGINT) div $PsiBinCents").as("bin"))
    val mid = ev.agg(min($"t_us").as("mn"), max($"t_us").as("mx"))
      .select(expr("mn + (mx - mn) div 2").as("mid_us")) // integer div:
      // a float `/2` would round differently across engines at .5

    val cells = ev.crossJoin(broadcast(mid))
      .groupBy($"event_type", $"bin")
      .agg(sum(when($"t_us" < $"mid_us", 1L).otherwise(0L)).as("na"),
        sum(when($"t_us" >= $"mid_us", 1L).otherwise(0L)).as("nb"))
    val wAll = org.apache.spark.sql.expressions.Window
      .partitionBy($"event_type")
    cells
      .withColumn("ta", sum($"na" + PsiSmooth).over(wAll))
      .withColumn("tb", sum($"nb" + PsiSmooth).over(wAll))
      .select($"event_type",
        expr(s"""CAST(FLOOR(1000000.0 * (
                |  (CAST(na + $PsiSmooth AS DOUBLE) / CAST(ta AS DOUBLE)
                |   - CAST(nb + $PsiSmooth AS DOUBLE) / CAST(tb AS DOUBLE))
                |  * LN((CAST(na + $PsiSmooth AS DOUBLE) / CAST(ta AS DOUBLE))
                |       / (CAST(nb + $PsiSmooth AS DOUBLE) / CAST(tb AS DOUBLE)))
                |)) AS BIGINT)""".stripMargin).as("term_q"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_bins"), sum($"term_q").as("psi_micro"))
      .orderBy($"event_type")
  }

  val q314Sql: String =
    s"""WITH ev AS (
       |  SELECT event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS t_us,
       |    CAST(FLOOR(100 * value) AS BIGINT) // $PsiBinCents AS bin
       |  FROM events),
       |mid AS (
       |  SELECT CAST(MIN(t_us) + (MAX(t_us) - MIN(t_us)) // 2 AS BIGINT)
       |    AS mid_us
       |  FROM ev),
       |cells AS (
       |  SELECT event_type, bin,
       |    CAST(COALESCE(SUM(CASE WHEN t_us < mid_us THEN 1 ELSE 0 END), 0)
       |      AS BIGINT) AS na,
       |    CAST(COALESCE(SUM(CASE WHEN t_us >= mid_us THEN 1 ELSE 0 END), 0)
       |      AS BIGINT) AS nb
       |  FROM ev CROSS JOIN mid
       |  GROUP BY event_type, bin),
       |tot AS (
       |  SELECT *,
       |    SUM(na + $PsiSmooth) OVER (PARTITION BY event_type) AS ta,
       |    SUM(nb + $PsiSmooth) OVER (PARTITION BY event_type) AS tb
       |  FROM cells)
       |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_bins,
       |  CAST(SUM(CAST(FLOOR(1000000.0 * (
       |    (CAST(na + $PsiSmooth AS DOUBLE) / CAST(ta AS DOUBLE)
       |     - CAST(nb + $PsiSmooth AS DOUBLE) / CAST(tb AS DOUBLE))
       |    * LN((CAST(na + $PsiSmooth AS DOUBLE) / CAST(ta AS DOUBLE))
       |         / (CAST(nb + $PsiSmooth AS DOUBLE) / CAST(tb AS DOUBLE)))
       |  )) AS BIGINT)) AS BIGINT) AS psi_micro
       |FROM tot GROUP BY event_type ORDER BY event_type""".stripMargin


  /** q331 — CUPED variance-reduced experiment readout (Deng, Xu,
    * Kohavi & Walker, WSDM 2013 — the industry-standard uplift
    * estimator): per-user "pre" covariate X (cent-sum of the user's
    * even-DAY-OF-MONTH events — a deterministic, engine-agnostic
    * interleaved split on substr(date,9,2) % 2; NOT temporally prior,
    * which is fine for the estimator: CUPED only needs X correlated
    * with Y and unaffected by treatment) and metric Y (odd
    * day-of-month events), variant =
    * user_id mod 2, θ = Cov(X,Y)/Var(X) pooled, adjusted uplift =
    * (Ȳ_t − Ȳ_c) − θ(X̄_t − X̄_c). q229 answers "is the difference
    * real"; CUPED shrinks the noise that question is asked against —
    * var(Y′) = var(Y)(1 − ρ²), reported as rho2.
    *
    * Exactness: per-user cent sums are BIGINT; every moment the θ and
    * uplift arithmetic consumes is an exact integer sufficient
    * statistic from ONE user-keyed pass + ONE global conditional agg;
    * the finish is identically spelled doubles (q228 discipline).
    *
    * Scale shape: groupBy(user) partial agg → |users| rows → one
    * grand conditional aggregate. No joins, no windows, no second
    * scan — CUPED's whole point is that the adjustment needs only
    * per-variant sums, never a per-user re-pass.
    */
  val q331Cuped: Q = (s, dir) => {
    import s.implicits._
    val perUser = T.events(s, dir)
      .select($"user_id",
        expr("CAST(FLOOR(100 * value) AS BIGINT)").as("qv"),
        (expr("CAST(ts AS DATE)").cast("string").substr(9, 2).cast("int") % 2
          === 0).as("pre"))
      .groupBy($"user_id")
      .agg(sum(when($"pre", $"qv").otherwise(0L)).as("x"),
        sum(when(!$"pre", $"qv").otherwise(0L)).as("y"))
      .withColumn("t", ($"user_id" % 2 === 0).cast("long"))
    val g = perUser.agg(
      count(lit(1)).as("n"),
      sum($"x").as("sx"), sum($"y").as("sy"),
      sum($"x" * $"x").as("sxx"), sum($"x" * $"y").as("sxy"),
      sum($"y" * $"y").as("syy"),
      sum($"t").as("nt"),
      sum($"t" * $"x").as("sxt"), sum($"t" * $"y").as("syt"))
    g.select($"n", $"nt",
      expr("(CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)) / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))").as("theta"),
      expr("CAST(syt AS DOUBLE) / CAST(nt AS DOUBLE) - CAST(sy - syt AS DOUBLE) / CAST(n - nt AS DOUBLE)").as("uplift_raw"),
      expr("""CAST(syt AS DOUBLE) / CAST(nt AS DOUBLE) - CAST(sy - syt AS DOUBLE) / CAST(n - nt AS DOUBLE)
             | - ((CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)) / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)))
             |   * (CAST(sxt AS DOUBLE) / CAST(nt AS DOUBLE) - CAST(sx - sxt AS DOUBLE) / CAST(n - nt AS DOUBLE))""".stripMargin).as("uplift_cuped"),
      expr("""(CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
             | * (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
             | / ((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
             |    * (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)))""".stripMargin).as("rho2"))
  }

  val q331Sql: String =
    """WITH pu AS (
      |  SELECT user_id,
      |    COALESCE(SUM(CASE WHEN CAST(substring(CAST(CAST(ts AS DATE) AS VARCHAR), 9, 2) AS INTEGER) % 2 = 0
      |      THEN qv ELSE 0 END), 0) AS x,
      |    COALESCE(SUM(CASE WHEN CAST(substring(CAST(CAST(ts AS DATE) AS VARCHAR), 9, 2) AS INTEGER) % 2 <> 0
      |      THEN qv ELSE 0 END), 0) AS y,
      |    CAST(user_id % 2 = 0 AS BIGINT) AS t
      |  FROM (SELECT user_id, ts, CAST(FLOOR(100 * value) AS BIGINT) AS qv
      |        FROM events)
      |  GROUP BY user_id),
      |g AS (
      |  SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
      |    SUM(x * x) AS sxx, SUM(x * y) AS sxy, SUM(y * y) AS syy,
      |    SUM(t) AS nt, SUM(t * x) AS sxt, SUM(t * y) AS syt
      |  FROM pu)
      |SELECT CAST(n AS BIGINT) AS n, CAST(nt AS BIGINT) AS nt,
      |  (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)) / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) AS theta,
      |  CAST(syt AS DOUBLE) / CAST(nt AS DOUBLE) - CAST(sy - syt AS DOUBLE) / CAST(n - nt AS DOUBLE) AS uplift_raw,
      |  CAST(syt AS DOUBLE) / CAST(nt AS DOUBLE) - CAST(sy - syt AS DOUBLE) / CAST(n - nt AS DOUBLE)
      |   - ((CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)) / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)))
      |     * (CAST(sxt AS DOUBLE) / CAST(nt AS DOUBLE) - CAST(sx - sxt AS DOUBLE) / CAST(n - nt AS DOUBLE)) AS uplift_cuped,
      |  (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
      |   * (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
      |   / ((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
      |      * (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))) AS rho2
      |FROM g""".stripMargin

  /** q332 — NEYMAN optimal stratified allocation (Neyman 1934; the
    * design step ahead of q100's stratified draw): sample budget
    * [[NeymanBudget]] split across strata ∝ N_h·σ_h — the allocation
    * that minimizes the stratified estimator's variance. Sufficient
    * statistics are exact cent-integer sums; σ_h and the shares are
    * identically spelled doubles, and n_alloc = FLOOR of that shared
    * double (bit-identical inputs ⇒ identical floor).
    *
    * Scale shape: ONE partial-agged groupBy over events + a 1-row
    * broadcast total — the same single-pass shape as q229.
    */
  val NeymanBudget = 10000L

  val q332NeymanAllocation: Q = (s, dir) => {
    import s.implicits._
    val strata = T.events(s, dir)
      .select($"event_type",
        expr("CAST(FLOOR(100 * value) AS BIGINT)").as("qv"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_stratum"), sum($"qv").as("sv"),
        sum($"qv" * $"qv").as("svv"))
      .withColumn("sd", expr(
        """SQRT((CAST(svv AS DOUBLE) - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE) / CAST(n_stratum AS DOUBLE))
          | / (CAST(n_stratum AS DOUBLE) - 1.0))""".stripMargin))
      .withColumn("weight", $"n_stratum".cast("double") * $"sd")
    val tot = strata.agg(sum($"weight").as("wtot"))
    strata.crossJoin(broadcast(tot))
      .select($"event_type", $"n_stratum", $"sd",
        ($"weight" / $"wtot").as("alloc_frac"),
        floor(lit(NeymanBudget.toDouble) * ($"weight" / $"wtot"))
          .cast("long").as("n_alloc"))
      .orderBy($"event_type")
  }

  val q332Sql: String =
    s"""WITH st AS (
       |  SELECT event_type, COUNT(*) AS n_stratum,
       |    SUM(qv) AS sv, SUM(qv * qv) AS svv
       |  FROM (SELECT event_type, CAST(FLOOR(100 * value) AS BIGINT) AS qv
       |        FROM events)
       |  GROUP BY event_type),
       |w AS (
       |  SELECT event_type, CAST(n_stratum AS BIGINT) AS n_stratum,
       |    SQRT((CAST(svv AS DOUBLE) - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE) / CAST(n_stratum AS DOUBLE))
       |     / (CAST(n_stratum AS DOUBLE) - 1.0)) AS sd,
       |    CAST(n_stratum AS DOUBLE) *
       |    SQRT((CAST(svv AS DOUBLE) - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE) / CAST(n_stratum AS DOUBLE))
       |     / (CAST(n_stratum AS DOUBLE) - 1.0)) AS weight
       |  FROM st)
       |SELECT event_type, n_stratum, sd,
       |  weight / (SELECT SUM(weight) FROM w) AS alloc_frac,
       |  CAST(FLOOR($NeymanBudget.0 * (weight / (SELECT SUM(weight) FROM w))) AS BIGINT) AS n_alloc
       |FROM w ORDER BY event_type""".stripMargin


  /** q343 — covariate BALANCE audit by standardized mean difference
    * (the |SMD| < 0.1 randomization check every experiment readout
    * runs FIRST — Austin 2009): per event type, the covariate
    * (the q331 even-day-of-month cent-sum per user) compared between
    * variants by SMD = (x̄_t − x̄_c) / √((s²_t + s²_c)/2). A splitter
    * bug (e.g. variant correlated with activity) shows here before it
    * corrupts every downstream uplift. Completes the experimentation
    * trio: q229 significance, q331 variance reduction, q343 validity.
    * Exact integer sufficient statistics; the finish is the one
    * spelled double chain (q228 discipline).
    *
    * Scale shape: one user-keyed partial agg (shared shape with q331)
    * + one grand conditional agg per event type — no joins, no
    * windows.
    */
  val q343BalanceAudit: Q = (s, dir) => {
    import s.implicits._
    val perUser = T.events(s, dir)
      .select($"event_type", $"user_id",
        expr("CAST(FLOOR(100 * value) AS BIGINT)").as("qv"),
        (expr("CAST(ts AS DATE)").cast("string").substr(9, 2).cast("int") % 2
          === 0).as("pre"))
      .filter($"pre")
      .groupBy($"event_type", $"user_id")
      .agg(sum($"qv").as("x"))
      .withColumn("t", ($"user_id" % 2 === 0).cast("long"))
    perUser.groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        sum($"t").as("nt"),
        sum($"t" * $"x").as("sxt"),
        sum($"t" * $"x" * $"x").as("sxxt"),
        sum((lit(1L) - $"t") * $"x").as("sxc"),
        sum((lit(1L) - $"t") * $"x" * $"x").as("sxxc"))
      .select($"event_type", $"n", $"nt",
        expr("""(CAST(sxt AS DOUBLE) / CAST(nt AS DOUBLE) - CAST(sxc AS DOUBLE) / CAST(n - nt AS DOUBLE))
               | / SQRT((((CAST(sxxt AS DOUBLE) - CAST(sxt AS DOUBLE) * CAST(sxt AS DOUBLE) / CAST(nt AS DOUBLE)) / (CAST(nt AS DOUBLE) - 1.0))
               |        + ((CAST(sxxc AS DOUBLE) - CAST(sxc AS DOUBLE) * CAST(sxc AS DOUBLE) / CAST(n - nt AS DOUBLE)) / (CAST(n - nt AS DOUBLE) - 1.0))) / 2.0)""".stripMargin)
          .as("smd"))
      .orderBy($"event_type")
  }

  val q343Sql: String =
    """WITH pu AS (
      |  SELECT event_type, user_id, SUM(qv) AS x,
      |    CAST(user_id % 2 = 0 AS BIGINT) AS t
      |  FROM (SELECT event_type, user_id, ts,
      |          CAST(FLOOR(100 * value) AS BIGINT) AS qv FROM events)
      |  WHERE CAST(substring(CAST(CAST(ts AS DATE) AS VARCHAR), 9, 2) AS INTEGER) % 2 = 0
      |  GROUP BY event_type, user_id),
      |g AS (
      |  SELECT event_type, COUNT(*) AS n, SUM(t) AS nt,
      |    SUM(t * x) AS sxt, SUM(t * x * x) AS sxxt,
      |    SUM((1 - t) * x) AS sxc, SUM((1 - t) * x * x) AS sxxc
      |  FROM pu GROUP BY event_type)
      |SELECT event_type, CAST(n AS BIGINT) AS n, CAST(nt AS BIGINT) AS nt,
      |  (CAST(sxt AS DOUBLE) / CAST(nt AS DOUBLE) - CAST(sxc AS DOUBLE) / CAST(n - nt AS DOUBLE))
      |   / SQRT((((CAST(sxxt AS DOUBLE) - CAST(sxt AS DOUBLE) * CAST(sxt AS DOUBLE) / CAST(nt AS DOUBLE)) / (CAST(nt AS DOUBLE) - 1.0))
      |          + ((CAST(sxxc AS DOUBLE) - CAST(sxc AS DOUBLE) * CAST(sxc AS DOUBLE) / CAST(n - nt AS DOUBLE)) / (CAST(n - nt AS DOUBLE) - 1.0))) / 2.0)
      |    AS smd
      |FROM g ORDER BY event_type""".stripMargin

  /** q357 — MANN–KENDALL trend test per event type (Mann 1945 /
    * Kendall's tau-b machinery — the NONPARAMETRIC "is this series
    * trending" answer next to q275's Theil–Sen slope ESTIMATE; the
    * standard pairing in hydrology/monitoring: Theil–Sen says how
    * steep, Mann–Kendall says whether to believe it): daily cent-sums
    * per type, S = Σ_{i<j} sign(v_j − v_i) exact integer from the
    * days-bounded pair join, tie-corrected variance
    * (n(n−1)(2n+5) − Σ t(t−1)(2t+5))/18, z with the ±1 continuity
    * correction — everything integer until the ONE double chain
    * (÷18, sqrt, divide, micro-quantize), spelled identically in
    * both engines.
    *
    * Scale shape: corpus collapses in ONE (type, day) partial agg;
    * the quadratic pair join and the tie census run on the
    * calendar-bounded daily frame (the q275/q109 in-group-quadratic
    * discipline).
    */
  val q357MannKendall: Q = (s, dir) => {
    import s.implicits._
    // feeds pairs, ties, and n
    val daily = PlanBridge.checkpointResetStats(T.events(s, dir)
      .select($"event_type", expr("CAST(ts AS DATE)").as("day"),
        expr("CAST(FLOOR(100 * value) AS BIGINT)").as("qv"))
      .groupBy($"event_type", $"day").agg(sum($"qv").as("v")))
    val pairs = daily.as("a").join(daily.as("b"),
        $"a.event_type" === $"b.event_type" && $"a.day" < $"b.day")
      .groupBy($"a.event_type".as("event_type"))
      .agg(sum(signum($"b.v" - $"a.v").cast("long")).as("s_stat"))
    val nDays = daily.groupBy($"event_type")
      .agg(count(lit(1)).as("n_days"))
    val ties = daily.groupBy($"event_type", $"v")
      .agg(count(lit(1)).as("t"))
      .groupBy($"event_type")
      .agg(sum($"t" * ($"t" - 1L) * (lit(2L) * $"t" + 5L)).as("tie_corr"))
    nDays.join(pairs, "event_type").join(ties, "event_type")
      .select($"event_type", $"n_days", $"s_stat",
        expr("""CAST(FLOOR(1000000.0 * (
               |  CASE WHEN s_stat > 0 THEN CAST(s_stat - 1 AS DOUBLE)
               |       WHEN s_stat < 0 THEN CAST(s_stat + 1 AS DOUBLE)
               |       ELSE 0.0 END
               |  / SQRT(CAST(n_days * (n_days - 1) * (2 * n_days + 5)
               |              - tie_corr AS DOUBLE) / 18.0)
               |)) AS BIGINT)""".stripMargin).as("z_micro"))
      .orderBy($"event_type")
  }

  val q357Sql: String =
    """WITH daily AS (
      |  SELECT event_type, CAST(ts AS DATE) AS day,
      |    CAST(SUM(CAST(FLOOR(100 * value) AS BIGINT)) AS BIGINT) AS v
      |  FROM events GROUP BY event_type, CAST(ts AS DATE)),
      |p AS (
      |  SELECT a.event_type,
      |    CAST(SUM(CASE WHEN b.v > a.v THEN 1
      |                  WHEN b.v < a.v THEN -1 ELSE 0 END) AS BIGINT)
      |      AS s_stat
      |  FROM daily a JOIN daily b
      |    ON a.event_type = b.event_type AND a.day < b.day
      |  GROUP BY a.event_type),
      |nd AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days
      |       FROM daily GROUP BY event_type),
      |tc AS (
      |  SELECT event_type,
      |    CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_corr
      |  FROM (SELECT event_type, v, CAST(COUNT(*) AS BIGINT) AS t
      |        FROM daily GROUP BY event_type, v)
      |  GROUP BY event_type)
      |SELECT nd.event_type, n_days, s_stat,
      |  CAST(FLOOR(1000000.0 * (
      |    CASE WHEN s_stat > 0 THEN CAST(s_stat - 1 AS DOUBLE)
      |         WHEN s_stat < 0 THEN CAST(s_stat + 1 AS DOUBLE)
      |         ELSE 0.0 END
      |    / SQRT(CAST(n_days * (n_days - 1) * (2 * n_days + 5)
      |                - tie_corr AS DOUBLE) / 18.0)
      |  )) AS BIGINT) AS z_micro
      |FROM nd JOIN p USING (event_type) JOIN tc USING (event_type)
      |ORDER BY event_type""".stripMargin

  /** q386 — KENDALL τ-b between the click and purchase DAILY volume
    * series (Kendall 1938; the rank-concordance answer to "do the two
    * streams move together day over day?" — Pearson on heavy-tailed
    * daily sums chases whales, Spearman (q289) ranks one variable,
    * τ-b reads PAIRWISE co-movement and its tie correction keeps the
    * [−1,1] range honest when volumes repeat): over day pairs i<j,
    * C/D = concordant/discordant counts, tie censuses per side, and
    *   τ_b = (C−D)/√((n₀−n₁)(n₀−n₂))
    * — every count an exact BIGINT from the days-bounded pair join
    * (q275/q357 discipline), one spelled double finish.
    */
  val q386KendallTau: Q = (s, dir) => {
    import s.implicits._
    // both pair-join sides and the tie census
    val daily = PlanBridge.checkpointResetStats(T.events(s, dir)
      .filter($"event_type".isin("click", "purchase"))
      .groupBy(date_trunc("day", $"ts").as("day"))
      .agg(
        sum(when($"event_type" === "click",
          expr("CAST(FLOOR(100 * value) AS BIGINT)")).otherwise(0L)).as("a"),
        sum(when($"event_type" === "purchase",
          expr("CAST(FLOOR(100 * value) AS BIGINT)")).otherwise(0L)).as("b")))
    val l = daily.select($"day".as("di"), $"a".as("ai"), $"b".as("bi"))
    val r = daily.select($"day".as("dj"), $"a".as("aj"), $"b".as("bj"))
    val pairs = l.join(r, $"di" < $"dj")
      .agg(
        sum(when(($"ai" < $"aj" && $"bi" < $"bj") ||
          ($"ai" > $"aj" && $"bi" > $"bj"), 1L).otherwise(0L)).as("n_c"),
        sum(when(($"ai" < $"aj" && $"bi" > $"bj") ||
          ($"ai" > $"aj" && $"bi" < $"bj"), 1L).otherwise(0L)).as("n_d"),
        sum(when($"ai" === $"aj", 1L).otherwise(0L)).as("t_a"),
        sum(when($"bi" === $"bj", 1L).otherwise(0L)).as("t_b"),
        count(lit(1)).as("n0"))
    val n = daily.agg(count(lit(1)).as("n_days"))
    pairs.crossJoin(broadcast(n))
      .select($"n_days", $"n_c", $"n_d",
        expr("""CAST(FLOOR(1000000.0 *
               |  (CAST(n_c - n_d AS DOUBLE)
               |   / SQRT(CAST(n0 - t_a AS DOUBLE)
               |          * CAST(n0 - t_b AS DOUBLE)))) AS BIGINT)"""
          .stripMargin).as("tau_micro"))
  }

  val q386Sql: String =
    """WITH daily AS (
      |  SELECT date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
      |    CAST(SUM(CASE WHEN event_type = 'click'
      |      THEN CAST(FLOOR(100 * value) AS BIGINT) ELSE 0 END)
      |      AS BIGINT) AS a,
      |    CAST(SUM(CASE WHEN event_type = 'purchase'
      |      THEN CAST(FLOOR(100 * value) AS BIGINT) ELSE 0 END)
      |      AS BIGINT) AS b
      |  FROM events WHERE event_type IN ('click', 'purchase')
      |  GROUP BY 1),
      |p AS (
      |  SELECT
      |    CAST(SUM(CASE WHEN (l.a < r.a AND l.b < r.b)
      |                    OR (l.a > r.a AND l.b > r.b)
      |             THEN 1 ELSE 0 END) AS BIGINT) AS n_c,
      |    CAST(SUM(CASE WHEN (l.a < r.a AND l.b > r.b)
      |                    OR (l.a > r.a AND l.b < r.b)
      |             THEN 1 ELSE 0 END) AS BIGINT) AS n_d,
      |    CAST(SUM(CASE WHEN l.a = r.a THEN 1 ELSE 0 END) AS BIGINT) AS t_a,
      |    CAST(SUM(CASE WHEN l.b = r.b THEN 1 ELSE 0 END) AS BIGINT) AS t_b,
      |    CAST(COUNT(*) AS BIGINT) AS n0
      |  FROM daily l JOIN daily r ON l.day < r.day)
      |SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM daily) AS n_days,
      |  n_c, n_d,
      |  CAST(FLOOR(1000000.0 *
      |    (CAST(n_c - n_d AS DOUBLE)
      |     / SQRT(CAST(n0 - t_a AS DOUBLE)
      |            * CAST(n0 - t_b AS DOUBLE)))) AS BIGINT) AS tau_micro
      |FROM p""".stripMargin

  /** q388 Monte-Carlo draws. */
  val PermReps = 200

  /** q388 — RANDOMIZATION TEST for the A/B spend difference (Fisher
    * 1935 exact-test logic, Monte-Carlo form — the inference tool that
    * needs NO distributional assumption and, unlike q229's Welch t,
    * no CDF: its p-value is a counting ratio, which is why it is the
    * one test this engine can make EXACTLY reproducible cross-engine):
    * units are purchasing users with their exact cent spend, the
    * observed statistic is the cross-multiplied mean difference
    * T = n_B·S_A − n_A·S_B (exact BIGINT), and each of [[PermReps]]
    * draws reassigns groups by an md5 bit ("perm:r:user") — valid
    * under the sharp null, deterministic everywhere. p̂ = (1 +
    * #{|T_r| ≥ |T_obs|})/(R+1) (the +1 guards the Monte-Carlo p
    * against zero, Davison–Hinkley convention), milli-quantized.
    *
    * Scale shape: units collapse in one partial agg; the R-fold
    * replication is a units×R narrow explode feeding ONE keyed
    * partial agg (R constant) — no shuffle grows with R beyond the
    * R-row result; the md5 reassignment is a per-row expression.
    */
  val q388PermTest: Q = (s, dir) => {
    import s.implicits._
    // observed stat + all R replicates
    val units = PlanBridge.checkpointResetStats(T.events(s, dir)
      .filter($"event_type" === "purchase")
      .groupBy($"user_id")
      .agg(sum(expr("CAST(FLOOR(100 * value) AS BIGINT)")).as("x")))
    val obs = units
      .agg(
        sum(when($"user_id" % 2 === 0, 1L).otherwise(0L)).as("n_a"),
        sum(when($"user_id" % 2 === 0, $"x").otherwise(0L)).as("s_a"),
        sum(when($"user_id" % 2 =!= 0, 1L).otherwise(0L)).as("n_b"),
        sum(when($"user_id" % 2 =!= 0, $"x").otherwise(0L)).as("s_b"),
        count(lit(1)).as("n_units"))
      .select($"n_units", ($"n_b" * $"s_a" - $"n_a" * $"s_b").as("t_obs"))
    val perms = units
      .withColumn("r", explode(expr(s"sequence(0, ${PermReps - 1})")))
      .withColumn("g", expr(
        """CAST(conv(substring(md5(concat('perm:', CAST(r AS STRING), ':',
          |  CAST(user_id AS STRING))), 1, 8), 16, 10) AS BIGINT) % 2"""
          .stripMargin))
      .groupBy($"r")
      .agg(
        sum(when($"g" === 0, 1L).otherwise(0L)).as("n_a"),
        sum(when($"g" === 0, $"x").otherwise(0L)).as("s_a"),
        sum(when($"g" =!= 0, 1L).otherwise(0L)).as("n_b"),
        sum(when($"g" =!= 0, $"x").otherwise(0L)).as("s_b"))
      .select($"r", ($"n_b" * $"s_a" - $"n_a" * $"s_b").as("t_r"))
    perms.crossJoin(broadcast(obs))
      .agg(first($"n_units").as("n_units"), first($"t_obs").as("t_obs"),
        sum(when(abs($"t_r") >= abs($"t_obs"), 1L).otherwise(0L))
          .as("n_extreme"))
      .select($"n_units", $"t_obs", $"n_extreme",
        expr(s"CAST(FLOOR(1000.0 * (1 + n_extreme) / ${PermReps + 1}.0) " +
          "AS BIGINT)").as("p_milli"))
  }

  val q388Sql: String =
    s"""WITH units AS (
       |  SELECT user_id,
       |    CAST(SUM(CAST(FLOOR(100 * value) AS BIGINT)) AS BIGINT) AS x
       |  FROM events WHERE event_type = 'purchase' GROUP BY user_id),
       |obs AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_units,
       |    CAST(SUM(CASE WHEN user_id % 2 <> 0 THEN 1 ELSE 0 END) AS BIGINT)
       |      * CAST(SUM(CASE WHEN user_id % 2 = 0 THEN x ELSE 0 END) AS BIGINT)
       |    - CAST(SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
       |      * CAST(SUM(CASE WHEN user_id % 2 <> 0 THEN x ELSE 0 END) AS BIGINT)
       |      AS t_obs
       |  FROM units),
       |perms AS (
       |  SELECT r,
       |    CAST(SUM(CASE WHEN g <> 0 THEN 1 ELSE 0 END) AS BIGINT)
       |      * CAST(SUM(CASE WHEN g = 0 THEN x ELSE 0 END) AS BIGINT)
       |    - CAST(SUM(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS BIGINT)
       |      * CAST(SUM(CASE WHEN g <> 0 THEN x ELSE 0 END) AS BIGINT)
       |      AS t_r
       |  FROM (
       |    SELECT u.user_id, u.x, t.r,
       |      CAST(('0x' || substring(md5('perm:' || CAST(t.r AS VARCHAR)
       |        || ':' || CAST(u.user_id AS VARCHAR)), 1, 8)) AS BIGINT) % 2
       |        AS g
       |    FROM units u, UNNEST(range(0, $PermReps)) t(r))
       |  GROUP BY r)
       |SELECT n_units, t_obs,
       |  CAST(SUM(CASE WHEN abs(t_r) >= abs(t_obs) THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_extreme,
       |  CAST(FLOOR(1000.0 * (1 + SUM(CASE WHEN abs(t_r) >= abs(t_obs)
       |    THEN 1 ELSE 0 END)) / ${PermReps + 1}.0) AS BIGINT) AS p_milli
       |FROM perms CROSS JOIN obs
       |GROUP BY n_units, t_obs""".stripMargin

  /** q393 — WASSERSTEIN-1 (earth mover's) drift per event type vs the
    * pooled value distribution — completing the drift-metric family
    * with the one member that respects the VALUE AXIS: PSI (q314) and
    * KL/JSD (q360/q373) treat bins as unordered symbols, so mass
    * moving one bin over reads the same as mass teleporting across
    * the range; EMD₁ = ∫|F_p − F_q|dx charges by the DISTANCE moved —
    * it is the "how far did the distribution shift, in value units"
    * number. Discrete form over the q314 bin grid: Σ_k |cum_k|·Δb_k ·
    * width, with cum kept in the cross-multiplied integer space
    * N_c·n_t − N_t·n_c (exact BIGINT; gaps between occupied bins
    * weight by their bin distance), one double finish micro-quantized
    * in value units.
    *
    * Scale shape: ONE (type, bin) partial-agg pass; pooled marginal
    * reuses the frame; the cum window runs per type on the
    * bins-bounded support.
    */
  val q393EmdDrift: Q = (s, dir) => {
    import s.implicits._
    // feeds pooled marginal, totals, and cells
    val binned = PlanBridge.checkpointResetStats(T.events(s, dir)
      .select($"event_type",
        expr(s"CAST(FLOOR(100 * value) AS BIGINT) div $PsiBinCents")
          .as("bin"))
      .groupBy($"event_type", $"bin").agg(count(lit(1)).as("n")))
    val pooled = binned.groupBy($"bin").agg(sum($"n").as("n_c"))
    val totT = binned.groupBy($"event_type").agg(sum($"n").as("n_t"))
    val totC = pooled.agg(sum($"n_c").as("n_cc"))
    val types = binned.select($"event_type").distinct()
    val cells = types.crossJoin(pooled)
      .join(binned, Seq("event_type", "bin"), "left")
      .na.fill(0L, Seq("n"))
      .join(broadcast(totT), "event_type")
      .crossJoin(broadcast(totC))
    val w = Window.partitionBy($"event_type").orderBy($"bin")
    cells
      .withColumn("cum", sum($"n_cc" * $"n" - $"n_t" * $"n_c").over(w))
      .withColumn("delta", lead($"bin", 1).over(w) - $"bin")
      .filter($"delta".isNotNull)
      .groupBy($"event_type")
      .agg((count(lit(1)) + 1L).as("n_bins"),
        first($"n_t").as("n_t"), first($"n_cc").as("n_cc"),
        sum(abs($"cum") * $"delta").as("num"))
      .select($"event_type", $"n_bins",
        expr(s"""CAST(FLOOR(1000000.0 * ${PsiBinCents / 100}.0
                |  * CAST(num AS DOUBLE)
                |  / (CAST(n_t AS DOUBLE) * CAST(n_cc AS DOUBLE)))
                |  AS BIGINT)""".stripMargin).as("emd_micro"))
      .orderBy($"event_type")
  }

  val q393Sql: String =
    s"""WITH binned AS (
       |  SELECT event_type,
       |    CAST(FLOOR(100 * value) AS BIGINT) // $PsiBinCents AS bin,
       |    CAST(COUNT(*) AS BIGINT) AS n
       |  FROM events GROUP BY 1, 2),
       |pooled AS (SELECT bin, CAST(SUM(n) AS BIGINT) AS n_c
       |           FROM binned GROUP BY bin),
       |tot AS (SELECT event_type, CAST(SUM(n) AS BIGINT) AS n_t
       |        FROM binned GROUP BY event_type),
       |totc AS (SELECT CAST(SUM(n_c) AS BIGINT) AS n_cc FROM pooled),
       |cells AS (
       |  SELECT t.event_type, p.bin, p.n_c, COALESCE(b.n, 0) AS n,
       |    tot.n_t, totc.n_cc
       |  FROM (SELECT DISTINCT event_type FROM binned) t
       |  CROSS JOIN pooled p
       |  LEFT JOIN binned b ON b.event_type = t.event_type
       |    AND b.bin = p.bin
       |  JOIN tot ON tot.event_type = t.event_type
       |  CROSS JOIN totc),
       |cum AS (
       |  SELECT event_type, bin, n_t, n_cc,
       |    CAST(SUM(n_cc * n - n_t * n_c) OVER (PARTITION BY event_type
       |      ORDER BY bin) AS BIGINT) AS cum,
       |    LEAD(bin) OVER (PARTITION BY event_type ORDER BY bin) - bin
       |      AS delta
       |  FROM cells)
       |SELECT event_type, CAST(COUNT(*) + 1 AS BIGINT) AS n_bins,
       |  CAST(FLOOR(1000000.0 * ${PsiBinCents / 100}.0
       |    * CAST(SUM(abs(cum) * delta) AS DOUBLE)
       |    / (CAST(ANY_VALUE(n_t) AS DOUBLE)
       |       * CAST(ANY_VALUE(n_cc) AS DOUBLE))) AS BIGINT) AS emd_micro
       |FROM cum WHERE delta IS NOT NULL
       |GROUP BY event_type
       |ORDER BY event_type""".stripMargin

  /** q396 reps (smaller than q388's: 5 hypotheses × units×R rows). */
  val BhReps = 100

  /** q396 — BENJAMINI–HOCHBERG FDR control over per-type A/B
    * randomization tests (BH 1995 — the multiple-testing step every
    * metrics platform needs: run 5 A/B readouts and "one is p<0.05"
    * is expected NOISE; BH bounds the false-discovery rate): each
    * event type gets its own q388-style randomization p-value (exact
    * counting rational (1+ne)/(R+1) — no CDF), then the step-up rule
    * rejects ranks ≤ max{i: p_(i) ≤ α·i/m}, evaluated ENTIRELY in
    * integers by cross-multiplication: (1+ne_i)·m·10 ≤ (R+1)·i at
    * α = 1/10. Ties in p rank by type name — deterministic, and BH's
    * step-up makes tie order irrelevant to the rejection SET.
    *
    * Scale shape: one (type, user) partial agg; ×R narrow explode →
    * ONE (type, r) keyed agg; the BH step runs on the m-row frame.
    */
  val q396BhFdr: Q = (s, dir) => {
    import s.implicits._
    // observed stats + all R replicates
    val units = PlanBridge.checkpointResetStats(T.events(s, dir)
      .groupBy($"event_type", $"user_id")
      .agg(sum(expr("CAST(FLOOR(100 * value) AS BIGINT)")).as("x")))
    val obs = units
      .groupBy($"event_type")
      .agg(
        sum(when($"user_id" % 2 === 0, 1L).otherwise(0L)).as("n_a"),
        sum(when($"user_id" % 2 === 0, $"x").otherwise(0L)).as("s_a"),
        sum(when($"user_id" % 2 =!= 0, 1L).otherwise(0L)).as("n_b"),
        sum(when($"user_id" % 2 =!= 0, $"x").otherwise(0L)).as("s_b"))
      .select($"event_type", ($"n_b" * $"s_a" - $"n_a" * $"s_b").as("t_obs"))
    val perms = units
      .withColumn("r", explode(expr(s"sequence(0, ${BhReps - 1})")))
      .withColumn("g", expr(
        """CAST(conv(substring(md5(concat('permt:', event_type, ':',
          |  CAST(r AS STRING), ':', CAST(user_id AS STRING))), 1, 8),
          |  16, 10) AS BIGINT) % 2""".stripMargin))
      .groupBy($"event_type", $"r")
      .agg(
        sum(when($"g" === 0, 1L).otherwise(0L)).as("n_a"),
        sum(when($"g" === 0, $"x").otherwise(0L)).as("s_a"),
        sum(when($"g" =!= 0, 1L).otherwise(0L)).as("n_b"),
        sum(when($"g" =!= 0, $"x").otherwise(0L)).as("s_b"))
      .select($"event_type", $"r",
        ($"n_b" * $"s_a" - $"n_a" * $"s_b").as("t_r"))
    val ne = perms.join(obs, "event_type")
      .groupBy($"event_type")
      .agg(sum(when(abs($"t_r") >= abs($"t_obs"), 1L).otherwise(0L))
        .as("n_extreme"))
    val wRank = Window.orderBy($"n_extreme", $"event_type")
    val wAll = Window.partitionBy()
    ne
      .withColumn("m", count(lit(1)).over(wAll))
      .withColumn("rank", row_number().over(wRank).cast("long"))
      .withColumn("cond",
        (lit(1L) + $"n_extreme") * $"m" * 10L <=
          lit((BhReps + 1).toLong) * $"rank")
      .withColumn("max_rej",
        max(when($"cond", $"rank")).over(wAll))
      .select($"event_type", $"n_extreme", $"rank",
        coalesce($"rank" <= $"max_rej", lit(false)).as("rejected"))
      .orderBy($"event_type")
  }

  val q396Sql: String =
    s"""WITH units AS (
       |  SELECT event_type, user_id,
       |    CAST(SUM(CAST(FLOOR(100 * value) AS BIGINT)) AS BIGINT) AS x
       |  FROM events GROUP BY event_type, user_id),
       |obs AS (
       |  SELECT event_type,
       |    CAST(SUM(CASE WHEN user_id % 2 <> 0 THEN 1 ELSE 0 END) AS BIGINT)
       |      * CAST(SUM(CASE WHEN user_id % 2 = 0 THEN x ELSE 0 END) AS BIGINT)
       |    - CAST(SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
       |      * CAST(SUM(CASE WHEN user_id % 2 <> 0 THEN x ELSE 0 END) AS BIGINT)
       |      AS t_obs
       |  FROM units GROUP BY event_type),
       |perms AS (
       |  SELECT event_type, r,
       |    CAST(SUM(CASE WHEN g <> 0 THEN 1 ELSE 0 END) AS BIGINT)
       |      * CAST(SUM(CASE WHEN g = 0 THEN x ELSE 0 END) AS BIGINT)
       |    - CAST(SUM(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS BIGINT)
       |      * CAST(SUM(CASE WHEN g <> 0 THEN x ELSE 0 END) AS BIGINT)
       |      AS t_r
       |  FROM (
       |    SELECT u.event_type, u.user_id, u.x, t.r,
       |      CAST(('0x' || substring(md5('permt:' || u.event_type || ':'
       |        || CAST(t.r AS VARCHAR) || ':'
       |        || CAST(u.user_id AS VARCHAR)), 1, 8)) AS BIGINT) % 2 AS g
       |    FROM units u, UNNEST(range(0, $BhReps)) t(r))
       |  GROUP BY event_type, r),
       |ne AS (
       |  SELECT p.event_type,
       |    CAST(SUM(CASE WHEN abs(t_r) >= abs(t_obs) THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_extreme
       |  FROM perms p JOIN obs USING (event_type)
       |  GROUP BY p.event_type),
       |ranked AS (
       |  SELECT event_type, n_extreme,
       |    CAST(COUNT(*) OVER () AS BIGINT) AS m,
       |    CAST(ROW_NUMBER() OVER (ORDER BY n_extreme, event_type)
       |      AS BIGINT) AS rank
       |  FROM ne),
       |cond AS (
       |  SELECT *, (1 + n_extreme) * m * 10 <= ${BhReps + 1} * rank AS c
       |  FROM ranked)
       |SELECT event_type, n_extreme, rank,
       |  COALESCE(rank <= MAX(CASE WHEN c THEN rank END) OVER (), FALSE)
       |    AS rejected
       |FROM cond
       |ORDER BY event_type""".stripMargin

  /** q397 miscoverage α = 1/10 and the user-bucket split. */
  val ConformalAlphaInv = 10L

  /** q397 — SPLIT-CONFORMAL prediction interval per event type
    * (Papadopoulos 2002 / Vovk; Lei et al. JASA'18 — the
    * distribution-FREE uncertainty wrapper: whatever the predictor,
    * the interval covers with probability ≥ 1−α in finite samples,
    * assuming only exchangeability — the modern-ML uncertainty tool
    * that is pure ORDER STATISTICS, hence exactly this engine's
    * game): predictor = train-split mean (as the exact rational
    * s/n), nonconformity = |residual| kept in CROSS-MULTIPLIED
    * integer units r = |n_tr·x − s_tr|, q̂ = the ⌈(n_cal+1)(1−α)⌉-th
    * smallest calibration residual by exact dual-rank selection
    * (q356 discipline), and the TEST-split coverage of
    * [μ̂ ± q̂/n_tr] is an exact integer count ratio — the guarantee
    * emitted as data, not asserted.
    *
    * Scale shape: one conditional partial agg for the train moments;
    * rank selection is one per-type window on the cal split; coverage
    * one conditional count — no sort of anything but the cal frame.
    */
  val q397Conformal: Q = (s, dir) => {
    import s.implicits._
    // train moments, cal ranks, test coverage
    val ev = PlanBridge.checkpointResetStats(T.events(s, dir)
      .select($"event_type", $"event_id", $"user_id" % 4L as "b",
        expr("CAST(FLOOR(100 * value) AS BIGINT)").as("xc")))
    val tr = ev.filter($"b" <= 1L).groupBy($"event_type")
      .agg(count(lit(1)).as("n_tr"), sum($"xc").as("s_tr"))
    val cal = ev.filter($"b" === 2L).join(broadcast(tr), "event_type")
      .withColumn("r", abs($"n_tr" * $"xc" - $"s_tr"))
    val nCal = cal.groupBy($"event_type").agg(count(lit(1)).as("n_cal"))
    val wr = Window.partitionBy($"event_type").orderBy($"r", $"event_id")
    val qhat = cal
      .withColumn("rn", row_number().over(wr).cast("long"))
      .join(broadcast(nCal), "event_type")
      .filter($"rn" ===
        expr(s"(9 * (n_cal + 1) + 9) div $ConformalAlphaInv"))
      .select($"event_type", $"n_cal", $"r".as("qhat_scaled"))
    val test = ev.filter($"b" === 3L).join(broadcast(tr), "event_type")
      .join(broadcast(qhat), "event_type")
      .groupBy($"event_type")
      .agg(first($"n_cal").as("n_cal"), first($"qhat_scaled").as("qhat_scaled"),
        count(lit(1)).as("n_test"),
        sum(when(abs($"n_tr" * $"xc" - $"s_tr") <= $"qhat_scaled", 1L)
          .otherwise(0L)).as("n_covered"))
    test.select($"event_type", $"n_cal", $"n_test", $"qhat_scaled",
      expr("(n_covered * 1000) div n_test").as("coverage_milli"))
      .orderBy($"event_type")
  }

  val q397Sql: String =
    s"""WITH ev AS (
       |  SELECT event_type, event_id, user_id % 4 AS b,
       |    CAST(FLOOR(100 * value) AS BIGINT) AS xc
       |  FROM events),
       |tr AS (
       |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_tr,
       |    CAST(SUM(xc) AS BIGINT) AS s_tr
       |  FROM ev WHERE b <= 1 GROUP BY event_type),
       |cal AS (
       |  SELECT ev.event_type, ev.event_id,
       |    abs(n_tr * xc - s_tr) AS r
       |  FROM ev JOIN tr USING (event_type) WHERE b = 2),
       |ncal AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_cal
       |         FROM cal GROUP BY event_type),
       |qhat AS (
       |  SELECT c.event_type, n_cal, r AS qhat_scaled
       |  FROM (SELECT event_type, r, ROW_NUMBER() OVER (
       |          PARTITION BY event_type ORDER BY r, event_id) AS rn
       |        FROM cal) c
       |  JOIN ncal ON ncal.event_type = c.event_type
       |  WHERE rn = (9 * (n_cal + 1) + 9) // $ConformalAlphaInv)
       |SELECT ev.event_type, ANY_VALUE(n_cal) AS n_cal,
       |  CAST(COUNT(*) AS BIGINT) AS n_test,
       |  ANY_VALUE(qhat_scaled) AS qhat_scaled,
       |  CAST(SUM(CASE WHEN abs(n_tr * xc - s_tr) <= qhat_scaled
       |    THEN 1 ELSE 0 END) * 1000 // COUNT(*) AS BIGINT)
       |    AS coverage_milli
       |FROM ev JOIN tr USING (event_type) JOIN qhat USING (event_type)
       |WHERE b = 3
       |GROUP BY ev.event_type
       |ORDER BY ev.event_type""".stripMargin

  /** q401 — DIFFERENCE-IN-DIFFERENCES estimator (Card–Krueger 1994
    * design; the quasi-experimental workhorse when treatment wasn't
    * randomized over TIME: the control group's pre→post drift is the
    * counterfactual, and DiD = (T_post−T_pre) − (C_post−C_pre)
    * cancels both group-level and period-level confounds under
    * parallel trends): groups are the q229 user_id-parity split,
    * periods split at the observation window's midpoint epoch-day
    * (integer), and all four cell means stay exact (n, Σcents)
    * sufficient statistics until ONE spelled double chain emits
    * did_micro in cents. The four cells ride along as data.
    *
    * Scale shape: ONE conditional-aggregation pass over events —
    * group and period are per-row integer expressions, the agg
    * collapses to a single row.
    */
  val q401DiffInDiff: Q = (s, dir) => {
    import s.implicits._
    val ev = T.events(s, dir)
      .select($"user_id",
        expr("datediff(CAST(ts AS DATE), DATE '1970-01-01')").as("d"),
        expr("CAST(FLOOR(100 * value) AS BIGINT)").as("xc"))
    val mid = ev.agg(((min($"d") + max($"d") + 1L) / 2L).cast("long")
      .as("mid"))
    ev.crossJoin(broadcast(mid))
      .select(($"user_id" % 2 === 0).as("treated"), ($"d" >= $"mid").as("post"),
        $"xc")
      .agg(
        sum(when($"treated" && !$"post", 1L).otherwise(0L)).as("n_t_pre"),
        sum(when($"treated" && !$"post", $"xc").otherwise(0L)).as("s_t_pre"),
        sum(when($"treated" && $"post", 1L).otherwise(0L)).as("n_t_post"),
        sum(when($"treated" && $"post", $"xc").otherwise(0L)).as("s_t_post"),
        sum(when(!$"treated" && !$"post", 1L).otherwise(0L)).as("n_c_pre"),
        sum(when(!$"treated" && !$"post", $"xc").otherwise(0L)).as("s_c_pre"),
        sum(when(!$"treated" && $"post", 1L).otherwise(0L)).as("n_c_post"),
        sum(when(!$"treated" && $"post", $"xc").otherwise(0L)).as("s_c_post"))
      .select($"n_t_pre", $"n_t_post", $"n_c_pre", $"n_c_post",
        expr("""CAST(FLOOR(1000000.0 * (
               |  (CAST(s_t_post AS DOUBLE) / CAST(n_t_post AS DOUBLE)
               |   - CAST(s_t_pre AS DOUBLE) / CAST(n_t_pre AS DOUBLE))
               |  - (CAST(s_c_post AS DOUBLE) / CAST(n_c_post AS DOUBLE)
               |     - CAST(s_c_pre AS DOUBLE) / CAST(n_c_pre AS DOUBLE))
               |)) AS BIGINT)""".stripMargin).as("did_micro_cents"))
  }

  val q401Sql: String =
    """WITH ev AS (
      |  SELECT user_id,
      |    datediff('day', DATE '1970-01-01', CAST(CAST(ts AS TIMESTAMP)
      |      AS DATE)) AS d,
      |    CAST(FLOOR(100 * value) AS BIGINT) AS xc
      |  FROM events),
      |m AS (SELECT (MIN(d) + MAX(d) + 1) // 2 AS mid FROM ev),
      |c AS (
      |  SELECT user_id % 2 = 0 AS treated, d >= mid AS post, xc
      |  FROM ev CROSS JOIN m),
      |agg AS (
      |  SELECT
      |    CAST(SUM(CASE WHEN treated AND NOT post THEN 1 ELSE 0 END) AS BIGINT) AS n_t_pre,
      |    CAST(SUM(CASE WHEN treated AND NOT post THEN xc ELSE 0 END) AS BIGINT) AS s_t_pre,
      |    CAST(SUM(CASE WHEN treated AND post THEN 1 ELSE 0 END) AS BIGINT) AS n_t_post,
      |    CAST(SUM(CASE WHEN treated AND post THEN xc ELSE 0 END) AS BIGINT) AS s_t_post,
      |    CAST(SUM(CASE WHEN NOT treated AND NOT post THEN 1 ELSE 0 END) AS BIGINT) AS n_c_pre,
      |    CAST(SUM(CASE WHEN NOT treated AND NOT post THEN xc ELSE 0 END) AS BIGINT) AS s_c_pre,
      |    CAST(SUM(CASE WHEN NOT treated AND post THEN 1 ELSE 0 END) AS BIGINT) AS n_c_post,
      |    CAST(SUM(CASE WHEN NOT treated AND post THEN xc ELSE 0 END) AS BIGINT) AS s_c_post
      |  FROM c)
      |SELECT n_t_pre, n_t_post, n_c_pre, n_c_post,
      |  CAST(FLOOR(1000000.0 * (
      |    (CAST(s_t_post AS DOUBLE) / CAST(n_t_post AS DOUBLE)
      |     - CAST(s_t_pre AS DOUBLE) / CAST(n_t_pre AS DOUBLE))
      |    - (CAST(s_c_post AS DOUBLE) / CAST(n_c_post AS DOUBLE)
      |       - CAST(s_c_pre AS DOUBLE) / CAST(n_c_pre AS DOUBLE))
      |  )) AS BIGINT) AS did_micro_cents
      |FROM agg""".stripMargin

  /** q404 — RATIO-METRIC A/B readout with the DELTA-METHOD standard
    * error (Deng et al. KDD'17/'18 — the experiment-analysis trap this
    * row exists to not fall into: "revenue per event" is a ratio of
    * SUMS whose denominator is random too; treating it as a plain
    * mean understates variance because user-level x and y are
    * correlated): per variant R = Σx/Σy over user-level (x = purchase
    * cents, y = event count), Var(R) ≈ (Sxx − 2R·Sxy + R²·Syy)/(n·ȳ²)
    * from EXACT integer cross-moments (Σx, Σy, Σx², Σy², Σxy per
    * variant), z = (R_a−R_b)/√(V_a+V_b) one spelled double chain.
    *
    * Scale shape: one (user) partial agg then one conditional agg to
    * TWO variant cells — no user-level data leaves the first shuffle.
    */
  val q404RatioMetric: Q = (s, dir) => {
    import s.implicits._
    val units = T.events(s, dir)
      .groupBy($"user_id")
      .agg(sum(when($"event_type" === "purchase",
        expr("CAST(FLOOR(100 * value) AS BIGINT)")).otherwise(0L)).as("x"),
        count(lit(1)).as("y"))
    val cells = units
      .agg(
        sum(when($"user_id" % 2 === 0, 1L).otherwise(0L)).as("n_a"),
        sum(when($"user_id" % 2 === 0, $"x").otherwise(0L)).as("sx_a"),
        sum(when($"user_id" % 2 === 0, $"y").otherwise(0L)).as("sy_a"),
        sum(when($"user_id" % 2 === 0, $"x" * $"x").otherwise(0L)).as("sxx_a"),
        sum(when($"user_id" % 2 === 0, $"y" * $"y").otherwise(0L)).as("syy_a"),
        sum(when($"user_id" % 2 === 0, $"x" * $"y").otherwise(0L)).as("sxy_a"),
        sum(when($"user_id" % 2 =!= 0, 1L).otherwise(0L)).as("n_b"),
        sum(when($"user_id" % 2 =!= 0, $"x").otherwise(0L)).as("sx_b"),
        sum(when($"user_id" % 2 =!= 0, $"y").otherwise(0L)).as("sy_b"),
        sum(when($"user_id" % 2 =!= 0, $"x" * $"x").otherwise(0L)).as("sxx_b"),
        sum(when($"user_id" % 2 =!= 0, $"y" * $"y").otherwise(0L)).as("syy_b"),
        sum(when($"user_id" % 2 =!= 0, $"x" * $"y").otherwise(0L)).as("sxy_b"))
    def ratioVar(p: String): String =
      s"""((CAST(sxx_$p AS DOUBLE) - CAST(sx_$p AS DOUBLE) * CAST(sx_$p AS DOUBLE) / CAST(n_$p AS DOUBLE))
         | - 2.0 * (CAST(sx_$p AS DOUBLE) / CAST(sy_$p AS DOUBLE))
         |   * (CAST(sxy_$p AS DOUBLE) - CAST(sx_$p AS DOUBLE) * CAST(sy_$p AS DOUBLE) / CAST(n_$p AS DOUBLE))
         | + (CAST(sx_$p AS DOUBLE) / CAST(sy_$p AS DOUBLE)) * (CAST(sx_$p AS DOUBLE) / CAST(sy_$p AS DOUBLE))
         |   * (CAST(syy_$p AS DOUBLE) - CAST(sy_$p AS DOUBLE) * CAST(sy_$p AS DOUBLE) / CAST(n_$p AS DOUBLE)))
         | / ((CAST(n_$p AS DOUBLE) - 1.0) * CAST(n_$p AS DOUBLE)
         |    * (CAST(sy_$p AS DOUBLE) / CAST(n_$p AS DOUBLE))
         |    * (CAST(sy_$p AS DOUBLE) / CAST(n_$p AS DOUBLE)))""".stripMargin
    cells.select($"n_a", $"n_b",
      expr("CAST(FLOOR(1000000.0 * CAST(sx_a AS DOUBLE) / CAST(sy_a AS DOUBLE)) AS BIGINT)").as("r_a_micro"),
      expr("CAST(FLOOR(1000000.0 * CAST(sx_b AS DOUBLE) / CAST(sy_b AS DOUBLE)) AS BIGINT)").as("r_b_micro"),
      expr(s"""CAST(FLOOR(1000.0 *
              |  (CAST(sx_a AS DOUBLE) / CAST(sy_a AS DOUBLE)
              |   - CAST(sx_b AS DOUBLE) / CAST(sy_b AS DOUBLE))
              |  / SQRT(${ratioVar("a")} + ${ratioVar("b")})) AS BIGINT)"""
        .stripMargin).as("z_milli"))
  }

  val q404Sql: String = {
    def ratioVar(p: String): String =
      s"""((CAST(sxx_$p AS DOUBLE) - CAST(sx_$p AS DOUBLE) * CAST(sx_$p AS DOUBLE) / CAST(n_$p AS DOUBLE))
         | - 2.0 * (CAST(sx_$p AS DOUBLE) / CAST(sy_$p AS DOUBLE))
         |   * (CAST(sxy_$p AS DOUBLE) - CAST(sx_$p AS DOUBLE) * CAST(sy_$p AS DOUBLE) / CAST(n_$p AS DOUBLE))
         | + (CAST(sx_$p AS DOUBLE) / CAST(sy_$p AS DOUBLE)) * (CAST(sx_$p AS DOUBLE) / CAST(sy_$p AS DOUBLE))
         |   * (CAST(syy_$p AS DOUBLE) - CAST(sy_$p AS DOUBLE) * CAST(sy_$p AS DOUBLE) / CAST(n_$p AS DOUBLE)))
         | / ((CAST(n_$p AS DOUBLE) - 1.0) * CAST(n_$p AS DOUBLE)
         |    * (CAST(sy_$p AS DOUBLE) / CAST(n_$p AS DOUBLE))
         |    * (CAST(sy_$p AS DOUBLE) / CAST(n_$p AS DOUBLE)))"""
    s"""WITH units AS (
       |  SELECT user_id,
       |    CAST(SUM(CASE WHEN event_type = 'purchase'
       |      THEN CAST(FLOOR(100 * value) AS BIGINT) ELSE 0 END) AS BIGINT)
       |      AS x,
       |    CAST(COUNT(*) AS BIGINT) AS y
       |  FROM events GROUP BY user_id),
       |cells AS (
       |  SELECT
       |    CAST(SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
       |    CAST(SUM(CASE WHEN user_id % 2 = 0 THEN x ELSE 0 END) AS BIGINT) AS sx_a,
       |    CAST(SUM(CASE WHEN user_id % 2 = 0 THEN y ELSE 0 END) AS BIGINT) AS sy_a,
       |    CAST(SUM(CASE WHEN user_id % 2 = 0 THEN x * x ELSE 0 END) AS BIGINT) AS sxx_a,
       |    CAST(SUM(CASE WHEN user_id % 2 = 0 THEN y * y ELSE 0 END) AS BIGINT) AS syy_a,
       |    CAST(SUM(CASE WHEN user_id % 2 = 0 THEN x * y ELSE 0 END) AS BIGINT) AS sxy_a,
       |    CAST(SUM(CASE WHEN user_id % 2 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
       |    CAST(SUM(CASE WHEN user_id % 2 <> 0 THEN x ELSE 0 END) AS BIGINT) AS sx_b,
       |    CAST(SUM(CASE WHEN user_id % 2 <> 0 THEN y ELSE 0 END) AS BIGINT) AS sy_b,
       |    CAST(SUM(CASE WHEN user_id % 2 <> 0 THEN x * x ELSE 0 END) AS BIGINT) AS sxx_b,
       |    CAST(SUM(CASE WHEN user_id % 2 <> 0 THEN y * y ELSE 0 END) AS BIGINT) AS syy_b,
       |    CAST(SUM(CASE WHEN user_id % 2 <> 0 THEN x * y ELSE 0 END) AS BIGINT) AS sxy_b
       |  FROM units)
       |SELECT n_a, n_b,
       |  CAST(FLOOR(1000000.0 * CAST(sx_a AS DOUBLE) / CAST(sy_a AS DOUBLE)) AS BIGINT) AS r_a_micro,
       |  CAST(FLOOR(1000000.0 * CAST(sx_b AS DOUBLE) / CAST(sy_b AS DOUBLE)) AS BIGINT) AS r_b_micro,
       |  CAST(FLOOR(1000.0 *
       |    (CAST(sx_a AS DOUBLE) / CAST(sy_a AS DOUBLE)
       |     - CAST(sx_b AS DOUBLE) / CAST(sy_b AS DOUBLE))
       |    / SQRT(${ratioVar("a")} + ${ratioVar("b")})) AS BIGINT) AS z_milli
       |FROM cells""".stripMargin
  }

  /** q408 — WALD SPRT sequential conversion monitor (Wald 1945 — the
    * original always-valid test: unlike a fixed-horizon z-test, the
    * cumulative likelihood ratio may be CHECKED EVERY DAY without
    * alpha inflation, which is how a pipeline monitor actually reads
    * it): H₀ p=0.2 (the fixture's uniform-type conversion base) vs
    * H₁ p=0.25 (the +25% lift worth paging about), per-day Bernoulli
    * LLR k·ln(p₁/p₀) + (n−k)·ln(q₁/q₀) micro-quantized from exact
    * (n, k) BIGINTs with the two log factors as identically spelled
    * double literals; decision thresholds ln((1−β)/α), ln(β/(1−α))
    * at α=0.05, β=0.1 pinned as micro constants. Emits the running
    * decision per day — `continue` until a boundary crossing, then
    * latched (the window max of crossings so far).
    *
    * Scale shape: ONE (day) conditional partial agg; the cumulative
    * and latch windows run on the days-bounded frame.
    */
  val q408Sprt: Q = (s, dir) => {
    import s.implicits._
    val daily = T.events(s, dir)
      .groupBy(to_date($"ts").as("day"))
      .agg(count(lit(1)).as("n"),
        sum(($"event_type" === "purchase").cast("long")).as("k"))
    val wCum = Window.orderBy($"day")
      .rowsBetween(Window.unboundedPreceding, 0)
    daily
      .withColumn("term_micro", expr(
        """CAST(FLOOR(1000000.0 * (CAST(k AS DOUBLE) * LN(0.25 / 0.2)
          |  + CAST(n - k AS DOUBLE) * LN(0.75 / 0.8))) AS BIGINT)"""
          .stripMargin))
      .withColumn("cum_llr_micro", sum($"term_micro").over(wCum))
      .withColumn("hit",
        when($"cum_llr_micro" >= 2890372L, 2L)
          .when($"cum_llr_micro" <= -2944439L, 1L).otherwise(0L))
      .withColumn("latched", max($"hit").over(wCum))
      .select($"day", $"n", $"k", $"cum_llr_micro",
        when($"latched" === 2L, "accept_h1")
          .when($"latched" === 1L, "accept_h0")
          .otherwise("continue").as("decision"))
      .orderBy($"day")
  }

  val q408Sql: String =
    """WITH daily AS (
      |  SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
      |    CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS k
      |  FROM events GROUP BY 1),
      |t AS (
      |  SELECT day, n, k,
      |    CAST(FLOOR(1000000.0 * (CAST(k AS DOUBLE) * LN(0.25 / 0.2)
      |      + CAST(n - k AS DOUBLE) * LN(0.75 / 0.8))) AS BIGINT)
      |      AS term_micro
      |  FROM daily),
      |c AS (
      |  SELECT day, n, k,
      |    CAST(SUM(term_micro) OVER (ORDER BY day
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS cum_llr_micro
      |  FROM t),
      |h AS (
      |  SELECT *, CASE WHEN cum_llr_micro >= 2890372 THEN 2
      |                 WHEN cum_llr_micro <= -2944439 THEN 1
      |                 ELSE 0 END AS hit
      |  FROM c)
      |SELECT day, n, k, cum_llr_micro,
      |  CASE MAX(hit) OVER (ORDER BY day
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |    WHEN 2 THEN 'accept_h1' WHEN 1 THEN 'accept_h0'
      |    ELSE 'continue' END AS decision
      |FROM h ORDER BY day""".stripMargin

  /** q409 — COHORT-STRATIFIED Kaplan–Meier risk table (q293
    * partitioned by signup week — the retention question product
    * actually asks: "are NEWER cohorts churning faster?"; pooling
    * cohorts confounds tenure with calendar effects, stratifying is
    * the fix): per (cohort_week, distinct lifetime) the complete
    * sufficient statistics (n_risk, n_event, n_censor), censoring by
    * the same horizon rule as q293, all windows now keyed by cohort.
    *
    * Scale shape: one per-user collapse; the risk windows run per
    * cohort on the cohorts×lifetime-support-bounded frame.
    */
  val q409CohortKm: Q = (s, dir) => {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val spans = T.events(s, dir)
      .groupBy($"user_id")
      .agg(min($"ts".cast("date")).as("d0"), max($"ts".cast("date")).as("d1"))
    val horizon = spans.agg(max($"d1").as("dmax"))
    val lifetimes = spans.crossJoin(broadcast(horizon))
      .select(date_trunc("week", $"d0").cast("date").as("cohort_week"),
        datediff($"d1", $"d0").cast("long").as("dur"),
        (datediff($"dmax", $"d1") < KmCensorDays).as("censored"))
    val byDur = lifetimes.groupBy($"cohort_week", $"dur")
      .agg(sum(when(!$"censored", 1L).otherwise(0L)).as("n_event"),
        sum(when($"censored", 1L).otherwise(0L)).as("n_censor"))
    val wPrev = Window.partitionBy($"cohort_week").orderBy($"dur")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wAll = Window.partitionBy($"cohort_week")
    byDur
      .withColumn("gone_before",
        coalesce(sum($"n_event" + $"n_censor").over(wPrev), lit(0L)))
      .withColumn("n_total", sum($"n_event" + $"n_censor").over(wAll))
      .select($"cohort_week", $"dur",
        ($"n_total" - $"gone_before").as("n_risk"),
        $"n_event", $"n_censor")
      .orderBy($"cohort_week", $"dur")
  }

  val q409Sql: String =
    s"""WITH spans AS (
       |  SELECT user_id, CAST(MIN(CAST(ts AS TIMESTAMP)) AS DATE) AS d0,
       |    CAST(MAX(CAST(ts AS TIMESTAMP)) AS DATE) AS d1
       |  FROM events GROUP BY user_id),
       |h AS (SELECT MAX(d1) AS dmax FROM spans),
       |lifetimes AS (
       |  SELECT CAST(date_trunc('week', d0) AS DATE) AS cohort_week,
       |    CAST(d1 - d0 AS BIGINT) AS dur,
       |    (dmax - d1) < $KmCensorDays AS censored
       |  FROM spans CROSS JOIN h),
       |by_dur AS (
       |  SELECT cohort_week, dur,
       |    CAST(SUM(CASE WHEN censored THEN 0 ELSE 1 END) AS BIGINT) AS n_event,
       |    CAST(SUM(CASE WHEN censored THEN 1 ELSE 0 END) AS BIGINT) AS n_censor
       |  FROM lifetimes GROUP BY cohort_week, dur)
       |SELECT cohort_week, dur,
       |  CAST(SUM(n_event + n_censor) OVER (PARTITION BY cohort_week)
       |    - COALESCE(SUM(n_event + n_censor) OVER (PARTITION BY cohort_week
       |        ORDER BY dur ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
       |      0) AS BIGINT) AS n_risk,
       |  n_event, n_censor
       |FROM by_dur ORDER BY cohort_week, dur""".stripMargin

  /** q422 — TWO-WAY ANOVA sum-of-squares decomposition with
    * interaction (Fisher — the factorial-experiment readout the
    * one-factor family (q229 t, q285 MW, q290 KS) can't give: does
    * the VARIANT effect DIFFER BY EVENT TYPE? the interaction SS is
    * that question): factors A = event_type, B = user-parity variant;
    * cell-means decomposition SS_A/SS_B/SS_AB/SS_err from EXACT
    * integer sufficient statistics (n_ij, Σx_ij, Σx²), each squared-
    * sum TERM micro-quantized at its own level BEFORE summation (a
    * double SUM over cells is engine-order-dependent); near-balanced
    * cells make the unbalanced-design sequential ambiguity
    * immaterial; F_AB one spelled chain, milli-quantized. Int64
    * budget: 10⁶·Σx² must fit int64 — fine through sf0.1 cents
    * (~2.5e18), re-scale the quantum past that.
    *
    * Scale shape: ONE (A,B)-cell partial agg (a·b rows) + marginal
    * folds on that bounded frame.
    */
  val q422TwoWayAnova: Q = (s, dir) => {
    import s.implicits._
    // all four SS folds read this a·b-row frame
    val cells = PlanBridge.checkpointResetStats(T.events(s, dir)
      .select($"event_type".as("a"), ($"user_id" % 2 === 0).as("b"),
        expr("CAST(FLOOR(100 * value) AS BIGINT)").as("x"))
      .groupBy($"a", $"b")
      .agg(count(lit(1)).as("n"), sum($"x").as("s1"),
        sum($"x" * $"x").as("s2")))
    // every squared-sum term is micro-quantized at ITS OWN level
    // before any summation — a double SUM over cells would be
    // engine-order-dependent (the q230/q314 fold, applied to ANOVA)
    val qterm = "CAST(FLOOR(1000000.0 * (CAST(%s AS DOUBLE) " +
      "* CAST(%s AS DOUBLE) / CAST(%s AS DOUBLE))) AS BIGINT)"
    val tot = cells.agg(sum($"n").as("nn"), sum($"s1").as("t1"),
      (sum($"s2") * 1000000L).as("t2q"), countDistinct($"a").as("na"),
      countDistinct($"b").as("nb"))
    val ssCells = cells
      .agg(sum(expr(qterm.format("s1", "s1", "n"))).as("ct_q"))
    val ssA = cells.groupBy($"a")
      .agg(sum($"n").as("n_i"), sum($"s1").as("s_i"))
      .agg(sum(expr(qterm.format("s_i", "s_i", "n_i"))).as("at_q"))
    val ssB = cells.groupBy($"b")
      .agg(sum($"n").as("n_j"), sum($"s1").as("s_j"))
      .agg(sum(expr(qterm.format("s_j", "s_j", "n_j"))).as("bt_q"))
    tot.crossJoin(broadcast(ssCells)).crossJoin(broadcast(ssA))
      .crossJoin(broadcast(ssB))
      .withColumn("cf_q", expr(qterm.format("t1", "t1", "nn")))
      .select($"nn".as("n_obs"), $"na", $"nb",
        ($"at_q" - $"cf_q").as("ss_a_micro"),
        ($"bt_q" - $"cf_q").as("ss_b_micro"),
        ($"ct_q" - $"at_q" - $"bt_q" + $"cf_q").as("ss_ab_micro"),
        ($"t2q" - $"ct_q").as("ss_err_micro"),
        expr("""CAST(FLOOR(1000.0 *
               |  (CAST(ct_q - at_q - bt_q + cf_q AS DOUBLE)
               |   / (CAST(na AS DOUBLE) - 1.0) / (CAST(nb AS DOUBLE) - 1.0))
               |  / (CAST(t2q - ct_q AS DOUBLE)
               |     / (CAST(nn AS DOUBLE)
               |        - CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))))
               |  AS BIGINT)""".stripMargin).as("f_ab_milli"))
  }

  val q422Sql: String =
    """WITH cells AS (
      |  SELECT event_type AS a, user_id % 2 = 0 AS b,
      |    CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(CAST(FLOOR(100 * value) AS BIGINT)) AS BIGINT) AS s1,
      |    CAST(SUM(CAST(FLOOR(100 * value) AS BIGINT)
      |      * CAST(FLOOR(100 * value) AS BIGINT)) AS BIGINT) AS s2
      |  FROM events GROUP BY 1, 2),
      |tot AS (
      |  SELECT CAST(SUM(n) AS BIGINT) AS nn, CAST(SUM(s1) AS BIGINT) AS t1,
      |    CAST(SUM(s2) * 1000000 AS BIGINT) AS t2q,
      |    CAST(COUNT(DISTINCT a) AS BIGINT) AS na,
      |    CAST(COUNT(DISTINCT b) AS BIGINT) AS nb
      |  FROM cells),
      |ct AS (SELECT CAST(SUM(CAST(FLOOR(1000000.0 * (CAST(s1 AS DOUBLE)
      |         * CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))) AS BIGINT))
      |         AS BIGINT) AS ct_q FROM cells),
      |at AS (SELECT CAST(SUM(CAST(FLOOR(1000000.0 * (CAST(s_i AS DOUBLE)
      |         * CAST(s_i AS DOUBLE) / CAST(n_i AS DOUBLE))) AS BIGINT))
      |         AS BIGINT) AS at_q
      |       FROM (SELECT a, CAST(SUM(n) AS BIGINT) AS n_i,
      |               CAST(SUM(s1) AS BIGINT) AS s_i
      |             FROM cells GROUP BY a)),
      |bt AS (SELECT CAST(SUM(CAST(FLOOR(1000000.0 * (CAST(s_j AS DOUBLE)
      |         * CAST(s_j AS DOUBLE) / CAST(n_j AS DOUBLE))) AS BIGINT))
      |         AS BIGINT) AS bt_q
      |       FROM (SELECT b, CAST(SUM(n) AS BIGINT) AS n_j,
      |               CAST(SUM(s1) AS BIGINT) AS s_j
      |             FROM cells GROUP BY b)),
      |f AS (
      |  SELECT nn, na, nb, ct_q, at_q, bt_q, t2q,
      |    CAST(FLOOR(1000000.0 * (CAST(t1 AS DOUBLE) * CAST(t1 AS DOUBLE)
      |      / CAST(nn AS DOUBLE))) AS BIGINT) AS cf_q
      |  FROM tot CROSS JOIN ct CROSS JOIN at CROSS JOIN bt)
      |SELECT nn AS n_obs, na, nb,
      |  CAST(at_q - cf_q AS BIGINT) AS ss_a_micro,
      |  CAST(bt_q - cf_q AS BIGINT) AS ss_b_micro,
      |  CAST(ct_q - at_q - bt_q + cf_q AS BIGINT) AS ss_ab_micro,
      |  CAST(t2q - ct_q AS BIGINT) AS ss_err_micro,
      |  CAST(FLOOR(1000.0 *
      |    (CAST(ct_q - at_q - bt_q + cf_q AS DOUBLE)
      |     / (CAST(na AS DOUBLE) - 1.0) / (CAST(nb AS DOUBLE) - 1.0))
      |    / (CAST(t2q - ct_q AS DOUBLE)
      |       / (CAST(nn AS DOUBLE)
      |          - CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))))
      |    AS BIGINT) AS f_ab_milli
      |FROM f""".stripMargin

  /** q424 — SAMPLE-RATIO MISMATCH check (the first thing every
    * experimentation platform validates — an SRM means the assignment
    * or logging is broken and every downstream readout is garbage;
    * Fabijan et al. KDD'19 diagnosed it as the most common silent
    * experiment bug): per event type, the unit counts under the
    * 50/50 design, χ² = (n_a−n_b)²/(n_a+n_b) micro-quantized from
    * exact BIGINTs, flag at the α=.05 critical value 3.841.
    */
  val q424Srm: Q = (s, dir) => {
    import s.implicits._
    T.events(s, dir)
      .select($"event_type", $"user_id").distinct()
      .groupBy($"event_type")
      .agg(sum(when($"user_id" % 2 === 0, 1L).otherwise(0L)).as("n_a"),
        sum(when($"user_id" % 2 =!= 0, 1L).otherwise(0L)).as("n_b"))
      .select($"event_type", $"n_a", $"n_b",
        expr("""CAST(FLOOR(1000000.0 *
               |  (CAST(n_a - n_b AS DOUBLE) * CAST(n_a - n_b AS DOUBLE)
               |   / CAST(n_a + n_b AS DOUBLE))) AS BIGINT)""".stripMargin)
          .as("chi2_micro"))
      .withColumn("srm_flag", $"chi2_micro" > 3841000L)
      .orderBy($"event_type")
  }

  val q424Sql: String =
    """WITH u AS (SELECT DISTINCT event_type, user_id FROM events),
      |c AS (
      |  SELECT event_type,
      |    CAST(SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_a,
      |    CAST(SUM(CASE WHEN user_id % 2 <> 0 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_b
      |  FROM u GROUP BY event_type)
      |SELECT event_type, n_a, n_b,
      |  CAST(FLOOR(1000000.0 *
      |    (CAST(n_a - n_b AS DOUBLE) * CAST(n_a - n_b AS DOUBLE)
      |     / CAST(n_a + n_b AS DOUBLE))) AS BIGINT) AS chi2_micro,
      |  CAST(FLOOR(1000000.0 *
      |    (CAST(n_a - n_b AS DOUBLE) * CAST(n_a - n_b AS DOUBLE)
      |     / CAST(n_a + n_b AS DOUBLE))) AS BIGINT) > 3841000 AS srm_flag
      |FROM c
      |ORDER BY event_type""".stripMargin

  /** q423 group count. */
  val MomGroups = 32

  /** q423 — MEDIAN-OF-MEANS robust mean (the sub-Gaussian estimator
    * for heavy-tailed data — Nemirovsky–Yudin '83, popularized for
    * ML by Lugosi–Mendelson: the plain mean of a heavy-tailed metric
    * has terrible concentration, the median of k block means
    * concentrates exponentially; operationally it is ALSO the
    * estimator you get for free from k mapper partials): blocks by
    * md5(event_id) mod k (engine-independent, decorrelated from any
    * data order), each block mean ONE identically spelled double
    * division of exact BIGINTs, the median of the k means by exact
    * lower-rank selection (ties by block id). The plain mean rides
    * along for contrast.
    *
    * Scale shape: ONE keyed partial agg to k rows; selection on the
    * k-row frame.
    */
  val q423MedianOfMeans: Q = (s, dir) => {
    import s.implicits._
    // the rank selection and the global mean
    val blocks = PlanBridge.checkpointResetStats(T.events(s, dir)
      .select(expr(
        s"""CAST(conv(substring(md5(concat('mom:', CAST(event_id AS STRING))),
           |  1, 8), 16, 10) AS BIGINT) % $MomGroups""".stripMargin).as("blk"),
        expr("CAST(FLOOR(100 * value) AS BIGINT)").as("x"))
      .groupBy($"blk")
      .agg(count(lit(1)).as("n"), sum($"x").as("s1"))
      .withColumn("mean", expr("CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)")))
    val w = Window.orderBy($"mean", $"blk")
    val mom = blocks
      .withColumn("rk", row_number().over(w))
      .filter($"rk" === (MomGroups + 1) / 2)
      .select($"mean".as("mom"))
    val tot = blocks.agg(sum($"n").as("n_obs"), sum($"s1").as("s_tot"))
    tot.crossJoin(broadcast(mom))
      .select($"n_obs",
        expr("CAST(FLOOR(1000.0 * CAST(s_tot AS DOUBLE) / CAST(n_obs AS DOUBLE)) AS BIGINT)")
          .as("mean_milli"),
        expr("CAST(FLOOR(1000.0 * mom) AS BIGINT)").as("mom_milli"))
  }

  val q423Sql: String =
    s"""WITH blocks AS (
       |  SELECT CAST(('0x' || substring(md5('mom:' || CAST(event_id AS VARCHAR)),
       |      1, 8)) AS BIGINT) % $MomGroups AS blk,
       |    CAST(COUNT(*) AS BIGINT) AS n,
       |    CAST(SUM(CAST(FLOOR(100 * value) AS BIGINT)) AS BIGINT) AS s1
       |  FROM events GROUP BY 1),
       |m AS (SELECT blk, n, s1,
       |        CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mean
       |      FROM blocks),
       |sel AS (
       |  SELECT mean AS mom FROM (
       |    SELECT mean, ROW_NUMBER() OVER (ORDER BY mean, blk) AS rk
       |    FROM m)
       |  WHERE rk = ${(MomGroups + 1) / 2}),
       |t AS (SELECT CAST(SUM(n) AS BIGINT) AS n_obs,
       |        CAST(SUM(s1) AS BIGINT) AS s_tot FROM m)
       |SELECT n_obs,
       |  CAST(FLOOR(1000.0 * CAST(s_tot AS DOUBLE) / CAST(n_obs AS DOUBLE))
       |    AS BIGINT) AS mean_milli,
       |  CAST(FLOOR(1000.0 * mom) AS BIGINT) AS mom_milli
       |FROM t CROSS JOIN sel""".stripMargin

  /** q433 — POST-STRATIFICATION estimator for the A/B effect
    * (Miratrix–Sekhon–Yu JRSS-B'13 — the free variance reduction
    * q331's CUPED gets from a covariate, this one gets from a
    * DISCRETE stratum: reweight per-stratum effects by the stratum's
    * population share, removing the noise from stratum-mix imbalance
    * between arms): strata = event type, effect = Σ_s (N_s/N)·
    * (μ̄_as − μ̄_bs), against the unadjusted difference for contrast —
    * all cell means exact (n, Σcents) statistics, each per-stratum
    * term micro-quantized before the order-free sum (q422's fold),
    * shares cross-multiplied integers.
    *
    * Scale shape: ONE (stratum, arm) conditional partial agg; the
    * weighted fold runs on the strata-bounded frame.
    */
  val q433PostStratification: Q = (s, dir) => {
    import s.implicits._
    // totals + the weighted fold
    val cells = PlanBridge.checkpointResetStats(T.events(s, dir)
      .select($"event_type".as("st"), ($"user_id" % 2 === 0).as("arm_a"),
        expr("CAST(FLOOR(100 * value) AS BIGINT)").as("x"))
      .groupBy($"st")
      .agg(
        sum(when($"arm_a", 1L).otherwise(0L)).as("n_a"),
        sum(when($"arm_a", $"x").otherwise(0L)).as("s_a"),
        sum(when(!$"arm_a", 1L).otherwise(0L)).as("n_b"),
        sum(when(!$"arm_a", $"x").otherwise(0L)).as("s_b")))
    val tot = cells.agg(sum($"n_a" + $"n_b").as("nn"),
      sum($"s_a").as("ta"), sum($"n_a").as("na"),
      sum($"s_b").as("tb"), sum($"n_b").as("nb"))
    val strat = cells.crossJoin(broadcast(tot))
      .select(expr(
        """CAST(FLOOR(1000000.0 * (
          |  (CAST(n_a + n_b AS DOUBLE) / CAST(nn AS DOUBLE))
          |  * (CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE)
          |     - CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE))))
          |  AS BIGINT)""".stripMargin).as("term_q"))
      .agg(sum($"term_q").as("post_strat_micro"), count(lit(1)).as("n_strata"))
    tot.crossJoin(broadcast(strat))
      .select($"nn".as("n_obs"), $"n_strata",
        expr("""CAST(FLOOR(1000000.0 * (CAST(ta AS DOUBLE) / CAST(na AS DOUBLE)
               |  - CAST(tb AS DOUBLE) / CAST(nb AS DOUBLE))) AS BIGINT)"""
          .stripMargin).as("unadjusted_micro"),
        $"post_strat_micro")
  }

  val q433Sql: String =
    """WITH cells AS (
      |  SELECT event_type AS st,
      |    CAST(SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
      |    CAST(SUM(CASE WHEN user_id % 2 = 0
      |      THEN CAST(FLOOR(100 * value) AS BIGINT) ELSE 0 END) AS BIGINT) AS s_a,
      |    CAST(SUM(CASE WHEN user_id % 2 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
      |    CAST(SUM(CASE WHEN user_id % 2 <> 0
      |      THEN CAST(FLOOR(100 * value) AS BIGINT) ELSE 0 END) AS BIGINT) AS s_b
      |  FROM events GROUP BY event_type),
      |tot AS (
      |  SELECT CAST(SUM(n_a + n_b) AS BIGINT) AS nn,
      |    CAST(SUM(s_a) AS BIGINT) AS ta, CAST(SUM(n_a) AS BIGINT) AS na,
      |    CAST(SUM(s_b) AS BIGINT) AS tb, CAST(SUM(n_b) AS BIGINT) AS nb
      |  FROM cells),
      |strat AS (
      |  SELECT CAST(SUM(CAST(FLOOR(1000000.0 * (
      |      (CAST(n_a + n_b AS DOUBLE) / CAST(nn AS DOUBLE))
      |      * (CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE)
      |         - CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE))))
      |      AS BIGINT)) AS BIGINT) AS post_strat_micro,
      |    CAST(COUNT(*) AS BIGINT) AS n_strata
      |  FROM cells CROSS JOIN tot)
      |SELECT nn AS n_obs, n_strata,
      |  CAST(FLOOR(1000000.0 * (CAST(ta AS DOUBLE) / CAST(na AS DOUBLE)
      |    - CAST(tb AS DOUBLE) / CAST(nb AS DOUBLE))) AS BIGINT)
      |    AS unadjusted_micro,
      |  post_strat_micro
      |FROM tot CROSS JOIN strat""".stripMargin

  /** q446 — two-group LOG-RANK test (Mantel 1966) on TIME-TO-CONVERT
    * (the q425 framing: duration = first event → first purchase,
    * never-purchasers censor at the horizon — the q293 KM clock has
    * ZERO uncensored events on this fixture, every user is active
    * near corpus end, so the conversion clock is the one with actual
    * events), groups = user-id parity (the q331 A/A framing —
    * the expected reading is "no difference", which is exactly what an
    * assignment-integrity check should see): at every merged event
    * time t, observed group-1 events d₁ₜ vs the hypergeometric
    * expectation dₜ·n₁ₜ/nₜ, variance dₜ·(n₁ₜ/nₜ)(n₂ₜ/nₜ)(nₜ−dₜ)/(nₜ−1);
    * χ² = (O₁−E₁)²/V. Completes the survival family: q293 KM curve,
    * q395 Nelson–Aalen hazard, q409 cohort KM — this is the TEST that
    * says whether two curves differ.
    *
    * Exactness: E₁/E₂ terms are exact integer divisions
    * ((10⁶·dₜ·n₁ₜ) div nₜ); V terms put the exact BIGINT products
    * through ONE double division spelled identically in both engines
    * (products ≤ users⁴ stay inside the 2⁵³ exact-integer range at
    * tested SFs); the final χ² is one identically-spelled double
    * division over the micro sums. At-risk counts come from a
    * bounded-axis theta join (event times × users), the exact
    * spelling the oracle replays.
    */
  val q446LogRank: Q = (s, dir) => {
    import s.implicits._
    val ev = T.events(s, dir)
    val first = ev.groupBy($"user_id")
      .agg(min($"ts".cast("date")).as("d0"))
    val conv = ev.filter($"event_type" === "purchase")
      .groupBy($"user_id").agg(min($"ts".cast("date")).as("dp"))
    val horizon = ev.agg(max($"ts".cast("date")).as("dmax"))
    val lifetimes = PlanBridge.checkpointResetStats(first
      .join(conv, Seq("user_id"), "left")
      .crossJoin(broadcast(horizon))
      .select(($"user_id" % 2).as("grp"),
        when($"dp".isNotNull, datediff($"dp", $"d0").cast("long"))
          .otherwise(datediff($"dmax", $"d0").cast("long")).as("dur"),
        $"dp".isNull.as("censored")))
    // merged event-time axis: durations with ≥1 uncensored event
    val axis = lifetimes.filter(!$"censored")
      .groupBy($"dur").agg(count(lit(1)).as("d_all"))
      .select($"dur".as("t"), $"d_all")
    val atRisk = lifetimes.join(broadcast(axis.select($"t")),
        $"dur" >= $"t")
      .groupBy($"t")
      .agg(sum(when($"grp" === 1, 1L).otherwise(0L)).as("n1"),
        count(lit(1)).as("nt"))
    val events = lifetimes.filter(!$"censored")
      .groupBy($"dur".as("t"))
      .agg(sum(when($"grp" === 1, 1L).otherwise(0L)).as("d1"),
        count(lit(1)).as("dt"))
    val cells = atRisk.join(events, "t")
      .select($"t", $"n1", ($"nt" - $"n1").as("n2"), $"nt", $"d1",
        ($"dt" - $"d1").as("d2"), $"dt")
      .withColumn("e1_micro", expr("(1000000 * dt * n1) div nt"))
      .withColumn("e2_micro", expr("(1000000 * dt * n2) div nt"))
      // nt==1 cells would divide by (nt-1)=0 → NaN, which Spark casts
      // to 0 but DuckDB ERRORS on CAST to BIGINT — guard identically
      // in both engines (a degenerate fixture/SF must not diverge).
      .withColumn("v_micro", expr(
        """CASE WHEN nt > 1 THEN CAST(FLOOR(1000000.0 *
          |  (CAST(dt * n1 * n2 * (nt - dt) AS DOUBLE)
          |   / CAST(nt * nt * (nt - 1) AS DOUBLE))) AS BIGINT)
          |ELSE 0 END"""
          .stripMargin))
    val agg = cells.agg(
      count(lit(1)).as("n_times"),
      sum($"d1").as("o1"), sum($"d2").as("o2"),
      sum($"e1_micro").as("e1_micro"), sum($"e2_micro").as("e2_micro"),
      sum($"v_micro").as("v_micro"))
    agg.select($"n_times", $"o1", $"o2", $"e1_micro", $"e2_micro",
      $"v_micro",
      expr("""CASE WHEN v_micro > 0 THEN CAST(FLOOR(
             |  CAST(1000000 * o1 - e1_micro AS DOUBLE)
             |  * CAST(1000000 * o1 - e1_micro AS DOUBLE)
             |  / CAST(v_micro AS DOUBLE)) AS BIGINT) ELSE 0 END"""
        .stripMargin).as("chi2_micro"))
  }

  val q446Sql: String =
    s"""WITH f AS (
       |  SELECT user_id, CAST(MIN(CAST(ts AS TIMESTAMP)) AS DATE) AS d0
       |  FROM events GROUP BY user_id),
       |p AS (
       |  SELECT user_id, CAST(MIN(CAST(ts AS TIMESTAMP)) AS DATE) AS dp
       |  FROM events WHERE event_type = 'purchase' GROUP BY user_id),
       |h AS (SELECT MAX(CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS dmax
       |      FROM events),
       |lifetimes AS (
       |  SELECT f.user_id % 2 AS grp,
       |    CAST(CASE WHEN dp IS NOT NULL THEN dp - d0
       |              ELSE dmax - d0 END AS BIGINT) AS dur,
       |    dp IS NULL AS censored
       |  FROM f LEFT JOIN p ON f.user_id = p.user_id CROSS JOIN h),
       |axis AS (
       |  SELECT dur AS t FROM lifetimes WHERE NOT censored GROUP BY dur),
       |at_risk AS (
       |  SELECT t,
       |    CAST(SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
       |    CAST(COUNT(*) AS BIGINT) AS nt
       |  FROM lifetimes JOIN axis ON dur >= t GROUP BY t),
       |ev AS (
       |  SELECT dur AS t,
       |    CAST(SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS d1,
       |    CAST(COUNT(*) AS BIGINT) AS dt
       |  FROM lifetimes WHERE NOT censored GROUP BY dur),
       |cells AS (
       |  SELECT t, n1, nt - n1 AS n2, nt, d1, dt - d1 AS d2, dt,
       |    (1000000 * dt * n1) // nt AS e1_micro,
       |    (1000000 * dt * (nt - n1)) // nt AS e2_micro,
       |    CASE WHEN nt > 1 THEN CAST(FLOOR(1000000.0 *
       |      (CAST(dt * n1 * (nt - n1) * (nt - dt) AS DOUBLE)
       |       / CAST(nt * nt * (nt - 1) AS DOUBLE))) AS BIGINT)
       |    ELSE 0 END AS v_micro
       |  FROM at_risk JOIN ev USING (t)),
       |agg AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_times,
       |    CAST(SUM(d1) AS BIGINT) AS o1, CAST(SUM(d2) AS BIGINT) AS o2,
       |    CAST(SUM(e1_micro) AS BIGINT) AS e1_micro,
       |    CAST(SUM(e2_micro) AS BIGINT) AS e2_micro,
       |    CAST(SUM(v_micro) AS BIGINT) AS v_micro
       |  FROM cells)
       |SELECT n_times, o1, o2, e1_micro, e2_micro, v_micro,
       |  CASE WHEN v_micro > 0 THEN CAST(FLOOR(
       |    CAST(1000000 * o1 - e1_micro AS DOUBLE)
       |    * CAST(1000000 * o1 - e1_micro AS DOUBLE)
       |    / CAST(v_micro AS DOUBLE)) AS BIGINT) ELSE 0 END AS chi2_micro
       |FROM agg""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("q446_log_rank", q446LogRank, q446Sql),
    Entry("q433_post_stratification", q433PostStratification, q433Sql),
    Entry("q423_median_of_means", q423MedianOfMeans, q423Sql),
    Entry("q422_two_way_anova", q422TwoWayAnova, q422Sql),
    Entry("q424_srm", q424Srm, q424Sql),
    Entry("q409_cohort_km", q409CohortKm, q409Sql),
    Entry("q408_sprt", q408Sprt, q408Sql),
    Entry("q404_ratio_metric", q404RatioMetric, q404Sql),
    Entry("q401_diff_in_diff", q401DiffInDiff, q401Sql),
    Entry("q396_bh_fdr", q396BhFdr, q396Sql),
    Entry("q397_conformal", q397Conformal, q397Sql),
    Entry("q386_kendall_tau", q386KendallTau, q386Sql),
    Entry("q388_perm_test", q388PermTest, q388Sql),
    Entry("q393_emd_drift", q393EmdDrift, q393Sql),
    Entry("q395_nelson_aalen", q395NelsonAalen, q395Sql),
    Entry("q357_mann_kendall", q357MannKendall, q357Sql),
    Entry("q343_balance_audit", q343BalanceAudit, q343Sql),
    Entry("q331_cuped", q331Cuped, q331Sql),
    Entry("q332_neyman_allocation", q332NeymanAllocation, q332Sql),
    Entry("q228_grouped_ols", q228GroupedOls, q228Sql),
    Entry("q229_welch_ttest", q229WelchTtest, q229Sql),
    Entry("q230_chi2_independence", q230Chi2Independence, q230Sql),
    Entry("q285_mann_whitney", q285MannWhitney, q285Sql),
    Entry("q288_sample_estimate", q288SampleEstimate, q288Sql),
    Entry("q289_spearman", q289Spearman, q289Sql),
    Entry("q290_ks_test", q290KsTest, q290Sql),
    Entry("q293_kaplan_meier", q293KaplanMeier, q293Sql),
    Entry("q302_poisson_bootstrap", q302PoissonBootstrap, q302Sql),
    Entry("q454_bca_bootstrap", q454BcaBootstrap, q454Sql),
    Entry("q458_theil_sen", q458TheilSen, q458Sql),
    Entry("q314_psi_drift", q314PsiDrift, q314Sql))
}
