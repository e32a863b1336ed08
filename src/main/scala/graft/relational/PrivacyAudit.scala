package graft.relational

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.PlanBridge

import graft.core.{Entry, Tables => T}

/** k-anonymity audit over a quasi-identifier projection — the
  * data-release gate that runs BEFORE a curated table leaves the
  * pipeline (Sweeney 2002). A row is k-anonymous when at least k rows
  * share its quasi-identifier tuple; classes below k re-identify and
  * must be suppressed or generalized before publication. q93/q213
  * scrub direct identifiers (PII values inside text); this audits the
  * complementary INDIRECT channel — combinations of innocuous columns.
  */
object PrivacyAudit {

  import Entry.Q

  /** Publication threshold. 8 leaves both publishable and suppressed
    * classes non-empty at sf0.01 (class sizes span 5–21 there), so
    * neither branch of the decision is vacuous.
    */
  val AnonymityK = 8

  /** q217 — per-equivalence-class k-anonymity decision over the
    * (c_nationkey, c_mktsegment) quasi-identifier pair: class size and
    * the publish/suppress verdict for every class. The minimum
    * `class_n` over the output IS the table's k-anonymity; the
    * suppressed row count is the utility cost of releasing at
    * [[AnonymityK]].
    *
    * Scale shape: a single hash aggregation on the QI columns —
    * map-side partials collapse each partition to ≤ |QI-domain| rows
    * before the shuffle, so the audit costs one scan regardless of
    * table size; the class table itself is domain-bounded and tiny.
    */
  val q217KAnonymity: Q = (s, dir) => {
    import s.implicits._
    T.customer(s, dir)
      .groupBy($"c_nationkey", $"c_mktsegment")
      .agg(count(lit(1)).as("class_n"))
      .select($"c_nationkey", $"c_mktsegment", $"class_n",
        ($"class_n" >= AnonymityK).as("publishable"))
      .orderBy($"c_nationkey", $"c_mktsegment")
  }

  val q217Sql: String =
    s"""SELECT c_nationkey, c_mktsegment,
       |  CAST(COUNT(*) AS BIGINT) AS class_n,
       |  COUNT(*) >= $AnonymityK AS publishable
       |FROM customer
       |GROUP BY c_nationkey, c_mktsegment
       |ORDER BY c_nationkey, c_mktsegment""".stripMargin

  /** q258 forget-set selector: every 97th customer key — deterministic,
    * ~1% of customers, survives every SF.
    */
  val ForgetMod = 97

  /** q258 — right-to-be-forgotten CASCADE audit: deleting a customer
    * set must cascade through orders to lineitems, and the audit a
    * privacy officer signs is (per table) rows before / deleted /
    * after, plus a REFERENTIAL check that the post-delete state has no
    * orphans (an order whose customer vanished, a lineitem whose order
    * vanished) — the failure mode of a cascade that missed a hop. All
    * counts exact BIGINTs under one hash.
    *
    * Scale shape: each cascade hop is one left-semi (doomed rows) or
    * left-anti (survivors) equi-join keyed on the parent key — the
    * forget set is ~1% of customers, so AQE broadcasts the doomed-key
    * frames; orphan checks are anti-joins on the SAME keys, reusing
    * the partitioning. No table is scanned more than twice.
    */
  val q258CascadeDelete: Q = (s, dir) => {
    import s.implicits._
    val cust = T.customer(s, dir).select($"c_custkey")
    val ords = T.orders(s, dir).select($"o_orderkey", $"o_custkey")
    val lines = T.lineitem(s, dir).select($"l_orderkey")
    // tiny key frame; feeds both hops + audit
    val doomedC = PlanBridge.checkpointResetStats(
      cust.filter($"c_custkey" % ForgetMod === 0))
    val doomedO = PlanBridge.checkpointResetStats(
      ords.join(doomedC, $"o_custkey" === $"c_custkey")
        .select($"o_orderkey"))
    val afterC = cust.join(doomedC, Seq("c_custkey"), "left_anti")
    val afterO = ords.join(doomedO, Seq("o_orderkey"), "left_anti")
    val afterL = lines.join(doomedO, $"l_orderkey" === $"o_orderkey",
      "left_anti")
    val orphanO = afterO.join(afterC, $"o_custkey" === $"c_custkey",
      "left_anti")
    val orphanL = afterL.join(afterO.select($"o_orderkey"),
      $"l_orderkey" === $"o_orderkey", "left_anti")
    def leg(table: String, before: Long, after: DataFrame,
        orphans: DataFrame): DataFrame =
      after.agg(count(lit(1)).as("n_after"))
        .crossJoin(orphans.agg(count(lit(1)).as("n_orphans")))
        .select(lit(table).as("tbl"), lit(before).as("n_before"),
          (lit(before) - $"n_after").as("n_deleted"), $"n_after",
          $"n_orphans")
    leg("customer", cust.count(), afterC, afterC.limit(0))
      .unionByName(leg("lineitem", lines.count(), afterL, orphanL))
      .unionByName(leg("orders", ords.count(), afterO, orphanO))
      .orderBy($"tbl")
  }

  val q258Sql: String =
    s"""WITH dc AS (SELECT c_custkey FROM customer WHERE c_custkey % $ForgetMod = 0),
       |do_ AS (SELECT o_orderkey FROM orders JOIN dc ON o_custkey = c_custkey),
       |ac AS (SELECT * FROM customer WHERE c_custkey NOT IN (SELECT c_custkey FROM dc)),
       |ao AS (SELECT * FROM orders WHERE o_orderkey NOT IN (SELECT o_orderkey FROM do_)),
       |al AS (SELECT * FROM lineitem WHERE l_orderkey NOT IN (SELECT o_orderkey FROM do_))
       |SELECT 'customer' AS tbl,
       |  (SELECT COUNT(*) FROM customer) AS n_before,
       |  (SELECT COUNT(*) FROM customer) - (SELECT COUNT(*) FROM ac) AS n_deleted,
       |  (SELECT COUNT(*) FROM ac) AS n_after,
       |  0 AS n_orphans
       |UNION ALL
       |SELECT 'lineitem',
       |  (SELECT COUNT(*) FROM lineitem),
       |  (SELECT COUNT(*) FROM lineitem) - (SELECT COUNT(*) FROM al),
       |  (SELECT COUNT(*) FROM al),
       |  (SELECT COUNT(*) FROM al WHERE l_orderkey NOT IN
       |     (SELECT o_orderkey FROM ao))
       |UNION ALL
       |SELECT 'orders',
       |  (SELECT COUNT(*) FROM orders),
       |  (SELECT COUNT(*) FROM orders) - (SELECT COUNT(*) FROM ao),
       |  (SELECT COUNT(*) FROM ao),
       |  (SELECT COUNT(*) FROM ao WHERE o_custkey NOT IN
       |     (SELECT c_custkey FROM ac))
       |ORDER BY tbl""".stripMargin

  /** q272 minimum distinct-sensitive-values per publishable class —
    * the Machanavajjhala et al. distinct-l-diversity parameter.
    */
  val DiversityL = 3

  /** q272 — l-DIVERSITY audit, the attribute-disclosure gate
    * k-anonymity (q217) cannot express: a class of 50 identical-looking
    * customers still leaks if they all share one sensitive value, so
    * each (c_nationkey, c_mktsegment) class must also contain ≥
    * [[DiversityL]] distinct sensitive bands (account-balance band as
    * the sensitive attribute: debt / low / high). `publishable` now
    * requires BOTH the size floor and the diversity floor — the classes
    * q217 would publish but q272 suppresses are exactly the
    * homogeneity-attack surface.
    *
    * Scale shape: one hash aggregation on the QI columns with a
    * distinct-count on the (domain-3) band — map-side partials collapse
    * to ≤ |QI-domain|·|bands| rows before the shuffle.
    */
  val q272LDiversity: Q = (s, dir) => {
    import s.implicits._
    val band = when($"c_acctbal" < 0, "debt")
      .when($"c_acctbal" < 5000, "low").otherwise("high")
    T.customer(s, dir)
      .select($"c_nationkey", $"c_mktsegment", band.as("band"))
      .groupBy($"c_nationkey", $"c_mktsegment")
      .agg(count(lit(1)).as("class_n"),
        countDistinct($"band").as("l_div"))
      .select($"c_nationkey", $"c_mktsegment", $"class_n", $"l_div",
        ($"class_n" >= AnonymityK && $"l_div" >= DiversityL)
          .as("publishable"))
      .orderBy($"c_nationkey", $"c_mktsegment")
  }

  val q272Sql: String =
    s"""SELECT c_nationkey, c_mktsegment,
       |  CAST(COUNT(*) AS BIGINT) AS class_n,
       |  CAST(COUNT(DISTINCT CASE WHEN c_acctbal < 0 THEN 'debt'
       |    WHEN c_acctbal < 5000 THEN 'low' ELSE 'high' END) AS BIGINT)
       |    AS l_div,
       |  COUNT(*) >= $AnonymityK AND
       |  COUNT(DISTINCT CASE WHEN c_acctbal < 0 THEN 'debt'
       |    WHEN c_acctbal < 5000 THEN 'low' ELSE 'high' END)
       |    >= $DiversityL AS publishable
       |FROM customer
       |GROUP BY c_nationkey, c_mktsegment
       |ORDER BY c_nationkey, c_mktsegment""".stripMargin

  /** q449 closeness threshold, micro units (t = 0.15): measured class
    * EMDs at sf0.01 span 9666–259166µ with median 84083µ, so both the
    * publish and suppress branches are non-vacuous.
    */
  val TCloseMicro = 150000L

  /** q449 — t-CLOSENESS audit (Li, Li & Venkatasubramanian ICDE'07),
    * completing the syntactic-privacy triad: k-anonymity (q217) bounds
    * re-identification, l-diversity (q272) bounds homogeneity, but a
    * class can be diverse yet SKEWED — 90% debt in a class vs 11%
    * globally still discloses. t-closeness bounds the ORDERED EMD
    * between each class's sensitive-band distribution and the global
    * one: for ordinal bands (debt < low < high) EMD =
    * (1/(m−1))·Σⱼ|cumⱼ(p−q)| — here EXACT integer arithmetic on the
    * common denominator n·N (per-class counts × global counts,
    * cross-multiplied before any division; one integer div finishes
    * in micro units, identical truncation both engines on
    * non-negatives).
    *
    * Scale shape: one QI-domain-bounded hash agg + a 1-row global
    * broadcast; the audit costs one scan regardless of table size.
    */
  val q449TCloseness: Q = (s, dir) => {
    import s.implicits._
    val cls = T.customer(s, dir)
      .groupBy($"c_nationkey", $"c_mktsegment")
      .agg(sum(when($"c_acctbal" < 0, 1L).otherwise(0L)).as("cd"),
        sum(when($"c_acctbal" >= 0 && $"c_acctbal" < 5000, 1L)
          .otherwise(0L)).as("cl"),
        count(lit(1)).as("n"))
    val glob = cls.agg(sum($"cd").as("gd"), sum($"cl").as("gl"),
      sum($"n").as("nn"))
    cls.crossJoin(broadcast(glob))
      .withColumn("emd_micro", expr(
        """(1000000 * (abs(cd * nn - gd * n)
          |  + abs((cd + cl) * nn - (gd + gl) * n))) div (2 * n * nn)"""
          .stripMargin))
      .select($"c_nationkey", $"c_mktsegment", $"n".as("class_n"),
        $"emd_micro",
        ($"n" >= AnonymityK && $"emd_micro" <= TCloseMicro)
          .as("publishable"))
      .orderBy($"c_nationkey", $"c_mktsegment")
  }

  val q449Sql: String =
    s"""WITH cls AS (
       |  SELECT c_nationkey, c_mktsegment,
       |    CAST(SUM(CASE WHEN c_acctbal < 0 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS cd,
       |    CAST(SUM(CASE WHEN c_acctbal >= 0 AND c_acctbal < 5000
       |                  THEN 1 ELSE 0 END) AS BIGINT) AS cl,
       |    CAST(COUNT(*) AS BIGINT) AS n
       |  FROM customer GROUP BY 1, 2),
       |g AS (SELECT CAST(SUM(cd) AS BIGINT) AS gd,
       |             CAST(SUM(cl) AS BIGINT) AS gl,
       |             CAST(SUM(n) AS BIGINT) AS nn FROM cls)
       |SELECT c_nationkey, c_mktsegment, n AS class_n,
       |  (1000000 * (abs(cd * nn - gd * n)
       |    + abs((cd + cl) * nn - (gd + gl) * n))) // (2 * n * nn)
       |    AS emd_micro,
       |  n >= $AnonymityK AND
       |  (1000000 * (abs(cd * nn - gd * n)
       |    + abs((cd + cl) * nn - (gd + gl) * n))) // (2 * n * nn)
       |    <= $TCloseMicro AS publishable
       |FROM cls CROSS JOIN g
       |ORDER BY c_nationkey, c_mktsegment""".stripMargin

  /** q280 privacy budget per released statistic and the tail-bound
    * failure probability the gate tolerates.
    */
  val DpEpsilon = 0.25
  val DpDelta = 1e-9
  val DpSeed = 20240814L

  /** q280 — DIFFERENTIALLY-PRIVATE count release (ε-DP Laplace
    * mechanism, Dwork et al.) with a deterministic-noise gate: per
    * event type, the released count is round(exact + Lap(1/ε)) clamped
    * at 0 — sensitivity 1 for a count, so scale b = 1/ε. Noise is
    * drawn by inverse-CDF from a per-key uniform derived with
    * `xxhash64(key, seed)` — pure codegen'd column arithmetic, no UDF,
    * no RNG state — which makes the release REPRODUCIBLE (the
    * fixed-seed discipline of q95's split: a re-run releases the same
    * numbers, the real-world requirement for audited publications).
    * The exact counts never leave the query; `ok` pins, per group,
    * |noise| ≤ (1/ε)·ln(1/δ) (the Laplace tail bound at [[DpDelta]] —
    * a broken inverse-CDF lands far outside) and a nonnegative
    * release. The oracle re-derives the group list and budget ledger
    * (ε per statistic, the parallel-composition accounting across
    * disjoint groups).
    *
    * Scale shape: one partial-agg groupBy; noise is a narrow
    * projection on the domain-bounded group frame.
    */
  val q280DpRelease: Q = (s, dir) => {
    import s.implicits._
    val b = 1.0 / DpEpsilon
    val bound = b * math.log(1.0 / DpDelta)
    val counts = T.events(s, dir)
      .groupBy($"event_type").agg(count(lit(1)).as("exact"))
    val u = xxhash64($"event_type", lit(DpSeed)).cast("double") /
      lit(2.0) / lit(Long.MaxValue.toDouble) // (-0.5, 0.5)
    val noise = lit(-b) * signum(u) * log(lit(1.0) - lit(2.0) * abs(u))
    counts
      .withColumn("noise", noise)
      .withColumn("released",
        greatest(round($"exact" + $"noise"), lit(0.0)).cast("long"))
      .select($"event_type", lit(DpEpsilon).as("epsilon"),
        (abs($"noise") <= bound && $"released" >= 0).as("ok"))
      .orderBy($"event_type")
  }

  val q280Sql: String =
    s"""SELECT event_type, CAST($DpEpsilon AS DOUBLE) AS epsilon, TRUE AS ok
       |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** q316 — keep-probability threshold (49152/65536 = exactly 3/4)
    * and the category domain, fixed alphabetically.
    */
  val RrKeepThreshold = 49152L
  val RrCats = Seq("click", "error", "purchase", "signup", "view")

  /** q316 — LOCAL differential privacy by RANDOMIZED RESPONSE
    * (Warner 1965; the RAPPOR family's core): each ROW randomizes its
    * own category before the collector ever sees it — the trust model
    * q280 cannot give (q280's Laplace release protects the OUTPUT;
    * here the server never holds truthful microdata at all). Report =
    * true category with p = 3/4, else a uniform draw from the
    * 5-category domain; the collector debiases observed counts:
    * π̂_i = (c_i/n − (1−p)/k) / p. Derandomized the repo's way — both
    * coins are md5 uniforms keyed by event_id, p is the exact dyadic
    * 49152/65536, so both engines flip the SAME coins and the whole
    * release (reports, debiased estimates) hash-compares exactly. The
    * exact per-category truth rides along: the row shows the privacy/
    * accuracy trade (estimate converges at 1/(p√n) — visibly noisy at
    * sf0.01, that noise IS the privacy).
    *
    * Scale shape: the mechanism is a narrow stateless projection
    * (perfectly sharded — the whole point of LOCAL DP at 100 TB: no
    * trusted aggregation point); collection is one partial-agg
    * groupBy over the domain-bounded category space.
    */
  val q316RandomizedResponse: Q = (s, dir) => {
    import s.implicits._
    val k = RrCats.length
    val catArr = array(RrCats.map(lit): _*)
    val reported = T.events(s, dir)
      .select($"event_id", $"event_type")
      .withColumn("u1",
        conv(substring(md5(concat(lit("rr1:"), $"event_id".cast("string"))),
          1, 4), 16, 10).cast("long"))
      .withColumn("u2",
        conv(substring(md5(concat(lit("rr2:"), $"event_id".cast("string"))),
          1, 4), 16, 10).cast("long"))
      .select($"event_type",
        when($"u1" < RrKeepThreshold, $"event_type")
          .otherwise(element_at(catArr, ($"u2" % k).cast("int") + 1))
          .as("reported"))
    val n = reported.agg(count(lit(1)).as("n"))
    val truth = reported.groupBy($"event_type")
      .agg(count(lit(1)).as("n_true"))
    reported.groupBy($"reported".as("event_type"))
      .agg(count(lit(1)).as("n_reported"))
      .join(truth, "event_type")
      .crossJoin(broadcast(n))
      .select($"event_type", $"n_reported", $"n_true", $"n",
        expr(s"""(CAST(n_reported AS DOUBLE) / CAST(n AS DOUBLE)
                | - 0.25 / $k.0) / 0.75""".stripMargin).as("pi_hat"))
      .orderBy($"event_type")
  }

  val q316Sql: String = {
    val k = RrCats.length
    val catList = RrCats.map(c => s"'$c'").mkString(", ")
    s"""WITH coins AS (
       |  SELECT event_type,
       |    CAST('0x' || substring(md5('rr1:' || CAST(event_id AS VARCHAR)),
       |      1, 4) AS BIGINT) AS u1,
       |    CAST('0x' || substring(md5('rr2:' || CAST(event_id AS VARCHAR)),
       |      1, 4) AS BIGINT) AS u2
       |  FROM events),
       |reported AS (
       |  SELECT event_type,
       |    CASE WHEN u1 < $RrKeepThreshold THEN event_type
       |         ELSE list_extract([$catList], CAST(u2 % $k AS INTEGER) + 1)
       |    END AS reported
       |  FROM coins),
       |n AS (SELECT COUNT(*) AS n FROM reported),
       |truth AS (SELECT event_type, COUNT(*) AS n_true
       |          FROM reported GROUP BY event_type)
       |SELECT r.reported AS event_type,
       |  CAST(COUNT(*) AS BIGINT) AS n_reported,
       |  CAST(t.n_true AS BIGINT) AS n_true, CAST(n.n AS BIGINT) AS n,
       |  (CAST(COUNT(*) AS DOUBLE) / CAST(n.n AS DOUBLE)
       |   - 0.25 / $k.0) / 0.75 AS pi_hat
       |FROM reported r
       |JOIN truth t ON t.event_type = r.reported
       |CROSS JOIN n
       |GROUP BY r.reported, t.n_true, n.n
       |ORDER BY event_type""".stripMargin
  }

  /** q420 privacy budget ε = 1 → Laplace scale b = Δf/ε = 1 for a
    * count query (sensitivity 1).
    */
  val DpScale = "1.0"

  /** q420 — DIFFERENTIAL-PRIVACY Laplace mechanism over per-source
    * doc counts (Dwork et al. TCC'06 — the release mechanism next to
    * q217's k-anonymity AUDIT: k-anon says whether a projection is
    * safe to show, DP says how to publish an aggregate with a
    * provable privacy loss): noisy = count + Lap(Δf/ε), noise drawn
    * by inverse-CDF from an md5 uniform — PINNED randomness, which
    * makes the row reproducible and oracle-checkable while being
    * explicitly NOT private (a real release draws fresh noise; the
    * mechanism's arithmetic is what this row certifies, and the
    * scaladoc says so out loud). u ∈ (0,1) from 8 md5 hex chars,
    * noise = −b·sign(u−½)·ln(1−2|u−½|), one identically spelled
    * double chain, milli-quantized.
    *
    * Scale shape: one per-source partial agg + a per-row noise
    * expression.
    */
  val q420DpCounts: Q = (s, dir) => {
    import s.implicits._
    T.documents(s, dir)
      .groupBy($"source").agg(count(lit(1)).as("n"))
      .withColumn("u", expr(
        """(CAST(conv(substring(md5(concat('dp:', source)), 1, 8), 16, 10)
          |  AS DOUBLE) + 0.5) / 4294967296.0""".stripMargin))
      .select($"source", $"n",
        expr(s"""CAST(FLOOR(1000.0 * (CAST(n AS DOUBLE)
                |  - $DpScale * SIGN(u - 0.5)
                |    * LN(1.0 - 2.0 * ABS(u - 0.5)))) AS BIGINT)"""
          .stripMargin).as("noisy_milli"))
      .orderBy($"source")
  }

  val q420Sql: String =
    s"""WITH c AS (
       |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n
       |  FROM documents GROUP BY source),
       |u AS (
       |  SELECT source, n,
       |    (CAST(('0x' || substring(md5('dp:' || source), 1, 8)) AS BIGINT)
       |     + 0.5) / 4294967296.0 AS u
       |  FROM c)
       |SELECT source, n,
       |  CAST(FLOOR(1000.0 * (CAST(n AS DOUBLE)
       |    - $DpScale * SIGN(u - 0.5)
       |      * LN(1.0 - 2.0 * ABS(u - 0.5)))) AS BIGINT) AS noisy_milli
       |FROM u
       |ORDER BY source""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("q420_dp_counts", q420DpCounts, q420Sql),
    Entry("q316_randomized_response", q316RandomizedResponse, q316Sql),
    Entry("q258_cascade_delete", q258CascadeDelete, q258Sql),
    Entry("q217_k_anonymity", q217KAnonymity, q217Sql),
    Entry("q272_l_diversity", q272LDiversity, q272Sql),
    Entry("q449_t_closeness", q449TCloseness, q449Sql),
    Entry("q280_dp_release", q280DpRelease, q280Sql))
}
