package graft.relational

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.PlanBridge

import graft.core.{Entry, Tables => T}

/** User-journey analytics: multi-touch credit allocation (q225) and
  * session path mining (q226) — the two shapes completing the
  * event-analytics family (funnel q94, retention q119, sessionize
  * q120, last-touch q148, transitions q150, streaks q152).
  */
object JourneyQueries {

  import Entry.Q

  /** Lookback for touch eligibility — q148's 7-day window. */
  val LookbackUs: Long = 7L * 24 * 3600 * 1000000

  /** Credit pool per purchase, in micro-credits. Integer division
    * splits it exactly; the REMAINDER goes to the earliest touch — the
    * money-split discipline that keeps every engine's per-channel sums
    * identical BIGINTs (a double 1/n split would sum in different
    * orders across engines and never hash-match).
    */
  val CreditPool = 1000000L

  /** q225 — LINEAR multi-touch attribution: every view/click inside
    * the purchase's 7-day lookback shares the purchase's credit pool
    * equally (vs q148 giving the LAST touch everything — the two ends
    * of the attribution-model spectrum). Credit is allocated in exact
    * integer micro-credits: each touch gets pool div n, the earliest
    * touch also takes the remainder.
    *
    * Scale shape: touches join purchases by an EQUI key (user_id) —
    * one hash-join shuffle — and the range predicate filters inside
    * the join; per-purchase windows then run on the purchase id. No
    * cross join anywhere; per-user touch×purchase fan-out is bounded
    * by activity density, the same bound q115's interval join carries.
    */
  val q225MultiTouch: Q = (s, dir) => {
    import s.implicits._
    val ev = T.events(s, dir)
      .select($"user_id", $"event_id", unix_micros($"ts").as("t_us"),
        $"event_type")
    val touches = ev.filter($"event_type".isin("view", "click"))
      .select($"user_id", $"event_id".as("touch_id"),
        $"t_us".as("touch_us"), $"event_type".as("channel"))
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"user_id", $"event_id".as("purchase_id"),
        $"t_us".as("purchase_us"))
    val joined = purchases.join(touches, Seq("user_id"))
      .filter($"touch_us" < $"purchase_us" &&
        $"touch_us" >= $"purchase_us" - LookbackUs)
    val wAll = Window.partitionBy($"purchase_id")
    val wRank = Window.partitionBy($"purchase_id")
      .orderBy($"touch_us", $"touch_id")
    joined
      .withColumn("n", count(lit(1)).over(wAll))
      .withColumn("rk", row_number().over(wRank))
      .withColumn("credit",
        expr(s"$CreditPool div n") +
          when($"rk" === 1, expr(s"$CreditPool % n")).otherwise(lit(0L)))
      .groupBy($"channel")
      .agg(count(lit(1)).as("n_touches"), sum($"credit").as("total_credit"))
      .orderBy($"channel")
  }

  val q225Sql: String =
    s"""WITH ev AS (
       |  SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS t_us,
       |         event_type
       |  FROM events),
       |t AS (SELECT user_id, event_id AS touch_id, t_us AS touch_us,
       |             event_type AS channel
       |      FROM ev WHERE event_type IN ('view', 'click')),
       |p AS (SELECT user_id, event_id AS purchase_id, t_us AS purchase_us
       |      FROM ev WHERE event_type = 'purchase'),
       |j AS (SELECT p.purchase_id, t.channel, t.touch_us, t.touch_id
       |      FROM p JOIN t ON p.user_id = t.user_id
       |        AND t.touch_us < p.purchase_us
       |        AND t.touch_us >= p.purchase_us - $LookbackUs),
       |c AS (SELECT channel,
       |        COUNT(*) OVER (PARTITION BY purchase_id) AS n,
       |        ROW_NUMBER() OVER (PARTITION BY purchase_id
       |          ORDER BY touch_us, touch_id) AS rk
       |      FROM j)
       |SELECT channel, CAST(COUNT(*) AS BIGINT) AS n_touches,
       |  CAST(SUM($CreditPool // n +
       |    CASE WHEN rk = 1 THEN $CreditPool % n ELSE 0 END) AS BIGINT)
       |    AS total_credit
       |FROM c GROUP BY channel ORDER BY channel""".stripMargin

  /** q464 half-life in days — credit halves per elapsed half-life. */
  val DecayHalfLifeDays = 2L

  /** q464 — TIME-DECAY multi-touch attribution, completing the
    * industry attribution spectrum (q148 last-touch = all credit to
    * recency, q225 linear = recency-blind, this = exponential decay
    * by age: the model ad platforms default to). The decay is a
    * DYADIC STEP — weight w = 2^(days-to-halflives) spelled as the
    * integer left-shift 1 << ((lookback − age_days) div halflife), so
    * weights, the per-purchase weight sum, and each touch's share
    * pool·w div Σw (+ remainder to the EARLIEST touch, the q225
    * money-split discipline) are all exact BIGINTs in both engines —
    * a float 2^(−age/h) would never hash-match. Contract: continuous
    * exponential decay quantized at half-life boundaries (scaladoc'd;
    * the q74-convention alternative would gate a transcendental).
    *
    * Scale shape: identical to q225 — one user-key hash join with the
    * range filter inside, two purchase-keyed windows, one channel agg.
    */
  val q464TimeDecayAttribution: Q = (s, dir) => {
    import s.implicits._
    val ev = T.events(s, dir)
      .select($"user_id", $"event_id", unix_micros($"ts").as("t_us"),
        $"event_type")
    val touches = ev.filter($"event_type".isin("view", "click"))
      .select($"user_id", $"event_id".as("touch_id"),
        $"t_us".as("touch_us"), $"event_type".as("channel"))
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"user_id", $"event_id".as("purchase_id"),
        $"t_us".as("purchase_us"))
    val dayUs = 24L * 3600 * 1000000
    val joined = purchases.join(touches, Seq("user_id"))
      .filter($"touch_us" < $"purchase_us" &&
        $"touch_us" >= $"purchase_us" - LookbackUs)
      .withColumn("w", expr(
        s"""shiftleft(CAST(1 AS BIGINT),
           |  CAST((${LookbackUs / dayUs} - (purchase_us - touch_us) div $dayUs)
           |       div $DecayHalfLifeDays AS INT))""".stripMargin))
    val wAll = Window.partitionBy($"purchase_id")
    val wRank = Window.partitionBy($"purchase_id")
      .orderBy($"touch_us", $"touch_id")
    joined
      .withColumn("sw", sum($"w").over(wAll))
      .withColumn("share", expr(s"($CreditPool * w) div sw"))
      .withColumn("floors", sum($"share").over(wAll))
      .withColumn("rk", row_number().over(wRank))
      .withColumn("credit", $"share" +
        when($"rk" === 1, lit(CreditPool) - $"floors").otherwise(lit(0L)))
      .groupBy($"channel")
      .agg(count(lit(1)).as("n_touches"), sum($"credit").as("total_credit"))
      .orderBy($"channel")
  }

  val q464Sql: String = {
    val dayUs = 24L * 3600 * 1000000
    s"""WITH ev AS (
       |  SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS t_us,
       |         event_type
       |  FROM events),
       |t AS (SELECT user_id, event_id AS touch_id, t_us AS touch_us,
       |             event_type AS channel
       |      FROM ev WHERE event_type IN ('view', 'click')),
       |p AS (SELECT user_id, event_id AS purchase_id, t_us AS purchase_us
       |      FROM ev WHERE event_type = 'purchase'),
       |j AS (SELECT p.purchase_id, t.channel, t.touch_us, t.touch_id,
       |        CAST(1 AS BIGINT)
       |          << CAST((${LookbackUs / dayUs} - (p.purchase_us - t.touch_us) // $dayUs)
       |             // $DecayHalfLifeDays AS INTEGER) AS w
       |      FROM p JOIN t ON p.user_id = t.user_id
       |        AND t.touch_us < p.purchase_us
       |        AND t.touch_us >= p.purchase_us - $LookbackUs),
       |c1 AS (SELECT channel, purchase_id, touch_us, touch_id, w,
       |         SUM(w) OVER (PARTITION BY purchase_id) AS sw
       |       FROM j),
       |c2 AS (SELECT channel, ($CreditPool * w) // sw AS share,
       |         SUM(($CreditPool * w) // sw)
       |           OVER (PARTITION BY purchase_id) AS floors,
       |         ROW_NUMBER() OVER (PARTITION BY purchase_id
       |           ORDER BY touch_us, touch_id) AS rk
       |       FROM c1)
       |SELECT channel, CAST(COUNT(*) AS BIGINT) AS n_touches,
       |  CAST(SUM(share +
       |    CASE WHEN rk = 1 THEN $CreditPool - floors ELSE 0 END)
       |    AS BIGINT) AS total_credit
       |FROM c2 GROUP BY channel ORDER BY channel""".stripMargin
  }

  /** Session gap (µs): 30 minutes, the classic web-analytics cut. */
  val SessionGapUs: Long = 30L * 60 * 1000000

  /** Paths reported. */
  val PathTake = 20

  /** q226 — session path mining: gap-sessionize each user's event
    * stream (30-min inactivity cut, q120's discipline), express each
    * session as its ordered event-type path string, and report the
    * [[PathTake]] most frequent paths with session counts — the
    * "what do journeys through the product look like" rollup over
    * q150's single-step transition matrix.
    *
    * Scale shape: sessionization is two windows on one user_id
    * partitioning (lag + running sum); the path string is one ordered
    * aggregation per session (sort_array over in-session structs —
    * session length bounds the array, the gap cut bounds session
    * length); the path census is a count on path strings whose
    * cardinality is vocabulary-like. One user shuffle, one session
    * shuffle, one path shuffle.
    */
  val q226SessionPaths: Q = (s, dir) => {
    import s.implicits._
    val ev = T.events(s, dir)
      .select($"user_id", $"event_id", unix_micros($"ts").as("t_us"),
        $"event_type")
    val wSeq = Window.partitionBy($"user_id").orderBy($"t_us", $"event_id")
    val sessions = ev
      .withColumn("prev_us", lag($"t_us", 1).over(wSeq))
      .withColumn("new_sess",
        when($"prev_us".isNull || $"t_us" - $"prev_us" > SessionGapUs, 1L)
          .otherwise(0L))
      .withColumn("sess", sum($"new_sess").over(
        wSeq.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    sessions
      .groupBy($"user_id", $"sess")
      .agg(array_join(
        transform(
          array_sort(collect_list(struct($"t_us", $"event_id", $"event_type"))),
          e => e.getField("event_type")), ">").as("path"))
      .groupBy($"path")
      .agg(count(lit(1)).as("n_sessions"))
      .orderBy($"n_sessions".desc, $"path")
      .limit(PathTake)
  }

  val q226Sql: String =
    s"""WITH ev AS (
       |  SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS t_us,
       |         event_type
       |  FROM events),
       |seq AS (
       |  SELECT *, LAG(t_us) OVER (PARTITION BY user_id
       |    ORDER BY t_us, event_id) AS prev_us
       |  FROM ev),
       |sess AS (
       |  SELECT *, SUM(CASE WHEN prev_us IS NULL
       |      OR t_us - prev_us > $SessionGapUs THEN 1 ELSE 0 END)
       |    OVER (PARTITION BY user_id ORDER BY t_us, event_id
       |          ROWS UNBOUNDED PRECEDING) AS sess
       |  FROM seq),
       |paths AS (
       |  SELECT user_id, sess,
       |    STRING_AGG(event_type, '>' ORDER BY t_us, event_id) AS path
       |  FROM sess GROUP BY user_id, sess)
       |SELECT path, CAST(COUNT(*) AS BIGINT) AS n_sessions
       |FROM paths GROUP BY path
       |ORDER BY n_sessions DESC, path
       |LIMIT $PathTake""".stripMargin

  /** The q270 pattern book: (name, regex) over single-letter session
    * paths (c=click, e=error, p=purchase, s=signup, v=view — first
    * letters are unique). Search semantics on both engines (Spark
    * RLIKE = Java find, DuckDB regexp_matches = RE2 search); the
    * patterns stay inside the Java∩RE2 dialect (the q256 discipline:
    * literal classes, `+`/`*`/`.`, anchors — no backrefs, no
    * lookaround).
    */
  val Patterns: Seq[(String, String)] = Seq(
    ("browse_to_buy", "v[vc]*p"),
    ("error_retry", "e[^e]*e"),
    ("pure_browsing", "^[vc]+$"),
    ("signup_to_purchase", "s.*p"))

  /** q270 — MATCH_RECOGNIZE-lite: regex pattern detection over session
    * event sequences. Each session (q120/q226's 30-min gap cut)
    * becomes its single-letter type string; each business pattern —
    * funnel completion, error recurrence, bounce-less browsing,
    * same-session activation — is one regex, reported with matching
    * session and user counts. The row-pattern-matching surface
    * (SQL:2016 MATCH_RECOGNIZE, Flink CEP) reduced to
    * sessionize + string-encode + regex, which composes with every
    * other operator instead of needing its own engine.
    *
    * Scale shape: sessionization is q226's two windows on one user
    * partitioning; the path frame (one row per session) is then
    * scanned once per pattern with a CONSTANT regex (codegen-cached) —
    * 4 narrow aggregates over a frame already orders of magnitude
    * smaller than events; a single-pass spelling would trade that for
    * a non-constant pattern column and lose the regex cache.
    */
  val q270PathPatterns: Q = (s, dir) => {
    import s.implicits._
    val ev = T.events(s, dir)
      .select($"user_id", $"event_id", unix_micros($"ts").as("t_us"),
        substring($"event_type", 1, 1).as("code"))
    val wSeq = Window.partitionBy($"user_id").orderBy($"t_us", $"event_id")
    // sessionize once, scan per pattern
    val paths = PlanBridge.checkpointResetStats(ev
      .withColumn("prev_us", lag($"t_us", 1).over(wSeq))
      .withColumn("new_sess",
        when($"prev_us".isNull || $"t_us" - $"prev_us" > SessionGapUs, 1L)
          .otherwise(0L))
      .withColumn("sess", sum($"new_sess").over(
        wSeq.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy($"user_id", $"sess")
      .agg(array_join(
        transform(
          array_sort(collect_list(struct($"t_us", $"event_id", $"code"))),
          e => e.getField("code")), "").as("path")))
    Patterns.map { case (name, re) =>
      paths.filter($"path".rlike(re))
        .agg(count(lit(1)).as("n_sessions"),
          countDistinct($"user_id").as("n_users"))
        .select(lit(name).as("pattern"), $"n_sessions", $"n_users")
    }.reduce(_ unionAll _)
      .orderBy($"pattern")
  }

  val q270Sql: String = {
    val perPattern = Patterns.map { case (name, re) =>
      s"""SELECT '$name' AS pattern,
         |  CAST(COUNT(*) AS BIGINT) AS n_sessions,
         |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
         |FROM paths WHERE regexp_matches(path, '$re')""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH ev AS (
       |  SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS t_us,
       |         left(event_type, 1) AS code
       |  FROM events),
       |seq AS (
       |  SELECT *, LAG(t_us) OVER (PARTITION BY user_id
       |    ORDER BY t_us, event_id) AS prev_us
       |  FROM ev),
       |sess AS (
       |  SELECT *, SUM(CASE WHEN prev_us IS NULL
       |      OR t_us - prev_us > $SessionGapUs THEN 1 ELSE 0 END)
       |    OVER (PARTITION BY user_id ORDER BY t_us, event_id
       |          ROWS UNBOUNDED PRECEDING) AS sess
       |  FROM seq),
       |paths AS (
       |  SELECT user_id, sess,
       |    STRING_AGG(code, '' ORDER BY t_us, event_id) AS path
       |  FROM sess GROUP BY user_id, sess)
       |$perPattern
       |ORDER BY pattern""".stripMargin
  }

  /** q284 result width; sequences are strict (support desc, seq asc)
    * total-ordered so the cut is engine-independent.
    */
  val SeqPatternTake = 20

  /** q284 — SEQUENTIAL PATTERN MINING (PrefixSpan-family support
    * counting, length-3): the top ordered event-type subsequences by
    * user support — "which behavioral orderings are common" across
    * whole user histories, the mining generalization of q150's
    * single-step transitions and q270's fixed-pattern matching (here
    * the patterns are DISCOVERED, not given). Subsequence = order
    * preserved, gaps allowed; support = distinct users containing it
    * at least once.
    *
    * Scale shape: DISTINCT subsequences are detected in-group by the
    * classic one-pass subsequence DP — for each code c in history
    * order, every already-seen pair extends to a triple ending in c
    * and every seen single to a pair — O(h·|alphabet|²) per user with
    * ≤ |alphabet|³ set entries, NEVER the C(h, 3) enumeration (a
    * 67-event history has 48k position triples but at most 125
    * distinct patterns; the position-enumeration spelling measured
    * 18.6 s at sf0.1, this one 0.8 s). Two shuffles total: the
    * per-user fold, the support count. DuckDB replays the declarative
    * three-way-join spelling — same answer, which is the point of the
    * oracle.
    */
  val q284SeqPatterns: Q = (s, dir) => {
    import s.implicits._
    val perUser = T.events(s, dir)
      .select($"user_id", $"event_id", unix_micros($"ts").as("t"),
        substring($"event_type", 1, 1).as("code"))
      .groupBy($"user_id")
      .agg(transform(
        array_sort(collect_list(struct($"t", $"event_id", $"code"))),
        e => e.getField("code")).as("codes"))
      .as[(Long, Seq[String])]
    val triples = perUser.flatMap { case (u, cs) =>
      val singles = scala.collection.mutable.LinkedHashSet.empty[String]
      val pairs = scala.collection.mutable.LinkedHashSet.empty[String]
      val trips = scala.collection.mutable.LinkedHashSet.empty[String]
      cs.foreach { c =>
        // order matters: triples extend PRE-existing pairs, pairs
        // extend pre-existing singles — positions stay strictly
        // increasing, c never pairs with itself
        pairs.foreach(p => trips += (p + c))
        singles.foreach(s1 => pairs += (s1 + c))
        singles += c
      }
      trips.iterator.map((u, _))
    }
    triples.toDF("user_id", "seq")
      .groupBy($"seq").agg(count(lit(1)).as("support"))
      .orderBy($"support".desc, $"seq")
      .limit(SeqPatternTake)
  }

  val q284Sql: String =
    s"""WITH seq AS (
       |  SELECT user_id,
       |    ROW_NUMBER() OVER (PARTITION BY user_id
       |      ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id) AS pos,
       |    left(event_type, 1) AS code
       |  FROM events),
       |trip AS (
       |  SELECT DISTINCT a.user_id, a.code || b.code || c.code AS seq
       |  FROM seq a
       |  JOIN seq b ON a.user_id = b.user_id AND a.pos < b.pos
       |  JOIN seq c ON b.user_id = c.user_id AND b.pos < c.pos)
       |SELECT seq, CAST(COUNT(*) AS BIGINT) AS support
       |FROM trip GROUP BY seq
       |ORDER BY support DESC, seq
       |LIMIT $SeqPatternTake""".stripMargin

  /** q305 — MARKOV NEXT-EVENT baseline + in-engine accuracy eval: fit
    * the first-order transition argmax (per current event type, the
    * most frequent next type — q150's matrix reduced to a predictor)
    * and score it against the SAME transitions — the
    * train-predict-evaluate loop of a baseline model run entirely as
    * one declarative pipeline, and the yardstick every sequence model
    * must beat. All integers: transition counts, argmax ties to the
    * alphabetically first type (pinned by the sort), accuracy as the
    * exact (n_correct, n_total) pair, no float anywhere.
    *
    * Scale shape: transitions come from ONE keyed lead window (no
    * self-join of the stream); the model is a |types|² aggregate whose
    * argmax runs on that tiny frame; scoring re-joins the model to
    * the transition frame by the |types|-key BROADCAST.
    */
  val q305MarkovBaseline: Q = (s, dir) => {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val trans = PlanBridge.checkpointResetStats(T.events(s, dir)
      .select($"user_id", $"ts", $"event_id", $"event_type".as("cur"))
      .withColumn("nxt", lead($"cur", 1).over(w))
      .filter($"nxt".isNotNull)
      .select($"cur", $"nxt")) // consumed by both the fit and the eval
    val wArg = Window.partitionBy($"cur").orderBy($"n".desc, $"nxt".asc)
    val model = trans.groupBy($"cur", $"nxt")
      .agg(count(lit(1)).as("n"))
      .withColumn("rk", row_number().over(wArg))
      .filter($"rk" === 1)
      .select($"cur", $"nxt".as("pred_next"))
    trans.join(broadcast(model), "cur")
      .groupBy($"cur")
      .agg(max($"pred_next").as("pred_next"), // constant per cur
        count(lit(1)).as("n_total"),
        sum(when($"nxt" === $"pred_next", 1L).otherwise(0L)).as("n_correct"))
      .orderBy($"cur")
  }

  val q305Sql: String =
    """WITH trans AS (
      |  SELECT cur, nxt FROM (
      |    SELECT event_type AS cur,
      |      LEAD(event_type, 1) OVER (PARTITION BY user_id
      |        ORDER BY CAST(ts AS TIMESTAMP), event_id) AS nxt
      |    FROM events)
      |  WHERE nxt IS NOT NULL),
      |model AS (
      |  SELECT cur, nxt AS pred_next FROM (
      |    SELECT cur, nxt, COUNT(*) AS n,
      |      ROW_NUMBER() OVER (PARTITION BY cur
      |        ORDER BY COUNT(*) DESC, nxt ASC) AS rk
      |    FROM trans GROUP BY cur, nxt)
      |  WHERE rk = 1)
      |SELECT cur, MAX(pred_next) AS pred_next,
      |  CAST(COUNT(*) AS BIGINT) AS n_total,
      |  CAST(SUM(CASE WHEN nxt = pred_next THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_correct
      |FROM trans JOIN model USING (cur)
      |GROUP BY cur ORDER BY cur""".stripMargin

  /** q363 integer absorption solve — Jacobi iteration with EXACT
    * integer arithmetic per step: p'ᵢ = (Σⱼ nᵢⱼ·pⱼ) div nᵢ with
    * p(CONV) = 10⁶, p(NULL) = 0, removed channel pinned to 0. From
    * the all-zero start each update is monotone nondecreasing and
    * bounded, so the integer sequence converges; every term is a
    * BIGINT product/sum/div — no float order-dependence anywhere.
    */
  def absorptionMicro(trans: Seq[(String, String, Long)],
      removed: Option[String], iters: Int = 60): Long = {
    val states = (trans.map(_._1) ++ trans.map(_._2)).distinct
      .filterNot(s => s == "CONV" || s == "NULL")
    val outDeg = trans.groupBy(_._1).map { case (f, ts) =>
      f -> ts.map(_._3).sum
    }
    val byFrom = trans.groupBy(_._1)
    var p = states.map(_ -> 0L).toMap
    def pOf(cur: Map[String, Long], s: String): Long = s match {
      case "CONV" => 1000000L
      case "NULL" => 0L
      case x if removed.contains(x) => 0L
      case x => cur.getOrElse(x, 0L)
    }
    for (_ <- 1 to iters) {
      val prev = p
      p = states.map { st =>
        if (removed.contains(st)) st -> 0L
        else {
          val n = outDeg.getOrElse(st, 0L)
          if (n == 0L) st -> 0L
          else st -> byFrom(st).map { case (_, to, c) =>
            c * pOf(prev, to)
          }.sum / n
        }
      }.toMap
    }
    p.getOrElse("START", 0L)
  }

  /** q363 — MARKOV REMOVAL-EFFECT attribution (the data-driven model
    * completing the attribution family: q148 last-touch, q225 linear,
    * q299 position-based — this one, Anderl et al. 2016's industry
    * standard, asks the chain itself "how much conversion disappears
    * if channel c vanishes?"): journeys truncate at the FIRST
    * purchase (CONV) or end in NULL; transition counts are exact from
    * one keyed lead window; absorption probabilities come from the
    * INTEGER Jacobi fixpoint above — engine-internal but float-free,
    * so the spec pins closed-form chains to the exact rational.
    *
    * Output rows are the (from, to, n) transition matrix — fully
    * data-derivable, value-compared by the oracle — with the `ok`
    * fold carrying the solve's invariants: p_full ∈ (0, 10⁶], every
    * removal effect in [0, p_full], and iteration-60 = iteration-61
    * at START (converged, not truncated).
    *
    * Scale shape: ONE keyed lead window builds transitions (q305's
    * shape + truncation); the solve runs on the |states|²-bounded
    * collected matrix — model-sized, never row-sized.
    */
  val q363MarkovAttribution: Q = (s, dir) => {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"t_us", $"event_id")
    val ev = T.events(s, dir)
      .select($"user_id", unix_micros($"ts").as("t_us"), $"event_id",
        when($"event_type" === "purchase", "CONV")
          .otherwise($"event_type").as("st"))
      .withColumn("rn", row_number().over(w))
    val firstConv = ev.filter($"st" === "CONV")
      .groupBy($"user_id").agg(min($"rn").as("rp"))
    // feeds START rows and the lead window
    val kept = PlanBridge.checkpointResetStats(
      ev.join(firstConv, Seq("user_id"), "left")
        .filter($"rp".isNull || $"rn" <= $"rp"))
    val wk = Window.partitionBy($"user_id").orderBy($"rn")
    val trans = kept.filter($"rn" === 1)
      .select(lit("START").as("from_state"), $"st".as("to_state"))
      .unionByName(kept
        .withColumn("nxt", lead($"st", 1).over(wk))
        .filter($"st" =!= "CONV")
        .select($"st".as("from_state"),
          coalesce($"nxt", lit("NULL")).as("to_state")))
      .groupBy($"from_state", $"to_state")
      .agg(count(lit(1)).as("n"))
    val rows = trans.as[(String, String, Long)].collect().toSeq
    val pFull = absorptionMicro(rows, None)
    val pFull61 = absorptionMicro(rows, None, 61)
    val channels = rows.map(_._1).distinct
      .filterNot(s => s == "START" || s == "CONV" || s == "NULL")
    val removals = channels.map(c => pFull - absorptionMicro(rows, Some(c)))
    val ok = pFull > 0L && pFull <= 1000000L && pFull == pFull61 &&
      removals.forall(r => r >= 0L && r <= pFull)
    trans.withColumn("ok", lit(ok)).orderBy($"from_state", $"to_state")
  }

  val q363Sql: String =
    """WITH e AS (
      |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS t_us, event_id,
      |    CASE WHEN event_type = 'purchase' THEN 'CONV'
      |         ELSE event_type END AS st
      |  FROM events),
      |r AS (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
      |    ORDER BY t_us, event_id) AS rn
      |  FROM e),
      |fc AS (SELECT user_id, MIN(rn) AS rp FROM r
      |       WHERE st = 'CONV' GROUP BY user_id),
      |k AS (
      |  SELECT r.* FROM r LEFT JOIN fc USING (user_id)
      |  WHERE fc.rp IS NULL OR r.rn <= fc.rp),
      |b AS (
      |  SELECT st, LEAD(st) OVER (PARTITION BY user_id ORDER BY rn)
      |    AS nxt
      |  FROM k),
      |t AS (
      |  SELECT 'START' AS from_state, st AS to_state FROM k WHERE rn = 1
      |  UNION ALL
      |  SELECT st, COALESCE(nxt, 'NULL') FROM b WHERE st <> 'CONV')
      |SELECT from_state, to_state, CAST(COUNT(*) AS BIGINT) AS n,
      |  TRUE AS ok
      |FROM t GROUP BY from_state, to_state
      |ORDER BY from_state, to_state""".stripMargin

  /** q378 — SHAPLEY-VALUE attribution (Shapley 1953 via the marketing
    * coalition game of Zhao et al. 2018 — the axiomatic end of the
    * attribution family: q148 last-touch, q225 linear, q299 position,
    * q363 Markov removal; Shapley is the UNIQUE allocation satisfying
    * efficiency/symmetry/dummy/additivity): players are the channels,
    * v(S) = number of conversions whose pre-purchase touched-channel
    * set ⊆ S ("how many conversions survive if only S existed"),
    * φ_c = Σ_{S∌c} |S|!(k−1−|S|)!/k!·(v(S∪c)−v(S)). Everything is
    * EXACT INTEGER: journeys collapse to a ≤2^k-row (t_mask, n)
    * histogram (channel index → bit), v is a mask-containment join,
    * weights are factorial products kept UNSCALED (φ_perm = k!·φ —
    * integer), and efficiency Σφ_perm = k!(v(C)−v(∅)) is the spec's
    * closed-form check. Share is one micro-quantized division.
    *
    * Scale shape: corpus work is one keyed first-purchase window + one
    * distinct (user, channel) agg; the subset enumeration, v solve and
    * φ fold all run on 2^k-bounded frames (k = #channels, 3 here) —
    * model-sized, never row-sized.
    */
  val q378Shapley: Q = (s, dir) => {
    import s.implicits._
    shapleyOf(T.events(s, dir)
      .select($"user_id", unix_micros($"ts").as("t_us"), $"event_id",
        $"event_type"))
  }

  /** The Shapley solve over any (user_id, t_us, event_id, event_type)
    * frame — the spec pins closed-form hand games against it.
    */
  def shapleyOf(events: DataFrame): DataFrame = {
    val s = events.sparkSession
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"t_us", $"event_id")
    val ev = events
      .withColumn("rn", row_number().over(w))
    val firstConv = ev.filter($"event_type" === "purchase")
      .groupBy($"user_id").agg(min($"rn").as("rp"))
    // converted users' distinct pre-purchase channels
    // feeds the channel index and the masks
    val touched = PlanBridge.checkpointResetStats(
      ev.join(firstConv, Seq("user_id"))
        .filter($"rn" < $"rp" && $"event_type" =!= "purchase")
        .select($"user_id", $"event_type".as("channel")).distinct())
    val chan = touched.select($"channel").distinct()
      .withColumn("i", row_number().over(Window.orderBy($"channel")) - 1)
    val k = chan.count().toInt
    val conv = firstConv.select($"user_id")
    val tmask = conv.join(
        touched.join(broadcast(chan), "channel")
          .groupBy($"user_id").agg(sum(expr("CAST(pow(2, i) AS BIGINT)"))
            .as("m")),
        Seq("user_id"), "left")
      .na.fill(0L, Seq("m"))
    // ≤2^k rows; feeds every v(S) probe
    val hist = PlanBridge.checkpointResetStats(
      tmask.groupBy($"m").agg(count(lit(1)).as("n_conv")))
    val masks = s.range(0, 1L << k).select($"id".as("smask"))
    val v = PlanBridge.checkpointResetStats(
      masks.join(hist, expr("(m & ~smask) = 0"), "left")
        .groupBy($"smask").agg(coalesce(sum($"n_conv"), lit(0L)).as("v")))
    val phi = broadcast(chan)
      .join(v.select($"smask", $"v".as("v_s")),
        expr("(smask & CAST(pow(2, i) AS BIGINT)) = 0"))
      .join(v.select($"smask".as("smask_i"), $"v".as("v_si")),
        expr("smask_i = smask + CAST(pow(2, i) AS BIGINT)"))
      .groupBy($"channel")
      .agg(sum(expr(
        s"""factorial(bit_count(smask)) *
           |factorial(${k - 1} - bit_count(smask)) *
           |(v_si - v_s)""".stripMargin)).cast("long").as("phi_perm"))
    val tot = phi.agg(sum($"phi_perm").as("phi_tot"))
    phi.crossJoin(broadcast(tot))
      .select($"channel", $"phi_perm",
        expr("""CASE WHEN phi_tot = 0 THEN 0 ELSE
               |CAST(FLOOR(1000000.0 * CAST(phi_perm AS DOUBLE)
               |  / CAST(phi_tot AS DOUBLE)) AS BIGINT) END""".stripMargin)
          .as("share_micro"))
      .orderBy($"channel")
  }

  val q378Sql: String =
    """WITH e AS (
      |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS t_us, event_id,
      |    event_type,
      |    ROW_NUMBER() OVER (PARTITION BY user_id
      |      ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id) AS rn
      |  FROM events),
      |fc AS (SELECT user_id, MIN(rn) AS rp FROM e
      |       WHERE event_type = 'purchase' GROUP BY user_id),
      |touched AS (
      |  SELECT DISTINCT e.user_id, e.event_type AS channel
      |  FROM e JOIN fc USING (user_id)
      |  WHERE e.rn < fc.rp AND e.event_type <> 'purchase'),
      |chan AS (
      |  SELECT channel,
      |    ROW_NUMBER() OVER (ORDER BY channel) - 1 AS i
      |  FROM (SELECT DISTINCT channel FROM touched)),
      |kk AS (SELECT CAST(COUNT(*) AS BIGINT) AS k FROM chan),
      |tmask AS (
      |  SELECT fc.user_id, COALESCE(tm.m, 0) AS m
      |  FROM fc LEFT JOIN (
      |    SELECT user_id,
      |      CAST(SUM(CAST(pow(2, i) AS BIGINT)) AS BIGINT) AS m
      |    FROM touched JOIN chan USING (channel) GROUP BY user_id) tm
      |  USING (user_id)),
      |hist AS (SELECT m, CAST(COUNT(*) AS BIGINT) AS n_conv
      |         FROM tmask GROUP BY m),
      |masks AS (
      |  SELECT CAST(s AS BIGINT) AS smask
      |  FROM kk, UNNEST(range(0, CAST(pow(2, k) AS BIGINT))) t(s)),
      |v AS (
      |  SELECT smask,
      |    CAST(COALESCE(SUM(n_conv), 0) AS BIGINT) AS v
      |  FROM masks LEFT JOIN hist ON (m & ~smask) = 0
      |  GROUP BY smask),
      |phi AS (
      |  SELECT channel,
      |    CAST(SUM(factorial(CAST(bit_count(vs.smask) AS INTEGER))
      |      * factorial(CAST(k - 1 - bit_count(vs.smask) AS INTEGER))
      |      * (vsi.v - vs.v)) AS BIGINT) AS phi_perm
      |  FROM chan CROSS JOIN kk
      |  JOIN v vs ON (vs.smask & CAST(pow(2, i) AS BIGINT)) = 0
      |  JOIN v vsi ON vsi.smask = vs.smask + CAST(pow(2, i) AS BIGINT)
      |  GROUP BY channel)
      |SELECT channel, phi_perm,
      |  CASE WHEN (SELECT SUM(phi_perm) FROM phi) = 0 THEN 0 ELSE
      |    CAST(FLOOR(1000000.0 * CAST(phi_perm AS DOUBLE)
      |      / CAST((SELECT SUM(phi_perm) FROM phi) AS DOUBLE)) AS BIGINT)
      |  END AS share_micro
      |FROM phi
      |ORDER BY channel""".stripMargin

  /** q425 — TIME-TO-CONVERT percentiles (the funnel-latency readout
    * next to q94's conversion COUNT: "half our converts buy within X,
    * the slow tail within Y" — the number that sets remarketing-window
    * and attribution-lookback policy): per converting user the exact
    * µs gap from first touch (signup/view/click) to first purchase
    * AFTER it; p50/p90 by exact lower-rank selection (q356 dual-rank
    * discipline, ties by user), all integers.
    *
    * Scale shape: one per-user conditional collapse (min touch, min
    * later purchase via one keyed agg pair) + rank selection on the
    * converts-bounded duration frame.
    */
  val q425TimeToConvert: Q = (s, dir) => {
    import s.implicits._
    val ev = T.events(s, dir)
      .select($"user_id", unix_micros($"ts").as("t_us"), $"event_type")
    val firstTouch = ev.filter($"event_type".isin("signup", "view", "click"))
      .groupBy($"user_id").agg(min($"t_us").as("t0"))
    // count + two rank probes
    val durs = PlanBridge.checkpointResetStats(
      ev.filter($"event_type" === "purchase")
        .join(firstTouch, "user_id")
        .filter($"t_us" >= $"t0")
        .groupBy($"user_id", $"t0").agg(min($"t_us").as("tp"))
        .select($"user_id", ($"tp" - $"t0").as("dur_us")))
    val n = durs.count()
    // r18 (verdict item 5): the global rank over the per-user duration
    // frame was a one-task window at scale — two-level scan instead
    val ranked = graft.relational.QuantileNormalize.fullRankGlobal(
      durs, Seq($"dur_us".asc, $"user_id".asc), "rk")
    val k50 = (n + 1) / 2
    val k90 = math.min((9L * n + 9L) / 10L, n)
    val p50 = ranked.filter($"rk" === k50).select($"dur_us")
      .as[Long].head()
    val p90 = ranked.filter($"rk" === k90)
      .select($"dur_us").as[Long].head()
    Seq((n, p50, p90)).toDF("n_converted", "p50_us", "p90_us")
  }

  val q425Sql: String =
    """WITH e AS (
      |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS t_us, event_type
      |  FROM events),
      |ft AS (SELECT user_id, MIN(t_us) AS t0 FROM e
      |       WHERE event_type IN ('signup', 'view', 'click')
      |       GROUP BY user_id),
      |durs AS (
      |  SELECT e.user_id, MIN(e.t_us) - ANY_VALUE(ft.t0) AS dur_us
      |  FROM e JOIN ft USING (user_id)
      |  WHERE e.event_type = 'purchase' AND e.t_us >= ft.t0
      |  GROUP BY e.user_id),
      |r AS (
      |  SELECT dur_us,
      |    CAST(ROW_NUMBER() OVER (ORDER BY dur_us, user_id) AS BIGINT) AS rk,
      |    CAST(COUNT(*) OVER () AS BIGINT) AS n
      |  FROM durs)
      |SELECT ANY_VALUE(n) AS n_converted,
      |  MIN(CASE WHEN rk = (n + 1) // 2 THEN dur_us END) AS p50_us,
      |  MIN(CASE WHEN rk = least((9 * n + 9) // 10, n) THEN dur_us END)
      |    AS p90_us
      |FROM r""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("q464_time_decay_attribution", q464TimeDecayAttribution, q464Sql),
    Entry("q425_time_to_convert", q425TimeToConvert, q425Sql),
    Entry("q378_shapley_attribution", q378Shapley, q378Sql),
    Entry("q363_markov_attribution", q363MarkovAttribution, q363Sql),
    Entry("q305_markov_baseline", q305MarkovBaseline, q305Sql),
    Entry("q225_multi_touch", q225MultiTouch, q225Sql),
    Entry("q226_session_paths", q226SessionPaths, q226Sql),
    Entry("q270_path_patterns", q270PathPatterns, q270Sql),
    Entry("q284_seq_patterns", q284SeqPatterns, q284Sql))
}
