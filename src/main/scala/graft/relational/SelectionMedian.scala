package graft.relational

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.PlanBridge

import graft.core.{Entry, Tables => T}

/** Two-pass DISTRIBUTED SELECTION for the exact grouped median — the
  * algorithm that replaces q90's rank-window spelling when groups are
  * too big to sort: a window median sorts EVERY group's rows
  * (n·log n shuffle-and-sort per group); selection finds the k-th
  * element with (1) one partial-aggregated HISTOGRAM pass over
  * fixed-width value buckets, (2) a cumulative scan of the bucket
  * frame — bounded by value-range/width, not rows — to locate the
  * bucket holding rank k and the residual rank within it, and (3) one
  * window over ONLY that bucket's rows (expected n/buckets of the
  * group). The classic external-selection recipe (Blum et al.'s
  * selection problem in its bucketed engineering form), exact because
  * values are integers and buckets tile the domain.
  *
  * Median convention: k = (n+1) div 2 — the lower median, identical
  * to `percentile_disc(0.5)` in both engines, all-integer.
  *
  * Scale shape: pass 1 is one groupBy (group, bucket) partial agg;
  * the bucket frame gets one keyed cumulative window (bounded rows);
  * pass 3 joins the (group, target-bucket, residual) frame — one row
  * per group, broadcast — back to the data as a bucket-pruned filter,
  * so the final sort touches ~1/buckets of each group. No global
  * sort, no full-group window anywhere.
  */
object SelectionMedian {

  import Entry.Q

  /** Bucket width in cents: extendedprice spans ~[90k, 11M] cents, so
    * ~10k buckets — the bucket frame stays thousands of rows per
    * group while pass 3 touches ~0.01% of each group.
    */
  val BucketCents = 1024L

  /** q307 — exact per-returnflag median of extendedprice (cents) by
    * two-pass selection.
    */
  val q307SelectionMedian: Q = (s, dir) => {
    import s.implicits._
    // two passes over the same frame
    val base = PlanBridge.checkpointResetStats(T.lineitem(s, dir)
      .select($"l_returnflag".as("g"),
        expr("CAST(FLOOR(100 * l_extendedprice) AS BIGINT)").as("x")))
    val hist = base
      .withColumn("b", expr(s"x div $BucketCents"))
      .groupBy($"g", $"b").agg(count(lit(1)).as("c"))
    val wCum = Window.partitionBy($"g").orderBy($"b")
      .rowsBetween(Window.unboundedPreceding, 0)
    val wAll = Window.partitionBy($"g")
    val located = hist
      .withColumn("cum", sum($"c").over(wCum))
      .withColumn("n", sum($"c").over(wAll))
      .withColumn("k", expr("(n + 1) div 2"))
      .filter($"cum" >= $"k" && $"cum" - $"c" < $"k")
      .select($"g".as("lg"), $"b".as("tb"), $"n",
        ($"k" - ($"cum" - $"c")).as("off"))
    val wIn = Window.partitionBy($"g").orderBy($"x")
    base
      .withColumn("b", expr(s"x div $BucketCents"))
      .join(broadcast(located), $"b" === $"tb" && $"g" === $"lg")
      .withColumn("rn", row_number().over(wIn))
      .filter($"rn" === $"off")
      .select($"g".as("l_returnflag"), $"n", $"x".as("median_cents"))
      .orderBy($"l_returnflag")
  }

  /** The oracle is the SPEC: percentile_disc(0.5) — what any number
    * of selection passes must equal.
    */
  val q307Sql: String =
    """SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(percentile_disc(0.5) WITHIN GROUP (
      |    ORDER BY CAST(FLOOR(100 * l_extendedprice) AS BIGINT)) AS BIGINT)
      |    AS median_cents
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  /** q310 percentile set (per-mille, so ranks stay integer):
    * p50/p95/p99 — the SLA-report triple.
    */
  val Pcts: Seq[Int] = Seq(500, 950, 990)

  /** q310 — exact grouped MULTI-PERCENTILE by the same two-pass
    * selection, ONE histogram serving every percentile: the SLA
    * latency report (p50/p95/p99 per event type) computed exactly
    * where `approx_percentile` (q84) trades error for memory — the
    * selection recipe needs neither the error nor the full sort. Rank
    * convention: k_p = ⌈p·n/1000⌉ (percentile_disc), all integer.
    * Pass 2 explodes the THREE target ranks against the one cumulative
    * bucket frame; pass 3 touches only the ≤3 located buckets per
    * group.
    *
    * Scale shape: identical to q307 — the histogram pass is shared
    * across all percentiles (the whole point: P percentiles cost ONE
    * data pass + P bucket probes, not P sorts).
    */
  val q310SelectionPercentiles: Q = (s, dir) => {
    import s.implicits._
    val base = PlanBridge.checkpointResetStats(T.events(s, dir)
      .select($"event_type".as("g"),
        expr("CAST(FLOOR(100 * value) AS BIGINT)").as("x")))
    val hist = base
      .withColumn("b", expr(s"x div $BucketCents"))
      .groupBy($"g", $"b").agg(count(lit(1)).as("c"))
    val wCum = Window.partitionBy($"g").orderBy($"b")
      .rowsBetween(Window.unboundedPreceding, 0)
    val wAll = Window.partitionBy($"g")
    val cum = hist
      .withColumn("cum", sum($"c").over(wCum))
      .withColumn("n", sum($"c").over(wAll))
    val pcts = s.createDataset(Pcts.map(_.toLong)).toDF("p")
    val located = cum.crossJoin(broadcast(pcts))
      .withColumn("k", expr("(p * n + 999) div 1000")) // ceil(p*n/1000)
      .filter($"cum" >= $"k" && $"cum" - $"c" < $"k")
      .select($"g".as("lg"), $"p", $"b".as("tb"), $"n",
        ($"k" - ($"cum" - $"c")).as("off"))
    val wIn = Window.partitionBy($"g", $"p").orderBy($"x")
    base
      .withColumn("b", expr(s"x div $BucketCents"))
      .join(broadcast(located), $"b" === $"tb" && $"g" === $"lg")
      .withColumn("rn", row_number().over(wIn))
      .filter($"rn" === $"off")
      .select($"g".as("event_type"), $"p", $"n", $"x".as("value_cents"))
      .orderBy($"event_type", $"p")
  }

  val q310Sql: String = Pcts.map { p =>
    s"""SELECT event_type, CAST($p AS BIGINT) AS p,
       |  CAST(COUNT(*) AS BIGINT) AS n,
       |  CAST(percentile_disc(${p / 1000.0}) WITHIN GROUP (
       |    ORDER BY CAST(FLOOR(100 * value) AS BIGINT)) AS BIGINT)
       |    AS value_cents
       |FROM events GROUP BY event_type""".stripMargin
  }.mkString("", "\nUNION ALL\n", "\nORDER BY event_type, p")

  /** q356 — exact 10%-TRIMMED MEAN per order priority (the robust
    * location estimate between q90's median and the plain mean — the
    * number a spend report quotes when outlier orders would swamp the
    * average) by DUAL-RANK selection: the same one-histogram recipe
    * locates BOTH cut values (the k-th and (n−k+1)-th order
    * statistics, k = n div 10) in one bucket probe each, and the
    * trimmed sum closes in ONE conditional aggregate with the
    * tie-corrected closed form
    * sum(k smallest) = sum(x < lo) + (k − cnt(x < lo))·lo —
    * the multiset of excluded values is tie-order-invariant, so this
    * equals the oracle's rank-window exclusion exactly. No full-group
    * sort or window anywhere; groups with n < 10 degrade to the plain
    * mean symmetrically in both engines (k = 0 ⇒ nothing excluded).
    */
  val q356TrimmedMean: Q = (s, dir) => {
    import s.implicits._
    val base = PlanBridge.checkpointResetStats(T.orders(s, dir)
      .select($"o_orderpriority".as("g"),
        expr("CAST(FLOOR(100 * o_totalprice) AS BIGINT)").as("x")))
    val hist = base
      .withColumn("b", expr(s"x div $BucketCents"))
      .groupBy($"g", $"b").agg(count(lit(1)).as("c"))
    val wCum = Window.partitionBy($"g").orderBy($"b")
      .rowsBetween(Window.unboundedPreceding, 0)
    val wAll = Window.partitionBy($"g")
    val cum = hist
      .withColumn("cum", sum($"c").over(wCum))
      .withColumn("n", sum($"c").over(wAll))
    val sides = s.createDataset(Seq("lo", "hi")).toDF("side")
    val located = cum.crossJoin(broadcast(sides))
      .withColumn("k", expr("n div 10"))
      .filter($"k" >= 1)
      .withColumn("tgt",
        when($"side" === "lo", $"k").otherwise($"n" - $"k" + 1))
      .filter($"cum" >= $"tgt" && $"cum" - $"c" < $"tgt")
      .select($"g".as("lg"), $"side", $"b".as("tb"),
        ($"tgt" - ($"cum" - $"c")).as("off"))
    val wIn = Window.partitionBy($"g", $"side").orderBy($"x")
    val cuts = base
      .withColumn("b", expr(s"x div $BucketCents"))
      .join(broadcast(located), $"b" === $"tb" && $"g" === $"lg")
      .withColumn("rn", row_number().over(wIn))
      .filter($"rn" === $"off")
      .groupBy($"g")
      .agg(max(when($"side" === "lo", $"x")).as("lo"),
        max(when($"side" === "hi", $"x")).as("hi"))
    base.join(broadcast(cuts), Seq("g"), "left")
      .groupBy($"g")
      .agg(count(lit(1)).as("n"), sum($"x").as("tot"),
        sum(when($"x" < $"lo", $"x").otherwise(0L)).as("slt"),
        sum(when($"x" < $"lo", 1L).otherwise(0L)).as("clt"),
        sum(when($"x" > $"hi", $"x").otherwise(0L)).as("sgt"),
        sum(when($"x" > $"hi", 1L).otherwise(0L)).as("cgt"),
        max(coalesce($"lo", lit(0L))).as("lov"),
        max(coalesce($"hi", lit(0L))).as("hiv"))
      .withColumn("k", expr("n div 10"))
      .withColumn("trimmed_sum",
        $"tot" - ($"slt" + ($"k" - $"clt") * $"lov")
          - ($"sgt" + ($"k" - $"cgt") * $"hiv"))
      .select($"g".as("o_orderpriority"), $"n",
        ($"n" - lit(2L) * $"k").as("n_kept"), $"trimmed_sum",
        (col("trimmed_sum").cast("double")
          / ($"n" - lit(2L) * $"k").cast("double"))
          .as("trimmed_mean_cents"))
      .orderBy($"o_orderpriority")
  }

  /** The oracle is the rank-window exclusion the selection recipe
    * must equal (tie-order-invariant by the multiset argument).
    */
  val q356Sql: String =
    """WITH b AS (
      |  SELECT o_orderpriority AS g,
      |    CAST(FLOOR(100 * o_totalprice) AS BIGINT) AS x
      |  FROM orders),
      |r AS (
      |  SELECT g, x,
      |    ROW_NUMBER() OVER (PARTITION BY g ORDER BY x) AS rn,
      |    COUNT(*) OVER (PARTITION BY g) AS n
      |  FROM b)
      |SELECT g AS o_orderpriority, CAST(MAX(n) AS BIGINT) AS n,
      |  CAST(MAX(n) - 2 * (MAX(n) // 10) AS BIGINT) AS n_kept,
      |  CAST(SUM(CASE WHEN rn > n // 10 AND rn <= n - n // 10
      |    THEN x ELSE 0 END) AS BIGINT) AS trimmed_sum,
      |  CAST(SUM(CASE WHEN rn > n // 10 AND rn <= n - n // 10
      |    THEN x ELSE 0 END) AS DOUBLE)
      |    / CAST(MAX(n) - 2 * (MAX(n) // 10) AS DOUBLE)
      |    AS trimmed_mean_cents
      |FROM r GROUP BY g
      |ORDER BY o_orderpriority""".stripMargin

  /** q366 — MAD ROBUST OUTLIER screen per group (median absolute
    * deviation — the robust σ with a 50% breakdown point; Iglewicz &
    * Hoaglin's |x − med| > 3.5·MAD/0.6745 screen is the standard
    * "flag spikes without letting the spikes move the threshold"
    * rule, where a mean±3σ screen lets one whale shift σ itself):
    * TWO chained selections — the group median by the q307 recipe,
    * then the median of |x − med| by the SAME recipe over the
    * deviation frame — and one conditional aggregate counts
    * violations of 0.6745·|x − med| > 3.5·MAD, cross-multiplied in
    * exact integers (6745·|dev| > 35000·MAD — no double anywhere in
    * the decision).
    *
    * Scale shape: two histogram passes + two single-bucket probes +
    * one count pass — never a full-group sort; the deviation frame
    * reuses the cached base.
    */
  val q366MadOutliers: Q = (s, dir) => {
    import s.implicits._
    val base = PlanBridge.checkpointResetStats(T.lineitem(s, dir)
      .select($"l_returnflag".as("g"),
        expr("CAST(FLOOR(100 * l_extendedprice) AS BIGINT)").as("x")))
    def medianOf(df: org.apache.spark.sql.DataFrame)
        : org.apache.spark.sql.DataFrame = {
      val hist = df.withColumn("b", expr(s"x div $BucketCents"))
        .groupBy($"g", $"b").agg(count(lit(1)).as("c"))
      val wCum = Window.partitionBy($"g").orderBy($"b")
        .rowsBetween(Window.unboundedPreceding, 0)
      val wAll = Window.partitionBy($"g")
      val located = hist
        .withColumn("cum", sum($"c").over(wCum))
        .withColumn("n", sum($"c").over(wAll))
        .withColumn("k", expr("(n + 1) div 2"))
        .filter($"cum" >= $"k" && $"cum" - $"c" < $"k")
        .select($"g".as("lg"), $"b".as("tb"),
          ($"k" - ($"cum" - $"c")).as("off"))
      val wIn = Window.partitionBy($"g").orderBy($"x")
      df.withColumn("b", expr(s"x div $BucketCents"))
        .join(broadcast(located), $"b" === $"tb" && $"g" === $"lg")
        .withColumn("rn", row_number().over(wIn))
        .filter($"rn" === $"off")
        .select($"g", $"x".as("med"))
    }
    val med = medianOf(base)
    val devs = PlanBridge.checkpointResetStats(base.join(broadcast(med), "g")
      .select($"g", abs($"x" - $"med").as("x")))
    val mad = medianOf(devs).withColumnRenamed("med", "mad")
    base.join(broadcast(med), "g").join(broadcast(mad), "g")
      .groupBy($"g")
      .agg(count(lit(1)).as("n"), max($"med").as("median_cents"),
        max($"mad").as("mad_cents"),
        sum(when(abs($"x" - $"med") * 6745L > $"mad" * 35000L, 1L)
          .otherwise(0L)).as("n_outliers"))
      .select($"g".as("l_returnflag"), $"n", $"median_cents",
        $"mad_cents", $"n_outliers")
      .orderBy($"l_returnflag")
  }

  /** Oracle: percentile_disc medians (the spec the selections must
    * equal) + the same integer cross-multiplied screen.
    */
  val q366Sql: String =
    """WITH b AS (
      |  SELECT l_returnflag AS g,
      |    CAST(FLOOR(100 * l_extendedprice) AS BIGINT) AS x
      |  FROM lineitem),
      |m AS (
      |  SELECT g, CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY x)
      |    AS BIGINT) AS med
      |  FROM b GROUP BY g),
      |md AS (
      |  SELECT b.g, CAST(percentile_disc(0.5) WITHIN GROUP (
      |    ORDER BY abs(x - med)) AS BIGINT) AS mad
      |  FROM b JOIN m USING (g) GROUP BY b.g)
      |SELECT b.g AS l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(MAX(med) AS BIGINT) AS median_cents,
      |  CAST(MAX(mad) AS BIGINT) AS mad_cents,
      |  CAST(SUM(CASE WHEN abs(x - med) * 6745 > mad * 35000
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
      |FROM b JOIN m USING (g) JOIN md USING (g)
      |GROUP BY b.g
      |ORDER BY l_returnflag""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("q366_mad_outliers", q366MadOutliers, q366Sql),
    Entry("q307_selection_median", q307SelectionMedian, q307Sql),
    Entry("q310_selection_percentiles", q310SelectionPercentiles, q310Sql),
    Entry("q356_trimmed_mean", q356TrimmedMean, q356Sql))
}
