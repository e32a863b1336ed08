package graft.relational

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.core.{Entry, Tables => T}
import graft.functions.GraftFunctions

/** Contract gates for the sketch aggregates: graft's native
  * Misra–Gries heavy hitters (q215, [[graft.functions.MisraGriesTopK]]),
  * Count-Min probe (q223) and reservoir sample (q306), and Spark's
  * built-in KLL quantile (q220) and theta set-algebra (q257) sketches.
  */
object SketchAggregates {

  import Entry.Q

  /** Summary capacity for the q215 gate: small enough that per-group
    * summaries stay trivially broadcastable, large enough that the
    * N/(k+1) slack is a meaningful fraction of real counts at sf0.01+.
    */
  val MgK = 16

  /** q215 — mg_topk contract gate, the q74 (n, ok) convention: per
    * l_returnflag group over lineitem, `ok` verifies IN THE QUERY both
    * MG guarantees against exact recomputation — every emitted key's
    * estimate within [exact − N/(k+1), exact], and every truly heavy
    * key (exact > N/(k+1)) present in the summary. The raw summary is
    * never hashed: which sub-threshold keys survive legitimately
    * varies with partitioning/merge order; the bounds do not.
    *
    * The key folds every 10th supplier into one hot key (suppkey%10=0
    * → 0), planting a key with ~N/10 > N/(k+1) mass in every group AT
    * EVERY SCALE — without it the uniform supplier distribution leaves
    * the heavy-key clause vacuous (no key crosses the threshold) and
    * the bound clause satisfied by any undercount, so a broken
    * merge/update could still emit ok=true; with the hot key, an MG
    * regression that loses more than N/(k+1) of its mass or evicts it
    * flips the row red.
    *
    * Scale shape: the sketch aggregation is ObjectHashAggregate with
    * full partial aggregation — each partition ships k counters per
    * group, not its value distribution; the exact-count check is one
    * extra aggregate over the same scan and exists only to gate.
    */
  val q215MgTopkGate: Q = (s, dir) => {
    GraftFunctions.register(s)
    import s.implicits._
    val k = MgK
    val li = T.lineitem(s, dir).select($"l_returnflag",
      when($"l_suppkey" % 10 === 0, lit(0L)).otherwise($"l_suppkey")
        .as("l_suppkey"))
    val mg = li.groupBy($"l_returnflag")
      .agg(expr(s"mg_topk(l_suppkey, $k)").as("summary"),
        count(lit(1)).as("n"))
    val est = mg.select($"l_returnflag", $"n", explode($"summary").as("e"))
      .select($"l_returnflag", $"n",
        $"e.key".as("l_suppkey"), $"e.est".as("est"))
    val exact = li.groupBy($"l_returnflag", $"l_suppkey")
      .agg(count(lit(1)).as("exact"))
    val slack = $"n".cast("double") / (k + 1)
    val bounds = est
      .join(exact, Seq("l_returnflag", "l_suppkey"), "left")
      .select($"l_returnflag",
        (coalesce($"exact", lit(0L)) >= $"est" &&
          (coalesce($"exact", lit(0L)) - $"est").cast("double") <= slack)
          .as("in_bound"))
      .groupBy($"l_returnflag").agg(min($"in_bound").as("bounds_ok"))
    val heavyPresent = exact
      .join(mg.select($"l_returnflag", $"n"), "l_returnflag")
      .filter($"exact".cast("double") > slack)
      .join(est.select($"l_returnflag", $"l_suppkey", lit(true).as("present")),
        Seq("l_returnflag", "l_suppkey"), "left")
      .groupBy($"l_returnflag")
      .agg(min(coalesce($"present", lit(false))).as("heavy_ok"))
    mg.select($"l_returnflag", $"n")
      .join(bounds, Seq("l_returnflag"), "left")
      .join(heavyPresent, Seq("l_returnflag"), "left")
      .select($"l_returnflag", $"n",
        (coalesce($"bounds_ok", lit(true)) &&
          coalesce($"heavy_ok", lit(true))).as("ok"))
      .orderBy($"l_returnflag")
  }

  val q215Sql: String =
    """SELECT l_returnflag, COUNT(*) AS n, TRUE AS ok
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  /** Sketch size and rank-error tolerance for the q220 gate. k=200
    * puts the KLL normalized rank error near 1.3% (datasketches' 99%
    * single-sided bound), so the 5% gate holds with margin while
    * staying meaningful (a broken merge or weight-losing compaction
    * lands tens of percent off).
    */
  val KllK = 200
  val KllNq = 10
  val KllEps = 0.05

  /** q220's read path: the quantiles of a `kll_sketch_agg_double`
    * sketch at fractions 0, 1/nq, …, 1, or NULL for an empty sketch
    * (an all-null group's), from which Spark's reader throws.
    */
  def kllQuantiles(sk: Column, nq: Int): Column =
    when(kll_sketch_get_n_double(sk) > 0L, kll_sketch_get_quantile_double(sk,
      array((0 to nq).map(j => lit(j.toDouble / nq)): _*)))

  /** q220 — KLL quantile contract gate, the q74 (n, ok) convention:
    * sketch `events.value` with Spark's `kll_sketch_agg_double`, read
    * the nq+1 quantiles with [[kllQuantiles]], then FOR EACH estimate
    * recompute the exact rank (count of values ≤ estimate) over the
    * same scan and require |rank − j·n/nq| ≤ [[KllEps]]·n. The raw sketch is never hashed — retained elements
    * legitimately vary with partitioning/merge order; the rank bound
    * does not.
    *
    * Scale shape: the sketch side is one aggregate with full partial
    * aggregation — every partition ships one O(k·log(n/k)) state,
    * never values. The exact ranks exist only to gate: one broadcast
    * of nq+1 estimate rows against a second scan.
    */
  val q220KllGate: Q = (s, dir) => {
    import s.implicits._
    val ev = T.events(s, dir).select($"value")
    val sk = ev.agg(kll_sketch_agg_double($"value", KllK).as("sk"),
        count(lit(1)).as("n"))
      .select($"n", kllQuantiles($"sk", KllNq).as("qs"))
    val est = sk.select($"n", posexplode($"qs"))
      .withColumnRenamed("pos", "j").withColumnRenamed("col", "est")
    val ranks = ev.crossJoin(broadcast(est))
      .groupBy($"j", $"est", $"n")
      .agg(sum(when($"value" <= $"est", 1L).otherwise(0L)).as("r"))
    ranks
      .select($"n",
        (abs($"r" - $"n" * $"j" / lit(KllNq.toDouble)) <= lit(KllEps) * $"n")
          .as("in_bound"))
      .groupBy($"n").agg(min($"in_bound").as("ok"))
      .select($"n", $"ok")
  }

  val q220Sql: String =
    """SELECT CAST(COUNT(*) AS BIGINT) AS n, TRUE AS ok FROM events""".stripMargin

  /** q223 CMS shape: eps·N additive overcount budget at `CmsConf`
    * per-key confidence; the undercount clause has NO tolerance (CMS
    * never undercounts — a violated lower bound means a broken merge,
    * not bad luck), while the overcount clause is probabilistic per
    * key (P ≈ 1−conf each), so the gate allows a 5% violating-key
    * fraction rather than requiring all keys in budget.
    */
  val CmsEps = 0.001
  val CmsConf = 0.99
  val CmsSeed = 42
  val CmsBadKeyFrac = 0.05

  /** q223 — cms_estimate probe gate, the q74 (n, ok) convention: build
    * one Count-Min sketch over `events.user_id` with Spark's own SQL
    * aggregate (`count_min_sketch` — the BUILD side Spark ships), then
    * probe EVERY distinct key through the native
    * [[graft.functions.CmsEstimate]] scalar (`cms_estimate` — the
    * PROBE side Spark lacks: before this, reading an estimate meant
    * `CountMinSketch.readFrom` on the driver, which is how q96 still
    * does it). `ok` = no key under exact count ∧ ≤5% of keys over
    * exact + eps·N.
    *
    * Scale shape: the sketch is one partial-aggregated pass (counter
    * arrays merge by addition); the probe side joins the 1-row sketch
    * frame as a broadcast against the per-key exact counts — the
    * estimate evaluation is distributed codegen, zero driver probing,
    * and the per-(thread, blob) sketch cache amortizes deserialization
    * across a partition's probes.
    */
  val q223CmsProbeGate: Q = (s, dir) => {
    GraftFunctions.register(s)
    import s.implicits._
    val ev = T.events(s, dir).select($"user_id")
    val sk = ev.agg(
      expr(s"count_min_sketch(user_id, ${CmsEps}d, ${CmsConf}d, $CmsSeed)")
        .as("cms"),
      count(lit(1)).as("n"))
    val exact = ev.groupBy($"user_id").agg(count(lit(1)).as("exact"))
    exact.crossJoin(broadcast(sk))
      .withColumn("est", expr("cms_estimate(cms, user_id)"))
      .agg(count(lit(1)).as("n_keys"),
        ((sum(when($"est" < $"exact", 1).otherwise(0)) === 0) &&
          (sum(when($"est" > $"exact" + ceil(lit(CmsEps) * $"n"), 1)
            .otherwise(0)) <= ceil(lit(CmsBadKeyFrac) * count(lit(1)))))
          .as("ok"))
  }

  val q223Sql: String =
    """SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_keys, TRUE AS ok
      |FROM events""".stripMargin

  /** q257 theta nominal size (2^12 entries) and tolerance. At every
    * test SF the distinct sides sit below 2^12, so the sketches run in
    * EXACT mode and the estimate equals the true intersection — the
    * ±1% band exists for the estimation regime past ~4k distinct keys
    * per side (ThetaSketchSpec forces that regime with lgK=4).
    */
  val ThetaLgK = 12
  val ThetaTol = 0.01

  /** q257 — theta-sketch INTERSECTION gate, the q74 (n, ok)
    * convention: audience overlap |viewers ∩ buyers| via Spark's
    * theta-sketch set algebra (`theta_sketch_agg`,
    * `theta_intersection`, `theta_sketch_estimate`) — the set
    * operation q170's HLL inclusion–exclusion can only approximate
    * with error scaling in |A∪B|; theta intersection error tracks the
    * RESULT. `ok` requires the sketch estimate within [[ThetaTol]] of
    * the exact overlap recomputed in the same query.
    *
    * Scale shape: two partial-aggregated sketch folds over one scan
    * each (per-partition states, union merge); the intersection is a
    * scalar expression over the two 1-row sketch frames; the exact
    * sides exist only to gate.
    */
  val q257ThetaIntersection: Q = (s, dir) => {
    import s.implicits._
    val ev = T.events(s, dir).select($"user_id", $"event_type")
    val ska = ev.filter($"event_type" === "view")
      .agg(theta_sketch_agg($"user_id", ThetaLgK).as("ska"))
    val skb = ev.filter($"event_type" === "purchase")
      .agg(theta_sketch_agg($"user_id", ThetaLgK).as("skb"))
    val exact = ev.agg(
      countDistinct(when($"event_type" === "view", $"user_id"))
        .as("n_viewers"),
      countDistinct(when($"event_type" === "purchase", $"user_id"))
        .as("n_buyers"))
    val both = ev.filter($"event_type" === "view").select($"user_id")
      .intersect(ev.filter($"event_type" === "purchase").select($"user_id"))
      .agg(count(lit(1)).as("n_both"))
    exact.crossJoin(both).crossJoin(ska).crossJoin(skb)
      .withColumn("est", theta_sketch_estimate(theta_intersection($"ska", $"skb")))
      .select($"n_viewers", $"n_buyers", $"n_both",
        (abs($"est" - $"n_both") <= lit(ThetaTol) * $"n_both" + lit(0.5))
          .as("ok"))
  }

  val q257Sql: String =
    """WITH v AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'view'),
      |b AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase')
      |SELECT (SELECT COUNT(*) FROM v) AS n_viewers,
      |  (SELECT COUNT(*) FROM b) AS n_buyers,
      |  (SELECT COUNT(*) FROM v JOIN b USING (user_id)) AS n_both,
      |  TRUE AS ok""".stripMargin

  /** q306 sample size per group. */
  val RsK = 5

  /** q306 — the native one-pass grouped k-sample aggregate
    * ([[graft.functions.ReservoirSample]], SQL `reservoir_sample`)
    * under the FULL hash gate — not an (n, ok) convention row: the
    * sample is a pure function of each group's id set (bottom-k by
    * md5 priority — order-, partitioning-, and merge-tree-independent
    * by the semilattice property), so DuckDB recomputes the exact
    * same ids with a ROW_NUMBER over the same md5 order. The q116
    * window spelling sorts every group's rows; this ships k ids per
    * group through an ObjectHashAggregate with full partial
    * aggregation — the one-pass form a 100 TB table needs.
    */
  val q306ReservoirSample: Q = (s, dir) => {
    GraftFunctions.register(s)
    import s.implicits._
    T.orders(s, dir)
      .join(T.customer(s, dir), $"o_custkey" === $"c_custkey")
      .select($"c_mktsegment".as("segment"), $"o_orderkey")
      .groupBy($"segment")
      .agg(expr(s"reservoir_sample(o_orderkey, $RsK)").as("ids"))
      .select($"segment", posexplode($"ids").as(Seq("pos0", "o_orderkey")))
      .select($"segment", ($"pos0" + 1).cast("long").as("pos"), $"o_orderkey")
      .orderBy($"segment", $"pos")
  }

  val q306Sql: String =
    s"""WITH oc AS (
       |  SELECT c_mktsegment AS segment, o_orderkey
       |  FROM orders JOIN customer ON o_custkey = c_custkey),
       |ranked AS (
       |  SELECT segment, o_orderkey,
       |    ROW_NUMBER() OVER (PARTITION BY segment
       |      ORDER BY substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 15),
       |        o_orderkey) AS pos
       |  FROM oc)
       |SELECT segment, CAST(pos AS BIGINT) AS pos, o_orderkey
       |FROM ranked WHERE pos <= $RsK
       |ORDER BY segment, pos""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("q306_reservoir_sample", q306ReservoirSample, q306Sql),
    Entry("q257_theta_intersection", q257ThetaIntersection, q257Sql),
    Entry("q215_mg_topk_gate", q215MgTopkGate, q215Sql),
    Entry("q220_kll_gate", q220KllGate, q220Sql),
    Entry("q223_cms_probe_gate", q223CmsProbeGate, q223Sql))
}
