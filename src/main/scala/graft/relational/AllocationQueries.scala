package graft.relational

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{Entry, Tables => T}

/** Sequential-allocation operators — the ETL shapes where each row's
  * answer depends on an ORDERED matching against other rows, which
  * naive SQL spells as correlated subqueries or procedural loops:
  * FIFO lot matching (inventory/cost-basis allocation), position-based
  * multi-touch attribution (the credit-splitting sibling of q148's
  * last-touch), and distributed ID-continuity auditing. Each is
  * re-expressed as windows + one bounded join, the Spark-native form.
  *
  * Cross-engine determinism: all-integer arithmetic throughout —
  * quantities are integral BIGINTs, credits are micro-quantized with
  * largest-remainder completion (they SUM exactly, no float ever).
  *
  * Reference anchor: none (the reference lists directories); [N] rows.
  */
object AllocationQueries {

  import Entry.Q

  /** q298 — FIFO lot matching via CUMULATIVE-INTERVAL overlap: per
    * part, 'N' lineitems are acquisition lots and 'R' lineitems are
    * disposals (both in (shipdate, orderkey, linenumber) order), and
    * each disposal consumes the earliest remaining lot quantity — the
    * inventory/cost-basis allocation every finance ETL runs, and a
    * classic "SQL can't do this" loop. The declarative form: map each
    * side to its cumulative-quantity interval [c_prev, c_cur) — lot i
    * holds units [cb0, cb1), disposal j consumes units [cs0, cs1) —
    * then FIFO matching IS interval intersection: matched(i,j) =
    * min(cb1, cs1) − max(cb0, cs0) where positive. No loop, no
    * recursion, no state; quantities are exact BIGINTs.
    *
    * Scale shape: two keyed cumulative windows (one per side) + one
    * per-part equi-join with the overlap range predicate. Candidate
    * pairs per part are quadratic in per-part rows BEFORE the filter
    * (fine at ≤ dozens of rows per key); a key with millions of rows
    * takes the q115 discipline — bin the cumulative axis and equi-join
    * on (part, bin) so candidates stay linear. Matches per part are
    * linear regardless (each match exhausts a lot or a disposal).
    */
  val q298FifoMatch: Q = (s, dir) => {
    import s.implicits._
    def side(flag: String, pfx: String) = {
      val w = Window.partitionBy($"l_partkey")
        .orderBy($"l_shipdate", $"l_orderkey", $"l_linenumber")
        .rowsBetween(Window.unboundedPreceding, 0)
      T.lineitem(s, dir)
        .filter($"l_returnflag" === flag)
        .select($"l_partkey", $"l_orderkey", $"l_linenumber",
          $"l_shipdate", expr("CAST(FLOOR(l_quantity) AS BIGINT)").as("q"))
        .withColumn("c1", sum($"q").over(w))
        .select($"l_partkey".as(s"${pfx}_part"),
          $"l_orderkey".as(s"${pfx}_orderkey"),
          $"l_linenumber".as(s"${pfx}_linenumber"),
          ($"c1" - $"q").as(s"${pfx}0"), $"c1".as(s"${pfx}1"))
    }
    val buys = side("N", "b")
    val sells = side("R", "s")
    buys.join(sells,
        $"b_part" === $"s_part" && $"b1" > $"s0" && $"s1" > $"b0")
      .select($"b_part".as("l_partkey"),
        $"b_orderkey", $"b_linenumber", $"s_orderkey", $"s_linenumber",
        (least($"b1", $"s1") - greatest($"b0", $"s0")).as("matched_qty"))
      .orderBy($"l_partkey", $"b_orderkey", $"b_linenumber",
        $"s_orderkey", $"s_linenumber")
  }

  val q298Sql: String =
    """WITH b AS (
      |  SELECT l_partkey, l_orderkey, l_linenumber,
      |    SUM(CAST(FLOOR(l_quantity) AS BIGINT)) OVER w
      |      - CAST(FLOOR(l_quantity) AS BIGINT) AS b0,
      |    SUM(CAST(FLOOR(l_quantity) AS BIGINT)) OVER w AS b1
      |  FROM lineitem WHERE l_returnflag = 'N'
      |  WINDOW w AS (PARTITION BY l_partkey
      |    ORDER BY l_shipdate, l_orderkey, l_linenumber
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |s AS (
      |  SELECT l_partkey, l_orderkey, l_linenumber,
      |    SUM(CAST(FLOOR(l_quantity) AS BIGINT)) OVER w
      |      - CAST(FLOOR(l_quantity) AS BIGINT) AS s0,
      |    SUM(CAST(FLOOR(l_quantity) AS BIGINT)) OVER w AS s1
      |  FROM lineitem WHERE l_returnflag = 'R'
      |  WINDOW w AS (PARTITION BY l_partkey
      |    ORDER BY l_shipdate, l_orderkey, l_linenumber
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
      |SELECT b.l_partkey,
      |  b.l_orderkey AS b_orderkey, b.l_linenumber AS b_linenumber,
      |  s.l_orderkey AS s_orderkey, s.l_linenumber AS s_linenumber,
      |  CAST(LEAST(b1, s1) - GREATEST(b0, s0) AS BIGINT) AS matched_qty
      |FROM b JOIN s ON b.l_partkey = s.l_partkey
      |  AND b1 > s0 AND s1 > b0
      |ORDER BY b.l_partkey, b_orderkey, b_linenumber,
      |  s_orderkey, s_linenumber""".stripMargin

  /** q299 lookback horizon (µs) — q148's window. */
  val MtaWindowUs: Long = 7L * 24 * 3600 * 1000000
  /** q299 U-shape endpoints weight (micro-units of 1). */
  val MtaEndMicro = 400000L

  /** q299 — POSITION-BASED (U-shaped) multi-touch attribution: each
    * purchase splits its one unit of credit over ALL its view/click
    * touches in the 7-day lookback — 40% first touch, 40% last, 20%
    * spread over the middles — where q148 gives the last touch
    * everything. Exactness: credits are micro-quantized BIGINTs with
    * LARGEST-REMAINDER completion (the floor remainder of the middle
    * pool goes to the earliest middles, one micro each), so every
    * conversion's credits sum to exactly 1,000,000 — an invariant a
    * float split cannot promise. n=1 takes all, n=2 splits 50/50.
    *
    * Scale shape: touches attach via ONE per-user equi-join with the
    * time-range predicate (per-user event counts bound the candidate
    * product; the as-of/bin disciplines apply beyond that); position
    * and count come from one window over the per-conversion touch
    * list. Output is one row per (conversion, touch).
    */
  val q299PositionAttribution: Q = (s, dir) => {
    import s.implicits._
    val ev = T.events(s, dir)
    val conv = ev.filter($"event_type" === "purchase")
      .select($"user_id", $"event_id".as("conv_id"),
        unix_micros($"ts").as("conv_us"))
    val touch = ev.filter($"event_type".isin("view", "click"))
      .select($"user_id", $"event_id".as("touch_id"),
        unix_micros($"ts").as("touch_us"))
    val joined = conv.join(touch, Seq("user_id"))
      .filter($"touch_us" < $"conv_us" &&
        $"touch_us" >= $"conv_us" - MtaWindowUs)
    val wPos = Window.partitionBy($"conv_id")
      .orderBy($"touch_us", $"touch_id")
    val wN = Window.partitionBy($"conv_id")
    val ranked = joined
      .withColumn("pos", row_number().over(wPos))
      .withColumn("n", count(lit(1)).over(wN))
    ranked.select($"user_id", $"conv_id", $"touch_id", $"pos", $"n",
        when($"n" === 1, lit(1000000L))
          .when($"n" === 2, lit(500000L))
          .when($"pos" === 1 || $"pos" === $"n", lit(MtaEndMicro))
          .otherwise( // middle pool: floor share + largest-remainder
            expr(s"(1000000 - 2 * $MtaEndMicro) div (n - 2)") +
              when($"pos" - 1 <=
                expr(s"(1000000 - 2 * $MtaEndMicro) % (n - 2)"), 1L)
                .otherwise(0L))
          .as("credit_micro"))
      .orderBy($"conv_id", $"pos")
  }

  val q299Sql: String =
    s"""WITH conv AS (
       |  SELECT user_id, event_id AS conv_id,
       |    epoch_us(CAST(ts AS TIMESTAMP)) AS conv_us
       |  FROM events WHERE event_type = 'purchase'),
       |touch AS (
       |  SELECT user_id, event_id AS touch_id,
       |    epoch_us(CAST(ts AS TIMESTAMP)) AS touch_us
       |  FROM events WHERE event_type IN ('view', 'click')),
       |joined AS (
       |  SELECT conv.user_id, conv_id, touch_id, touch_us
       |  FROM conv JOIN touch ON conv.user_id = touch.user_id
       |  WHERE touch_us < conv_us AND touch_us >= conv_us - $MtaWindowUs),
       |ranked AS (
       |  SELECT user_id, conv_id, touch_id,
       |    ROW_NUMBER() OVER (PARTITION BY conv_id
       |      ORDER BY touch_us, touch_id) AS pos,
       |    COUNT(*) OVER (PARTITION BY conv_id) AS n
       |  FROM joined)
       |SELECT user_id, conv_id, touch_id, CAST(pos AS BIGINT) AS pos,
       |  CAST(n AS BIGINT) AS n,
       |  CAST(CASE
       |    WHEN n = 1 THEN 1000000
       |    WHEN n = 2 THEN 500000
       |    WHEN pos = 1 OR pos = n THEN $MtaEndMicro
       |    ELSE (1000000 - 2 * $MtaEndMicro) // (n - 2)
       |      + CASE WHEN pos - 1 <= (1000000 - 2 * $MtaEndMicro) % (n - 2)
       |             THEN 1 ELSE 0 END
       |  END AS BIGINT) AS credit_micro
       |FROM ranked ORDER BY conv_id, pos""".stripMargin

  /** q300 bucket width for the distributed continuity audit. */
  val GapBucket = 1000L

  /** q300 — distributed ID-CONTINUITY audit (gap localization) over
    * the non-error event ledger: error rows model quarantined records
    * (the q133 story), and the audit reports every missing-ID range
    * [gap_lo, gap_hi] with its size — the completeness check a
    * reconciliation pipeline runs after selective deletes. The naive
    * spelling is ONE global window over all IDs — a single-partition
    * sort at any scale. The distributed form buckets IDs (width
    * [[GapBucket]]): intra-bucket gaps come from a KEYED lead window;
    * cross-bucket gaps come from the per-bucket (min, max) frame —
    * bounded by bucket COUNT, not row count — with one tiny window
    * over it; entirely-missing buckets fall inside those boundary
    * ranges automatically. Interior-only by construction (nothing
    * before the global min or after the global max is a gap).
    *
    * Scale shape: one keyed window over bucketed IDs + one
    * partial-aggregated (bucket → min/max) collapse + one window over
    * the bucket frame; union of the two gap legs. All integers.
    */
  val q300GapAudit: Q = (s, dir) => {
    import s.implicits._
    val ids = T.events(s, dir)
      .filter($"event_type" =!= "error")
      .select($"event_id".as("id"))
      .withColumn("b", expr(s"id div $GapBucket"))
    val wIn = Window.partitionBy($"b").orderBy($"id")
    val intra = ids
      .withColumn("nxt", lead($"id", 1).over(wIn))
      .filter($"nxt" - $"id" > 1)
      .select(($"id" + 1).as("gap_lo"), ($"nxt" - 1).as("gap_hi"))
    val wB = Window.orderBy($"b") // bucket frame: bounded by id-range/width
    val boundary = ids.groupBy($"b")
      .agg(min($"id").as("mn"), max($"id").as("mx"))
      .withColumn("nxt_mn", lead($"mn", 1).over(wB))
      .filter($"nxt_mn" - $"mx" > 1)
      .select(($"mx" + 1).as("gap_lo"), ($"nxt_mn" - 1).as("gap_hi"))
    intra.union(boundary)
      .select($"gap_lo", $"gap_hi", ($"gap_hi" - $"gap_lo" + 1).as("n_missing"))
      .orderBy($"gap_lo")
  }

  val q300Sql: String =
    s"""WITH ids AS (
       |  SELECT event_id AS id, event_id // $GapBucket AS b
       |  FROM events WHERE event_type <> 'error'),
       |intra AS (
       |  SELECT id + 1 AS gap_lo,
       |    LEAD(id, 1) OVER (PARTITION BY b ORDER BY id) - 1 AS gap_hi
       |  FROM ids),
       |bk AS (
       |  SELECT b, MIN(id) AS mn, MAX(id) AS mx FROM ids GROUP BY b),
       |boundary AS (
       |  SELECT mx + 1 AS gap_lo,
       |    LEAD(mn, 1) OVER (ORDER BY b) - 1 AS gap_hi
       |  FROM bk)
       |SELECT gap_lo, gap_hi, gap_hi - gap_lo + 1 AS n_missing
       |FROM (SELECT * FROM intra WHERE gap_hi >= gap_lo
       |      UNION ALL
       |      SELECT * FROM boundary WHERE gap_hi >= gap_lo)
       |ORDER BY gap_lo""".stripMargin

  /** q317 ring parameters: shards before/after, virtual nodes per
    * shard (vnodes smooth the arc-length variance that makes plain
    * consistent hashing unbalanced at small shard counts).
    */
  val ChShards = 8
  val ChShardsAfter = 9
  val ChVnodes = 64

  /** q317 — CONSISTENT-HASHING shard assignment with the
    * minimal-movement proof (Karger et al. '97, the Dynamo/Cassandra
    * placement rule): each shard owns [[ChVnodes]] pseudo-random ring
    * points (md5 of "shard:vnode"), each key goes to the first vnode
    * clockwise of its own hash. The row computes the assignment under
    * [[ChShards]] and [[ChShardsAfter]] shards and counts MOVED keys —
    * the property the scheme exists for: adding one shard moves
    * ~1/(n+1) of the keys, where modulo sharding (`hash % n`) moves
    * ~n/(n+1), i.e. nearly everything. Both engines build the same
    * ring (md5 coins), so per-shard counts and the movement census
    * hash-compare exactly.
    *
    * Scale shape: the ring is a |shards|·vnodes frame, broadcast; the
    * clockwise lookup is spelled as min-over-candidates (min(point ≥
    * key-hash), else global min for the wrap) — one broadcast join +
    * one partial-agg min per ring, a narrow stateless projection per
    * key, exactly how a router evaluates it.
    */
  val q317ConsistentHash: Q = (s, dir) => {
    import s.implicits._
    def h(prefix: String, c: org.apache.spark.sql.Column) =
      conv(substring(md5(concat(lit(prefix), c.cast("string"))), 1, 15),
        16, 10).cast("long")
    def ring(n: Int): DataFrame = {
      val shards = s.range(0, n).select($"id".as("shard"))
      val vn = s.range(0, ChVnodes).select($"id".as("v"))
      shards.crossJoin(vn)
        .select($"shard",
          h("ring:", concat($"shard".cast("string"), lit(":"),
            $"v".cast("string"))).as("pt"))
    }
    def assign(keys: DataFrame, n: Int, outCol: String): DataFrame = {
      val r = ring(n)
      // clockwise successor: the ring point with the smallest pt ≥ kh;
      // min(struct) carries the owning shard along. Wrap: global min.
      val succ = keys.crossJoin(broadcast(r))
        .filter($"pt" >= $"kh")
        .groupBy($"user_id")
        .agg(min(struct($"pt", $"shard")).as("m"))
        .select($"user_id", $"m.shard".as(outCol))
      val wrap = r.agg(min(struct($"pt", $"shard")).as("m"))
        .select($"m.shard".as("wrap_shard"))
      keys.join(succ, Seq("user_id"), "left")
        .crossJoin(broadcast(wrap))
        .select($"user_id",
          coalesce(col(outCol), $"wrap_shard").as(outCol))
    }
    val keys = T.events(s, dir).select($"user_id").distinct()
      .withColumn("kh", h("key:", $"user_id"))
    val before = assign(keys, ChShards, "s_before")
    val after = assign(keys, ChShardsAfter, "s_after")
    before.join(after, "user_id")
      .groupBy($"s_before")
      .agg(count(lit(1)).as("n_keys"),
        sum(when($"s_before" =!= $"s_after", 1L).otherwise(0L))
          .as("n_moved"))
      .orderBy($"s_before")
  }

  val q317Sql: String = {
    // each part stripMargin'd exactly once — a second pass would eat
    // the first pipe of any `||` that lands at a line start
    def ringSql(n: Int, name: String) =
      s"""$name AS (
         |  SELECT shard,
         |    CAST('0x' || substring(md5('ring:' || CAST(shard AS VARCHAR)
         |      || ':' || CAST(v AS VARCHAR)), 1, 15) AS BIGINT) AS pt
         |  FROM (SELECT unnest(range(0, $n)) AS shard) a
         |  CROSS JOIN (SELECT unnest(range(0, $ChVnodes)) AS v) b)"""
        .stripMargin
    def assignSql(name: String, ringName: String, outCol: String) =
      s"""$name AS (
         |  SELECT k.user_id,
         |    COALESCE(
         |      (SELECT r.shard FROM $ringName r
         |       WHERE r.pt >= k.kh ORDER BY r.pt, r.shard LIMIT 1),
         |      (SELECT r.shard FROM $ringName r
         |       ORDER BY r.pt, r.shard LIMIT 1)) AS $outCol
         |  FROM keys k)""".stripMargin
    val keys =
      s"""WITH keys AS (
         |  SELECT user_id,
         |    CAST('0x' || substring(md5('key:' || CAST(user_id AS VARCHAR)),
         |      1, 15) AS BIGINT) AS kh
         |  FROM (SELECT DISTINCT user_id FROM events))""".stripMargin
    val tail =
      s"""SELECT s_before, CAST(COUNT(*) AS BIGINT) AS n_keys,
         |  CAST(SUM(CASE WHEN s_before <> s_after THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_moved
         |FROM ba JOIN bb ON ba.user_id = bb.user_id
         |GROUP BY s_before ORDER BY s_before""".stripMargin
    keys + ",\n" + ringSql(ChShards, "ring_a") + ",\n" +
      ringSql(ChShardsAfter, "ring_b") + ",\n" +
      assignSql("ba", "ring_a", "s_before") + ",\n" +
      assignSql("bb", "ring_b", "s_after") + "\n" + tail
  }

  val entries: Seq[Entry] = Seq(
    Entry("q317_consistent_hash", q317ConsistentHash, q317Sql),
    Entry("q298_fifo_match", q298FifoMatch, q298Sql),
    Entry("q299_position_attribution", q299PositionAttribution, q299Sql),
    Entry("q300_gap_audit", q300GapAudit, q300Sql))
}
