package graft.streaming

import org.apache.datasketches.hll.{HllSketch, TgtHllType, Union}
import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, MapState, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues}

/** One finalized sliding-window reading from a shard: the trailing
  * [[SlidingHllStream.WindowDays]]-day union sketch for `day`, plus
  * the merged-day and retained-day counts (the state-bound
  * observables). Top-level: encoder codegen cannot instantiate a case
  * class nested inside an object (the [[PsiEmit]] lesson).
  */
case class SlidingHllEmit(shard: Long, day: Long, n_days_merged: Long,
    n_retained: Long, window_sketch: Array[Byte])

/** qs19 — streaming SLIDING-WINDOW DISTINCT: the streaming twin of
  * q406 ([[graft.relational.SlidingDistinct]]): trailing-7-day unique
  * users per day, answered from per-(shard, day) HLL sketches held in
  * MapState with WATERMARK-DRIVEN finalization and eviction — the
  * missing leg between qs11 (cumulative streaming HLL, state never
  * retires) and q406 (batch window merge over persisted daily
  * sketches).
  *
  * The watermark is the ENGINE's event-time watermark
  * (`withWatermark(ts, lateness)` + TimeMode.EventTime — NOT a
  * per-key high-water mark: shards see disjoint row subsets, so any
  * per-key clock would finalize different day sets per shard and the
  * cross-shard day union would silently lose shards; the global
  * watermark is the one clock every shard shares). Lifecycle per
  * shard:
  *   1. FOLD (handleInputRows): each row updates its event-day's HLL
  *     in the day map (register-max state — an order/slicing-
  *     independent function of the (shard, day) value set, the qs11
  *     contract). A row whose whole day is already behind the
  *     watermark is DROPPED (the standard late-data contract). First
  *     touch of a day registers an event-time TIMER at the day's end
  *     (day+1 boundary) — the moment the watermark proves the day
  *     complete.
  *   2. FINALIZE (handleExpiredTimer): when the watermark passes a
  *     day's timer, emit that day's trailing window union (present
  *     days in [d−W+1, d]) ONCE.
  *   3. EVICT (same timer): day j leaves the map once the watermark
  *     proves no reader window can still receive data ((j+W)·day ≤ wm)
  *     AND every mapped reader has emitted (the `fired` marker —
  *     intra-batch timer order is not guaranteed, so eviction must not
  *     assume earlier days fired first). Retained state is then
  *     bounded by W + lateness + in-flight days per shard, CONSTANT
  *     in stream length (the eviction qs11 deliberately lacks).
  *
  * Exact equivalence (the PsiStream discipline): both the stream and
  * the batch twin decompose into the SAME atomic (shard, day)
  * sketches ([[shardOf]] + [[dayOf]]); HLL union is
  * order-independent on register state, so a finalized day's streamed
  * window sketch estimates EXACTLY like the batch union over the same
  * rows — equality, not a tolerance band, pinned per slicing in the
  * spec. Accuracy vs exact distinct is q406's oracle-gated ±5%
  * (lgK=12, σ≈1.6%).
  *
  * Scale shape: state per shard ≤ (W + lateness + 1) sketches of
  * ≤ 2^lgK bytes; emission traffic is one compact sketch per
  * finalized (shard, day); the cross-shard union runs on a
  * shards-bounded frame downstream. At 100 TB the same design holds —
  * shard count scales with executors, day-map size does not grow.
  */
object SlidingHllStream {

  val WindowDays: Int = graft.relational.SlidingDistinct.WindowDays
  val LatenessDays = 1
  val LgK: Int = HllStream.LgK
  val NumShards = 8

  def dayOf(tsMillis: Long): Long = java.lang.Math.floorDiv(tsMillis, 86400000L)

  /** The qs11 shard rule, shared so stream and twin decompose alike. */
  def shardOf(userId: Long, numShards: Int = NumShards): Long =
    java.lang.Math.floorMod(scala.util.hashing.MurmurHash3
      .stringHash(userId.toString), numShards).toLong

  val DayMillis = 86400000L

  class SlidingHllProcessor(windowDays: Int, lgK: Int)
      extends StatefulProcessor[Long, Event, SlidingHllEmit] {
    @transient private var days: MapState[Long, Array[Byte]] = _
    // fired(d) marks day d's window as emitted. Eviction of day j must
    // wait until EVERY mapped reader in [j, j+W−1] has fired: timers
    // expiring in the same micro-batch carry no intra-batch order
    // guarantee, so an expiry-ordered eviction rule could remove j
    // before an earlier day's handler ran (measured: one shard's
    // first-day sketch vanished under single-batch replay).
    @transient private var fired: MapState[Long, Boolean] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      days = getHandle.getMapState[Long, Array[Byte]]("days",
        Encoders.scalaLong, Encoders.BINARY, TTLConfig.NONE)
      fired = getHandle.getMapState[Long, Boolean]("fired",
        Encoders.scalaLong, Encoders.scalaBoolean, TTLConfig.NONE)
    }

    override def handleInputRows(shard: Long, rows: Iterator[Event],
        timerValues: TimerValues): Iterator[SlidingHllEmit] = {
      val wm = timerValues.getCurrentWatermarkInMs()
      // expiries this key already holds: consecutive days share W−1
      // window days, and re-registering one is a logged no-op
      lazy val held = getHandle.listTimers().toSet
      val added = scala.collection.mutable.Set[Long]()
      rows.foreach { e =>
        val d = dayOf(e.ts.getTime)
        // a day wholly behind the watermark is already finalized —
        // drop (its timer may have fired; re-creating state would leak)
        if ((d + 1) * DayMillis > wm) {
          if (!days.containsKey(d)) {
            // first touch: register a timer for EVERY window day d
            // feeds (d .. d+W−1) — this shard may have no rows on a
            // later window day yet still owe that window its sketches
            // (measured: a shard dark on day d lost its older days
            // from d's global union). Held expiries and already-final
            // windows are skipped.
            (d to d + windowDays - 1).map(w => (w + 1) * DayMillis)
              .filter(t => t > wm && !held(t) && added.add(t))
              .foreach(getHandle.registerTimer)
            val sk = new HllSketch(lgK, TgtHllType.HLL_8)
            sk.update(e.user_id)
            days.updateValue(d, sk.toUpdatableByteArray)
          } else {
            val sk = HllSketch.heapify(days.getValue(d))
            sk.update(e.user_id)
            days.updateValue(d, sk.toUpdatableByteArray)
          }
        }
      }
      Iterator.empty
    }

    override def handleExpiredTimer(shard: Long, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[SlidingHllEmit] = {
      val d = expiredTimerInfo.getExpiryTimeInMs() / DayMillis - 1
      val mapped = days.iterator().map(_._1).toArray.sorted
      val inWin = mapped.filter(j => j >= d - (windowDays - 1) && j <= d)
      val out =
        if (inWin.isEmpty) Iterator.empty // window's days already evicted
        else {
          val u = new Union(lgK)
          inWin.foreach(j => u.update(HllSketch.heapify(days.getValue(j))))
          Iterator.single(SlidingHllEmit(shard, d, inWin.length.toLong,
            mapped.length.toLong,
            u.getResult(TgtHllType.HLL_8).toCompactByteArray))
        }
      fired.updateValue(d, true)
      // evict j once (a) the watermark proves no reader can still get
      // data — (j+W)·day ≤ wm — and (b) every reader window j..j+W−1
      // has fired (ALL have timers, registered at j's first touch;
      // intra-batch timer order is not guaranteed, so a blocked j is
      // retried on the next firing for this shard)
      val wm = timerValues.getCurrentWatermarkInMs()
      val firedSet = fired.iterator().map(_._1).toSet
      mapped.filter { j =>
        (j + windowDays) * DayMillis <= wm &&
          (j to j + windowDays - 1).forall(firedSet.contains)
      }.foreach(days.removeKey)
      // a fired marker is consulted only by still-mapped days ≤ it
      val remaining = days.iterator().map(_._1).toArray
      val minMapped = if (remaining.isEmpty) Long.MaxValue else remaining.min
      firedSet.filter(_ < minMapped).foreach(fired.removeKey)
      out
    }
  }

  /** Keyed entry point — shard by user hash, fold day sketches under
    * the ENGINE watermark ([[LatenessDays]] slack), emit each day's
    * finalized trailing-window sketch exactly once when its timer
    * fires.
    */
  def slidingSketches(events: Dataset[Event],
      numShards: Int = NumShards): Dataset[SlidingHllEmit] = {
    import events.sparkSession.implicits._
    events.withWatermark("ts", s"$LatenessDays days")
      .groupByKey(e => shardOf(e.user_id, numShards))
      .transformWithState(
        new SlidingHllProcessor(WindowDays, LgK),
        TimeMode.EventTime(), OutputMode.Update(),
        Encoders.product[SlidingHllEmit])
  }

  /** Cross-shard finish: union each day's shard window-sketches,
    * estimate. (day → estimate); shards-bounded input. The COMPOSITE
    * estimator, deliberately: the default HLL estimate is HIP-based,
    * and HIP is a function of coupon FEED ORDER — two unions over the
    * same value set read a few per-mille apart if the inputs arrive
    * in different order (measured at sf0.1: 1505.7 vs 1498.4 on one
    * day between the streamed and batch merge orders). The composite
    * estimate is a pure function of the register/coupon SET, so
    * stream ≡ batch equality is structural.
    */
  def mergeEstimates(emits: Seq[SlidingHllEmit],
      lgK: Int = LgK): Map[Long, Double] =
    emits.groupBy(_.day).map { case (d, es) =>
      val u = new Union(lgK)
      es.foreach(e => u.update(HllSketch.heapify(e.window_sketch)))
      d -> u.getResult(TgtHllType.HLL_8).getCompositeEstimate
    }

  /** The batch twin through the SAME atomic decomposition AND the
    * SAME finish: per-(shard, day) sketches from the raw rows,
    * per-shard window unions (exactly what the processor emits), then
    * [[mergeEstimates]] across shards — the one-shared-finish
    * PsiStream discipline (composite estimator, see mergeEstimates,
    * so merge order cannot bend the reading). A day has a reading iff
    * ANY data lands in its trailing window — the stream's contract
    * (every window a data day feeds gets a timer), which also reads
    * right for a monitor. The stream finalizes day d once the
    * watermark passes its end — (d+1)·[[DayMillis]] ≤ maxTs −
    * lateness — so the twin exposes all days and callers compare the
    * finalized prefix.
    */
  def batchEstimates(rows: Seq[Event], windowDays: Int = WindowDays,
      numShards: Int = NumShards, lgK: Int = LgK): Map[Long, Double] = {
    val atoms = rows.groupBy(e => (shardOf(e.user_id, numShards),
        dayOf(e.ts.getTime)))
      .map { case (k, es) =>
        val sk = new HllSketch(lgK, TgtHllType.HLL_8)
        es.foreach(e => sk.update(e.user_id))
        k -> sk
      }
    val allDays = atoms.keySet.map(_._2)
      .flatMap(j => j to j + windowDays - 1)
    val emits = allDays.toSeq.flatMap { d =>
      atoms.keySet.map(_._1).toSeq.sorted.flatMap { sh =>
        val inWin = atoms.keys
          .filter { case (s0, j) =>
            s0 == sh && j >= d - (windowDays - 1) && j <= d }
          .toSeq.sortBy(_._2)
        if (inWin.isEmpty) None
        else {
          val u = new Union(lgK)
          inWin.foreach(k => u.update(atoms(k)))
          Some(SlidingHllEmit(sh, d, inWin.size.toLong, 0L,
            u.getResult(TgtHllType.HLL_8).toCompactByteArray))
        }
      }
    }
    mergeEstimates(emits, lgK)
  }
}
