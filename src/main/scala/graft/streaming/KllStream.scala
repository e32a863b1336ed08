package graft.streaming

import org.apache.datasketches.kll.KllDoublesSketch
import org.apache.datasketches.memory.Memory
import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

/** Streaming quantile tracking on a KLL sketch (datasketches-java
  * `KllDoublesSketch` — the same library and serialized format as
  * Spark SQL's `kll_sketch_agg_double`, q220's aggregate, so the batch
  * `kll_sketch_*_double` functions read this stream's state, as
  * [[HllStream]] shares `hll_sketch_agg`'s) — the streaming member of
  * the sketch-state family: Bloom (membership, qs01), CMS (frequency,
  * qs03), and KLL (distribution). Each shard folds its substream into
  * one O(k·log n) state blob; because the sketch is MERGEABLE (the
  * property the q220 gate certifies), the shard states combine into
  * one corpus-level sketch after any number of micro-batches —
  * continuous "p50/p90/p99 right now" over an unbounded stream with
  * constant memory, the observability shape no exact method can
  * deliver.
  */
object KllStream {

  /** q220's capacity, shared so stream and batch sketches compare. */
  val K = 200

  private def sketch(bytes: Array[Byte]): KllDoublesSketch =
    KllDoublesSketch.heapify(Memory.wrap(bytes))

  /** Per-shard KLL fold over the `value` stream. Emits the shard's
    * serialized sketch each batch (Update mode) — downstream keeps the
    * last emission per shard and merges (numShards blobs, not rows).
    */
  class KllSketchProcessor(k: Int)
      extends StatefulProcessor[Long, Event, (Long, Array[Byte])] {
    @transient private var state: ValueState[Array[Byte]] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[Array[Byte]]("kll",
        Encoders.BINARY, TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[Event],
        timerValues: TimerValues): Iterator[(Long, Array[Byte])] = {
      val sk = if (state.exists()) sketch(state.get())
        else KllDoublesSketch.newHeapInstance(k)
      rows.foreach(e => sk.update(e.value))
      val bytes = sk.toByteArray
      state.update(bytes)
      Iterator.single((key, bytes))
    }
  }

  /** Shard-and-fold entry point — the qs01/qs03 sharding discipline. */
  def kllSketches(events: Dataset[Event], numShards: Int = 8,
      k: Int = K): Dataset[(Long, Array[Byte])] = {
    import events.sparkSession.implicits._
    events.groupByKey { e =>
      java.lang.Math.floorMod(scala.util.hashing.MurmurHash3
        .stringHash(e.user_id.toString), numShards).toLong
    }.transformWithState(new KllSketchProcessor(k),
      TimeMode.None(), OutputMode.Update(),
      Encoders.product[(Long, Array[Byte])])
  }

  /** Each shard's latest sketch among its `(shard, sketch)` emissions:
    * the one with the largest folded count (n only grows).
    */
  def latest(emissions: Seq[(Long, Array[Byte])]): Seq[Array[Byte]] =
    emissions.groupBy(_._1).values
      .map(_.map(_._2).maxBy(sketch(_).getN)).toSeq

  /** Merge serialized shard sketches into one sketch. */
  def merge(shards: Seq[Array[Byte]]): KllDoublesSketch = {
    require(shards.nonEmpty, "no shard sketches to merge")
    shards.map(sketch).reduce { (a, b) => a.merge(b); a }
  }
}
