package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{count, expr, lit, window}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.SparkSpec

/** Streaming execution tests: batch/stream equivalence against the
  * oracle-checked batch twins (q60/q63), watermark late-data drop, and
  * cross-batch state in transformWithState. All via MemoryStream +
  * memory sink with processAllAvailable barriers.
  */
class EventStreamsSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  private def ckpt(): String =
    Files.createTempDirectory("stream-ckpt").toString

  private def drain(q: StreamingQuery): Unit = {
    q.processAllAvailable()
    q.stop()
    q.awaitTermination()
  }

  private def eventsOf(d: String): Seq[Event] =
    graft.core.Tables.events(spark, d)
      .select("event_id", "user_id", "event_type", "ts", "value")
      .as[Event].collect().toSeq.sortBy(_.event_id)

  test("watermarked tumbling window stream equals the q60 batch twin") {
    implicit val sqlCtx = spark.sqlContext
    val rows = eventsOf(dir)
    val maxTs = rows.map(_.ts.getTime).max
    val stream = MemoryStream[Event]
    stream.addData(rows)
    val q = EventStreams.tumblingCounts(stream.toDF())
      .writeStream.format("memory").queryName("t_q60")
      .outputMode("append").option("checkpointLocation", ckpt()).start()
    q.processAllAvailable()
    // sentinel a day ahead pushes the watermark past every real window,
    // so append mode finalizes and emits them all
    stream.addData(Event(-1L, -1L, "sentinel",
      new Timestamp(maxTs + 24L * 3600 * 1000), 0.0))
    drain(q)
    val streamed = spark.table("t_q60")
      .filter($"event_type" =!= "sentinel")
      .select("window_start", "event_type", "n", "sum_value")
      .as[(Timestamp, String, Long, Double)].collect().toSet
    val batch = StreamShapeQueries.q60TumblingWindow(spark, dir)
      .as[(Timestamp, String, Long, Double)].collect().toSet
    assert(streamed == batch,
      s"stream/batch mismatch: ${streamed.size} vs ${batch.size} windows")
  }

  test("watermarked sliding windows equal the q61 batch twin") {
    implicit val sqlCtx = spark.sqlContext
    val rows = eventsOf(dir)
    val maxTs = rows.map(_.ts.getTime).max
    val stream = MemoryStream[Event]
    stream.addData(rows)
    val q = EventStreams.slidingCounts(stream.toDF())
      .writeStream.format("memory").queryName("t_q61")
      .outputMode("append").option("checkpointLocation", ckpt()).start()
    q.processAllAvailable()
    stream.addData(Event(-1L, -1L, "sentinel",
      new Timestamp(maxTs + 24L * 3600 * 1000), 0.0))
    drain(q)
    // drop the 2 windows containing only the sentinel
    val batchMax = StreamShapeQueries.q61SlidingWindow(spark, dir)
      .as[(Timestamp, Long, Double)].collect().toSet
    val streamed = spark.table("t_q61")
      .as[(Timestamp, Long, Double)].collect().toSet
      .filter(_._1.getTime <= maxTs)
    assert(streamed == batchMax,
      s"sliding stream/batch mismatch: ${streamed.size} vs ${batchMax.size}")
  }

  test("watermarked session windows equal the q62 batch twin") {
    implicit val sqlCtx = spark.sqlContext
    val rows = eventsOf(dir)
    val maxTs = rows.map(_.ts.getTime).max
    val stream = MemoryStream[Event]
    stream.addData(rows)
    val q = EventStreams.sessionCounts(stream.toDF())
      .writeStream.format("memory").queryName("t_q62")
      .outputMode("append").option("checkpointLocation", ckpt()).start()
    q.processAllAvailable()
    stream.addData(Event(-1L, -1L, "sentinel",
      new Timestamp(maxTs + 24L * 3600 * 1000), 0.0))
    drain(q)
    val streamed = spark.table("t_q62")
      .filter($"user_id" =!= -1L)
      .as[(Long, Timestamp, Long, Timestamp)].collect().toSet
    val batch = StreamShapeQueries.q62SessionWindow(spark, dir)
      .as[(Long, Timestamp, Long, Timestamp)].collect().toSet
    assert(streamed == batch,
      s"session stream/batch mismatch: ${streamed.size} vs ${batch.size}")
  }

  test("rows later than the watermark are dropped") {
    implicit val sqlCtx = spark.sqlContext
    val t0 = Timestamp.valueOf("2024-01-01 12:00:00")
    def at(min: Long) = new Timestamp(t0.getTime + min * 60000)
    val stream = MemoryStream[Event]
    stream.addData(
      Event(1, 1, "click", at(5), 1.0),
      Event(2, 1, "click", at(10), 2.0))
    val q = EventStreams.tumblingCounts(stream.toDF())
      .writeStream.format("memory").queryName("t_late")
      .outputMode("append").option("checkpointLocation", ckpt()).start()
    q.processAllAvailable()
    // advance the watermark far past the first window → it finalizes
    stream.addData(Event(3, 1, "click", at(8 * 60), 4.0))
    q.processAllAvailable()
    val afterFinalize = spark.table("t_late")
      .as[(Timestamp, String, Long, Double)].collect().toSet
    assert(afterFinalize.contains((at(0), "click", 2L, 3.0)),
      s"first window not finalized: $afterFinalize")
    // a row 8h behind the watermark: must be dropped, not re-emitted
    stream.addData(Event(4, 1, "click", at(7), 100.0))
    // second sentinel far ahead flushes everything that is still live
    stream.addData(Event(5, 1, "click", at(16 * 60), 8.0))
    drain(q)
    val fin = spark.table("t_late")
      .as[(Timestamp, String, Long, Double)].collect().toSet
    assert(fin.contains((at(0), "click", 2L, 3.0)),
      "finalized window changed after late row")
    assert(!fin.exists(r => r._1 == at(0) && r._3 != 2L),
      s"late row re-opened a finalized window: $fin")
  }

  test("chained stateful ops: dedup feeding a window agg in one query") {
    implicit val sqlCtx = spark.sqlContext
    // real fixture rows in event_id (arrival) order — the regime where
    // streaming keep-first equals batch keep-smallest-event_id
    val input = eventsOf(dir).sortBy(_.event_id)
    val maxTs = input.map(_.ts.getTime).max
    val stream = MemoryStream[Event]
    stream.addData(input)
    val q = EventStreams.dedupedTumblingCounts(stream.toDF())
      .writeStream.format("memory").queryName("t_chain")
      .outputMode("append").option("checkpointLocation", ckpt()).start()
    q.processAllAvailable()
    stream.addData(Event(-1L, -1L, "sentinel",
      new Timestamp(maxTs + 24L * 3600 * 1000), 0.0))
    drain(q)
    val streamed = spark.table("t_chain")
      .filter($"event_type" =!= "sentinel")
      .as[(Timestamp, String, Long)].collect().toSet
    // batch twin: keep the smallest event_id per (user, type), then
    // tumbling-count the survivors
    val kept = input.groupBy(e => (e.user_id, e.event_type))
      .values.map(_.minBy(_.event_id)).toSeq
    val batch = spark.createDataset(kept).toDF()
      .groupBy(window($"ts", "1 hour"), $"event_type")
      .agg(count(lit(1)).as("n"))
      .select($"window.start", $"event_type", $"n")
      .as[(Timestamp, String, Long)].collect().toSet
    assert(batch.nonEmpty, "fixture produced no windows — dead test")
    assert(streamed == batch,
      s"chained pipeline mismatch: ${streamed.size} vs ${batch.size} windows")
  }

  test("dropDuplicatesWithinWatermark equals the q63 keep-first twin") {
    implicit val sqlCtx = spark.sqlContext
    val t0 = Timestamp.valueOf("2024-01-01 12:00:00")
    def at(min: Long) = new Timestamp(t0.getTime + min * 60000)
    // duplicates of (user, event_type) arriving in event_id order — the
    // regime where streaming keep-first == batch keep-smallest-event_id
    val input = Seq(
      Event(1, 1, "click", at(0), 1.0),
      Event(2, 1, "click", at(2), 2.0), // dup, within watermark
      Event(3, 2, "click", at(3), 3.0),
      Event(4, 1, "view", at(4), 4.0),
      Event(5, 2, "click", at(5), 5.0), // dup
      Event(6, 1, "click", at(6), 6.0)) // dup
    val stream = MemoryStream[Event]
    stream.addData(input)
    val q = EventStreams.dedupWithinWatermark(stream.toDF())
      .writeStream.format("memory").queryName("t_dedup")
      .outputMode("append").option("checkpointLocation", ckpt()).start()
    drain(q)
    val streamed = spark.table("t_dedup")
      .select("event_id").as[Long].collect().toSet
    // batch twin on the same input: smallest event_id per key
    val batch = input.groupBy(e => (e.user_id, e.event_type))
      .values.map(_.minBy(_.event_id).event_id).toSet
    assert(streamed == batch, s"stream $streamed != batch $batch")
  }

  test("stream-stream interval join equals the batch interval join") {
    implicit val sqlCtx = spark.sqlContext
    val rows = eventsOf(dir)
    val purchases = rows.filter(_.event_type == "purchase")
    val signups = rows.filter(_.event_type == "signup")
    val pStream = MemoryStream[Event]
    val sStream = MemoryStream[Event]
    pStream.addData(purchases)
    sStream.addData(signups)
    val q = EventStreams.purchaseAttribution(pStream.toDF(), sStream.toDF())
      .writeStream.format("memory").queryName("t_ssj")
      .outputMode("append").option("checkpointLocation", ckpt()).start()
    drain(q)
    val streamed = spark.table("t_ssj")
      .select("purchase_id", "signup_id")
      .as[(Long, Long)].collect().toSet
    // batch twin: same interval join on static frames
    val pB = spark.createDataset(purchases).toDF()
    val sB = spark.createDataset(signups).toDF()
    val batch = pB.select($"event_id".as("purchase_id"), $"user_id",
        $"ts".as("purchase_ts"))
      .join(sB.select($"event_id".as("signup_id"),
          $"user_id".as("s_user_id"), $"ts".as("signup_ts")),
        expr("""user_id = s_user_id AND purchase_ts >= signup_ts
               |AND purchase_ts <= signup_ts + interval 1 hour""".stripMargin))
      .select("purchase_id", "signup_id")
      .as[(Long, Long)].collect().toSet
    assert(streamed == batch,
      s"stream-stream join mismatch: ${streamed.size} vs ${batch.size} rows")
    assert(batch.nonEmpty, "fixture produced no attributed purchases")
  }

  test("left-outer stream-stream join emits null rows only after watermark passage") {
    implicit val sqlCtx = spark.sqlContext
    val rows = eventsOf(dir)
    val purchases = rows.filter(_.event_type == "purchase")
    val signups = rows.filter(_.event_type == "signup")
    val maxTs = rows.map(_.ts.getTime).max
    val pStream = MemoryStream[Event]
    val sStream = MemoryStream[Event]
    pStream.addData(purchases)
    sStream.addData(signups)
    val q = EventStreams.unattributedPurchases(pStream.toDF(), sStream.toDF())
      .writeStream.format("memory").queryName("t_ssj_outer")
      .outputMode("append").option("checkpointLocation", ckpt()).start()
    q.processAllAvailable()
    // the no-data micro-batch after processAllAvailable advances the
    // watermark to maxTs - delay, so OLD unmatched purchases legally
    // outer-emit already — but purchases the watermark has not passed
    // must still be waiting in join state with no null row
    val wmPre = new Timestamp(maxTs - 10L * 60 * 1000)
    val early = spark.table("t_ssj_outer")
      .filter($"signup_id".isNull && $"purchase_ts" >= wmPre).count()
    assert(early == 0,
      s"outer rows emitted for purchases ahead of the watermark: $early")
    // sentinels on BOTH streams push the watermark past every real row
    val sentinel = Event(-1L, -1L, "sentinel",
      new Timestamp(maxTs + 24L * 3600 * 1000), 0.0)
    pStream.addData(sentinel)
    sStream.addData(sentinel)
    drain(q)
    val streamed = spark.table("t_ssj_outer")
      .filter($"user_id" =!= -1L)
      .select("purchase_id", "signup_id")
      .as[(Long, Option[Long])].collect().toSet
    // batch twin: the same left-outer interval join on static frames
    val pB = spark.createDataset(purchases).toDF()
    val sB = spark.createDataset(signups).toDF()
    val batch = pB.select($"event_id".as("purchase_id"), $"user_id",
        $"ts".as("purchase_ts"))
      .join(sB.select($"event_id".as("signup_id"),
          $"user_id".as("s_user_id"), $"ts".as("signup_ts")),
        expr("""user_id = s_user_id AND purchase_ts >= signup_ts
               |AND purchase_ts <= signup_ts + interval 1 hour""".stripMargin),
        "left_outer")
      .select("purchase_id", "signup_id")
      .as[(Long, Option[Long])].collect().toSet
    assert(streamed == batch,
      s"left-outer stream-stream mismatch: ${streamed.size} vs ${batch.size} rows")
    assert(batch.exists(_._2.isEmpty), "fixture produced no unattributed purchases")
    assert(batch.exists(_._2.nonEmpty), "fixture produced no attributed purchases")
  }

  test("full-outer stream-stream join surfaces both orphan sides, watermark-gated") {
    implicit val sqlCtx = spark.sqlContext
    val rows = eventsOf(dir)
    val purchases = rows.filter(_.event_type == "purchase")
    val signups = rows.filter(_.event_type == "signup")
    val maxTs = rows.map(_.ts.getTime).max
    val pStream = MemoryStream[Event]
    val sStream = MemoryStream[Event]
    pStream.addData(purchases)
    sStream.addData(signups)
    val q = EventStreams.attributionLedger(pStream.toDF(), sStream.toDF())
      .writeStream.format("memory").queryName("t_ssj_full")
      .outputMode("append").option("checkpointLocation", ckpt()).start()
    q.processAllAvailable()
    // neither side may outer-emit for rows the watermark has not passed
    val wmPre = new Timestamp(maxTs - 10L * 60 * 1000)
    val earlyP = spark.table("t_ssj_full")
      .filter($"signup_id".isNull && $"purchase_ts" >= wmPre).count()
    val earlyS = spark.table("t_ssj_full")
      .filter($"purchase_id".isNull && $"signup_ts" >= wmPre).count()
    assert(earlyP == 0 && earlyS == 0,
      s"premature outer rows: purchases=$earlyP signups=$earlyS")
    val sentinel = Event(-1L, -1L, "sentinel",
      new Timestamp(maxTs + 24L * 3600 * 1000), 0.0)
    pStream.addData(sentinel)
    sStream.addData(sentinel)
    drain(q)
    val streamed = spark.table("t_ssj_full")
      .filter($"user_id" =!= -1L)
      .select("purchase_id", "signup_id")
      .as[(Option[Long], Option[Long])].collect().toSet
    val pB = spark.createDataset(purchases).toDF()
    val sB = spark.createDataset(signups).toDF()
    val batch = pB.select($"event_id".as("purchase_id"), $"user_id",
        $"ts".as("purchase_ts"))
      .join(sB.select($"event_id".as("signup_id"),
          $"user_id".as("s_user_id"), $"ts".as("signup_ts")),
        expr("""user_id = s_user_id AND purchase_ts >= signup_ts
               |AND purchase_ts <= signup_ts + interval 1 hour""".stripMargin),
        "full_outer")
      .select("purchase_id", "signup_id")
      .as[(Option[Long], Option[Long])].collect().toSet
    assert(streamed == batch,
      s"full-outer stream-stream mismatch: ${streamed.size} vs ${batch.size}")
    assert(batch.exists(_._1.isEmpty), "fixture produced no unconverted signups")
    assert(batch.exists(_._2.isEmpty), "fixture produced no unattributed purchases")
    assert(batch.exists(p => p._1.nonEmpty && p._2.nonEmpty),
      "fixture produced no attributed pairs")
  }

  test("streaming as-of join equals the batch as-of join") {
    withRocksDb {
      implicit val sqlCtx = spark.sqlContext
      val rows = eventsOf(dir)
      // unique (user, ts) on the reference side — the as-of tie contract
      val purchases = rows.filter(_.event_type == "purchase")
      val signups = rows.filter(_.event_type == "signup")
        .groupBy(e => (e.user_id, e.ts)).values.map(_.maxBy(_.event_id)).toSeq
      val maxTs = rows.map(_.ts.getTime).max
      val pS = MemoryStream[Event]
      val sS = MemoryStream[Event]
      pS.addData(purchases)
      sS.addData(signups)
      val q = EventStreams.streamingAsOf(pS.toDF(), sS.toDF())
        .writeStream.format("memory").queryName("t_asof")
        .outputMode("append").option("checkpointLocation", ckpt()).start()
      q.processAllAvailable()
      // sentinels on BOTH streams: the query watermark is the min across
      // sources, so each must advance past every real row
      val sentinel = Event(-1L, -1L, "sentinel",
        new Timestamp(maxTs + 24L * 3600 * 1000), 0.0)
      pS.addData(sentinel)
      sS.addData(sentinel)
      drain(q)
      val streamed = spark.table("t_asof")
        .filter($"user_id" =!= -1L)
        .select("event_id", "matched_id", "matched_value")
        .as[(Long, Long, Double)].collect().toSet
      val pB = spark.createDataset(purchases).toDF()
        .select("event_id", "user_id", "ts", "value")
      val sB = spark.createDataset(signups).toDF()
        .select($"user_id", $"ts".as("r_ts"), $"event_id".as("matched_id"),
          $"value".as("matched_value"))
      val batch = graft.operators.AsOfJoin
        .backward(pB, sB, Seq("user_id"), "ts", "r_ts")
        .select("event_id", "matched_id", "matched_value")
        .as[(Long, Long, Double)].collect().toSet
      assert(batch.nonEmpty, "fixture produced no as-of matches")
      assert(streamed == batch,
        s"streaming as-of mismatch: ${streamed.size} vs ${batch.size} rows")
    }
  }

  test("streaming as-of matches rights that arrive in a later batch") {
    withRocksDb {
      implicit val sqlCtx = spark.sqlContext
      val t0 = Timestamp.valueOf("2024-01-01 12:00:00")
      def at(min: Long) = new Timestamp(t0.getTime + min * 60000)
      val pS = MemoryStream[Event]
      val sS = MemoryStream[Event]
      // batch 1: a probe at t=10 and a reference at t=2
      pS.addData(Event(101, 1, "purchase", at(10), 1.0))
      sS.addData(Event(201, 1, "signup", at(2), 20.0))
      val q = EventStreams.streamingAsOf(pS.toDF(), sS.toDF())
        .writeStream.format("memory").queryName("t_asof_ooo")
        .outputMode("append").option("checkpointLocation", ckpt()).start()
      q.processAllAvailable()
      // batch 2, out of order: a NEWER reference (t=8) that the pending
      // probe must prefer, and an older probe (t=3) matching the first
      pS.addData(Event(102, 1, "purchase", at(3), 1.0))
      sS.addData(Event(202, 1, "signup", at(8), 30.0))
      q.processAllAvailable()
      pS.addData(Event(-1, -1, "sentinel", at(24 * 60), 0.0))
      sS.addData(Event(-2, -1, "sentinel", at(24 * 60), 0.0))
      drain(q)
      val got = spark.table("t_asof_ooo").filter($"user_id" =!= -1L)
        .select("event_id", "matched_id")
        .as[(Long, Long)].collect().toSet
      assert(got == Set((101L, 202L), (102L, 201L)),
        s"out-of-order as-of wrong: $got")
    }
  }

  test("left-outer streaming as-of emits unmatched probes with null match") {
    withRocksDb {
      implicit val sqlCtx = spark.sqlContext
      val t0 = Timestamp.valueOf("2024-01-01 12:00:00")
      def at(min: Long) = new Timestamp(t0.getTime + min * 60000)
      val pS = MemoryStream[Event]
      val sS = MemoryStream[Event]
      // user 1: probe after a reference → matched; user 2: probe with NO
      // reference at-or-before it → unmatched (the user-2 reference
      // exists but only later than the probe)
      pS.addData(Event(101, 1, "purchase", at(10), 1.0),
        Event(102, 2, "purchase", at(10), 1.0))
      sS.addData(Event(201, 1, "signup", at(2), 20.0),
        Event(202, 2, "signup", at(30), 30.0))
      val q = EventStreams
        .streamingAsOf(pS.toDF(), sS.toDF(), keepUnmatched = true)
        .writeStream.format("memory").queryName("t_asof_outer")
        .outputMode("append").option("checkpointLocation", ckpt()).start()
      q.processAllAvailable()
      pS.addData(Event(-1, -1, "sentinel", at(24 * 60), 0.0))
      sS.addData(Event(-2, -1, "sentinel", at(24 * 60), 0.0))
      drain(q)
      val got = spark.table("t_asof_outer").filter($"user_id" =!= -1L)
        .select("event_id", "matched_id")
        .as[(Long, Option[Long])].collect().toSet
      assert(got == Set((101L, Some(201L)), (102L, None)),
        s"outer as-of wrong: $got")
    }
  }

  test("streaming funnel equals the batch q94 stage counts") {
    withRocksDb {
      implicit val sqlCtx = spark.sqlContext
      val rows = eventsOf(dir)
      val maxTs = rows.map(_.ts.getTime).max
      val stream = MemoryStream[Event]
      stream.addData(rows)
      val q = EventStreams.streamingFunnel(stream.toDF())
        .writeStream.format("memory").queryName("t_funnel")
        .outputMode("append").option("checkpointLocation", ckpt()).start()
      q.processAllAvailable()
      // signup-typed sentinel so it survives the event-type filter and
      // advances the watermark past every real row
      stream.addData(Event(-1L, -1L, "signup",
        new Timestamp(maxTs + 24L * 3600 * 1000), 0.0))
      drain(q)
      val streamed = spark.table("t_funnel").filter($"user_id" =!= -1L)
        .groupBy($"stage").count()
        .as[(Int, Long)].collect().toMap
      val batch = graft.relational.AnalyticalQueries
        .q94Funnel(spark, dir)
        .as[(Int, Long)].collect().toMap
      assert(batch.nonEmpty && streamed == batch,
        s"funnel stream $streamed != batch $batch")
    }
  }

  test("streaming funnel resolves out-of-order and emits exactly once") {
    withRocksDb {
      implicit val sqlCtx = spark.sqlContext
      val t0 = Timestamp.valueOf("2024-01-01 12:00:00")
      def at(min: Long) = new Timestamp(t0.getTime + min * 60000)
      val stream = MemoryStream[Event]
      // batch 1: the view arrives BEFORE its signup
      stream.addData(Event(1, 1, "view", at(30), 1.0))
      val q = EventStreams.streamingFunnel(stream.toDF())
        .writeStream.format("memory").queryName("t_funnel_ooo")
        .outputMode("append").option("checkpointLocation", ckpt()).start()
      q.processAllAvailable()
      // batch 2: the signup (earlier event time), plus a purchase within
      // the horizon of the view
      stream.addData(Event(2, 1, "signup", at(25), 1.0),
        Event(3, 1, "purchase", at(80), 1.0))
      q.processAllAvailable()
      stream.addData(Event(-1, -1, "signup", at(48 * 60), 0.0))
      drain(q)
      val got = spark.table("t_funnel_ooo").filter($"user_id" =!= -1L)
        .as[EventStreams.FunnelStage].collect().toSeq
      assert(got == Seq(EventStreams.FunnelStage(1L, 3)),
        s"out-of-order funnel wrong: $got")
    }
  }

  test("bloom dedup: no false negatives across batches, FP within budget, " +
      "state rows bounded by shards while exact dedup's grow per key") {
    withRocksDb {
      implicit val sqlCtx = spark.sqlContext
      val t0 = Timestamp.valueOf("2024-01-01 12:00:00")
      def at(min: Long) = new Timestamp(t0.getTime + min * 60000)
      val nKeys = 3000
      // distinct keys (one user each, same event_type), then the SAME
      // keys again in a second micro-batch; a single shared ts keeps the
      // exact twin's watermark from evicting any key mid-test
      def keyRows(idOff: Long) = (1 to nKeys).map(i =>
        Event(idOff + i, i.toLong, "click", at(0), 1.0))
      val numShards = 8
      val stream = MemoryStream[Event]
      stream.addData(keyRows(0))
      val q = EventStreams.bloomDedup(stream.toDS(), numShards = numShards)
        .writeStream.format("memory").queryName("t_bloom")
        .outputMode("update").option("checkpointLocation", ckpt()).start()
      q.processAllAvailable()
      val afterB1 = spark.table("t_bloom").count()
      // FP budget: 4 hashes, 2^16 bits/shard, ~375 keys/shard ⇒ per-key
      // FP ≈ 4e-7; allow a generous 10 drops out of 3000
      assert(afterB1 >= nKeys - 10 && afterB1 <= nKeys,
        s"bloom admitted $afterB1 of $nKeys distinct keys")
      // no false negatives: replaying every key must admit NOTHING new
      stream.addData(keyRows(100000))
      q.processAllAvailable()
      val afterB2 = spark.table("t_bloom").count()
      assert(afterB2 == afterB1,
        s"duplicate keys re-admitted: $afterB1 -> $afterB2")
      // bounded state: one row per SHARD, not per key
      val bloomStateRows = q.lastProgress.stateOperators.head.numRowsTotal
      assert(bloomStateRows <= numShards,
        s"bloom state rows $bloomStateRows > shard count $numShards")
      drain(q)
      // exact twin on the same input: state rows grow with distinct keys
      val exactStream = MemoryStream[Event]
      exactStream.addData(keyRows(0))
      val qe = EventStreams.dedupWithinWatermark(exactStream.toDF(),
          watermarkDelay = "10 hours")
        .writeStream.format("memory").queryName("t_bloom_exact")
        .outputMode("append").option("checkpointLocation", ckpt()).start()
      qe.processAllAvailable()
      val exactStateRows = qe.lastProgress.stateOperators.head.numRowsTotal
      drain(qe)
      assert(exactStateRows >= nKeys,
        s"exact dedup state rows $exactStateRows < $nKeys distinct keys")
    }
  }

  test("epoch bloom dedup: suppresses within current+previous epoch, " +
      "re-admits after two epochs, state stays bounded") {
    withRocksDb {
      implicit val sqlCtx = spark.sqlContext
      val t0 = Timestamp.valueOf("2024-01-01 12:00:00")
      def at(min: Long) = new Timestamp(t0.getTime + min * 60000)
      val numShards = 8
      val stream = MemoryStream[Event]
      val q = EventStreams.epochBloomDedup(stream.toDS(),
          numShards = numShards, epochSec = 3600)
        .writeStream.format("memory").queryName("t_epoch_bloom")
        .outputMode("update").option("checkpointLocation", ckpt()).start()
      // first arrival in epoch E
      stream.addData(Event(1, 1, "click", at(10), 1.0))
      q.processAllAvailable()
      // same-epoch dup + next-epoch dup: both suppressed (cur + prev)
      stream.addData(Event(2, 1, "click", at(20), 1.0),
        Event(3, 1, "click", at(70), 1.0))
      q.processAllAvailable()
      // two epochs past the first arrival: outside the suppression
      // window — re-admitted (the documented staleness bound), plus a
      // genuinely new key admitted normally
      stream.addData(Event(4, 1, "click", at(130), 1.0),
        Event(5, 2, "click", at(130), 1.0))
      q.processAllAvailable()
      val got = spark.table("t_epoch_bloom")
        .select($"event_id").as[Long].collect().toSet
      assert(got == Set(1L, 4L, 5L),
        s"epoch bloom emitted $got, want Set(1, 4, 5)")
      val stateRows = q.lastProgress.stateOperators.head.numRowsTotal
      assert(stateRows <= numShards,
        s"epoch bloom state rows $stateRows > shard count $numShards")
      drain(q)
    }
  }

  test("transformWithState keeps per-user counts across micro-batches") {
    withRocksDb {
      implicit val sqlCtx = spark.sqlContext
      val t0 = Timestamp.valueOf("2024-01-01 12:00:00")
      def at(min: Long) = new Timestamp(t0.getTime + min * 60000)
      val stream = MemoryStream[Event]
      val q = EventStreams.runningCounts(stream.toDS())
        .writeStream.format("memory").queryName("t_count")
        .outputMode("update").option("checkpointLocation", ckpt()).start()
      stream.addData(
        Event(1, 1, "click", at(0), 1.0),
        Event(2, 1, "view", at(1), 1.0),
        Event(3, 2, "click", at(2), 1.0))
      q.processAllAvailable()
      val afterB1 = spark.table("t_count")
        .as[UserCount].collect().map(u => u.user_id -> u.n_events).toMap
      assert(afterB1 == Map(1L -> 2L, 2L -> 1L), s"batch1 counts: $afterB1")
      stream.addData(Event(4, 1, "click", at(3), 1.0))
      drain(q)
      // update-mode memory sink appends each batch's updates; the last
      // row per user is the current state
      val latest = spark.table("t_count").as[UserCount].collect()
        .groupBy(_.user_id).map { case (u, rs) => u -> rs.map(_.n_events).max }
      assert(latest == Map(1L -> 3L, 2L -> 1L),
        s"state not kept across batches: $latest")
    }
  }

  test("stream-static enrichment equals the batch join and keeps dimensionless events") {
    implicit val sqlCtx = spark.sqlContext
    val rows = eventsOf(dir)
    // dimension rows exist only for even user ids — odd ones must
    // survive the left join with a null segment, not disappear
    val dim = graft.core.Tables.events(spark, dir)
      .select($"user_id").distinct().filter($"user_id" % 2 === 0)
      .withColumn("segment", expr("concat('seg', user_id % 3)"))
    val stream = MemoryStream[Event]
    stream.addData(rows)
    val q = EventStreams.enrichWithDim(stream.toDF(), dim)
      .writeStream.format("memory").queryName("t_enrich")
      .outputMode("append").option("checkpointLocation", ckpt()).start()
    drain(q)
    val streamed = spark.table("t_enrich")
      .select("event_id", "user_id", "segment")
      .as[(Long, Long, Option[String])].collect().toSet
    val batch = EventStreams.enrichWithDim(
        graft.core.Tables.events(spark, dir)
          .select("event_id", "user_id", "event_type", "ts", "value"), dim)
      .select("event_id", "user_id", "segment")
      .as[(Long, Long, Option[String])].collect().toSet
    assert(streamed == batch, s"stream/batch enrichment mismatch: " +
      s"${streamed.size} vs ${batch.size} rows")
    assert(streamed.exists(_._3.isEmpty), "expected dimensionless events")
    assert(streamed.exists(_._3.nonEmpty), "expected enriched events")
  }
}
