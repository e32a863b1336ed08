package graft.streaming

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, Logger => CoreLogger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkSpec

/** Streaming sliding-window distinct: finalized per-day estimates must
  * equal the batch twin through the same (shard, day) atomic sketches
  * EXACTLY, independent of micro-batch slicing; each day is emitted
  * once; state stays bounded by the window + lateness; a row behind
  * the watermark is dropped without disturbing finalized answers; each
  * window-day timer is registered once per shard.
  */
class SlidingHllStreamSpec extends SparkSpec {
  import spark.implicits._

  private def run(rows: Seq[Event], nBatches: Int,
      extraLate: Seq[Event] = Nil): Seq[SlidingHllEmit] =
    runChunks(rows.grouped(math.max(1, rows.size / nBatches)).toSeq,
      extraLate)

  private def runChunks(chunks: Seq[Seq[Event]],
      extraLate: Seq[Event] = Nil): Seq[SlidingHllEmit] = {
    withRocksDb {
      implicit val sqlCtx = spark.sqlContext
      val stream = MemoryStream[Event]
      val name = s"t_slhll_${System.nanoTime()}"
      val q = SlidingHllStream.slidingSketches(stream.toDS())
        .writeStream.format("memory").queryName(name)
        .outputMode("update")
        .option("checkpointLocation",
          Files.createTempDirectory("slhll-ckpt").toString)
        .start()
      chunks.foreach { chunk =>
        stream.addData(chunk)
        q.processAllAvailable()
      }
      if (extraLate.nonEmpty) {
        stream.addData(extraLate)
        q.processAllAvailable()
      }
      // the watermark computed from batch N's data only takes effect in
      // batch N+1 — run empty batches so the tail days' timers fire
      (1 to 2).foreach { _ =>
        stream.addData(Seq.empty[Event])
        q.processAllAvailable()
      }
      q.stop(); q.awaitTermination()
      val out = spark.table(name).as[SlidingHllEmit].collect().toSeq
      spark.catalog.dropTempView(name)
      out
    }
  }

  private lazy val rows: Seq[Event] =
    graft.core.Tables.events(spark, "/root/testdata/sf0.001")
      .select("event_id", "user_id", "event_type", "ts", "value")
      .as[Event].collect().toSeq.sortBy(e => (e.ts.getTime, e.event_id))

  test("finalized estimates equal the batch twin, independent of slicing") {
    val twin = SlidingHllStream.batchEstimates(rows)
    val wmFinal = rows.map(_.ts.getTime).max -
      SlidingHllStream.LatenessDays * SlidingHllStream.DayMillis
    val finalDays = twin.keySet
      .filter(d => (d + 1) * SlidingHllStream.DayMillis <= wmFinal)
    assert(finalDays.size >= 3, s"fixture too narrow: $finalDays")
    for (nBatches <- Seq(1, 5)) {
      val emits = run(rows, nBatches)
      // each (shard, day) finalized at most once
      val dup = emits.groupBy(e => (e.shard, e.day)).filter(_._2.size > 1)
      assert(dup.isEmpty, s"re-emitted: ${dup.keys.take(3)}")
      val got = SlidingHllStream.mergeEstimates(emits)
      assert(got.keySet == finalDays,
        s"emitted ${got.keySet} != finalized $finalDays (n=$nBatches)")
      finalDays.foreach { d =>
        assert(got(d) == twin(d),
          s"day $d: streamed ${got(d)} != twin ${twin(d)} (n=$nBatches)")
      }
    }
  }

  test("per-day slicing keeps the retained day-map bounded (eviction works)") {
    val byDay = rows.groupBy(e => SlidingHllStream.dayOf(e.ts.getTime))
      .toSeq.sortBy(_._1).map(_._2)
    assert(byDay.size >= SlidingHllStream.WindowDays + 3)
    val emits = runChunks(byDay)
    // steady per-day feeding: window + lateness + in-flight slack
    val bound = SlidingHllStream.WindowDays + SlidingHllStream.LatenessDays + 2
    assert(emits.forall(_.n_retained <= bound),
      s"state leak: ${emits.map(_.n_retained).max} > $bound")
    // and the readings still match the twin on the finalized prefix
    val twin = SlidingHllStream.batchEstimates(rows)
    val got = SlidingHllStream.mergeEstimates(emits)
    got.foreach { case (d, est) => assert(est == twin(d), s"day $d") }
  }

  test("estimates land within the lgK=12 band of exact trailing distinct") {
    val emits = run(rows, 3)
    val got = SlidingHllStream.mergeEstimates(emits)
    val byDay = rows.groupBy(e => SlidingHllStream.dayOf(e.ts.getTime))
    got.foreach { case (d, est) =>
      val exact = byDay.filter { case (j, _) =>
        j >= d - (SlidingHllStream.WindowDays - 1) && j <= d
      }.values.flatten.map(_.user_id).toSet.size
      assert(math.abs(est - exact) <= 0.05 * exact,
        s"day $d: est $est vs exact $exact")
    }
  }

  test("a row behind the watermark is dropped, finalized answers stand") {
    val late = rows.minBy(_.ts.getTime)
    val withLate = run(rows, 3,
      extraLate = Seq(late.copy(event_id = -1L, user_id = 999999999L)))
    val clean = run(rows, 3)
    val a = SlidingHllStream.mergeEstimates(withLate)
    val b = SlidingHllStream.mergeEstimates(clean)
    assert(a == b, "late row altered finalized windows")
  }

  test("consecutive per-day batches register each window expiry once, " +
      "answers unchanged") {
    // the state store logs every registration of an expiry the key
    // already holds; count those lines while the stream runs
    val timers = LogManager.getLogger("org.apache.spark.sql.execution." +
      "streaming.operators.stateful.transformwithstate.timers." +
      "TimerStateImpl").asInstanceOf[CoreLogger]
    val again = new AtomicInteger()
    val counter = new AbstractAppender("timer-again", null, null, true,
        Array.empty) {
      override def append(e: LogEvent): Unit =
        if (e.getMessage.getFormattedMessage.contains("already exists"))
          again.incrementAndGet()
    }
    counter.start()
    timers.addAppender(counter)
    val byDay = rows.groupBy(e => SlidingHllStream.dayOf(e.ts.getTime))
      .toSeq.sortBy(_._1)
    assert(byDay.sliding(2).exists { case Seq(a, b) => b._1 == a._1 + 1 },
      "fixture has no two consecutive days")
    val emits = try runChunks(byDay.map(_._2))
      finally { timers.removeAppender(counter); counter.stop() }
    assert(again.get == 0, s"${again.get} timers registered twice")
    val twin = SlidingHllStream.batchEstimates(rows)
    val got = SlidingHllStream.mergeEstimates(emits)
    assert(got.nonEmpty)
    got.foreach { case (d, est) => assert(est == twin(d), s"day $d") }
  }
}
