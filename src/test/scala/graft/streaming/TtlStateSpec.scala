package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp
import java.time.Duration

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkSpec

/** State TTL eviction gate (the one transformWithState feature the
  * rest of the library leaves at TTLConfig.NONE): a short TTL plus a
  * much longer wall-clock gap MUST evict the key's state before the
  * next batch (had_state=false, count restarts at the batch's own
  * rows); a long TTL across back-to-back batches MUST NOT (state
  * accumulates). Each direction is robust to arbitrary scheduler
  * delay on one side — the determinism processing-time TTL admits.
  */
class TtlStateSpec extends SparkSpec {
  import spark.implicits._

  private def ev(id: Long, user: Long): Event =
    Event(id, user, "view", new Timestamp(1700000000000L + id), id.toDouble)

  /** One query, two data batches, sink polled between them.
    * ProcessingTime mode schedules CONTINUOUS housekeeping
    * micro-batches (TTL eviction sweeps), so processAllAvailable and
    * AvailableNow never quiesce and the memory sink rejects
    * checkpoint restarts — polling the sink for the expected emission
    * count is the deterministic read: housekeeping batches carry no
    * input rows, so only the two data batches emit (2 rows, then 1).
    */
  private def run(ttl: Duration, sleepBetweenMs: Long)
      : Seq[(Long, Long, Boolean)] = {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Event]
    val name = s"t_ttl_${System.nanoTime()}"
    val q = TtlState.ttlCounts(stream.toDS(), ttl)
      .toDF("user_id", "cnt", "had_state")
      .writeStream.format("memory").queryName(name)
      .outputMode("update")
      .option("checkpointLocation",
        Files.createTempDirectory("ttl-ckpt").toString)
      .start()
    def pollUntil(rows: Int): Unit = {
      val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
      while (spark.table(name).count() < rows &&
          System.nanoTime() < deadline) Thread.sleep(50)
      assert(spark.table(name).count() >= rows,
        s"sink stuck below $rows rows")
    }
    // batch 1: user 7 twice, user 8 once
    stream.addData(Seq(ev(1, 7), ev(2, 7), ev(3, 8)))
    pollUntil(2)
    if (sleepBetweenMs > 0) Thread.sleep(sleepBetweenMs)
    // batch 2: user 7 once
    stream.addData(Seq(ev(4, 7)))
    pollUntil(3)
    q.stop(); q.awaitTermination()
    val out = spark.table(name)
      .as[(Long, Long, Boolean)].collect().toSeq
    spark.catalog.dropTempView(name)
    out
  }

  test("a long TTL keeps state across batches: the count accumulates") {
    withRocksDb {
      val out = run(Duration.ofHours(1), sleepBetweenMs = 0)
      // batch 1: fresh state for both users
      assert(out.contains((7L, 2L, false)), s"batch-1 user 7: $out")
      assert(out.contains((8L, 1L, false)), s"batch-1 user 8: $out")
      // batch 2: user 7's state survived — count reads 3, had_state
      assert(out.contains((7L, 3L, true)),
        s"state must survive a 1-hour TTL across back-to-back batches: $out")
    }
  }

  test("an expired TTL evicts state: the second batch re-enters fresh " +
      "and the count restarts correctly") {
    withRocksDb {
      val out = run(Duration.ofMillis(50), sleepBetweenMs = 2000)
      assert(out.contains((7L, 2L, false)), s"batch-1 user 7: $out")
      // batch 2 arrives ~2 s after a 50 ms TTL: state MUST be gone —
      // had_state=false and the count restarts at this batch's rows
      assert(out.contains((7L, 1L, false)),
        s"50 ms TTL + 2 s gap must evict user 7's state: $out")
      assert(!out.contains((7L, 3L, true)),
        s"stale counter read after expiry: $out")
    }
  }
}
