package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkSpec

/** EWMA chart contracts: immediate detection of a large sustained
  * shift (no CUSUM-style accumulation delay), silence inside the
  * limits, self-healing after a transient, and slicing invariance.
  */
class EwmaStreamSpec extends SparkSpec {
  import spark.implicits._

  private def ev(t: String, i: Long, v: Double): Event =
    Event(i, 1L, t, new Timestamp(1700000000000L + i * 1000L), v)

  // μ = 50.00, limit = 10.00 exactly (hand-picked, not refOf)
  private val ref = EwmaRef(5000.0, 1000.0)

  test("sustained large shift alarms from step 2 and keeps alarming") {
    // x = 80 always: e stays 8000, |e-μ| = 3000 > 1000 from n=2 on
    val st = EwmaStream.fold((1L to 10L).map(i => ev("a", i, 80.0)), ref)
    assert(st.firstAlarmN == 2L && st.nAlarms == 9L)
  }

  test("within-limit series never alarms") {
    // alternating 55/45: e stays within [4500, 5500], |e-μ| ≤ 500
    val st = EwmaStream.fold(
      (1L to 100L).map(i => ev("a", i, if (i % 2 == 0) 55.0 else 45.0)), ref)
    assert(st.nAlarms == 0L)
  }

  test("transient spike self-heals: alarms stop once e decays back") {
    // steady 50s, one 150 spike at n=10, steady 50s after: e jumps to
    // 0.25·15000 + 0.75·5000 = 7500 (alarm), then decays 0.75× toward
    // 5000 — within 1000 once e−μ = 2500·0.75^k < 1000 (k = 4)
    val rows = (1L to 9L).map(i => ev("a", i, 50.0)) ++
      Seq(ev("a", 10L, 150.0)) ++ (11L to 30L).map(i => ev("a", i, 50.0))
    val st = EwmaStream.fold(rows, ref)
    assert(st.firstAlarmN == 10L)
    assert(st.nAlarms == 4L, s"expected 4 alarm steps, got ${st.nAlarms}")
  }

  test("streamed fold equals batch fold for any time-ordered slicing") {
    val rows = (1L to 200L).map { i =>
      ev(if (i % 2 == 0) "a" else "b", i,
        50.0 + (if (i > 100) 35.0 else 0.0) + (i % 5).toDouble)
    }
    val expected = rows.groupBy(_.event_type).map { case (t, es) =>
      t -> EwmaStream.fold(es, ref)
    }
    withRocksDb { for (nBatches <- Seq(1, 4)) {
      implicit val sqlCtx = spark.sqlContext
      val stream = MemoryStream[Event]
      val name = s"ewma_spec_$nBatches"
      val q = EwmaStream
        .ewmaStream(stream.toDS(), Map("a" -> ref, "b" -> ref))
        .writeStream.format("memory").queryName(name)
        .outputMode("update")
        .option("checkpointLocation",
          Files.createTempDirectory("ewma-spec-ckpt").toString)
        .start()
      rows.grouped(rows.size / nBatches + 1).foreach { chunk =>
        stream.addData(chunk)
        q.processAllAvailable()
      }
      q.stop(); q.awaitTermination()
      val got = spark.table(name).as[EwmaEmit].collect()
        .groupBy(_.event_type).map { case (t, es) => t -> es.maxBy(_.n_rows) }
      spark.catalog.dropTempView(name)
      expected.foreach { case (t, exp) =>
        val e = got(t)
        assert((e.n_rows, e.ewma_micro, e.n_alarms, e.first_alarm_n) ==
          ((exp.n, math.floor(1000000.0 * exp.e).toLong, exp.nAlarms,
            exp.firstAlarmN)), s"$nBatches batches, $t: $e != $exp")
      }
    } }
  }
}
