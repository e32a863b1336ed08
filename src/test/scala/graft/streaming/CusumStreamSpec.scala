package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkSpec

/** CUSUM contracts: closed-form alarm timing on a hand series, reset
  * semantics, slicing invariance under the ordered-source contract,
  * and quiet behavior on an in-control series.
  */
class CusumStreamSpec extends SparkSpec {
  import spark.implicits._

  private def ev(t: String, i: Long, v: Double): Event =
    Event(i, 1L, t, new Timestamp(1700000000000L + i * 1000L), v)

  private val ref = CusumRef(5000L, 1L) // μ₀ = 50.00 exactly

  test("closed-form alarm timing: +30.00 shift alarms at step 51, resets") {
    // drift−slack = 3000−2500 = 500/step; h = 25000 → first S>h at 51
    val rows = (1L to 110L).map(i => ev("a", i, 80.0))
    val st = CusumStream.fold(rows, ref)
    assert(st.firstAlarmN == 51L, s"first alarm at ${st.firstAlarmN}")
    assert(st.nAlarms == 2L, s"alarms ${st.nAlarms}")
    assert(st.n == 110L)
  }

  test("in-control series never alarms; slack absorbs small deviation") {
    // |x−μ₀| = 20.00 < k = 25.00 → both sides pinned at 0
    val rows = (1L to 200L).map(i =>
      ev("a", i, if (i % 2 == 0) 70.0 else 30.0))
    val st = CusumStream.fold(rows, ref)
    assert(st.nAlarms == 0L && st.sPos == 0L && st.sNeg == 0L)
  }

  test("downward shift trips the negative side") {
    val rows = (1L to 60L).map(i => ev("a", i, 20.0)) // μ−x−k = 500
    val st = CusumStream.fold(rows, ref)
    assert(st.firstAlarmN == 51L && st.sPos == 0L)
  }

  test("streamed fold equals batch fold for any time-ordered slicing") {
    val rows = (1L to 300L).map { i =>
      val v = 50.0 + (if (i > 150) 40.0 else 0.0) +
        (i % 7).toDouble - 3.0
      ev(if (i % 2 == 0) "a" else "b", i, v)
    }
    val expected = rows.groupBy(_.event_type).map { case (t, es) =>
      t -> CusumStream.fold(es, ref)
    }
    withRocksDb { for (nBatches <- Seq(1, 5)) {
      implicit val sqlCtx = spark.sqlContext
      val stream = MemoryStream[Event]
      val name = s"cusum_spec_$nBatches"
      val q = CusumStream
        .cusumStream(stream.toDS(), Map("a" -> ref, "b" -> ref))
        .writeStream.format("memory").queryName(name)
        .outputMode("update")
        .option("checkpointLocation",
          Files.createTempDirectory("cusum-spec-ckpt").toString)
        .start()
      rows.grouped(rows.size / nBatches + 1).foreach { chunk =>
        stream.addData(chunk)
        q.processAllAvailable()
      }
      q.stop(); q.awaitTermination()
      val got = spark.table(name).as[CusumEmit].collect()
        .groupBy(_.event_type).map { case (t, es) => t -> es.maxBy(_.n_rows) }
      spark.catalog.dropTempView(name)
      expected.foreach { case (t, exp) =>
        val e = got(t)
        assert((e.n_rows, e.s_pos, e.s_neg, e.n_alarms, e.first_alarm_n) ==
          ((exp.n, exp.sPos, exp.sNeg, exp.nAlarms, exp.firstAlarmN)),
          s"$nBatches batches, type $t: $e != $exp")
      }
    } }
  }
}
