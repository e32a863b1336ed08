package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkSpec

/** Streaming PSI: the latest emission per type must equal the batch
  * twin computed through the ONE shared finish over the same rows
  * (counter-additive histogram state → exact equality), the reading
  * must be independent of micro-batch slicing, and a planted
  * distribution shift must push PSI past the 0.25 retrain threshold
  * while an unshifted stream stays under the 0.1 stable threshold.
  */
class PsiStreamSpec extends SparkSpec {
  import spark.implicits._

  private def ev(id: Long, tpe: String, value: Double): Event =
    Event(id, id % 7, tpe, new Timestamp(1700000000000L + id * 1000L), value)

  /** Run the monitor over `rows` in `nBatches` slices; return the
    * latest emission per type.
    */
  private def run(ref: Map[String, Map[Long, Long]], rows: Seq[Event],
      nBatches: Int): Map[String, PsiEmit] = {
    withRocksDb {
      implicit val sqlCtx = spark.sqlContext
      val stream = MemoryStream[Event]
      val name = s"t_psi_${System.nanoTime()}"
      val q = PsiStream.psiStream(stream.toDS(), ref)
        .writeStream.format("memory").queryName(name)
        .outputMode("update")
        .option("checkpointLocation",
          Files.createTempDirectory("psi-ckpt").toString)
        .start()
      rows.grouped(math.max(1, rows.size / nBatches)).foreach { chunk =>
        stream.addData(chunk)
        q.processAllAvailable()
      }
      q.stop(); q.awaitTermination()
      val all = spark.table(name).as[PsiEmit].collect()
      spark.catalog.dropTempView(name)
      all.groupBy(_.event_type).map { case (t, es) =>
        t -> es.maxBy(_.n_rows)
      }
    }
  }

  private def histOf(rows: Seq[Event]): Map[String, Map[Long, Long]] =
    rows.groupBy(_.event_type).map { case (t, es) =>
      t -> es.groupBy(e => PsiStream.binOf(e.value))
        .map { case (b, bs) => b -> bs.size.toLong }
    }

  test("latest emission equals the batch twin, independent of slicing") {
    // 64-bit LCG (the polynomial-mod-26 periodicity lesson): values
    // spread over several bins per type
    def lcg(x: Long): Long = x * 6364136223846793005L + 1442695040888963407L
    val rows = (0L until 600L).map { i =>
      val tpe = s"t${i % 3}"
      ev(i, tpe, java.lang.Math.floorMod(lcg(i), 80000L) / 100.0)
    }
    val (refRows, curRows) = rows.partition(_.event_id % 2 == 0)
    val ref = histOf(refRows)
    val expected = histOf(curRows).map { case (t, cur) =>
      val (nb, psi) = PsiStream.psiMicro(ref.getOrElse(t, Map.empty), cur)
      t -> (cur.values.sum, nb, psi)
    }
    for (nBatches <- Seq(1, 4)) {
      val got = run(ref, curRows, nBatches)
      assert(got.keySet == expected.keySet)
      expected.foreach { case (t, (n, nb, psi)) =>
        val e = got(t)
        assert((e.n_rows, e.n_bins, e.psi_micro) == ((n, nb, psi)),
          s"$nBatches batches, type $t: " +
            s"(${e.n_rows},${e.n_bins},${e.psi_micro}) != ($n,$nb,$psi)")
      }
    }
  }

  test("planted shift crosses 0.25; unshifted stays under 0.1") {
    // reference mass in bins 0-3; shifted stream moves to bins 4-7
    val refRows = (0L until 400L).map(i => ev(i, "a", (i % 4) * 20.0 + 5.0))
    val ref = histOf(refRows)
    val same = (0L until 400L).map(i => ev(i, "a", (i % 4) * 20.0 + 7.0))
    val shifted = (0L until 400L).map(i =>
      ev(i, "a", 80.0 + (i % 4) * 20.0 + 5.0))
    val stable = run(ref, same, 3)("a").psi_micro
    val drifted = run(ref, shifted, 3)("a").psi_micro
    assert(stable < 100000L, s"stable stream read PSI $stable")
    assert(drifted > 250000L, s"shifted stream read PSI $drifted")
  }

  test("state rows stay bounded by occupied (type, bin) cells") {
    withRocksDb {
      implicit val sqlCtx = spark.sqlContext
      val rows = (0L until 500L).map(i =>
        ev(i, s"t${i % 2}", (i % 5) * 20.0 + 1.0))
      val stream = MemoryStream[Event]
      val q = PsiStream.psiStream(stream.toDS(), histOf(rows))
        .writeStream.format("memory").queryName("t_psi_state")
        .outputMode("update")
        .option("checkpointLocation",
          Files.createTempDirectory("psi-ckpt-b").toString)
        .start()
      rows.grouped(200).foreach { c => stream.addData(c); q.processAllAvailable() }
      val progress = q.lastProgress.stateOperators.head
      q.stop(); q.awaitTermination()
      spark.catalog.dropTempView("t_psi_state")
      // 2 types × 5 bins map cells + 2 seen counters; RocksDB reports
      // map-state rows per (grouping key, user key) pair
      assert(progress.numRowsTotal <= 2 * 5 + 2,
        s"state rows ${progress.numRowsTotal} exceed occupied cells")
    }
  }
}
