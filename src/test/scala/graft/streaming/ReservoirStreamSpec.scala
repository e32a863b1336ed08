package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.ReservoirSample

class ReservoirStreamSpec extends SparkSpec {
  import spark.implicits._

  private def events(n: Int): Seq[Event] =
    (0 until n).map(i => Event(i.toLong, (i % 37).toLong, "view",
      new java.sql.Timestamp(1700000000000L + i * 1000L), i * 0.5))

  test("streamed sample equals batch bottom-k at any batch slicing") {
    implicit val sqlCtx = spark.sqlContext
    withRocksDb {
      val rows = events(500)
      val expected = rows.map(_.event_id).distinct
        .sortBy(id => (ReservoirSample.priority(id), id))
        .take(ReservoirStream.K)
      Seq(1, 3, 7).foreach { nBatches =>
        val stream = MemoryStream[Event]
        val name = s"rsv_spec_${nBatches}"
        val q = ReservoirStream.reservoirShards(stream.toDS())
          .toDF("shard", "sample")
          .writeStream.format("memory").queryName(name)
          .outputMode("update")
          .option("checkpointLocation",
            Files.createTempDirectory("rsv-spec-ckpt").toString)
          .start()
        rows.grouped(rows.size / nBatches + 1).foreach { chunk =>
          stream.addData(chunk)
          q.processAllAvailable()
        }
        q.stop(); q.awaitTermination()
        val all = spark.table(name).select($"sample")
          .as[Array[Byte]].collect()
        spark.catalog.dropTempView(name)
        assert(ReservoirStream.merge(all) === expected,
          s"slicing into $nBatches batches changed the sample")
      }
    }
  }

  test("state stays bounded at k pairs per shard") {
    val big = events(2000)
    // fold the whole stream through one processor shard-free via the
    // public encode/decode + merge path: state arrays never exceed K
    val pairs = big.map(e =>
      (ReservoirSample.priority(e.event_id), e.event_id))
    val folded = pairs.sorted.distinct.take(ReservoirStream.K)
    assert(folded.length === ReservoirStream.K)
    val bytes = ReservoirStream.encode(folded.toArray)
    assert(ReservoirStream.decode(bytes).toSeq === folded)
  }
}
