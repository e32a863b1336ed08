package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkSpec

/** Streaming HLL: each shard's streamed sketch must estimate exactly
  * like the batch sketch over the same values (both representations
  * are order-independent functions of the shard's value set), the
  * merged union must estimate like the batch union, the estimate must
  * sit within the lgK=12 error band of the exact distinct count, and
  * shard state must stay bounded (rows ≤ shards).
  */
class HllStreamSpec extends SparkSpec {
  import spark.implicits._

  test("streamed shard sketches union to the batch union, within HLL error") {
    withRocksDb {
      implicit val sqlCtx = spark.sqlContext
      val rows = graft.core.Tables.events(spark, "/root/testdata/sf0.001")
        .select("event_id", "user_id", "event_type", "ts", "value")
        .as[Event].collect().toSeq.sortBy(_.event_id)
      val stream = MemoryStream[Event]
      val q = HllStream.hllSketches(stream.toDS())
        .toDF("shard", "sketch")
        .writeStream.format("memory").queryName("t_hll")
        .outputMode("update")
        .option("checkpointLocation",
          Files.createTempDirectory("hll-ckpt").toString)
        .start()
      // three micro-batches so per-shard state folds across batches
      rows.grouped(rows.size / 3 + 1).foreach { chunk =>
        stream.addData(chunk)
        q.processAllAvailable()
      }
      q.stop(); q.awaitTermination()
      val progress = q.lastProgress.stateOperators.head
      assert(progress.numRowsTotal <= 8,
        s"state rows ${progress.numRowsTotal} exceed shard count")
      val emissions = spark.table("t_hll")
        .select($"shard", $"sketch").as[(Long, Array[Byte])].collect()
      val lastPerShard = emissions.zipWithIndex
        .groupBy(_._1._1).map { case (sh, es) => sh -> es.maxBy(_._2)._1._2 }
      // per-shard: streamed sketch estimates == batch sketch over the
      // same values (order/micro-batch-slicing independence)
      val byShard = rows.groupBy(e =>
        java.lang.Math.floorMod(scala.util.hashing.MurmurHash3
          .stringHash(e.user_id.toString), 8).toLong)
      byShard.foreach { case (sh, es) =>
        val batchSk = new org.apache.datasketches.hll.HllSketch(
          HllStream.LgK, org.apache.datasketches.hll.TgtHllType.HLL_8)
        es.foreach(e => batchSk.update(e.user_id))
        val streamed = org.apache.datasketches.hll.HllSketch
          .heapify(lastPerShard(sh))
        assert(streamed.getEstimate == batchSk.getEstimate,
          s"shard $sh: streamed ${streamed.getEstimate} != " +
            s"batch ${batchSk.getEstimate}")
      }
      val merged = HllStream.merge(lastPerShard.values.toSeq)
      val exact = rows.map(_.user_id).distinct.size
      val relErr = math.abs(merged.getEstimate - exact) / exact.toDouble
      assert(relErr < 0.05,
        s"merged estimate ${merged.getEstimate} vs exact $exact " +
          s"(rel err $relErr) outside the lgK=12 band")
      s"ok"
    }
  }
}
