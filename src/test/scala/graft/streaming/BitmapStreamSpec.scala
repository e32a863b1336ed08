package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkSpec

/** Streaming exact-distinct bitmaps: each shard's streamed bitmap must
  * EQUAL the batch bitmap over the same values (OR is an
  * order-independent function of the key set), the shard merge must
  * yield the exact global distinct count, and state must stay at one
  * row per shard.
  */
class BitmapStreamSpec extends SparkSpec {
  import spark.implicits._

  test("streamed shard bitmaps merge to the exact distinct count") {
    withRocksDb {
      implicit val sqlCtx = spark.sqlContext
      val rows = graft.core.Tables.events(spark, "/root/testdata/sf0.001")
        .select("event_id", "user_id", "event_type", "ts", "value")
        .as[Event].collect().toSeq.sortBy(_.event_id)
      val stream = MemoryStream[Event]
      val q = BitmapStream.bitmapShards(stream.toDS())
        .toDF("shard", "bm")
        .writeStream.format("memory").queryName("t_rbm")
        .outputMode("update")
        .option("checkpointLocation",
          Files.createTempDirectory("rbm-ckpt").toString)
        .start()
      rows.grouped(rows.size / 3 + 1).foreach { chunk =>
        stream.addData(chunk)
        q.processAllAvailable()
      }
      q.stop(); q.awaitTermination()
      val progress = q.lastProgress.stateOperators.head
      assert(progress.numRowsTotal <= 8,
        s"state rows ${progress.numRowsTotal} exceed shard count")
      val emissions = spark.table("t_rbm")
        .select($"shard", $"bm").as[(Long, Array[Byte])].collect()
      // last emission per shard is the cumulative bitmap (bitmaps only
      // grow within a shard)
      val lastPerShard = emissions.zipWithIndex
        .groupBy(_._1._1).map { case (sh, es) => sh -> es.maxBy(_._2)._1._2 }
      // per-shard streamed == batch-built bitmap (exact set equality)
      val byShard = rows.groupBy(e =>
        java.lang.Math.floorMod(scala.util.hashing.MurmurHash3
          .stringHash(e.user_id.toString), 8).toLong)
      byShard.foreach { case (sh, es) =>
        val batch = new org.roaringbitmap.RoaringBitmap()
        es.foreach(e => batch.add(e.user_id.toInt))
        val streamed = graft.functions.BitmapCodec
          .deserialize(lastPerShard(sh))
        assert(streamed.equals(batch),
          s"shard $sh: streamed bitmap != batch bitmap")
      }
      // global merge == exact distinct
      val merged = BitmapStream.merge(lastPerShard.values.toSeq)
      val exact = rows.map(_.user_id).distinct.size
      assert(merged.getLongCardinality == exact.toLong,
        s"merged ${merged.getLongCardinality} != exact $exact")
      spark.catalog.dropTempView("t_rbm")
    }
  }
}
