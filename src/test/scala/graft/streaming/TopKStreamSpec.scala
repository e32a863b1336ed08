package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Streaming per-group top-k: the final (max-ver) emission per user
  * must equal the batch top-k under the same (quantized value desc,
  * event_id asc) order — across micro-batch boundaries, so retained
  * state genuinely merges with new batches.
  */
class TopKStreamSpec extends SparkSpec {
  import spark.implicits._

  private def ckpt(): String =
    java.nio.file.Files.createTempDirectory("topk-ckpt").toString

  private val dir = "/root/testdata/sf0.001"

  test("final streamed top-k equals the batch top-k across batch splits") {
    withRocksDb {
      implicit val sqlCtx = spark.sqlContext
      val rows = graft.core.Tables.events(spark, dir)
        .select("event_id", "user_id", "event_type", "ts", "value")
        .as[Event].collect().toSeq.sortBy(_.event_id)
      val stream = MemoryStream[Event]
      val q = TopKStream.topKPerUser(stream.toDS())
        .writeStream.format("memory").queryName("t_topk_stream")
        .outputMode("update").option("checkpointLocation", ckpt()).start()
      // three batches: state must carry between them
      rows.grouped(rows.size / 3 + 1).foreach { chunk =>
        stream.addData(chunk)
        q.processAllAvailable()
      }
      q.stop(); q.awaitTermination()
      val all = spark.table("t_topk_stream")
      val latest = all
        .withColumn("maxv", max($"ver").over(
          Window.partitionBy($"user_id")))
        .filter($"ver" === $"maxv")
        .select($"user_id", $"rank", $"event_id", $"q")
        .as[(Long, Int, Long, Long)].collect().toSet
      val batch = {
        val w = Window.partitionBy($"user_id")
          .orderBy($"q".desc, $"event_id".asc)
        graft.core.Tables.events(spark, dir)
          .select($"user_id", $"event_id",
            floor(lit(100.0) * $"value").cast("long").as("q"))
          .withColumn("rank", row_number().over(w))
          .filter($"rank" <= TopKStream.K)
          .select($"user_id", $"rank", $"event_id", $"q")
          .as[(Long, Int, Long, Long)].collect().toSet
      }
      assert(latest == batch,
        s"streamed top-k diverged: ${latest.size} vs ${batch.size} rows")
      assert(batch.nonEmpty)
    }
  }

  test("state is bounded: k pairs per key regardless of history length") {
    withRocksDb {
      implicit val sqlCtx = spark.sqlContext
      // one hot key with many rows: emissions stay at k rows with
      // monotonically increasing ver
      val rows = (1L to 50L).map(i =>
        Event(i, 7L, "view", new java.sql.Timestamp(1700000000000L + i), i.toDouble))
      val stream = MemoryStream[Event]
      val q = TopKStream.topKPerUser(stream.toDS())
        .writeStream.format("memory").queryName("t_topk_bounded")
        .outputMode("update").option("checkpointLocation", ckpt()).start()
      stream.addData(rows.take(25)); q.processAllAvailable()
      stream.addData(rows.drop(25)); q.processAllAvailable()
      q.stop(); q.awaitTermination()
      val out = spark.table("t_topk_bounded")
        .as[TopKStream.TopKRow].collect()
      val last = out.filter(_.ver == 50L)
      assert(last.length == TopKStream.K)
      // top-3 of values 1..50 are 50, 49, 48
      assert(last.sortBy(_.rank).map(_.event_id).toSeq == Seq(50L, 49L, 48L))
    }
  }
}
