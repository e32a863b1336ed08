package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkSpec

/** Streaming CMS: the merged shard sketches must be BIT-IDENTICAL to
  * the batch single-pass sketch over the same rows (counter-additive
  * state — sums commute across shards and micro-batches), estimates
  * must carry the classical CMS guarantees, and shard state must stay
  * fixed-size (rows ≤ shards).
  */
class CmsStreamSpec extends SparkSpec {
  import spark.implicits._

  test("streamed shard sketches merge to the exact batch sketch") {
    withRocksDb {
      implicit val sqlCtx = spark.sqlContext
      val rows = graft.core.Tables.events(spark, "/root/testdata/sf0.001")
        .select("event_id", "user_id", "event_type", "ts", "value")
        .as[Event].collect().toSeq.sortBy(_.event_id)
      val stream = MemoryStream[Event]
      val q = CmsStream.cmsSketches(stream.toDS())
        .toDF("shard", "sketch")
        .writeStream.format("memory").queryName("t_cms")
        .outputMode("update")
        .option("checkpointLocation",
          Files.createTempDirectory("cms-ckpt").toString)
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
      // last emission per shard (Update mode re-emits each batch)
      val emissions = spark.table("t_cms")
        .select($"shard", $"sketch").as[(Long, Array[Byte])].collect()
      val last = emissions.zipWithIndex
        .groupBy(_._1._1).map { case (_, es) => es.maxBy(_._2)._1._2 }.toSeq
      val merged = CmsStream.merge(last)
      val batch = graft.core.Tables.events(spark, "/root/testdata/sf0.001")
        .stat.countMinSketch($"user_id", eps = CmsStream.CmsEps,
          confidence = CmsStream.CmsConfidence, seed = CmsStream.CmsSeed)
      assert(merged.totalCount() == batch.totalCount(),
        s"totalCount ${merged.totalCount()} != ${batch.totalCount()}")
      val exact = rows.groupBy(_.user_id).view.mapValues(_.size.toLong).toMap
      exact.foreach { case (u, n) =>
        assert(merged.estimateCount(u) == batch.estimateCount(u),
          s"user $u: streamed ${merged.estimateCount(u)} != " +
            s"batch ${batch.estimateCount(u)}")
        assert(merged.estimateCount(u) >= n,
          s"CMS under-counted user $u") // never undercounts
      }
    }
  }
}
