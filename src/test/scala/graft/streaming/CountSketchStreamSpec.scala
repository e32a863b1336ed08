package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkSpec
import graft.relational.CountSketch

/** Streaming count-sketch: the summed shard cell arrays must be
  * BIT-IDENTICAL to the batch one-pass cells over the same rows (the
  * qs03 identity convention — signed integer sums commute across
  * shards and micro-batches), estimates must sit inside the L2 band,
  * signs must actually cancel somewhere (the property CMS lacks), and
  * shard state stays fixed-size.
  */
class CountSketchStreamSpec extends SparkSpec {
  import spark.implicits._

  test("streamed shard cells sum to the exact batch cells; L2 band " +
      "holds; signs cancel") {
    withRocksDb {
      implicit val sqlCtx = spark.sqlContext
      val rows = graft.core.Tables.events(spark, "/root/testdata/sf0.001")
        .select("event_id", "user_id", "event_type", "ts", "value")
        .as[Event].collect().toSeq.sortBy(_.event_id)
      val stream = MemoryStream[Event]
      val q = CountSketchStream.sketches(stream.toDS())
        .toDF("shard", "cells")
        .writeStream.format("memory").queryName("t_csketch")
        .outputMode("update")
        .option("checkpointLocation",
          Files.createTempDirectory("csketch-ckpt").toString)
        .start()
      rows.grouped(rows.size / 3 + 1).foreach { chunk =>
        stream.addData(chunk)
        q.processAllAvailable()
      }
      q.stop(); q.awaitTermination()
      val progress = q.lastProgress.stateOperators.head
      assert(progress.numRowsTotal <= 8,
        s"state rows ${progress.numRowsTotal} exceed shard count")
      val emissions = spark.table("t_csketch")
        .select($"shard", $"cells").as[(Long, Array[Byte])].collect()
      val last = emissions.zipWithIndex
        .groupBy(_._1._1).map { case (_, es) => es.maxBy(_._2)._1._2 }.toSeq
      val merged = CountSketchStream.merge(last)
      // batch twin over the same user_id multiset — exact cell identity
      val batch = CountSketch.denseCells(
        CountSketch.batchCells(
          rows.map(_.user_id).toDF("k")).as[(Long, Long, Long)]
          .collect().toSeq)
      assert(merged.sameElements(batch),
        "streamed-merged cells differ from the batch one-pass cells")
      // point estimates inside the L2 band for every user
      val exact = rows.groupBy(_.user_id).view.mapValues(_.size.toLong).toMap
      val l2 = math.sqrt(exact.values.map(n => n.toDouble * n).sum)
      val bound = CountSketch.KBound * l2 / math.sqrt(CountSketch.Width)
      exact.foreach { case (u, n) =>
        val est = CountSketch.estimate(merged, u)
        assert(math.abs(est - n).toDouble <= bound,
          s"user $u: |$est - $n| outside the L2 band $bound")
      }
      // the signed structure must actually cancel somewhere: some cell
      // magnitude is strictly below the number of items hashed into it
      // is hard to read off; instead pin the signature property that
      // distinguishes count-sketch from CMS — at least one cell is
      // NEGATIVE (CMS cells are always >= 0)
      assert(merged.exists(_ < 0L),
        "no negative cell: sign structure not engaged")
    }
  }
}
