package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.relational.SketchAggregates.kllQuantiles

/** Streaming KLL state (qs08): the merged shard sketches over a
  * multi-batch stream must cover every folded row exactly and estimate
  * ranks within the q220 bound, read by the stream's own merge and by
  * Spark's batch `kll_sketch_*_double` functions alike.
  */
class KllStreamSpec extends SparkSpec {
  import spark.implicits._

  /** The sf0.001 events streamed in 3 batches through 4 shards: the
    * rows and each shard's latest state.
    */
  private def streamed(view: String): (Seq[Event], Seq[Array[Byte]]) =
    withRocksDb {
      implicit val sqlCtx = spark.sqlContext
      val rows = graft.core.Tables.events(spark, "/root/testdata/sf0.001")
        .select("event_id", "user_id", "event_type", "ts", "value")
        .as[Event].collect().toSeq.sortBy(_.event_id)
      val stream = MemoryStream[Event]
      val q = KllStream.kllSketches(stream.toDS(), numShards = 4)
        .toDF("shard", "sketch")
        .writeStream.format("memory").queryName(view)
        .outputMode("update")
        .option("checkpointLocation",
          Files.createTempDirectory("kll-ckpt").toString)
        .start()
      rows.grouped(rows.size / 3 + 1).foreach { chunk =>
        stream.addData(chunk)
        q.processAllAvailable()
      }
      q.stop(); q.awaitTermination()
      val all = spark.table(view).select($"shard", $"sketch")
        .as[(Long, Array[Byte])].collect()
      spark.catalog.dropTempView(view)
      (rows, KllStream.latest(all.toSeq))
    }

  private def assertDeciles(rows: Seq[Event], qs: Seq[Double]): Unit = {
    val values = rows.map(_.value).toArray
    (0 to 10).foreach { j =>
      val r = values.count(_ <= qs(j)).toDouble
      assert(math.abs(r - values.length.toDouble * j / 10) <=
        0.05 * values.length, s"decile $j rank error too large")
    }
  }

  test("shard states merge to a full-stream sketch within the rank bound") {
    val (rows, latest) = streamed("t_kll")
    val merged = KllStream.merge(latest)
    assert(merged.getN === rows.size.toLong, "merged sketch lost rows")
    assertDeciles(rows, merged.getQuantiles((0 to 10).map(_ / 10.0).toArray))
  }

  test("Spark's batch KLL functions read the stream's merged shard states") {
    val (rows, latest) = streamed("t_kll_batch")
    assert(latest.size === 4)
    val merged = latest.map(lit).reduce(kll_sketch_merge_double)
    val row = spark.range(1)
      .select(kll_sketch_get_n_double(merged), kllQuantiles(merged, 10))
      .first()
    assert(row.getLong(0) === rows.size.toLong, "merged sketch lost rows")
    assertDeciles(rows, row.getSeq[Double](1))
  }
}
