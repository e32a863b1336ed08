package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkSpec

/** Streaming KLL state (qs08): the merged shard sketches over a
  * multi-batch stream must cover every folded row exactly and estimate
  * ranks within the q220 bound.
  */
class KllStreamSpec extends SparkSpec {
  import spark.implicits._

  test("shard states merge to a full-stream sketch within the rank bound") {
    withRocksDb {
      implicit val sqlCtx = spark.sqlContext
      val rows = graft.core.Tables.events(spark, "/root/testdata/sf0.001")
        .select("event_id", "user_id", "event_type", "ts", "value")
        .as[Event].collect().toSeq.sortBy(_.event_id)
      val stream = MemoryStream[Event]
      val q = KllStream.kllSketches(stream.toDS(), numShards = 4)
        .toDF("shard", "sketch")
        .writeStream.format("memory").queryName("t_kll")
        .outputMode("update")
        .option("checkpointLocation",
          Files.createTempDirectory("kll-ckpt").toString)
        .start()
      rows.grouped(rows.size / 3 + 1).foreach { chunk =>
        stream.addData(chunk)
        q.processAllAvailable()
      }
      q.stop(); q.awaitTermination()
      val all = spark.table("t_kll").select($"shard", $"sketch")
        .as[(Long, Array[Byte])].collect()
      val latest = all.groupBy(_._1).map { case (_, rs) =>
        rs.map(_._2).maxBy(b => graft.functions.KllState.deserialize(b).n)
      }.toSeq
      val merged = KllStream.merge(latest)
      assert(merged.n === rows.size.toLong, "merged sketch lost rows")
      val values = rows.map(_.value).toArray
      val qs = merged.quantiles(10)
      (0 to 10).foreach { j =>
        val r = values.count(_ <= qs(j)).toDouble
        assert(math.abs(r - values.length.toDouble * j / 10) <=
          0.05 * values.length, s"decile $j rank error too large")
      }
    }
  }
}
