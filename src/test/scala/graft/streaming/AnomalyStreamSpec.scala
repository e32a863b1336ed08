package graft.streaming

import java.sql.Timestamp

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Streaming z-score anomaly detection: with in-order input the flagged
  * set must equal the batch trailing-window twin (q149's frame), state
  * must stay fixed-size, and the flag must fire across micro-batch
  * boundaries (history persists in state).
  */
class AnomalyStreamSpec extends SparkSpec {
  import spark.implicits._

  private def ckpt(): String =
    java.nio.file.Files.createTempDirectory("anom-ckpt").toString

  private val dir = "/root/testdata/sf0.001"

  private def eventsInOrder: Seq[Event] = {
    import graft.core.{Tables => T}
    T.events(spark, dir)
      .select("event_id", "user_id", "event_type", "ts", "value")
      .as[Event].collect().toSeq
      .sortBy(e => (e.user_id, e.ts.getTime, e.event_id))
  }

  private def batchTwin(rows: Seq[Event]): Set[(Long, Long)] = {
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      .rowsBetween(-AnomalyStream.WindowRows, -1)
    spark.createDataset(rows).toDF()
      .withColumn("q", floor($"value" * 100).cast("long"))
      .withColumn("n", count($"q").over(w))
      .withColumn("s", sum($"q").over(w))
      .withColumn("qq", sum($"q" * $"q").over(w))
      .filter($"n" >= AnomalyStream.MinHistory &&
        ($"n" * $"q" - $"s") * ($"n" * $"q" - $"s") >
          lit(9L) * ($"n" * $"qq" - $"s" * $"s"))
      .select($"user_id", $"event_id").as[(Long, Long)].collect().toSet
  }

  test("in-order streaming flags equal the batch trailing-window twin") {
    withRocksDb {
    implicit val sqlCtx = spark.sqlContext
    val rows = eventsInOrder
    val stream = MemoryStream[Event]
    val q = AnomalyStream.zScoreAnomalies(stream.toDS())
      .writeStream.format("memory").queryName("t_anom")
      .outputMode("update").option("checkpointLocation", ckpt()).start()
    // three micro-batches: history must survive batch boundaries
    rows.grouped(rows.size / 3 + 1).foreach { chunk =>
      stream.addData(chunk)
      q.processAllAvailable()
    }
    q.stop(); q.awaitTermination()
    val streamed = spark.table("t_anom")
      .select("user_id", "event_id").as[(Long, Long)].collect().toSet
    spark.catalog.dropTempView("t_anom")
    val batch = batchTwin(rows)
    assert(batch.nonEmpty, "fixture produced no anomalies")
    assert(streamed == batch,
      s"stream ${streamed.size} != batch ${batch.size}")
    }
  }

  test("a spike after a flat run is flagged; the flat run itself is not") {
    withRocksDb {
    implicit val sqlCtx = spark.sqlContext
    def ev(id: Long, v: Double) =
      Event(id, 7L, "m", new Timestamp(1700000000000L + id * 1000), v)
    val stream = MemoryStream[Event]
    val q = AnomalyStream.zScoreAnomalies(stream.toDS())
      .writeStream.format("memory").queryName("t_anom2")
      .outputMode("update").option("checkpointLocation", ckpt()).start()
    // flat history 10.0 ±0.02, then a 50.0 spike
    stream.addData(Seq(ev(1, 10.00), ev(2, 10.01), ev(3, 9.99),
      ev(4, 10.02), ev(5, 10.00), ev(6, 50.0), ev(7, 10.01)))
    q.processAllAvailable()
    q.stop(); q.awaitTermination()
    val flagged = spark.table("t_anom2")
      .select("event_id").as[Long].collect().toSet
    spark.catalog.dropTempView("t_anom2")
    assert(flagged.contains(6L), s"spike not flagged: $flagged")
    assert(!flagged.exists(id => id < 6), s"flat run misflagged: $flagged")
    }
  }
}
