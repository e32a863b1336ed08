package graft.streaming

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** [[BucketBatchStream]] — the streaming loader-ledger twin of q581. */
class BucketBatchStreamSpec extends SparkSpec {

  test("LoaderState: a batch closes exactly at capacity and the tail " +
      "closes only in finalRows") {
    // width 16, budget 64 → bucket 0 cap 4, bucket 1 cap 2
    val st = new BucketBatchStream.LoaderState(16, 64)
    Seq(10L, 10L, 10L, 10L, 10L).foreach(st.update)  // 4 close + 1 open
    Seq(20L, 25L).foreach(st.update)                 // bucket 1 closes
    val a0 = st.buckets(0L)
    assert(a0(1) == 1L && a0(4) == 1L,
      s"bucket 0 should hold 1 closed batch + 1 open doc, got " +
        s"${a0.toSeq}")
    val rows = st.finalRows
    assert(rows == Seq((0L, 5L, 2L, 50L, 50L), (1L, 2L, 1L, 45L, 50L)),
      s"got $rows")
  }

  test("LoaderState: serialization round-trips canonically") {
    val st = new BucketBatchStream.LoaderState(16, 64)
    Seq(10L, 33L, 70L, 10L, 33L).foreach(st.update)
    val rt = BucketBatchStream.deserialize(st.serialized)
    assert(java.util.Arrays.equals(rt.serialized, st.serialized))
    assert(rt.finalRows == st.finalRows)
  }

  test("mergedLedger sums tail-closed shard ledgers per bucket") {
    val s1 = new BucketBatchStream.LoaderState(16, 64)
    Seq(10L, 10L, 10L).foreach(s1.update)      // open tail of 3
    val s2 = new BucketBatchStream.LoaderState(16, 64)
    Seq(10L, 20L).foreach(s2.update)           // tails in buckets 0, 1
    val merged = BucketBatchStream.mergedLedger(
      Seq(s1.serialized, s2.serialized))
    assert(merged == Seq((0L, 4L, 2L, 40L, 40L), (1L, 1L, 1L, 20L, 20L)),
      s"got $merged")
  }

  test("streamed ledger over a sequenced md5-ordered feed is " +
      "bit-identical to the q581 batch ledger, across micro-batches " +
      "and shard keys") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val W = graft.llm.LengthBucketing.BucketWidth
    val B = graft.llm.LengthBucketing.TokBudget
    val Sh = graft.llm.LengthBucketing.Shards
    val lens = graft.core.Tables
      .documents(spark, "/root/testdata/sf0.001")
      .select($"doc_id", size(split($"text", " ")).cast("long").as("len"))
      .localCheckpoint()
    val rows = lens
      .withColumn("shard", expr(
        s"CAST(CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 4)," +
          s" 16, 10) AS INT) % $Sh AS BIGINT)"))
      .withColumn("ord", md5($"doc_id".cast("string")))
      .orderBy($"ord", $"doc_id")
      .select($"shard", $"len")
      .collect().zipWithIndex
      .map { case (r, i) => (r.getLong(0), i.toLong, r.getLong(1)) }
      .toSeq
    withRocksDb {
      val stream = MemoryStream[(Long, Long, Long)]
      val q = BucketBatchStream.loaderStates(stream.toDS(), W, B)
        .toDF("shard", "state")
        .writeStream.format("memory").queryName("loader_spec")
        .outputMode("update")
        .option("checkpointLocation",
          Files.createTempDirectory("loader-spec-ckpt").toString)
        .start()
      rows.grouped(rows.size / 3 + 1).foreach { chunk =>
        stream.addData(chunk)
        q.processAllAvailable()
      }
      q.stop(); q.awaitTermination()
      val emissions = spark.table("loader_spec")
        .select($"shard", $"state").as[(Long, Array[Byte])].collect()
      spark.catalog.dropTempView("loader_spec")
      val last = emissions.zipWithIndex
        .groupBy(_._1._1).map { case (_, es) => es.maxBy(_._2)._1._2 }.toSeq
      assert(last.size <= Sh, "more shard states than shards")
      val streamed = BucketBatchStream.mergedLedger(last)
        .map { case (b, nd, nb, real, padded) =>
          (b, nd, nb, real, padded, padded - real,
            (BigInt(padded - real) * 1000000 / BigInt(padded)).toLong)
        }
      val batch = graft.llm.LengthBucketing.ledger(lens, W, B, Sh)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5), r.getLong(6))).toSeq
      assert(streamed == batch,
        s"streamed\n$streamed\nvs batch\n$batch")
    }
  }
}
