package graft.streaming

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Planted near-dup across micro-batches: a doc re-sent with a tiny
  * edit in a LATER batch must be flagged (its bands collide with the
  * earlier owner), unrelated docs must not, and the streamed owner map
  * must equal the batch groupBy-min bucket-for-bucket regardless of
  * slicing.
  */
class LshDedupStreamSpec extends SparkSpec {
  import spark.implicits._

  private def words(n: Int, seed: Int): String =
    (1 to n).map(i => s"t${(i * 131 + seed * 17) % 997}_$seed").mkString(" ")

  private val original = words(60, 1)
  // one token changed out of 60 — near-dup, not exact
  private val edited = original.replace("t148_1", "EDITED")

  test("near-dup sent in a later batch is flagged; unique docs are not") {
    withRocksDb {
      implicit val sqlCtx = spark.sqlContext
    val docs = Seq(
      (1L, original), (2L, words(60, 2)),
      (10L, edited), (11L, words(60, 3))).toDF("doc_id", "text")
    val rows = LshDedupStream.bandRows(docs)
      .as[(Long, Int, Long)].collect().toSeq
    val stream = MemoryStream[(Long, Int, Long)]
    val q = LshDedupStream.ownerStream(stream.toDS())
      .toDF("band", "band_hash", "owner")
      .writeStream.format("memory").queryName("t_lsh")
      .outputMode("update")
      .option("checkpointLocation",
        Files.createTempDirectory("t-lsh-ckpt").toString)
      .start()
    // batch 1: early docs; batch 2: the edited near-dup + a fresh doc
    stream.addData(rows.filter(_._1 < 10L))
    q.processAllAvailable()
    stream.addData(rows.filter(_._1 >= 10L))
    q.processAllAvailable()
    q.stop(); q.awaitTermination()
    val owners = spark.table("t_lsh")
      .groupBy($"band", $"band_hash").agg(min($"owner").as("owner"))
      .localCheckpoint()
    spark.catalog.dropTempView("t_lsh")

    val batch = LshDedupStream.batchOwners(docs)
    val diff = owners.join(batch.withColumnRenamed("owner", "b"),
        Seq("band", "band_hash"), "full_outer")
      .filter($"owner".isNull || $"b".isNull || $"owner" =!= $"b").count()
    assert(diff == 0L, s"streamed vs batch owner divergence: $diff")

    val dups = LshDedupStream.nearDupDocs(docs, owners)
      .as[Long].collect().toSet
    assert(dups.contains(10L), s"edited re-send not flagged: $dups")
    assert(!dups.contains(2L) && !dups.contains(11L),
      s"unique docs wrongly flagged: $dups")
    }
  }

  test("short docs (no shingles) produce no band rows and never flag") {
    val docs = Seq((1L, "a b"), (2L, "")).toDF("doc_id", "text")
    assert(LshDedupStream.bandRows(docs).count() == 0L)
  }
}
