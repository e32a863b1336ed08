package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.{Entry, ExactDiv, Tables => T}

/** LENGTH-BUCKETED BATCHING with exact padding-waste accounting (the
  * bucket_by_sequence_length training-loader recipe — Variable-length
  * batching in fairseq/tensorflow/HF DataCollator: group sequences of
  * similar length before forming fixed-token-budget batches, because
  * a batch pads every member to its longest member and mixed lengths
  * burn FLOPs on pad tokens): the planning op a 100 TB corpus runs
  * BEFORE training to size its loader — per length-band doc counts,
  * batch counts, and the exact padded-vs-real token ledger, plus
  * waste_ppm, the number the bucket-width decision is made on.
  * Complements q103 (concat-and-cut packing — the OTHER padding
  * answer, which destroys example boundaries; bucketing keeps them)
  * and q136/q352 (token-budget mixing decides WHAT to train on, this
  * decides how it batches).
  *
  * Semantics: len = the q48 whitespace token count; bucket =
  * len div [[BucketWidth]]; docs are sharded by the md5(doc_id)
  * convention into [[Shards]] deterministic shards and batches NEVER
  * cross shards — exactly how a distributed loader forms batches
  * (per-worker streams), and what keeps the op scale-shaped: the
  * within-(bucket, shard) rank is a window over a 1/(buckets·shards)
  * slice, never a corpus-wide total order (at larger fleets Shards
  * rises with the cluster; the cost is one possibly-partial tail
  * batch per (bucket, shard), which the ledger simply records).
  * Batch capacity = [[TokBudget]] div bucket upper bound (constant
  * per bucket); each batch pads to its own max member length (NOT
  * the bucket bound — the real collator rule). Everything is exact
  * integer arithmetic; waste_ppm finishes via [[ExactDiv]].
  *
  * Scale shape: one narrow projection (len/bucket/shard are per-row
  * exprs), one window over (bucket, shard) slices, two bounded
  * partial aggs — no corpus-wide window, no join, no driver state.
  */
object LengthBucketing {

  import Entry.Q

  val BucketWidth = 16
  val TokBudget   = 256
  val Shards      = 4

  /** Per-bucket batching ledger for a `(doc_id, len)` frame. */
  def ledger(docs: DataFrame, width: Int, budget: Int, shards: Int)
      : DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val batched = docs
      .withColumn("bucket", expr(s"len div $width"))
      // a doc longer than the whole budget still forms a singleton
      // batch (the collator's over-long rule), so cap never hits 0
      .withColumn("cap", expr(
        s"greatest(1L, $budget div ((len div $width + 1) * $width))"))
      // the q95/q100 salted-hash convention: 4 hex chars → INT both
      // engines (Spark CONV base-16, DuckDB '0x' cast)
      .withColumn("shard", expr(
        s"CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 4)," +
          s" 16, 10) AS INT) % $shards"))
      .withColumn("ord", md5($"doc_id".cast("string")))
      .withColumn("batch", expr(
        "(CAST(row_number() OVER (PARTITION BY bucket, shard" +
          " ORDER BY ord, doc_id) AS BIGINT) - 1) div cap"))
    val perBatch = batched
      .groupBy($"bucket", $"shard", $"batch")
      .agg(count(lit(1)).as("bn"), max($"len").as("bmax"),
        sum($"len").as("breal"))
    perBatch.groupBy($"bucket")
      .agg(sum($"bn").as("n_docs"), count(lit(1)).as("n_batches"),
        sum($"breal").as("real_tokens"),
        sum($"bn" * $"bmax").as("padded_tokens"))
      .withColumn("waste_tokens", $"padded_tokens" - $"real_tokens")
      .withColumn("pw", expr("CAST(padded_tokens AS DECIMAL(38,0))"))
      .withColumn("waste_ppm", expr("CAST(" +
        ExactDiv.microFloor("CAST(waste_tokens AS DECIMAL(38,0))", "pw",
          "div") + " AS BIGINT)"))
      .select($"bucket", $"n_docs", $"n_batches", $"real_tokens",
        $"padded_tokens", $"waste_tokens", $"waste_ppm")
      .orderBy($"bucket")
  }

  val q581LengthBucketing: Q = (s, dir) => {
    import s.implicits._
    ledger(T.documents(s, dir)
      .select($"doc_id", size(split($"text", " ")).cast("long").as("len")),
      BucketWidth, TokBudget, Shards)
  }

  val q581Sql: String = {
    val w = BucketWidth; val b = TokBudget; val sh = Shards
    s"""WITH d AS (
      |  SELECT doc_id,
      |    CAST(length(text) - length(replace(text, ' ', '')) + 1
      |      AS BIGINT) AS len
      |  FROM documents),
      |assigned AS (
      |  SELECT doc_id, len,
      |    len // $w AS bucket,
      |    greatest(1, $b // ((len // $w + 1) * $w)) AS cap,
      |    CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4)
      |      AS INTEGER) % $sh AS shard,
      |    md5(CAST(doc_id AS VARCHAR)) AS ord
      |  FROM d),
      |batched AS (
      |  SELECT bucket, shard,
      |    (CAST(ROW_NUMBER() OVER (PARTITION BY bucket, shard
      |      ORDER BY ord, doc_id) AS BIGINT) - 1) // cap AS batch,
      |    len
      |  FROM assigned),
      |per_batch AS (
      |  SELECT bucket, shard, batch, COUNT(*) AS bn,
      |    MAX(len) AS bmax, SUM(len) AS breal
      |  FROM batched GROUP BY 1, 2, 3),
      |per_bucket AS (
      |  SELECT bucket, SUM(bn) AS n_docs, COUNT(*) AS n_batches,
      |    SUM(breal) AS real_tokens, SUM(bn * bmax) AS padded_tokens
      |  FROM per_batch GROUP BY 1)
      |SELECT bucket,
      |  CAST(n_docs AS BIGINT) AS n_docs,
      |  CAST(n_batches AS BIGINT) AS n_batches,
      |  CAST(real_tokens AS BIGINT) AS real_tokens,
      |  CAST(padded_tokens AS BIGINT) AS padded_tokens,
      |  CAST(padded_tokens - real_tokens AS BIGINT) AS waste_tokens,
      |  CAST(${ExactDiv.microFloor(
             "CAST(padded_tokens - real_tokens AS HUGEINT)",
             "CAST(padded_tokens AS HUGEINT)", "//")} AS BIGINT)
      |    AS waste_ppm
      |FROM per_bucket
      |ORDER BY bucket""".stripMargin
  }

  val entries: Seq[Entry] = Seq(
    Entry("q581_length_bucketing", q581LengthBucketing, q581Sql))
}
