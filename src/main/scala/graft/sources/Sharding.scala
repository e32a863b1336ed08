package graft.sources

import org.apache.spark.sql.functions._

import graft.core.{Entry, Tables => T}

/** RENDEZVOUS (highest-random-weight) sharding — Thaler & Ravishankar
  * 1998, the consistent-placement scheme memcached/Ceph-style systems
  * use: each doc goes to argmax_s h(s, doc). The property that matters
  * at 100 TB: removing a shard moves ONLY the docs that lived on it
  * (1/k of data), where naive `hash(doc) mod k` reshuffles (k−1)/k of
  * the corpus. q382 computes both assignments (k=8 and the k=7
  * survivor set) and emits the per-shard moved census — the HRW
  * contract `moved = all of shard 7, none of the rest` is visible in
  * the output rows and value-checked by the oracle.
  *
  * Hash is the first 8 md5 hex chars of "hrw:shard:doc" (the q95/q141
  * engine-independent idiom); argmax ties break by shard index via a
  * (hash, shard) struct max — unreachable for md5 but pinned anyway.
  *
  * Scale shape: per-row array-local argmax over k candidate shards
  * (k constant) — zero shuffle for assignment; the census is one
  * partial agg on the shard key.
  */
object Sharding {

  import Entry.Q

  val NumShards = 8

  private def hrwExpr(n: Int): String =
    s"""array_max(transform(sequence(0, ${n - 1}),
       |  sh -> named_struct(
       |    'h', CAST(conv(substring(md5(
       |           concat('hrw:', CAST(sh AS STRING), ':',
       |                  CAST(doc_id AS STRING))), 1, 8), 16, 10)
       |         AS BIGINT),
       |    'sh', sh))).sh""".stripMargin

  /** q382 — HRW assignment + shard-removal stability census. */
  val q382Rendezvous: Q = (s, dir) => {
    import s.implicits._
    T.documents(s, dir)
      .select($"doc_id")
      .withColumn("shard", expr(hrwExpr(NumShards)).cast("long"))
      .withColumn("shard_after", expr(hrwExpr(NumShards - 1)).cast("long"))
      .groupBy($"shard")
      .agg(count(lit(1)).as("n_docs"),
        sum(($"shard" =!= $"shard_after").cast("long")).as("n_moved"))
      .orderBy($"shard")
  }

  val q382Sql: String = {
    def pick(n: Int): String =
      s"""list_max(list_transform(range(0, $n),
         |      sh -> [CAST(('0x' || substring(md5(
         |               'hrw:' || CAST(sh AS VARCHAR) || ':' ||
         |               CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT),
         |             CAST(sh AS BIGINT)]))[2]""".stripMargin
    s"""WITH a AS (
       |  SELECT doc_id,
       |    ${pick(NumShards)} AS shard,
       |    ${pick(NumShards - 1)} AS shard_after
       |  FROM documents)
       |SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(CASE WHEN shard <> shard_after THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_moved
       |FROM a GROUP BY shard
       |ORDER BY shard""".stripMargin
  }

  val entries: Seq[Entry] = Seq(
    Entry("q382_rendezvous", q382Rendezvous, q382Sql))
}
