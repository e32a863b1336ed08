package graft.relational

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.{Entry, Tables => T}

/** MERKLE-STYLE replica reconciliation — localize divergence between
  * two copies of a table WITHOUT a full row-level compare: each
  * replica summarizes every id-bucket as (row count, order-free
  * content hash); buckets whose summaries match are proven equal and
  * never touched again; the row-level diff (missing / extra /
  * changed) runs ONLY inside the few buckets that differ. The
  * anti-entropy recipe of Dynamo-class systems expressed as two
  * joins — level 1 over the bucket-summary frames (bounded by
  * id-range/width), level 2 over the diverged slice.
  *
  * The content hash is a SUM of per-row md5 integers (the repo's
  * engine-portable hash) — summation is commutative, so the bucket
  * hash is independent of row order and partitioning on both engines.
  * A colliding divergent bucket would be missed identically by both
  * engines (the hash IS the operator's contract; 28-bit per-row space
  * makes a canceling collision ~2⁻²⁸ per bucket).
  *
  * Replica B is derived from A by a deterministic fault model —
  * rows `id % 1009 = 0` deleted, rows `id % 997 = 0` value-corrupted
  * — so the expected diff is known and the whole pipeline is
  * oracle-checkable.
  *
  * Scale shape: two partial-aggregated bucket summaries (one scan per
  * replica), one join of the bucket frames, then a full-outer
  * row join SEMI-PRUNED to diverged buckets — at real divergence
  * rates (≪1% of buckets) the expensive row compare touches a sliver
  * of either table.
  */
object ReplicaReconcile {

  import Entry.Q

  val RrBucket = 1000L
  val DelMod = 1009L
  val CorruptMod = 997L

  /** q311 — per-diverged-bucket divergence census. */
  val q311ReplicaDiff: Q = (s, dir) => {
    import s.implicits._
    val a = T.events(s, dir)
      .select($"event_id".as("id"),
        expr("CAST(FLOOR(100 * value) AS BIGINT)").as("vc"))
    val b = a.filter($"id" % DelMod =!= 0)
      .select($"id",
        when($"id" % CorruptMod === 0, $"vc" + 1).otherwise($"vc").as("vc"))
    def summarize(r: DataFrame) = r
      .withColumn("bkt", expr(s"id div $RrBucket"))
      .withColumn("h",
        conv(substring(md5(concat(lit("r:"), $"id".cast("string"),
          lit(":"), $"vc".cast("string"))), 1, 7), 16, 10).cast("long"))
      .groupBy($"bkt").agg(count(lit(1)).as("n"), sum($"h").as("hs"))
    val diffBuckets = summarize(a).as("sa")
      .join(summarize(b).as("sb"), Seq("bkt"), "full_outer")
      .filter(
        coalesce($"sa.n", lit(-1L)) =!= coalesce($"sb.n", lit(-1L)) ||
          coalesce($"sa.hs", lit(-1L)) =!= coalesce($"sb.hs", lit(-1L)))
      .select($"bkt")
    val aIn = a.withColumn("bkt", expr(s"id div $RrBucket"))
      .join(broadcast(diffBuckets), Seq("bkt"), "left_semi")
    val bIn = b.withColumn("bkt", expr(s"id div $RrBucket"))
      .join(broadcast(diffBuckets), Seq("bkt"), "left_semi")
    aIn.as("ra").join(bIn.as("rb"), Seq("bkt", "id"), "full_outer")
      .groupBy($"bkt")
      .agg(
        sum(when($"ra.vc".isNotNull && $"rb.vc".isNull, 1L).otherwise(0L))
          .as("n_only_a"),
        sum(when($"ra.vc".isNull && $"rb.vc".isNotNull, 1L).otherwise(0L))
          .as("n_only_b"),
        sum(when($"ra.vc".isNotNull && $"rb.vc".isNotNull &&
          $"ra.vc" =!= $"rb.vc", 1L).otherwise(0L)).as("n_changed"))
      .orderBy($"bkt")
  }

  val q311Sql: String =
    s"""WITH a AS (
       |  SELECT event_id AS id, CAST(FLOOR(100 * value) AS BIGINT) AS vc
       |  FROM events),
       |b AS (
       |  SELECT id,
       |    CASE WHEN id % $CorruptMod = 0 THEN vc + 1 ELSE vc END AS vc
       |  FROM a WHERE id % $DelMod <> 0),
       |sa AS (
       |  SELECT id // $RrBucket AS bkt, COUNT(*) AS n,
       |    CAST(SUM(CAST('0x' || substring(
       |      md5('r:' || CAST(id AS VARCHAR) || ':' || CAST(vc AS VARCHAR)),
       |      1, 7) AS BIGINT)) AS BIGINT) AS hs
       |  FROM a GROUP BY bkt),
       |sb AS (
       |  SELECT id // $RrBucket AS bkt, COUNT(*) AS n,
       |    CAST(SUM(CAST('0x' || substring(
       |      md5('r:' || CAST(id AS VARCHAR) || ':' || CAST(vc AS VARCHAR)),
       |      1, 7) AS BIGINT)) AS BIGINT) AS hs
       |  FROM b GROUP BY bkt),
       |diffb AS (
       |  SELECT COALESCE(sa.bkt, sb.bkt) AS bkt
       |  FROM sa FULL OUTER JOIN sb ON sa.bkt = sb.bkt
       |  WHERE COALESCE(sa.n, -1) <> COALESCE(sb.n, -1)
       |     OR COALESCE(sa.hs, -1) <> COALESCE(sb.hs, -1)),
       |ra AS (SELECT id // $RrBucket AS bkt, id, vc FROM a
       |       WHERE id // $RrBucket IN (SELECT bkt FROM diffb)),
       |rb AS (SELECT id // $RrBucket AS bkt, id, vc FROM b
       |       WHERE id // $RrBucket IN (SELECT bkt FROM diffb))
       |SELECT COALESCE(ra.bkt, rb.bkt) AS bkt,
       |  CAST(SUM(CASE WHEN ra.vc IS NOT NULL AND rb.vc IS NULL
       |           THEN 1 ELSE 0 END) AS BIGINT) AS n_only_a,
       |  CAST(SUM(CASE WHEN ra.vc IS NULL AND rb.vc IS NOT NULL
       |           THEN 1 ELSE 0 END) AS BIGINT) AS n_only_b,
       |  CAST(SUM(CASE WHEN ra.vc IS NOT NULL AND rb.vc IS NOT NULL
       |           AND ra.vc <> rb.vc THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_changed
       |FROM ra FULL OUTER JOIN rb ON ra.bkt = rb.bkt AND ra.id = rb.id
       |GROUP BY COALESCE(ra.bkt, rb.bkt)
       |ORDER BY bkt""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("q311_replica_diff", q311ReplicaDiff, q311Sql))
}
