package graft.llm

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.PlanBridge

import graft.core.{Entry, Tables => T}

/** JOHNSON–LINDENSTRAUSS random projection with a ±1 (Achlioptas 2003)
  * matrix — the dimensionality-reduction workhorse: database-friendly
  * sign entries need no float matrix, and E‖Rx‖² = d_out·‖x‖² makes
  * squared distances unbiased after a 1/d_out rescale. At 100 TB this
  * is how a 64-d (or 4096-d) embedding column shrinks to a cheap
  * pre-filter sketch while provably preserving pairwise geometry.
  *
  * q385 projects the bounded audit set (vec_id < 2·[[NPairs]]) from
  * 64 → [[OutDims]] dims and emits, per consecutive pair (2k, 2k+1),
  * the EXACT integer squared distances in both spaces and their
  * distortion ratio d²_proj/(d_out·d²_orig) — everything BIGINT until
  * the one micro-quantized ratio: inputs are the 2^20-quantized
  * embedding ints and the matrix entries are ±1 from an md5 bit
  * (engine-independent), so y = Rx is exact integer arithmetic in
  * both engines.
  *
  * Scale shape: the projection is a per-row array-local fold (d_out ×
  * d_in multiply-adds, no shuffle); the audit set is bounded by
  * construction — at corpus scale the same expression projects every
  * row embarrassingly parallel.
  */
object RandomProjection {

  import Entry.Q

  val OutDims = 16
  val NPairs = 50

  /** sign(i,j) ∈ {+1,−1} from one md5 hex char of "jl:j:i". */
  private val SignSql =
    "CAST(conv(substring(md5(concat('jl:', CAST(j AS STRING), ':', " +
      "CAST(i AS STRING))), 1, 1), 16, 10) AS BIGINT) % 2 = 0"

  val q385JlAudit: Q = (s, dir) => {
    import s.implicits._
    // both pair sides read the projected frame
    val e = PlanBridge.checkpointResetStats(T.embeddings(s, dir)
      .filter($"vec_id" < 2L * NPairs)
      .select($"vec_id",
        expr("""transform(embedding,
               |  x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT))"""
          .stripMargin).as("qv"))
      .withColumn("y", expr(
        s"""transform(sequence(0, ${OutDims - 1}),
           |  j -> aggregate(sequence(0, size(qv) - 1), CAST(0 AS BIGINT),
           |    (acc, i) -> acc + IF($SignSql, qv[i], -qv[i])))""".stripMargin)))
    val a = e.select(($"vec_id" / 2).cast("long").as("pair_id"),
      $"qv".as("qa"), $"y".as("ya")).filter($"vec_id" % 2 === 0)
    val b = e.select(($"vec_id" / 2).cast("long").as("pair_id"),
      $"qv".as("qb"), $"y".as("yb")).filter($"vec_id" % 2 === 1)
    a.join(b, "pair_id")
      .withColumn("d2_orig", expr(
        """aggregate(zip_with(qa, qb, (p, q) -> (p - q) * (p - q)),
          |  CAST(0 AS BIGINT), (acc, v) -> acc + v)""".stripMargin))
      .withColumn("d2_proj", expr(
        """aggregate(zip_with(ya, yb, (p, q) -> (p - q) * (p - q)),
          |  CAST(0 AS BIGINT), (acc, v) -> acc + v)""".stripMargin))
      .select($"pair_id", $"d2_orig", $"d2_proj",
        expr(s"""CAST(FLOOR(1000000.0 * (CAST(d2_proj AS DOUBLE)
                |  / ($OutDims.0 * CAST(d2_orig AS DOUBLE)))) AS BIGINT)"""
          .stripMargin).as("ratio_micro"))
      .orderBy($"pair_id")
  }

  val q385Sql: String =
    s"""WITH e AS (
       |  SELECT vec_id,
       |    list_transform(embedding,
       |      x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT)) AS qv
       |  FROM embeddings WHERE vec_id < ${2 * NPairs}),
       |p AS (
       |  SELECT vec_id, qv,
       |    list_transform(range(0, $OutDims),
       |      j -> list_sum(list_transform(range(1, len(qv) + 1),
       |        i -> CASE WHEN CAST(('0x' || substring(md5(
       |               'jl:' || CAST(j AS VARCHAR) || ':' ||
       |               CAST(i - 1 AS VARCHAR)), 1, 1)) AS BIGINT) % 2 = 0
       |             THEN qv[i] ELSE -qv[i] END))) AS y
       |  FROM e),
       |pairs AS (
       |  SELECT a.vec_id // 2 AS pair_id,
       |    CAST(list_sum(list_transform(range(1, len(a.qv) + 1),
       |      i -> (a.qv[i] - b.qv[i]) * (a.qv[i] - b.qv[i]))) AS BIGINT)
       |      AS d2_orig,
       |    CAST(list_sum(list_transform(range(1, $OutDims + 1),
       |      j -> (a.y[j] - b.y[j]) * (a.y[j] - b.y[j]))) AS BIGINT)
       |      AS d2_proj
       |  FROM p a JOIN p b ON b.vec_id = a.vec_id + 1
       |  WHERE a.vec_id % 2 = 0)
       |SELECT pair_id, d2_orig, d2_proj,
       |  CAST(FLOOR(1000000.0 * (CAST(d2_proj AS DOUBLE)
       |    / ($OutDims.0 * CAST(d2_orig AS DOUBLE)))) AS BIGINT)
       |    AS ratio_micro
       |FROM pairs
       |ORDER BY pair_id""".stripMargin

  val entries: Seq[Entry] = Seq(Entry("q385_jl_audit", q385JlAudit, q385Sql))
}
