package graft.llm

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.PlanBridge

import graft.core.{Entry, Tables => T}

/** Grouped vector aggregation — per-label centroid sums over the
  * embedding column, the building block behind class centroids,
  * cluster-quality metrics, and codebook refresh (VectorSearch's IVF
  * fits its codebook from a bounded sample; refreshing centroids from
  * the FULL corpus is this exact aggregation).
  *
  * Exactness: component values are quantized `floor(x * 1e6)` — one
  * exact-rounded IEEE multiply and a floor per element, identical in
  * Spark and DuckDB (the q123 scheme, VectorSearch.scala) — so the
  * centroid numerators are exact BIGINT sums with no float-summation
  * order sensitivity. A consumer divides `sum_q / (1e6 * n_vec)` to
  * recover the mean.
  *
  * Scale shape: posexplode multiplies rows by the dimension (×64 here),
  * then partial aggregation combines map-side per (label, dim) before
  * the single hash shuffle — the shuffled volume is |labels|·dim
  * partials per task, independent of corpus size. No UDF; the quantize
  * is codegen'd HOF-free column math after the explode.
  */
object VectorStats {

  import Entry.Q

  val QuantScale = 1000000.0

  /** q249 — embedding data-QUALITY audit (q107's sibling for the
    * vector table — the gate before any index build): per label, the
    * vector count, dimension-consistency check (every vector must have
    * the modal dimensionality), zero-vector count (an all-zero
    * embedding is an upstream encoder failure and poisons cosine
    * math), non-finite component count (NaN/Inf — quantized arithmetic
    * silently absorbs them otherwise), and the exact quantized norm²
    * sum (the magnitude-drift axis: a batch of mis-scaled vectors
    * shifts it by orders of magnitude).
    *
    * Exactness: norm² is the Σq² BIGINT of floor(x·1e4)-quantized
    * components (the q151 covariance budget — squares, so the coarser
    * scale), summed per label; all other columns are exact integer
    * counts. One narrow HOF projection + one partial-aggregated
    * groupBy(label).
    */
  val q249VectorAudit: Q = (s, dir) => {
    import s.implicits._
    val q = transform($"embedding",
      x => floor(x.cast("double") * lit(10000.0)).cast("long"))
    T.embeddings(s, dir)
      .select($"label", $"vec_id",
        size($"embedding").as("dim"),
        expr("""CAST(size(filter(embedding,
          |  x -> isnan(CAST(x AS DOUBLE)) OR abs(CAST(x AS DOUBLE)) = CAST('Infinity' AS DOUBLE))) AS LONG)"""
          .stripMargin).as("n_bad"),
        expr("""CAST(IF(size(filter(embedding, x -> CAST(x AS DOUBLE) != 0.0)) = 0, 1, 0) AS LONG)""")
          .as("is_zero"),
        aggregate(q, lit(0L), (acc, v) => acc + v * v).as("norm2_q"))
      .groupBy($"label")
      .agg(count(lit(1)).as("n_vec"),
        countDistinct($"dim").as("n_dims_seen"),
        min($"dim").as("min_dim"), max($"dim").as("max_dim"),
        sum($"is_zero").as("n_zero_vec"),
        sum($"n_bad").as("n_nonfinite"),
        sum($"norm2_q").as("sum_norm2_q"))
      .orderBy($"label")
  }

  val q249Sql: String =
    """SELECT label, COUNT(*) AS n_vec,
      |  COUNT(DISTINCT len(embedding)) AS n_dims_seen,
      |  MIN(len(embedding)) AS min_dim, MAX(len(embedding)) AS max_dim,
      |  CAST(SUM(CASE WHEN len(list_filter(embedding,
      |    x -> CAST(x AS DOUBLE) != 0.0)) = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_zero_vec,
      |  CAST(SUM(len(list_filter(embedding,
      |    x -> isnan(CAST(x AS DOUBLE)) OR abs(CAST(x AS DOUBLE)) = CAST('Infinity' AS DOUBLE)))) AS BIGINT)
      |    AS n_nonfinite,
      |  CAST(SUM(list_sum(list_transform(embedding, x ->
      |    CAST(FLOOR(CAST(x AS DOUBLE) * 10000.0) AS BIGINT)
      |      * CAST(FLOOR(CAST(x AS DOUBLE) * 10000.0) AS BIGINT)))) AS BIGINT)
      |    AS sum_norm2_q
      |FROM embeddings
      |GROUP BY label
      |ORDER BY label""".stripMargin

  /** q137 — exact per-label centroid numerators: for each (label, dim),
    * the BIGINT sum of quantized components and the vector count.
    */
  val q137GroupCentroid: Q = (s, dir) => {
    import s.implicits._
    T.embeddings(s, dir)
      .select($"label", posexplode($"embedding").as(Seq("dim", "x")))
      .select($"label", $"dim",
        floor($"x".cast("double") * lit(QuantScale)).cast("long").as("q"))
      .groupBy($"label", $"dim")
      .agg(sum($"q").as("sum_q"), count(lit(1)).as("n_vec"))
      .orderBy($"label", $"dim")
  }

  val q137Sql: String =
    s"""SELECT label, i - 1 AS dim,
       |  CAST(SUM(CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * $QuantScale) AS BIGINT)) AS BIGINT) AS sum_q,
       |  COUNT(*) AS n_vec
       |FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)
       |GROUP BY label, dim
       |ORDER BY label, dim""".stripMargin

  /** q151 quantization: coarser than q137's 1e6 because COVARIANCE sums
    * PRODUCTS of components — at scale 1e4 a product is ≤ ~3.6·10⁷ for
    * |x| < 0.6-ish components, so the int64 partial sum holds to ~10⁹
    * vectors (3.6·10¹⁶ ≪ 2⁶³); scale 1e6 would overflow past ~10⁴.
    */
  val CovQuantScale = 10000.0

  /** q151 — exact upper-triangle covariance numerators over the
    * embedding matrix: for each dimension pair (i ≤ j), the BIGINT sum
    * of quantized component products and the vector count — the Gram /
    * scatter matrix a PCA or whitening step consumes (covariance =
    * (n·Σqᵢqⱼ − SᵢSⱼ)/n² with the marginals Sᵢ from q137's centroid
    * numerators; the d×d eigen-solve on the RESULT is a driver-side
    * O(d³) on a constant-size matrix, never a cluster job).
    *
    * Scale shape: ONE pass, per-partition Gramian accumulation into a
    * flat d(d+1)/2 long array (16 KB at d=64 — constant per-task
    * state), then a tasks·d(d+1)/2-row partial frame through one tiny
    * groupBy: shuffled volume is corpus-size independent — the q137
    * shape squared. r18 (guide §1.2 step 2 / §4.1): the previous
    * nested-HOF struct explode (transform-in-transform building
    * d(d+1)/2 structs per row, then explode + groupBy) is NOT
    * whole-stage-codegen'd — higher-order lambdas evaluate interpreted
    * with per-element allocation — and measured 6.5 s at sf0.1 for
    * 2 000 rows; the tight-loop accumulator computes the identical
    * exact integer sums (long addition is order-free) in one scan.
    * Pair (i, j), i ≤ j, indexes d-independently at j(j+1)/2 + i, so
    * ragged arrays accumulate correctly with a grow-and-copy. A null
    * embedding row contributes nothing, as in the oracle's unnest.
    */
  val q151EmbeddingCovariance: Q = (s, dir) => {
    import s.implicits._
    val q = transform($"embedding",
      x => floor(x.cast("double") * lit(CovQuantScale)).cast("long"))
    val partials = T.embeddings(s, dir)
      .filter($"embedding".isNotNull)
      .select(q.as("q")).as[Array[Long]]
      .mapPartitions { rows =>
        var accP = new Array[Long](0) // Σ qᵢ·qⱼ per (i ≤ j)
        var accN = new Array[Long](0) // row count per (i ≤ j)
        var dMax = 0
        while (rows.hasNext) {
          val a = rows.next()
          val d = a.length
          if (d > dMax) {
            dMax = d
            val need = d * (d + 1) / 2
            accP = java.util.Arrays.copyOf(accP, need)
            accN = java.util.Arrays.copyOf(accN, need)
          }
          var j = 0
          while (j < d) {
            val base = j * (j + 1) / 2
            val aj = a(j)
            var i = 0
            while (i <= j) {
              accP(base + i) += a(i) * aj
              accN(base + i) += 1L
              i += 1
            }
            j += 1
          }
        }
        (for {
          j <- Iterator.range(0, dMax)
          i <- Iterator.range(0, j + 1)
        } yield (i.toLong, j.toLong,
          accN(j * (j + 1) / 2 + i), accP(j * (j + 1) / 2 + i)))
          .filter(_._3 > 0L)
      }
    partials.toDF("i", "j", "nv", "p")
      .groupBy($"i", $"j")
      .agg(sum($"nv").as("n_vec"), sum($"p").as("sum_pq"))
      .orderBy($"i", $"j")
  }

  val q151Sql: String =
    s"""SELECT a.i - 1 AS i, b.j - 1 AS j, COUNT(*) AS n_vec,
       |  CAST(SUM(
       |    CAST(FLOOR(CAST(embedding[a.i] AS DOUBLE) * $CovQuantScale) AS BIGINT)
       |    * CAST(FLOOR(CAST(embedding[b.j] AS DOUBLE) * $CovQuantScale) AS BIGINT)
       |  ) AS BIGINT) AS sum_pq
       |FROM embeddings, unnest(range(1, len(embedding) + 1)) AS a(i),
       |     unnest(range(a.i, len(embedding) + 1)) AS b(j)
       |GROUP BY i, j
       |ORDER BY i, j""".stripMargin

  /** q262 — bucket count for the per-dimension quantile transform. */
  val QuantileBins = 10

  /** q262 — per-DIMENSION quantile binning (the "quantile transform"
    * feature-preprocessing step): each embedding component maps to its
    * equi-depth decile WITHIN its dimension, normalizing away
    * per-dimension scale/outliers before distance math. ntile over the
    * total order (value, vec_id) is deterministic cross-engine (both
    * engines define NTILE's remainder to front-load early buckets);
    * emitted per (dim, bucket): count and the exact float bin edges
    * cast to double (no arithmetic — bit-faithful).
    *
    * Scale shape: the per-dim window sorts within its dimension — fine
    * while a dimension's column fits a sort spill, and the gate's
    * device regardless; the at-scale form fits KLL boundaries per dim
    * (q220's sketch) and assigns buckets by range join, trading
    * exactness at the boundary for a shuffle-free map-side transform —
    * documented, the q255 discipline.
    */
  val q262QuantileBins: Q = (s, dir) => {
    import s.implicits._
    val comp = T.embeddings(s, dir)
      .select($"vec_id", posexplode($"embedding").as(Seq("dim", "v")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"dim").orderBy($"v".asc, $"vec_id".asc)
    comp.withColumn("bucket", ntile(QuantileBins).over(w))
      .groupBy($"dim", $"bucket")
      .agg(count(lit(1)).as("n"),
        min($"v").cast("double").as("lo"),
        max($"v").cast("double").as("hi"))
      .orderBy($"dim", $"bucket")
  }

  val q262Sql: String =
    s"""WITH comp AS (
       |  SELECT vec_id, i - 1 AS dim, CAST(embedding[i] AS DOUBLE) AS v
       |  FROM embeddings, range(1, 65) t(i)),
       |b AS (
       |  SELECT dim, v,
       |    NTILE($QuantileBins) OVER (PARTITION BY dim
       |      ORDER BY v ASC, vec_id ASC) AS bucket
       |  FROM comp)
       |SELECT dim, bucket, COUNT(*) AS n, MIN(v) AS lo, MAX(v) AS hi
       |FROM b GROUP BY dim, bucket
       |ORDER BY dim, bucket""".stripMargin

  /** q431 — EMBEDDING-CENTROID drift per label (the drift family
    * (PSI/KL/JSD/EMD/surge) extended to the VECTOR column: "did what
    * this label MEANS move between corpus halves?" — the check run
    * before trusting an old classifier head or ANN index against a
    * refreshed embedding table): per (label, half by vec_id midpoint)
    * the exact integer per-dimension centroid numerators (2^20
    * quantization), then the cosine between the two half-centroids
    * with every per-dimension product micro-quantized BEFORE the sum
    * (order-free — a double Σ over dims is engine-order-dependent).
    *
    * Scale shape: one posexplode partial agg keyed (label, half, dim)
    * — the classic centroid shuffle, labels×2×64 rows out; everything
    * after runs on that bounded frame.
    */
  val q431CentroidDrift: Q = (s, dir) => {
    import s.implicits._
    val e = T.embeddings(s, dir)
      .select($"vec_id", $"label",
        expr("""transform(embedding,
               |  x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT))"""
          .stripMargin).as("qv"))
    val mid = e.agg((((min($"vec_id") + max($"vec_id") + 1L) / 2L)
      .cast("long")).as("mid"))
    val halves = PlanBridge.checkpointResetStats(e.crossJoin(broadcast(mid))
      .select($"label", ($"vec_id" >= $"mid").as("h"),
        posexplode($"qv").as(Seq("i", "v")))) // dims cells + per-half counts
    val counts = halves.filter($"i" === 0).groupBy($"label", $"h")
      .agg(count(lit(1)).as("n"))
    val cells = halves.groupBy($"label", $"h", $"i")
      .agg(sum($"v").as("sv"))
      .join(counts, Seq("label", "h"))
    val a = cells.filter(!$"h")
      .select($"label", $"i", $"sv".as("sa"), $"n".as("n_a"))
    val b = cells.filter($"h")
      .select($"label", $"i", $"sv".as("sb"), $"n".as("n_b"))
    a.join(b, Seq("label", "i"))
      .select($"label", $"n_a", $"n_b",
        expr("""CAST(FLOOR(1000000.0 *
               |  ((CAST(sa AS DOUBLE) / CAST(n_a AS DOUBLE))
               |   * (CAST(sb AS DOUBLE) / CAST(n_b AS DOUBLE))
               |   / 1048576.0)) AS BIGINT)""".stripMargin).as("ab_q"),
        expr("""CAST(FLOOR(1000000.0 *
               |  ((CAST(sa AS DOUBLE) / CAST(n_a AS DOUBLE))
               |   * (CAST(sa AS DOUBLE) / CAST(n_a AS DOUBLE))
               |   / 1048576.0)) AS BIGINT)""".stripMargin).as("aa_q"),
        expr("""CAST(FLOOR(1000000.0 *
               |  ((CAST(sb AS DOUBLE) / CAST(n_b AS DOUBLE))
               |   * (CAST(sb AS DOUBLE) / CAST(n_b AS DOUBLE))
               |   / 1048576.0)) AS BIGINT)""".stripMargin).as("bb_q"))
      .groupBy($"label")
      .agg(first($"n_a").as("n_a"), first($"n_b").as("n_b"),
        sum($"ab_q").as("num"), sum($"aa_q").as("aa"),
        sum($"bb_q").as("bb"))
      .select($"label", $"n_a", $"n_b",
        expr("""CAST(FLOOR(1000000.0 * (CAST(num AS DOUBLE)
               |  / SQRT(CAST(aa AS DOUBLE) * CAST(bb AS DOUBLE))))
               |  AS BIGINT)""".stripMargin).as("cos_micro"))
      .orderBy($"label")
  }

  val q431Sql: String =
    """WITH e AS (
      |  SELECT vec_id, label,
      |    list_transform(embedding,
      |      x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT)) AS qv
      |  FROM embeddings),
      |m AS (SELECT (MIN(vec_id) + MAX(vec_id) + 1) // 2 AS mid FROM e),
      |halves AS (
      |  SELECT label, vec_id >= mid AS h, i - 1 AS i, qv[i] AS v
      |  FROM e CROSS JOIN m, UNNEST(range(1, len(qv) + 1)) AS t(i)),
      |counts AS (
      |  SELECT label, h, CAST(COUNT(*) AS BIGINT) AS n
      |  FROM halves WHERE i = 0 GROUP BY label, h),
      |cells AS (
      |  SELECT hh.label, hh.h, hh.i, CAST(SUM(v) AS BIGINT) AS sv, n
      |  FROM halves hh JOIN counts USING (label, h)
      |  GROUP BY hh.label, hh.h, hh.i, n),
      |j AS (
      |  SELECT a.label, a.i, a.sv AS sa, a.n AS n_a, b.sv AS sb,
      |    b.n AS n_b
      |  FROM cells a JOIN cells b
      |    ON a.label = b.label AND a.i = b.i AND NOT a.h AND b.h),
      |t AS (
      |  SELECT label, n_a, n_b,
      |    CAST(FLOOR(1000000.0 *
      |      ((CAST(sa AS DOUBLE) / CAST(n_a AS DOUBLE))
      |       * (CAST(sb AS DOUBLE) / CAST(n_b AS DOUBLE))
      |       / 1048576.0)) AS BIGINT) AS ab_q,
      |    CAST(FLOOR(1000000.0 *
      |      ((CAST(sa AS DOUBLE) / CAST(n_a AS DOUBLE))
      |       * (CAST(sa AS DOUBLE) / CAST(n_a AS DOUBLE))
      |       / 1048576.0)) AS BIGINT) AS aa_q,
      |    CAST(FLOOR(1000000.0 *
      |      ((CAST(sb AS DOUBLE) / CAST(n_b AS DOUBLE))
      |       * (CAST(sb AS DOUBLE) / CAST(n_b AS DOUBLE))
      |       / 1048576.0)) AS BIGINT) AS bb_q
      |  FROM j)
      |SELECT label, ANY_VALUE(n_a) AS n_a, ANY_VALUE(n_b) AS n_b,
      |  CAST(FLOOR(1000000.0 * (CAST(SUM(ab_q) AS DOUBLE)
      |    / SQRT(CAST(SUM(aa_q) AS DOUBLE) * CAST(SUM(bb_q) AS DOUBLE))))
      |    AS BIGINT) AS cos_micro
      |FROM t GROUP BY label
      |ORDER BY label""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("q431_centroid_drift", q431CentroidDrift, q431Sql),
    Entry("q262_quantile_bins", q262QuantileBins, q262Sql),
    Entry("q137_group_centroid", q137GroupCentroid, q137Sql),
    Entry("q151_embedding_covariance", q151EmbeddingCovariance, q151Sql),
    Entry("q249_vector_audit", q249VectorAudit, q249Sql))
}
