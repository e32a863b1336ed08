package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.PlanBridge

import graft.core.{Entry, Tables => T}

/** Distributed Lloyd's k-means over the FULL embedding corpus — the
  * cluster-scale sibling of the bounded-sample fits behind the IVF and
  * PQ codebooks (VectorSearch.scala, ProductQuantization.scala): there
  * the codebook is fitted on a driver-side sample because only the
  * SHAPE of the space matters; here every corpus vector participates in
  * every update, which is what an end-of-pipeline clustering / codebook
  * REFRESH job actually runs.
  *
  * Integer-exact iteration (the cross-engine contract): components are
  * quantized `floor(x·1e6)` once (the q137 scheme); centroids are kept
  * as quantized BIGINTs by integer-dividing the mean (`Σq / n`,
  * truncating toward zero — JVM `/` ≡ DuckDB integer `//`, verified
  * empirically: `-7 // 2 = -3` in DuckDB) after every update, so
  * assignment distances
  * `Σ(q−c)²` are exact int64 comparisons (≤ 64·(2·10⁶)² ≈ 2.6·10¹⁴ per
  * vector, no overflow) and ties break to the smallest cell id. The
  * 1e-6 centroid resolution is far below any movement Lloyd's makes in
  * early iterations, and it is what makes three engine-independent
  * iterations hash-comparable — a float recursion would diverge in the
  * last ulp by iteration two.
  *
  * Scale shape: per iteration, ONE narrow codegen pass computes the
  * argmin against k·d centroid literals (k=4, d=64 → 256 longs in the
  * plan; the >64-cell regime would switch to the broadcast-join form,
  * VectorSearch.scala:471) and ONE groupBy(cell, dim) with map-side
  * partials aggregates the update — shuffled volume is k·d partials per
  * task, corpus-size independent. The only driver traffic is the k·d
  * centroid matrix per iteration (the BPE discipline: bounded rows, one
  * per model parameter, never data). Empty cells keep their previous
  * centroid (deterministic; the oracle replays the same rule).
  */
object KMeans {

  import Entry.Q

  val K = 4
  val Iters = 3
  val Dim = 64
  val Scale = 1000000.0

  private def quantized(s: SparkSession, emb: DataFrame): DataFrame = {
    import s.implicits._
    emb.select($"vec_id",
      transform($"embedding",
        x => floor(x.cast("double") * lit(Scale)).cast("long")).as("qv"))
  }

  /** Assignment column: argmin cell over squared L2 to centroid
    * literals, ties to the smallest cell id via struct array_min. */
  private def cellOf(cents: Array[Array[Long]]): Column = {
    val options = cents.zipWithIndex.map { case (c, i) =>
      val centLit = array(c.map(lit(_)): _*)
      val dist = aggregate(
        zip_with(col("qv"), centLit, (a, b) => (a - b) * (a - b)),
        lit(0L), (acc, x) => acc + x)
      struct(dist.as("d"), lit(i).as("c"))
    }
    array_min(array(options: _*)).getField("c")
  }

  /** Runs the quantized Lloyd iterations; returns (final centroids as
    * (cell, dim, cent_q) rows joined with final-assignment cell sizes).
    */
  def fit(s: SparkSession, dir: String): DataFrame =
    fitFrom(s, T.embeddings(s, dir))

  /** Library form over any (vec_id, embedding) frame. */
  def fitFrom(s: SparkSession, emb: DataFrame): DataFrame = {
    import s.implicits._
    val q = PlanBridge.checkpointResetStats(quantized(s, emb))

    // init: the K smallest vec_ids, cell id in vec_id order
    var cents: Array[Array[Long]] = q.orderBy($"vec_id").limit(K)
      .select($"qv").as[Array[Long]].collect()

    for (_ <- 1 to Iters) {
      val assigned = q.withColumn("cell", cellOf(cents))
      val sums = assigned
        .select($"cell", posexplode($"qv").as(Seq("dim", "qx")))
        .groupBy($"cell", $"dim")
        .agg(sum($"qx").as("s"), count(lit(1)).as("n"))
        .collect()
      val next = cents.map(_.clone())
      sums.groupBy(_.getInt(0)).foreach { case (cell, rows) =>
        rows.foreach { r =>
          next(cell)(r.getInt(1)) = r.getLong(2) / r.getLong(3)
        }
      }
      cents = next
    }

    val assigned = q.withColumn("cell", cellOf(cents))
    val sizes = assigned.groupBy($"cell").agg(count(lit(1)).as("n_vec"))
    val centRows = cents.zipWithIndex.flatMap { case (c, i) =>
      c.zipWithIndex.map { case (v, d) => (i, d, v) }
    }.toSeq.toDF("cell", "dim", "cent_q")
    centRows.join(sizes, Seq("cell"), "left")
      .select($"cell", $"dim", $"cent_q",
        coalesce($"n_vec", lit(0L)).as("n_vec"))
      .orderBy($"cell", $"dim")
  }

  val q234KMeans: Q = (s, dir) => fit(s, dir)

  /** Full replay: 3 quantized Lloyd iterations as a CTE chain. Each
    * iteration = cross join with the (k-row) centroid frame, row_number
    * argmin with the (dist, cell) tie order, per-(cell, dim) floor-div
    * update with empty cells inheriting the previous centroid. */
  val q234Sql: String = {
    def iter(prev: String, out: String): String =
      s"""a_$out AS (
         |  SELECT vec_id, qv, cell FROM (
         |    SELECT q.vec_id, q.qv, c.cell,
         |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
         |        list_sum(list_transform(range(1, ${Dim + 1}),
         |          i -> (q.qv[i] - c.cv[i]) * (q.qv[i] - c.cv[i]))), c.cell) AS rn
         |    FROM q CROSS JOIN $prev c)
         |  WHERE rn = 1),
         |s_$out AS (
         |  SELECT cell, i - 1 AS dim,
         |    CAST(SUM(qv[i]) AS BIGINT) // COUNT(*) AS cent
         |  FROM a_$out CROSS JOIN unnest(range(1, ${Dim + 1})) AS t(i)
         |  GROUP BY cell, i),
         |$out AS (
         |  SELECT p.cell,
         |    list(COALESCE(s.cent, p.cv[d.i + 1]) ORDER BY d.i) AS cv
         |  FROM $prev p CROSS JOIN unnest(range(0, $Dim)) AS d(i)
         |  LEFT JOIN s_$out s ON s.cell = p.cell AND s.dim = d.i
         |  GROUP BY p.cell)""".stripMargin
    s"""WITH q AS (
       |  SELECT vec_id,
       |    list_transform(embedding,
       |      x -> CAST(FLOOR(CAST(x AS DOUBLE) * $Scale) AS BIGINT)) AS qv
       |  FROM embeddings),
       |c0 AS (
       |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, qv AS cv
       |  FROM q ORDER BY vec_id LIMIT $K),
       |${iter("c0", "c1")},
       |${iter("c1", "c2")},
       |${iter("c2", "c3")},
       |final_assign AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT q.vec_id, c.cell,
       |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
       |        list_sum(list_transform(range(1, ${Dim + 1}),
       |          i -> (q.qv[i] - c.cv[i]) * (q.qv[i] - c.cv[i]))), c.cell) AS rn
       |    FROM q CROSS JOIN c3 c)
       |  WHERE rn = 1),
       |sizes AS (SELECT cell, COUNT(*) AS n_vec FROM final_assign GROUP BY cell)
       |SELECT c.cell, d.i AS dim, c.cv[d.i + 1] AS cent_q,
       |  COALESCE(z.n_vec, 0) AS n_vec
       |FROM c3 c CROSS JOIN unnest(range(0, $Dim)) AS d(i)
       |LEFT JOIN sizes z ON z.cell = c.cell
       |ORDER BY c.cell, dim""".stripMargin
  }

  val entries: Seq[Entry] = Seq(Entry("q234_kmeans", q234KMeans, q234Sql))
}
