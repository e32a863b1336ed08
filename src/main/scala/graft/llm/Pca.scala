package graft.llm

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.core.{Entry, Tables => T}

/** Distributed PCA over the embedding table — the classic
  * dimensionality-reduction / whitening step of an embedding pipeline
  * (and the dense-linear-algebra leg next to q151's exact covariance
  * NUMERATORS: q151 proves the sums cross-engine; this consumes the
  * same moments as doubles and closes the loop to an actual
  * eigendecomposition and projection).
  *
  * Three stages, shaped for 100 TB:
  *
  *   1. MOMENTS — one data pass folds each partition to a single
  *      (n, Σx, upper(Σxxᵀ)) row (mapPartitions; D=64 ⇒ 2 KB + 16 KB
  *      per partition), reduced to the driver. Cost: one scan, no
  *      shuffle, driver receives O(parts·D²) — the standard
  *      treeAggregate shape of distributed PCA (e.g. Spark MLlib's
  *      RowMatrix.computeCovariance, reimplemented here without the
  *      mllib dependency).
  *   2. EIGEN — the D×D covariance eigendecomposes on the DRIVER with
  *      a cyclic Jacobi solver (deterministic: fixed sweep order,
  *      convergence by off-diagonal norm, sign canonicalized by each
  *      vector's largest-magnitude component). D is a model constant —
  *      64³ flops is microseconds; data size never enters stage 2.
  *   3. PROJECT + GATE — the top-k eigenvectors broadcast back into a
  *      second data pass that projects every vector and accumulates
  *      per-component (Σy, Σy²). The gate recomputes Var(yᵢ) FROM THE
  *      DATA and requires it to match λᵢ — an end-to-end check that
  *      the moments, the eigensolve, and the projection agree (a wrong
  *      Gram fold, a broken rotation, or a transposed projection all
  *      flip it), not a tautology on stage-2 algebra.
  *
  * Oracle shape: (n, dim, k, ok) under the q74 gate convention —
  * eigenvectors themselves are sign/rotation-ambiguous under ties, so
  * the pinned contract is the invariant set (orthonormality, ordering,
  * trace preservation, data-variance match), not raw floats.
  */
object Pca {

  import Entry.Q

  val TopK = 8

  /** Cyclic Jacobi eigendecomposition of a symmetric matrix (values
    * descending, vectors as rows, sign-canonicalized). Deterministic:
    * fixed (p, q) sweep order, fixed convergence threshold.
    */
  def jacobiEigen(aIn: Array[Array[Double]])
      : (Array[Double], Array[Array[Double]]) = {
    val d = aIn.length
    val a = aIn.map(_.clone())
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    def offNorm2: Double = {
      var s = 0.0; var i = 0
      while (i < d) { var j = i + 1; while (j < d) {
        s += 2.0 * a(i)(j) * a(i)(j); j += 1 }; i += 1 }
      s
    }
    var sweep = 0
    while (offNorm2 > 1e-22 && sweep < 64) {
      var p = 0
      while (p < d - 1) {
        var q = p + 1
        while (q < d) {
          val apq = a(p)(q)
          if (math.abs(apq) > 1e-300) {
            val theta = (a(q)(q) - a(p)(p)) / (2.0 * apq)
            val t = math.signum(theta) match {
              case 0.0 => 1.0 / (theta + math.sqrt(theta * theta + 1.0))
              case sg => sg / (math.abs(theta) + math.sqrt(theta * theta + 1.0))
            }
            val c = 1.0 / math.sqrt(t * t + 1.0)
            val s = t * c
            var i = 0
            while (i < d) {
              val aip = a(i)(p); val aiq = a(i)(q)
              a(i)(p) = c * aip - s * aiq
              a(i)(q) = s * aip + c * aiq
              i += 1
            }
            i = 0
            while (i < d) {
              val api = a(p)(i); val aqi = a(q)(i)
              a(p)(i) = c * api - s * aqi
              a(q)(i) = s * api + c * aqi
              val vip = v(i)(p); val viq = v(i)(q)
              v(i)(p) = c * vip - s * viq
              v(i)(q) = s * vip + c * viq
              i += 1
            }
          }
          q += 1
        }
        p += 1
      }
      sweep += 1
    }
    // columns of v are eigenvectors; sort desc by eigenvalue (index
    // tiebreak), emit as rows, canonicalize sign
    val order = (0 until d).sortBy(i => (-a(i)(i), i))
    val values = order.map(i => a(i)(i)).toArray
    val vectors = order.map { ci =>
      val col = Array.tabulate(d)(r => v(r)(ci))
      val m = col.indices.maxBy(i => (math.abs(col(i)), -i))
      if (col(m) < 0) col.map(x => -x) else col
    }.toArray
    (values, vectors)
  }

  /** q267 — the PCA gate row. `ok` requires, at once:
    *   - top-k eigenvector ORTHONORMALITY (|⟨wᵢ,wⱼ⟩ − δᵢⱼ| ≤ 1e-8);
    *   - eigenvalues nonincreasing and ≥ −1e-9 (PSD up to roundoff);
    *   - TRACE preservation: Σ all-D eigenvalues = trace(C) (rel 1e-9);
    *   - the END-TO-END variance match: for each of the k projected
    *     components, the variance recomputed from the projected DATA
    *     equals λᵢ (rel 1e-6).
    */
  val q267PcaGate: Q = (s, dir) => {
    import s.implicits._
    val vecs = T.embeddings(s, dir)
      .select($"embedding".cast("array<double>").as("x"))
      .as[Seq[Double]]
    // stage 1: one pass -> (n, sum, upper gram) per partition
    val dims = vecs.head().length
    val (n, sumX, gramU) = vecs.rdd.mapPartitions { it =>
      var n = 0L
      val s1 = new Array[Double](dims)
      val g = new Array[Double](dims * (dims + 1) / 2)
      it.foreach { x =>
        require(x.length == dims, s"ragged embedding: ${x.length} != $dims")
        n += 1
        var i = 0
        var off = 0
        while (i < dims) {
          val xi = x(i)
          s1(i) += xi
          var j = i
          while (j < dims) { g(off) += xi * x(j); j += 1; off += 1 }
          i += 1
        }
      }
      if (n == 0) Iterator.empty
      else Iterator.single((n, s1, g))
    }.reduce { (a, b) =>
      val s = a._2.zip(b._2).map { case (x, y) => x + y }
      val g = a._3.zip(b._3).map { case (x, y) => x + y }
      (a._1 + b._1, s, g)
    }
    // covariance C = G/n - mu mu^T
    val mu = sumX.map(_ / n)
    val cov = Array.ofDim[Double](dims, dims)
    var off = 0
    for (i <- 0 until dims; j <- i until dims) {
      val c = gramU(off) / n - mu(i) * mu(j)
      cov(i)(j) = c; cov(j)(i) = c
      off += 1
    }
    val trace = (0 until dims).map(i => cov(i)(i)).sum
    // stage 2: driver eigensolve
    val (lambda, w) = jacobiEigen(cov)
    val k = TopK
    val orthoOk = (0 until k).forall { i =>
      (i until k).forall { j =>
        val dot = (0 until dims).map(t => w(i)(t) * w(j)(t)).sum
        math.abs(dot - (if (i == j) 1.0 else 0.0)) <= 1e-8
      }
    }
    val orderOk = (1 until dims).forall(i => lambda(i - 1) >= lambda(i) - 1e-12) &&
      lambda.forall(_ >= -1e-9)
    val traceOk = math.abs(lambda.sum - trace) <= 1e-9 * math.max(1.0, math.abs(trace))
    // stage 3: project and recompute per-component variance from data
    val bW = s.sparkContext.broadcast(w.take(k))
    val bMu = s.sparkContext.broadcast(mu)
    val (n2, sy, sy2) = vecs.rdd.mapPartitions { it =>
      val wk = bW.value; val m = bMu.value
      var n = 0L
      val s1 = new Array[Double](wk.length)
      val s2 = new Array[Double](wk.length)
      it.foreach { x =>
        n += 1
        var i = 0
        while (i < wk.length) {
          var y = 0.0
          var t = 0
          while (t < m.length) { y += wk(i)(t) * (x(t) - m(t)); t += 1 }
          s1(i) += y; s2(i) += y * y
          i += 1
        }
      }
      if (n == 0) Iterator.empty else Iterator.single((n, s1, s2))
    }.reduce { (a, b) =>
      (a._1 + b._1,
        a._2.zip(b._2).map { case (x, y) => x + y },
        a._3.zip(b._3).map { case (x, y) => x + y })
    }
    val varOk = (0 until k).forall { i =>
      val v = sy2(i) / n2 - (sy(i) / n2) * (sy(i) / n2)
      math.abs(v - lambda(i)) <= 1e-6 * math.max(1e-12, math.abs(lambda(i)))
    }
    Seq((n, dims, k, orthoOk && orderOk && traceOk && varOk && n == n2))
      .toDF("n", "dim", "k", "ok")
  }

  val q267Sql: String =
    s"""SELECT CAST(COUNT(*) AS BIGINT) AS n,
       |  CAST(len(embedding) AS INTEGER) AS dim, $TopK AS k, TRUE AS ok
       |FROM embeddings GROUP BY len(embedding)""".stripMargin

  val entries: Seq[Entry] = Seq(Entry("q267_pca_gate", q267PcaGate, q267Sql))
}
