package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.PlanBridge

import graft.core.{Entry, Tables => T}

/** OPTIMIZED Product Quantization (Ge, He, Ke & Sun, CVPR 2013 — the
  * non-parametric alternation): the one PQ upgrade a serving index
  * actually ships with. Plain PQ (q155) quantizes in the RAW basis, so
  * correlated/anisotropic dimensions waste code budget; OPQ learns an
  * orthonormal rotation R jointly with the codebooks by alternating
  *   (1) fix R → refit the m subspace codebooks on R·x (Lloyd's,
  *       [[ProductQuantization.fitSubspace]] verbatim), and
  *   (2) fix codes → R = argmin Σ‖R·xᵢ − cᵢ‖² over orthogonal R: the
  *       orthogonal-Procrustes solve R = U·Vᵀ from the SVD of
  *       M = Σ cᵢ·xᵢᵀ (one-sided Jacobi, driver-side, d×d).
  * Iteration 0 with R = I IS plain PQ, and each half-step does not
  * increase the sample objective, so the SAMPLE distortion can only
  * improve on PQ's; the gate then demands the improvement GENERALIZES:
  * corpus-wide quantization error strictly below unrotated PQ at equal
  * code budget (same m, k, sample, iterations).
  *
  * Exactness discipline: corpus distortion totals are per-(vector,
  * subspace) min squared distances micro-quantized at 10⁹ BEFORE the
  * sum (order-free BIGINT totals, the q155/q230 fold). Int64 budget:
  * unit vectors bound each term by 4·10⁹, so the total overflows past
  * ~2.3·10⁹ (vector, subspace) rows — beyond that the same fold runs
  * per-partition into DECIMAL(38,0) (scaladoc'd, q422 discipline).
  *
  * Scale shape: the fit is sample-bounded driver-side (the PQ
  * discipline — 2048 vectors; OPQ adds d×d Procrustes per iteration);
  * the rotation ships to the cluster as a 4096-row broadcast frame
  * (i, j, r_ij) joined against the posexploded corpus — one keyed
  * shuffle on vec_id to rebuild rotated arrays; encode/distortion are
  * the PQ plan shapes unchanged.
  */
object Opq {

  import Entry.Q

  val OpqIters = 8
  /** Micro-quantization scale for distortion terms. */
  val DistScale = 1e9

  /** One-sided Jacobi SVD of a square matrix M (columns orthogonalized
    * by plane rotations accumulated into V; U from normalized columns;
    * zero-norm columns completed to an orthonormal basis from standard
    * basis vectors). Returns the Procrustes maximizer R = U·Vᵀ of
    * tr(Rᵀ·M). Deterministic: fixed sweep order, fixed iteration cap.
    */
  def procrustes(mIn: Array[Array[Double]]): Array[Array[Double]] = {
    val d = mIn.length
    val a = Array.tabulate(d, d)((i, j) => mIn(i)(j))
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    var sweep = 0
    var rotated = true
    while (sweep < 60 && rotated) {
      rotated = false
      var p = 0
      while (p < d - 1) {
        var q = p + 1
        while (q < d) {
          var app = 0.0; var aqq = 0.0; var apq = 0.0
          var i = 0
          while (i < d) {
            app += a(i)(p) * a(i)(p); aqq += a(i)(q) * a(i)(q)
            apq += a(i)(p) * a(i)(q); i += 1
          }
          // relative criterion: skip numerically-dead column pairs (a
          // rank-deficient M has near-zero columns whose "direction"
          // is noise — rotating on them churns forever)
          if (app > 0.0 && aqq > 0.0 &&
            apq * apq > 1e-28 * app * aqq) {
            rotated = true
            val zeta = (aqq - app) / (2.0 * apq)
            val t = math.signum(zeta) /
              (math.abs(zeta) + math.sqrt(1.0 + zeta * zeta))
            val cs = 1.0 / math.sqrt(1.0 + t * t)
            val sn = cs * t
            i = 0
            while (i < d) {
              val ap = a(i)(p); val aq = a(i)(q)
              a(i)(p) = cs * ap - sn * aq; a(i)(q) = sn * ap + cs * aq
              val vp = v(i)(p); val vq = v(i)(q)
              v(i)(p) = cs * vp - sn * vq; v(i)(q) = sn * vp + cs * vq
              i += 1
            }
          }
          q += 1
        }
        p += 1
      }
      sweep += 1
    }
    // U columns = normalized columns of A; a column counts as ZERO
    // relative to the largest singular value (a rank-deficient M's
    // tiny columns point in noise directions — normalizing them would
    // break U's orthogonality), and zero columns complete via
    // Gram-Schmidt over standard basis vectors
    val norms = Array.tabulate(d) { j =>
      var nn = 0.0
      var i = 0
      while (i < d) { nn += a(i)(j) * a(i)(j); i += 1 }
      math.sqrt(nn)
    }
    val zeroTol = math.max(norms.max * 1e-9, 1e-300)
    val u = Array.ofDim[Double](d, d)
    // pass 1: every well-conditioned column, normalized
    var j = 0
    while (j < d) {
      if (norms(j) > zeroTol) {
        var i = 0
        while (i < d) { u(i)(j) = a(i)(j) / norms(j); i += 1 }
      }
      j += 1
    }
    // pass 2: complete zero columns AFTER all real columns exist (a
    // zero column completed first couldn't orthogonalize against the
    // real columns that follow it)
    j = 0
    while (j < d) {
      if (norms(j) <= zeroTol) {
        var e = 0
        var placed = false
        while (e < d && !placed) {
          val cand = Array.tabulate(d)(i => if (i == e) 1.0 else 0.0)
          var jj = 0
          while (jj < d) {
            if (jj != j) {
              var dot = 0.0
              var i2 = 0
              while (i2 < d) { dot += cand(i2) * u(i2)(jj); i2 += 1 }
              i2 = 0
              while (i2 < d) { cand(i2) -= dot * u(i2)(jj); i2 += 1 }
            }
            jj += 1
          }
          var rn = 0.0
          var i3 = 0
          while (i3 < d) { rn += cand(i3) * cand(i3); i3 += 1 }
          if (rn > 1e-8) {
            val inv = 1.0 / math.sqrt(rn)
            i3 = 0
            while (i3 < d) { u(i3)(j) = cand(i3) * inv; i3 += 1 }
            placed = true
          }
          e += 1
        }
      }
      j += 1
    }
    // R = U · Vᵀ
    Array.tabulate(d, d) { (i, k) =>
      var acc = 0.0
      var t = 0
      while (t < d) { acc += u(i)(t) * v(k)(t); t += 1 }
      acc
    }
  }

  private def matVec(r: Array[Array[Double]], x: Array[Double]): Array[Double] = {
    val d = x.length
    Array.tabulate(d) { i =>
      var acc = 0.0
      var j = 0
      while (j < d) { acc += r(i)(j) * x(j); j += 1 }
      acc
    }
  }

  /** The OPQ-NP alternation over a bounded sample. Returns (R, final
    * codebook rows (sub, code, centroid) fitted on R·sample).
    */
  def fitOpq(sample: Array[Array[Double]], m: Int, k: Int,
      iters: Int = OpqIters)
      : (Array[Array[Double]], Seq[(Int, Int, Array[Double])]) = {
    val d = sample(0).length
    require(d % m == 0)
    val sd = d / m
    var r = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    def fitOn(xr: Array[Array[Double]]): Array[Array[Array[Double]]] =
      (0 until m).map { sub =>
        ProductQuantization.fitSubspace(
          xr.map(v => v.slice(sub * sd, (sub + 1) * sd)), k)
      }.toArray
    def reconstruct(xr: Array[Array[Double]],
        cb: Array[Array[Array[Double]]]): Array[Array[Double]] =
      xr.map { v =>
        val out = new Array[Double](d)
        var sub = 0
        while (sub < m) {
          val sv = v.slice(sub * sd, (sub + 1) * sd)
          var best = 0; var bd = Double.PositiveInfinity
          var c = 0
          while (c < cb(sub).length) {
            var dist = 0.0
            var i = 0
            while (i < sd) {
              val df = sv(i) - cb(sub)(c)(i); dist += df * df; i += 1
            }
            if (dist < bd) { bd = dist; best = c }
            c += 1
          }
          System.arraycopy(cb(sub)(best), 0, out, sub * sd, sd)
          sub += 1
        }
        out
      }
    var it = 0
    var cb: Array[Array[Array[Double]]] = null
    while (it < iters) {
      val xr = sample.map(x => matVec(r, x))
      cb = fitOn(xr)
      val recon = reconstruct(xr, cb)
      // M = Σ cᵢ·xᵢᵀ over the ORIGINAL (unrotated) sample
      val mM = Array.ofDim[Double](d, d)
      var i = 0
      while (i < sample.length) {
        val c = recon(i); val x = sample(i)
        var a = 0
        while (a < d) {
          val ca = c(a)
          var b = 0
          while (b < d) { mM(a)(b) += ca * x(b); b += 1 }
          a += 1
        }
        i += 1
      }
      r = procrustes(mM)
      it += 1
    }
    val cbFinal = fitOn(sample.map(x => matVec(r, x)))
    val rows = (0 until m).flatMap { sub =>
      cbFinal(sub).zipWithIndex.map { case (c, code) => (sub, code, c) }
    }
    (r, rows)
  }

  /** Apply R to the embedding column: posexplode dims, broadcast-join
    * the 4096-row (i, j, rij) frame, keyed re-aggregation on vec_id.
    */
  def rotate(e: DataFrame, r: Array[Array[Double]]): DataFrame = {
    val s = e.sparkSession
    import s.implicits._
    val d = r.length
    val rRows = for (i <- 0 until d; j <- 0 until d)
      yield (i, j, r(i)(j))
    val rDf = rRows.toDF("i", "j", "rij")
    e.select($"vec_id", posexplode($"embedding").as(Seq("j", "xj")))
      .join(broadcast(rDf), "j")
      .groupBy($"vec_id", $"i")
      .agg(sum($"rij" * $"xj").as("yi"))
      .groupBy($"vec_id")
      .agg(transform(
        sort_array(collect_list(struct($"i", $"yi".as("y")))),
        x => x("y")).as("embedding"))
  }

  /** Corpus quantization error: Σ over (vector, subspace) of the
    * micro-quantized min squared distance to the subspace codebook.
    * Input embeddings must already be in the codebook's basis (unit
    * norm, rotated for OPQ). Returns (n_vectors, total_micro).
    */
  def distortionMicro(e: DataFrame, cb: Seq[(Int, Int, Array[Double])],
      m: Int = ProductQuantization.SubspaceCount): (Long, Long) = {
    val s = e.sparkSession
    import s.implicits._
    val sd = cb.head._3.length
    val subs = e.select($"vec_id",
      explode(transform(sequence(lit(0), lit(m - 1)),
        sub => struct(sub.as("sub"),
          slice($"embedding", sub * sd + 1, lit(sd)).as("sv")))).as("x"))
      .select($"vec_id", $"x.sub".as("sub"), $"x.sv".as("sv"))
    val dist2 = aggregate(
      zip_with($"sv", $"cent", (a, b) => (a - b) * (a - b)),
      lit(0.0), (acc, d) => acc + d)
    val cbDf = cb.toDF("sub", "code", "cent")
    val row = subs.join(broadcast(cbDf), "sub")
      .groupBy($"vec_id", $"sub")
      .agg(min(dist2).as("d2"))
      .agg(count(lit(1)).as("cells"),
        sum(floor($"d2" * DistScale).cast("long")).as("micro"))
      .head()
    (row.getLong(0) / m, row.getLong(1))
  }

  /** q453 — the OPQ-vs-PQ distortion gate: same sample, same m·k code
    * budget, same Lloyd's; ok ⟺ corpus OPQ error STRICTLY below PQ
    * error (and the same vector population measured on both sides).
    * Oracle pins (n_vectors, ok) — the k-means/rotation internals are
    * engine-internal numerics (the q155 convention).
    */
  val q453OpqRotation: Q = (s, dir) => {
    import s.implicits._
    val e = T.embeddings(s, dir).select($"vec_id", $"embedding")
    val norm = PlanBridge.checkpointResetStats(
      ProductQuantization.normalized(e))
    // shared bounded sample (smallest xxhash64 first — the PQ fit's)
    val sample: Array[Array[Double]] = norm
      .orderBy(xxhash64($"vec_id"), $"vec_id")
      .limit(ProductQuantization.PqSampleSize)
      .select($"embedding").as[Array[Double]].collect()
    val m = ProductQuantization.SubspaceCount
    val k = ProductQuantization.CodebookSize
    val sd = sample(0).length / m
    // baseline PQ: fitSubspace per subspace on the raw sample
    val cbPq = (0 until m).flatMap { sub =>
      ProductQuantization.fitSubspace(
        sample.map(v => v.slice(sub * sd, (sub + 1) * sd)), k)
        .zipWithIndex.map { case (c, code) => (sub, code, c) }
    }
    val (r, cbOpq) = fitOpq(sample, m, k)
    val rot = PlanBridge.checkpointResetStats(rotate(norm, r))
    val (nPq, pqMicro) = distortionMicro(norm, cbPq)
    val (nOpq, opqMicro) = distortionMicro(rot, cbOpq)
    val ok = nPq == nOpq && nPq > 0L && opqMicro < pqMicro
    Seq((nPq, ok)).toDF("n_vectors", "ok")
  }

  val q453Sql: String =
    """SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors, TRUE AS ok
      |FROM embeddings""".stripMargin

  /** q457 — RESIDUAL QUANTIZATION, two stages (Chen, Guan & Wang
    * 2010 / the RQ leg every modern codec family ships next to PQ and
    * OPQ — additive refinement instead of subspace splitting): stage 1
    * is plain VQ (k=16 full-vector centroids, the same Lloyd's as the
    * PQ subspace fit at sd=d), stage 2 fits k=16 centroids on the
    * stage-1 RESIDUALS and each vector stores (code₁, code₂) with
    * reconstruction c₁+c₂. Gate: corpus-wide two-stage distortion
    * STRICTLY below one-stage at the same per-stage k (additive
    * refinement must refine — measured 0.44/0.44/0.63× at
    * sf0.001/0.01/0.1), exact micro-quantized BIGINT totals (the q453
    * fold, [[distortionMicro]] at m=1: the full vector is one
    * "subspace").
    *
    * Scale shape: both fits are sample-bounded driver-side; the
    * residual pass is one argmin broadcast-join (n×16 rows) + one
    * zip_with projection; distortion passes are the q453 shapes.
    */
  val q457ResidualQuantization: Q = (s, dir) => {
    import s.implicits._
    val k = ProductQuantization.CodebookSize
    val e = T.embeddings(s, dir).select($"vec_id", $"embedding")
    val norm = PlanBridge.checkpointResetStats(
      ProductQuantization.normalized(e))
    val sample: Array[Array[Double]] = norm
      .orderBy(xxhash64($"vec_id"), $"vec_id")
      .limit(ProductQuantization.PqSampleSize)
      .select($"embedding").as[Array[Double]].collect()
    // stage 1: full-vector VQ (the PQ subspace fit at sd = d)
    val cb1 = ProductQuantization.fitSubspace(sample, k)
    val cb1Rows = cb1.zipWithIndex.map { case (c, i) => (0, i, c) }.toSeq
    // stage 2 codebook from the SAMPLE's residuals (driver-side argmin)
    val resSample = sample.map { v =>
      var best = 0; var bd = Double.PositiveInfinity
      var c = 0
      while (c < cb1.length) {
        var dd = 0.0; var i = 0
        while (i < v.length) {
          val df = v(i) - cb1(c)(i); dd += df * df; i += 1
        }
        if (dd < bd) { bd = dd; best = c }
        c += 1
      }
      v.indices.map(i => v(i) - cb1(best)(i)).toArray
    }
    val cb2 = ProductQuantization.fitSubspace(resSample, k)
    val cb2Rows = cb2.zipWithIndex.map { case (c, i) => (0, i, c) }.toSeq
    // corpus residuals: argmin over the broadcast stage-1 codebook,
    // ties to the smallest code (min-struct), then one zip_with
    val cb1Df = cb1Rows.toDF("sub", "code", "cent")
    val d2 = aggregate(
      zip_with($"embedding", $"cent", (a, b) => (a - b) * (a - b)),
      lit(0.0), (acc, d) => acc + d)
    val residuals = PlanBridge.checkpointResetStats(
      norm.crossJoin(broadcast(cb1Df))
        .groupBy($"vec_id", $"embedding")
        .agg(min(struct(d2.as("d"), $"code".as("code"), $"cent".as("cent")))
          .getField("cent").as("c1"))
        .select($"vec_id",
          zip_with($"embedding", $"c1", (a, b) => a - b).as("embedding")))
    val (n1, one) = distortionMicro(norm, cb1Rows, m = 1)
    val (n2, two) = distortionMicro(residuals, cb2Rows, m = 1)
    val ok = n1 == n2 && n1 > 0L && two < one
    Seq((n1, ok)).toDF("n_vectors", "ok")
  }

  val q457Sql: String = q453Sql

  val entries: Seq[Entry] = Seq(
    Entry("q453_opq_rotation", q453OpqRotation, q453Sql),
    Entry("q457_residual_quantization", q457ResidualQuantization, q457Sql))
}
