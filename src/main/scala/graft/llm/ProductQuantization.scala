package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.PlanBridge

import graft.core.{Entry, Tables => T}

/** Product quantization (Jégou, Douze & Schmid, "Product Quantization
  * for Nearest Neighbor Search", TPAMI 2011 — public literature): the
  * memory-compression leg of the vector-search stack, next to IVF's
  * cell pruning ([[VectorSearch]]) and int8's scalar quantization
  * (q123). The embedding is split into [[SubspaceCount]] contiguous
  * subvectors; each subspace gets its own [[CodebookSize]]-entry
  * k-means codebook; a vector is stored as its per-subspace nearest
  * code — 8 bytes here vs 256 bytes of floats (32×), and distances are
  * computed against CODES via a per-query lookup table (ADC), never
  * against the original floats.
  *
  * Scale shape:
  *   - Fit is [[VectorSearch.fitCodebook]]'s discipline per subspace: a
  *     bounded deterministic sample (smallest xxhash64(vec_id) first)
  *     drives driver-side Lloyd's; only m·k·(d/m) = d·k floats ship
  *     back into the plan.
  *   - Encode is one explode into (vec_id, sub, subvector) rows, an
  *     equi-join against the BROADCAST codebook frame (m·k rows,
  *     corpus-size constant), a partial-aggregated min-struct argmin
  *     per (vec_id, sub), and a sort_array rebuild — no UDF, no
  *     window, shuffle keyed on vec_id only.
  *   - ADC scoring joins the exploded code column against a broadcast
  *     per-query lookup table (|queries|·m·k rows) and sums m terms
  *     per (query, vector): the per-vector work is m lookups instead
  *     of d multiplies. The scan is still linear in the corpus — PQ
  *     compresses memory and distance arithmetic; pair it with IVF's
  *     cell pruning for sublinear candidate generation (the IVF-ADC
  *     composition of the paper).
  *
  * Vectors are L2-normalized before fit/encode, so the ADC's
  * approximate squared-L2 ordering is the cosine ordering (‖a−b‖² =
  * 2−2cos on the unit sphere). Determinism: farthest-point init, ties
  * to the smallest index, empty cells keep their centroid — the fit is
  * a pure function of the corpus.
  */
object ProductQuantization {

  import Entry.Q

  val SubspaceCount = 8
  val CodebookSize = 16
  val PqSampleSize = 2048
  val PqFitIters = 10

  private def l2(a: Array[Double], b: Array[Double]): Double = {
    var acc = 0.0; var i = 0
    while (i < a.length) { val d = a(i) - b(i); acc += d * d; i += 1 }
    acc
  }

  /** Driver-side L2 Lloyd's over one subspace's sample slice:
    * farthest-point init (start at index 0, then repeatedly the point
    * farthest from its nearest seed; ties to the smallest index), then
    * [[PqFitIters]] assign/average rounds. Empty cells keep their
    * previous centroid. Pure function of the sample.
    */
  def fitSubspace(sample: Array[Array[Double]], k: Int): Array[Array[Double]] = {
    require(sample.nonEmpty, "cannot fit a PQ codebook on an empty sample")
    val kk = math.min(k, sample.length)
    val dim = sample(0).length
    val seeds = scala.collection.mutable.ArrayBuffer(0)
    val bestD = Array.fill(sample.length)(Double.PositiveInfinity)
    def absorb(seed: Int): Unit = {
      var i = 0
      while (i < sample.length) {
        val d = l2(sample(i), sample(seed))
        if (d < bestD(i)) bestD(i) = d
        i += 1
      }
    }
    absorb(0)
    while (seeds.length < kk) {
      var next = -1; var far = -1.0
      var i = 0
      while (i < sample.length) {
        if (bestD(i) > far) { far = bestD(i); next = i }
        i += 1
      }
      seeds += next
      absorb(next)
    }
    var cents = seeds.map(i => sample(i).clone()).toArray
    var iter = 0
    while (iter < PqFitIters) {
      val sums = Array.ofDim[Double](kk, dim)
      val counts = new Array[Int](kk)
      var i = 0
      while (i < sample.length) {
        var best = 0; var bd = Double.PositiveInfinity
        var c = 0
        while (c < kk) {
          val d = l2(sample(i), cents(c))
          if (d < bd) { bd = d; best = c }
          c += 1
        }
        counts(best) += 1
        var dd = 0
        while (dd < dim) { sums(best)(dd) += sample(i)(dd); dd += 1 }
        i += 1
      }
      cents = Array.tabulate(kk) { c =>
        if (counts(c) == 0) cents(c) else sums(c).map(_ / counts(c))
      }
      iter += 1
    }
    cents
  }

  /** L2-normalize the embedding column (unit sphere ⇒ L2 order = cosine
    * order). Zero vectors stay zero.
    */
  def normalized(e: DataFrame): DataFrame = {
    val s = e.sparkSession
    import s.implicits._
    e.withColumn("nrm",
        sqrt(aggregate($"embedding", lit(0.0),
          (acc, x) => acc + x.cast("double") * x.cast("double"))))
      .withColumn("embedding",
        when($"nrm" > 0.0,
          transform($"embedding", x => (x.cast("double") / $"nrm"))
        ).otherwise(transform($"embedding", x => x.cast("double"))))
      .drop("nrm")
  }

  /** Fit all m subspace codebooks from one bounded hash-ordered sample.
    * Returns rows (sub, code, centroid).
    */
  def fitPq(e: DataFrame, m: Int = SubspaceCount, k: Int = CodebookSize)
      : Seq[(Int, Int, Array[Double])] = {
    val s = e.sparkSession
    import s.implicits._
    val sample: Array[Array[Double]] = normalized(e)
      .orderBy(xxhash64($"vec_id"), $"vec_id")
      .limit(PqSampleSize)
      .select($"embedding").as[Array[Double]].collect()
    require(sample.nonEmpty && sample(0).length % m == 0,
      s"embedding dim ${sample.headOption.map(_.length)} not divisible by $m")
    val sd = sample(0).length / m
    (0 until m).flatMap { sub =>
      val slice = sample.map(v => v.slice(sub * sd, (sub + 1) * sd))
      fitSubspace(slice, k).zipWithIndex.map { case (c, code) =>
        (sub, code, c)
      }
    }
  }

  /** Codebook rows as a broadcastable frame (sub, code, cent). */
  private def codebookDf(s: SparkSession, cb: Seq[(Int, Int, Array[Double])])
      : DataFrame = {
    import s.implicits._
    cb.toDF("sub", "code", "cent")
  }

  /** Encode every vector to its m per-subspace nearest codes.
    * Returns (vec_id, codes: array<int>) with codes(sub) the code of
    * subspace `sub`. Ties go to the smallest code id (min-struct on
    * (dist, code)).
    */
  def encode(e: DataFrame, cb: Seq[(Int, Int, Array[Double])],
      m: Int = SubspaceCount): DataFrame = {
    val s = e.sparkSession
    import s.implicits._
    val sd = cb.head._3.length
    val subs = normalized(e).select($"vec_id",
      explode(transform(sequence(lit(0), lit(m - 1)),
        sub => struct(sub.as("sub"),
          slice($"embedding", sub * sd + 1, lit(sd)).as("sv")))).as("x"))
      .select($"vec_id", $"x.sub".as("sub"), $"x.sv".as("sv"))
    val dist2 = aggregate(
      zip_with($"sv", $"cent", (a, b) => (a - b) * (a - b)),
      lit(0.0), (acc, d) => acc + d)
    subs.join(broadcast(codebookDf(s, cb)), "sub")
      .groupBy($"vec_id", $"sub")
      .agg(min(struct(dist2.as("d"), $"code".as("code"))).as("best"))
      .groupBy($"vec_id")
      .agg(transform(
        sort_array(collect_list(struct($"sub", $"best.code".as("code")))),
        x => x("code")).as("codes"))
  }

  /** Per-query ADC lookup table: (qid, sub, code, d2) — the squared L2
    * distance of each query's subvector to every codebook centroid.
    * |queries|·m·k rows, corpus-size constant — the justified
    * broadcast of ADC scoring.
    */
  def adcLut(queries: DataFrame, cb: Seq[(Int, Int, Array[Double])],
      m: Int = SubspaceCount): DataFrame = {
    val s = queries.sparkSession
    import s.implicits._
    val sd = cb.head._3.length
    val qsubs = normalized(queries).select($"qid",
      explode(transform(sequence(lit(0), lit(m - 1)),
        sub => struct(sub.as("sub"),
          slice($"embedding", sub * sd + 1, lit(sd)).as("sv")))).as("x"))
      .select($"qid", $"x.sub".as("sub"), $"x.sv".as("sv"))
    val dist2 = aggregate(
      zip_with($"sv", $"cent", (a, b) => (a - b) * (a - b)),
      lit(0.0), (acc, d) => acc + d)
    qsubs.join(codebookDf(s, cb), "sub")
      .select($"qid", $"sub", $"code", dist2.as("d2"))
  }

  /** Sum the m LUT terms per (qid, vec_id) candidate and keep each
    * query's minimum-distance vector (ties to the smallest vec_id).
    * `pairs` carries one row per candidate: (qid, vec_id, codes).
    */
  def adcArgmin(pairs: DataFrame, lut: DataFrame, m: Int = SubspaceCount)
      : DataFrame = {
    val s = pairs.sparkSession
    import s.implicits._
    pairs.select($"qid", $"vec_id", posexplode($"codes").as(Seq("sub", "code")))
      .join(broadcast(lut), Seq("qid", "sub", "code"))
      .groupBy($"qid", $"vec_id")
      .agg(sum($"d2").as("adc_d2"), count(lit(1)).as("n_sub"))
      .filter($"n_sub" === m) // every subspace term present
      .groupBy($"qid")
      .agg(min(struct($"adc_d2", $"vec_id")).as("best"))
      .select($"qid", $"best.vec_id".as("vec_id"), $"best.adc_d2".as("adc_d2"))
  }

  /** ADC top-1 over the FULL corpus: the exploded corpus codes join the
    * broadcast LUT on (sub, code) — every (query, vector) pair arises
    * from the join itself, no candidate frame materialized.
    */
  def adcTop1(codes: DataFrame, queries: DataFrame,
      cb: Seq[(Int, Int, Array[Double])], m: Int = SubspaceCount)
      : DataFrame = {
    val s = codes.sparkSession
    import s.implicits._
    val lut = adcLut(queries, cb, m)
    val corpus = codes.select($"vec_id",
      posexplode($"codes").as(Seq("sub", "code")))
    corpus.join(broadcast(lut), Seq("sub", "code"))
      .groupBy($"qid", $"vec_id")
      .agg(sum($"d2").as("adc_d2"), count(lit(1)).as("n_sub"))
      .filter($"n_sub" === m)
      .groupBy($"qid")
      .agg(min(struct($"adc_d2", $"vec_id")).as("best"))
      .select($"qid", $"best.vec_id".as("vec_id"), $"best.adc_d2".as("adc_d2"))
  }

  val PqRecallFloor = 0.8

  /** q155 — PQ recall gate (the q85/q86 convention): encode the corpus,
    * plant perturbed twins of the first [[VectorSearch.QuerySetSize]]
    * vectors as queries, and require ADC top-1 to retrieve each twin's
    * original for ≥ [[PqRecallFloor]] of queries. The oracle row pins
    * (n_queries, ok) — the recall computation itself is in-engine, like
    * every index-internal gate.
    */
  val q155PqRecall: Q = (s, dir) => {
    import s.implicits._
    val e = T.embeddings(s, dir).select($"vec_id", $"embedding")
    val cb = fitPq(e)
    val codes = encode(e, cb)
    val twins = VectorSearch.plantedTwins(e)
      .select($"vec_id".as("qid"), $"embedding")
    val top1 = adcTop1(codes, twins, cb)
    val hits = top1.withColumn("hit",
      $"vec_id" === $"qid" - VectorSearch.PlantedIdOffset)
    hits.agg(count(lit(1)).as("n_queries"),
      (sum(when($"hit", 1).otherwise(0)) >=
        ceil(lit(PqRecallFloor) * count(lit(1)))).as("ok"))
  }

  val q155Sql: String =
    s"""SELECT COUNT(*) AS n_queries, TRUE AS ok
       |FROM embeddings WHERE vec_id < ${VectorSearch.QuerySetSize}""".stripMargin

  /** q157 — the IVF-ADC composition (the paper's serving architecture,
    * and the answer to "ADC still scans the whole corpus"): IVF cells
    * bound WHICH vectors a query examines (probes·N/cells candidates —
    * sublinear with fitted √N cells), PQ codes bound WHAT is read per
    * candidate (m bytes instead of d floats). Pipeline: fit IVF
    * centroids + assign every corpus vector a cell
    * ([[VectorSearch.centroidCellsJoin]] — constant plan size), PQ-encode
    * the corpus, rank each query's probe cells
    * ([[VectorSearch.ivfRanked]]), equi-join probes to the indexed
    * corpus ON CELL (the sublinear step), ADC-score only those
    * candidates via the broadcast LUT, keep the argmin. Recall gate:
    * planted-twin top-1, same floor as the full-scan PQ gate (q155) —
    * composing the two indexes must not cost recall on this corpus.
    */
  val q157IvfAdcRecall: Q = (s, dir) => {
    import s.implicits._
    val e = T.embeddings(s, dir).select($"vec_id", $"embedding")
    // IVF leg: fitted centroids, every vector assigned one cell
    val cents = VectorSearch.fitCodebook(e, VectorSearch.ivfCellCount(e.count()))
    val corpusCells = VectorSearch.centroidCellsJoin(e, cents)
    // PQ leg: subspace codebooks, corpus encoded once
    val pcb = fitPq(e)
    // reused by the probe join; one bounded frame
    val indexed = PlanBridge.checkpointResetStats(
      encode(e, pcb).join(corpusCells, "vec_id"))
    // queries probe their top-ranked cells
    val twins = VectorSearch.plantedTwins(e)
    val probes = math.min(cents.size, VectorSearch.IvfProbes)
    val qcells = VectorSearch.ivfRanked(
        twins.withColumn("norm", lit(0.0)), cents, probes)
      .select($"vec_id".as("qid"), $"cell")
    val lut = adcLut(twins.select($"vec_id".as("qid"), $"embedding"), pcb)
    val pairs = qcells.join(indexed, "cell")
      .select($"qid", $"vec_id", $"codes")
    val top1 = adcArgmin(pairs, lut)
    val hits = top1.withColumn("hit",
      $"vec_id" === $"qid" - VectorSearch.PlantedIdOffset)
    hits.agg(count(lit(1)).as("n_queries"),
      (sum(when($"hit", 1).otherwise(0)) >=
        ceil(lit(PqRecallFloor) * count(lit(1)))).as("ok"))
  }

  val q157Sql: String =
    s"""SELECT COUNT(*) AS n_queries, TRUE AS ok
       |FROM embeddings WHERE vec_id < ${VectorSearch.QuerySetSize}""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("q155_pq_recall", q155PqRecall, q155Sql),
    Entry("q157_ivf_adc_recall", q157IvfAdcRecall, q157Sql))
}
