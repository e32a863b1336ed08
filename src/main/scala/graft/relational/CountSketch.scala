package graft.relational

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.XxHash64Function
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.PlanBridge
import org.apache.spark.sql.types.LongType

import graft.core.{Entry, Tables => T}

/** COUNT-SKETCH — the SIGNED frequency sketch (Charikar–Chen–
  * Farach-Colton ICALP'02) next to q96's Count-Min: each of
  * [[Depth]] rows hashes a key to one of [[Width]] buckets AND to a
  * ±1 sign, cells accumulate Σ sign — so errors cancel in expectation
  * instead of stacking, the estimate is the MEDIAN of the per-row
  * signed reads, and the error bound is ε·‖f‖₂ (L2!) where CMS only
  * gives ε·‖f‖₁. The sign structure also makes the sketch an
  * unbiased INNER-PRODUCT estimator: ⟨f, g⟩ ≈ median_i Σ_b
  * C_f[i][b]·C_g[i][b] within ε·‖f‖₂·‖g‖₂ — the join-size /
  * second-moment estimation leg none of the other sketches
  * (CMS/HLL/KLL/theta/bitmap) can express.
  *
  * The cell update is a commutative integer SUM, so the sketch is
  * counter-additive like CMS: the merge of shard folds is
  * BIT-IDENTICAL to one batch pass (the qs03 convention —
  * [[graft.streaming.CountSketchStream]] is the streaming twin and
  * CountSketchStreamSpec pins the identity). Hashes are Spark's own
  * xxhash64 chain, spelled ONCE: the Column form ([[bucketCol]]/
  * [[signCol]]) and the JVM form ([[bucketOf]]/[[signOf]]) both fold
  * seed 42 through (salt, row, key), so batch SQL cells and streaming
  * JVM folds land in identical cells by construction (pinned in the
  * spec).
  *
  * Scale shape: the batch sketch is ONE explode(Depth) + partial agg
  * to Depth·Width cells (constant-size, broadcastable); estimates and
  * gates read the collected cell table. Exact censuses for the gates
  * are ordinary distributed aggs; ‖f‖₂² accumulates in DECIMAL(38,0).
  */
object CountSketch {

  import Entry.Q

  val Depth = 5
  val Width = 256
  val SaltBucket = 1013904223L
  val SaltSign = 1597334677L

  /** Error-bound multiplier: |err| ≤ K·‖f‖₂/√Width. σ of one row's
    * read is ≤ ‖f‖₂/√Width; the median of 5 rows concentrates well
    * inside 3σ — measured max |err| across sf0.001/0.01/0.1 point
    * reads is ≤ 1.1σ, so K = 3 has ~3× headroom while staying a real
    * L2 bound (a CMS-style L1 bound here would be ~40× looser on this
    * data).
    */
  val KBound = 3.0

  private def chain(vals: Long*): Long =
    vals.foldLeft(42L)((h, v) => XxHash64Function.hash(v, LongType, h))

  /** JVM-side twins of the Column hashes (same xxhash64 chain). */
  def bucketOf(i: Int, k: Long): Int =
    java.lang.Math.floorMod(chain(SaltBucket, i.toLong, k), Width.toLong)
      .toInt
  def signOf(i: Int, k: Long): Long =
    if (java.lang.Math.floorMod(chain(SaltSign, i.toLong, k), 2L) == 0L) 1L
    else -1L

  def bucketCol(i: Column, k: Column): Column =
    pmod(xxhash64(lit(SaltBucket), i, k), lit(Width.toLong))
  def signCol(i: Column, k: Column): Column =
    when(pmod(xxhash64(lit(SaltSign), i, k), lit(2L)) === 0L, lit(1L))
      .otherwise(lit(-1L))

  /** Non-zero sketch cells (i, bucket, c) of the key column `k` —
    * one explode + one partial agg; absent cells are 0.
    */
  def batchCells(keys: DataFrame): DataFrame = {
    val s = keys.sparkSession
    import s.implicits._
    keys.select($"k",
      explode(array((0 until Depth).map(i => lit(i.toLong)): _*)).as("i"))
      .select($"i", bucketCol($"i", $"k").as("bucket"),
        signCol($"i", $"k").as("sign"))
      .groupBy($"i", $"bucket").agg(sum($"sign").as("c"))
  }

  /** Dense Depth×Width cell array from collected non-zero cells. */
  def denseCells(cells: Seq[(Long, Long, Long)]): Array[Long] = {
    val a = new Array[Long](Depth * Width)
    cells.foreach { case (i, b, c) => a(i.toInt * Width + b.toInt) = c }
    a
  }

  /** Point estimate: median over rows of sign_i(k)·C[i][h_i(k)]. */
  def estimate(cells: Array[Long], k: Long): Long = {
    val reads = (0 until Depth).map(i =>
      signOf(i, k) * cells(i * Width + bucketOf(i, k))).sorted
    reads(Depth / 2)
  }

  /** Inner-product estimate: median over rows of Σ_b C_f·C_g. */
  def innerProduct(f: Array[Long], g: Array[Long]): Long = {
    val reads = (0 until Depth).map { i =>
      var s = 0L
      var b = 0
      while (b < Width) { s += f(i * Width + b) * g(i * Width + b); b += 1 }
      s
    }.sorted
    reads(Depth / 2)
  }

  /** q501 — count-sketch point + inner-product gates over lineitem
    * supplier frequencies. f = suppkey counts on linenumber ≤ 3,
    * g = on linenumber ≥ 4 (disjoint halves sketched with the SAME
    * hashes); full = f + g. Gates (the q96 band convention, emitted as
    * oracle-checked ok): every top-10 point estimate of the full
    * sketch within [[KBound]]·‖f_full‖₂/√Width of exact, and the
    * ⟨f, g⟩ estimate within [[KBound]]·‖f‖₂·‖g‖₂/√Width of the exact
    * join-size numerator.
    *
    * ONE lineitem scan (the r13 verdict's multi-scan note): the corpus
    * collapses to the per-key census (k, fn, gn) in a single
    * conditional partial agg; every downstream read — all three
    * sketches, both L2 censuses, ⟨f, g⟩ exact, the exact top-10 —
    * runs on that NDV-bounded checkpointed frame. The sketch cells
    * fold sign·count instead of per-occurrence signs (identical cells:
    * Σ_occurrences sign_i(k) = sign_i(k)·count_k), and the FULL sketch
    * is cellsF + cellsG by counter additivity — the operator's own
    * merge property, never a third pass.
    */
  val q501CountSketch: Q = (s, dir) => {
    import s.implicits._
    // the one corpus scan: per-key half counts
    val counts = PlanBridge.checkpointResetStats(T.lineitem(s, dir)
      .select($"l_suppkey".as("k"), $"l_linenumber")
      .groupBy($"k").agg(
        sum(when($"l_linenumber" <= 3, 1L).otherwise(0L)).as("fn"),
        sum(when($"l_linenumber" >= 4, 1L).otherwise(0L)).as("gn")))
    // both half sketches from one explode over the key census
    val halfCells = counts
      .select($"k", $"fn", $"gn",
        explode(array((0 until Depth).map(i => lit(i.toLong)): _*)).as("i"))
      .select($"i", bucketCol($"i", $"k").as("bucket"),
        signCol($"i", $"k").as("sign"), $"fn", $"gn")
      .groupBy($"i", $"bucket")
      .agg(sum($"sign" * $"fn").as("cf"), sum($"sign" * $"gn").as("cg"))
      .as[(Long, Long, Long, Long)].collect().toSeq
    val cellsF = denseCells(halfCells.map { case (i, b, cf, _) => (i, b, cf) })
    val cellsG = denseCells(halfCells.map { case (i, b, _, cg) => (i, b, cg) })
    val cellsFull = Array.tabulate(Depth * Width)(j => cellsF(j) + cellsG(j))
    // L2 norms, exact ⟨f, g⟩, and the exact top-10 — all census reads
    val (s2Full, s2F, s2G, ipExact) = counts.agg(
      sum(($"fn" + $"gn").cast("decimal(38,0)") * ($"fn" + $"gn")),
      sum($"fn".cast("decimal(38,0)") * $"fn"),
      sum($"gn".cast("decimal(38,0)") * $"gn"),
      coalesce(sum($"fn" * $"gn"), lit(0L)))
      .as[(java.math.BigDecimal, java.math.BigDecimal,
        java.math.BigDecimal, Long)].head()
    val bound = KBound * math.sqrt(s2Full.doubleValue()) /
      math.sqrt(Width.toDouble)
    val ipBound = KBound * math.sqrt(s2F.doubleValue()) *
      math.sqrt(s2G.doubleValue()) / math.sqrt(Width.toDouble)
    val ipOk =
      math.abs(innerProduct(cellsF, cellsG) - ipExact).toDouble <= ipBound
    val exactTop = counts.select($"k", ($"fn" + $"gn").as("n_exact"))
      .orderBy($"n_exact".desc, $"k".asc).limit(10)
      .as[(Long, Long)].collect()
    exactTop.toSeq.map { case (k, n) =>
      val pointOk =
        math.abs(estimate(cellsFull, k) - n).toDouble <= bound
      (k, n, pointOk && ipOk)
    }.toDF("l_suppkey", "n_exact", "ok")
  }

  val q501Sql: String =
    """SELECT l_suppkey, COUNT(*) AS n_exact, TRUE AS ok
      |FROM lineitem
      |GROUP BY l_suppkey
      |ORDER BY n_exact DESC, l_suppkey ASC
      |LIMIT 10""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("q501_count_sketch", q501CountSketch, q501Sql))
}
