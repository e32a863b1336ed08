package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Entry, Fixtures, Tables => T, dsl, OracleDsl => O}

/** Z-order (Morton-curve) multi-dimensional clustering — the layout
  * leg partitioning (q111) and compaction (q113) leave open: a table
  * partitioned by day still reads EVERY file of a day for a filter on
  * a non-partition column, because row-group/file min-max pruning only
  * helps when the layout makes each file cover a NARROW value range.
  * A linear sort nails one column and leaves every other column's
  * per-file range at ~full width; interleaving the bits of several
  * quantized columns makes files cover compact hyper-rectangles, so
  * min-max pruning engages on ALL clustered dimensions at once (with
  * f files, each dimension's per-file range shrinks to ~f^(-1/dims) of
  * global — the classic space-filling-curve locality bound).
  *
  * The reference's layout analogue: one directory per (package,
  * schema) pair (main.go:226-238) is exactly a 2-dimensional
  * clustering contract enforced by directories; z-ordering is the
  * same promise for columns a directory tree cannot express.
  *
  * Spark-first shape: the z-value is a pure codegen column (shift/mask
  * bit spreading — no UDF), the physical clustering is one
  * `repartitionByRange` on the z-value + a within-partition sort, and
  * the quantization bounds come from ONE 4-scalar aggregate. Nothing
  * here is driver-bound beyond those scalars and the footer audit
  * (table metadata, bounded by file count).
  */
object ZOrderQueries {

  import Entry.Q

  /** Bits per dimension (two dims interleave into 2·[[ZBits]] bits). */
  val ZBits = 16

  /** Spread the low 16 bits of `x` to the even bit positions 0,2,..,30
    * — the standard mask-and-shift Morton spreading, expressed with
    * engine bit functions so the whole z computation stays inside
    * whole-stage codegen.
    */
  def spread16(x: Column): Column = {
    val a = x.cast("long").bitwiseOR(shiftleft(x.cast("long"), 8))
      .bitwiseAND(lit(0x00FF00FFL))
    val b = a.bitwiseOR(shiftleft(a, 4)).bitwiseAND(lit(0x0F0F0F0FL))
    val c = b.bitwiseOR(shiftleft(b, 2)).bitwiseAND(lit(0x33333333L))
    c.bitwiseOR(shiftleft(c, 1)).bitwiseAND(lit(0x55555555L))
  }

  /** Linear 16-bit quantization of `c` against closed bounds
    * [lo, hi] — rank quantiles would balance skewed columns better but
    * need a per-column distributed rank; min-max linear is exact
    * enough for clustering and costs two scalars.
    */
  def quantize16(c: Column, lo: Double, hi: Double): Column =
    if (hi <= lo) lit(0L)
    else least(greatest(
      floor((c.cast("double") - lit(lo)) * ((65536.0 - 1e-9) / (hi - lo))),
      lit(0.0)), lit(65535.0)).cast("long")

  /** Morton interleave of two 16-bit quantized values: `a` on even
    * bits, `b` on odd bits.
    */
  def zvalue(a: Column, b: Column): Column =
    spread16(a).bitwiseOR(shiftleft(spread16(b), 1))

  /** Write `df` clustered on the Morton order of (`colA`, `colB`) into
    * exactly `nFiles` files: one range shuffle on the z-value (each
    * output task owns one contiguous z-range = one compact
    * hyper-rectangle tile set), sorted within files so row groups
    * nest the same locality.
    */
  def zorderWrite(df: DataFrame, colA: String, colB: String,
      path: String, nFiles: Int): Unit = {
    val Array(loA, hiA, loB, hiB) = df
      .agg(min(col(colA)).cast("double"), max(col(colA)).cast("double"),
        min(col(colB)).cast("double"), max(col(colB)).cast("double"))
      .head().toSeq.map(_.asInstanceOf[Double]).toArray
    df.withColumn("__z", zvalue(
        quantize16(col(colA), loA, hiA), quantize16(col(colB), loB, hiB)))
      .repartitionByRange(nFiles, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode(SaveMode.Overwrite).parquet(path)
  }

  /** Per-file [min, max] of a long-typed column straight from the
    * parquet footers — the physical evidence z-ordering exists to
    * produce, and what a min-max–pruning scan consults.
    */
  def footerRanges(s: SparkSession, root: String, column: String)
      : Seq[(Long, Long)] =
    footerRangesByFile(s, root, column).map { case (_, mn, mx) => (mn, mx) }

  /** Per-file (path, min, max) of `column` from the parquet footers —
    * the file-level variant [[graft.plans.SortedRuns]] consumes to
    * order runs and certify disjointness.
    */
  def footerRangesByFile(s: SparkSession, root: String, column: String)
      : Seq[(String, Long, Long)] = {
    import scala.jdk.CollectionConverters._
    val conf = s.sessionState.newHadoopConf()
    val files = Files.walk(Paths.get(root)).iterator().asScala
      .filter(_.toString.endsWith(".parquet")).toList.sortBy(_.toString)
    files.flatMap { f =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(f.toUri), conf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try {
        val blocks = r.getFooter.getBlocks.asScala
        if (blocks.isEmpty) None // zero-row file: nothing to audit
        else {
          var mn = Long.MaxValue
          var mx = Long.MinValue
          blocks.foreach { b =>
            b.getColumns.asScala.foreach { c =>
              if (c.getPath.toDotString == column) {
                val st = c.getStatistics
                require(st != null && !st.isEmpty,
                  s"no footer statistics for $column in $f")
                mn = math.min(mn, st.genericGetMin.asInstanceOf[java.lang.Long])
                mx = math.max(mx, st.genericGetMax.asInstanceOf[java.lang.Long])
              }
            }
          }
          require(mn <= mx, s"column $column absent from $f")
          Some((f.toString, mn, mx))
        }
      } finally r.close()
    }
  }

  /** Mean per-file range width of `column`, from footers. */
  def meanFooterRange(s: SparkSession, root: String, column: String): Double = {
    val rs = footerRanges(s, root, column)
    rs.map { case (mn, mx) => (mx - mn).toDouble }.sum / rs.size
  }

  // ---------------------------------------------------------------------
  // q125 — the oracle row: content parity through the clustered layout
  // plus the physical locality gate, in one hash-checked result.
  // ---------------------------------------------------------------------

  val ZRoot = Fixtures.path("zorder_events")
  val ZBaseRoot = Fixtures.path("zorder_events_base")
  val ZFiles = 16
  /** The probe band: a user_id slice a support query would ask for;
    * non-empty at every scale factor (sf0.001 only has user_ids 0-14).
    */
  val ZProbeLo = 5L
  val ZProbeHi = 10L

  private[sources] def ensureZLayout(s: SparkSession, dir: String): Unit =
    Fixtures.once("zorder_events", s"zorder:$dir:$ZFiles") {
      val ev = T.events(s, dir)
        .withColumn("ts_us", expr("unix_micros(ts)"))
      // clustered layout: Morton order over (user_id, event time)
      zorderWrite(ev, "user_id", "ts_us", ZRoot, ZFiles)
      // unclustered twin: same data, same file count, round-robin —
      // the layout an unmaintained ingest converges to, and the
      // baseline the footer gate compares against
      ev.repartition(ZFiles)
        .write.mode(SaveMode.Overwrite).parquet(ZBaseRoot)
    }

  /** q125 — aggregate a narrow user band off the z-ordered layout.
    * Three contracts in one green row:
    *   - content: the per-event_type aggregate hash-matches DuckDB
    *     computing the same thing from the ORIGINAL events parquet —
    *     clustering must be a pure permutation;
    *   - pushdown: the band predicate is REQUIRED to reach the scan
    *     (`PushedFilters` on user_id), which is what consumes the
    *     footer min/max the layout tightened;
    *   - locality: `clustered_ok` asserts the mean per-file footer
    *     range of BOTH z dimensions shrank to under half the
    *     unclustered twin's — a linear sort cannot pass this on its
    *     second column, hash scatter on neither.
    */
  val q125ZOrderCluster: Q = (s, dir) => {
    import s.implicits._
    ensureZLayout(s, dir)
    val day = s.read.parquet(ZRoot)
      .filter($"user_id" >= ZProbeLo && $"user_id" < ZProbeHi)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"), dsl.dsumExpr($"value").as("sum_value"))
    val plan = day.queryExecution.executedPlan.toString
    require(plan.contains("PushedFilters:") && plan.contains("user_id"),
      s"user_id band predicate not pushed to the parquet scan; plan:\n$plan")
    val uShrunk = meanFooterRange(s, ZRoot, "user_id") <
      0.5 * meanFooterRange(s, ZBaseRoot, "user_id")
    // gate on ts_us, not ts: Spark writes timestamps as INT96 by
    // default, and INT96 column chunks carry no min/max statistics
    val tShrunk = meanFooterRange(s, ZRoot, "ts_us") <
      0.5 * meanFooterRange(s, ZBaseRoot, "ts_us")
    day
      .withColumn("clustered_ok", lit(uShrunk && tShrunk))
      .orderBy($"event_type")
  }

  val q125Sql: String =
    s"""SELECT event_type, COUNT(*) AS n, ${O.dsumExpr("value")} AS sum_value,
       |  TRUE AS clustered_ok
       |FROM events
       |WHERE user_id >= $ZProbeLo AND user_id < $ZProbeHi
       |GROUP BY event_type
       |ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------------
  // q130 — total-order (globally sorted) layout: the 1-dimensional
  // sibling of q125. A global sort is the strongest single-column
  // layout contract — every file owns a DISJOINT key range, so a range
  // or point predicate touches exactly the overlapping files and a
  // merge-reader can stream the table in order without re-sorting.
  // ---------------------------------------------------------------------

  val SortRoot = Fixtures.path("totalsort_events")
  val SortCol = "user_id"
  val SortFiles = 16

  private[graft] def ensureSortedLayout(s: SparkSession, dir: String): Unit = {
    import s.implicits._
    // v2: event_id joined the within-file sort as the unique tiebreak —
    // the total order it completes is what makes q184's positional
    // checksum deterministic across engines
    Fixtures.once("totalsort_events", s"totalsort:$dir:$SortFiles:v2") {
      // the classic distributed total order: sampled range bounds give
      // balanced partitions (the terasort shape — no single-reducer
      // sort), each partition sorted within, equal keys never split
      // across partitions
      T.events(s, dir)
        .repartitionByRange(SortFiles, col(SortCol), col("ts"))
        .sortWithinPartitions(col(SortCol), col("ts"), col("event_id"))
        .write.mode(SaveMode.Overwrite).parquet(SortRoot)
    }
  }

  /** True iff the per-file [min,max] footer ranges of `column` are
    * pairwise disjoint — the physical certificate of a total order
    * (ties may make neighbors share a boundary key when the tiebreak
    * column splits a key across files, so adjacent ranges may touch at
    * one value but never properly overlap).
    */
  def rangesDisjoint(s: SparkSession, root: String, column: String): Boolean = {
    val rs = footerRanges(s, root, column).sortBy(_._1)
    rs.zip(rs.drop(1)).forall { case ((_, aMax), (bMin, _)) => aMax <= bMin }
  }

  /** q130 — aggregate off the totally-ordered layout. Contracts:
    * content parity with DuckDB over the original events (sorting is a
    * pure permutation), and `ordered_ok` asserting disjoint per-file
    * key ranges from the parquet footers — the property range pruning
    * and merge readers consume.
    */
  val q130TotalOrder: Q = (s, dir) => {
    import s.implicits._
    ensureSortedLayout(s, dir)
    ensureZLayout(s, dir) // the scattered twin doubles as the negative anchor
    val ok = rangesDisjoint(s, SortRoot, SortCol) &&
      !rangesDisjoint(s, ZBaseRoot, SortCol)
    s.read.parquet(SortRoot)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"), dsl.dsumExpr($"value").as("sum_value"))
      .withColumn("ordered_ok", lit(ok))
      .orderBy($"event_type")
  }

  val q130Sql: String =
    s"""SELECT event_type, COUNT(*) AS n, ${O.dsumExpr("value")} AS sum_value,
       |  TRUE AS ordered_ok
       |FROM events
       |GROUP BY event_type
       |ORDER BY event_type""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("q125_zorder_cluster", q125ZOrderCluster, q125Sql),
    Entry("q130_total_order", q130TotalOrder, q130Sql))
}
