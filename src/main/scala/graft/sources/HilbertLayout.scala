package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge

import graft.core.{Entry, Fixtures, Tables => T, dsl, OracleDsl => O}
import graft.functions.HilbertXY2D

/** Hilbert-curve clustering — the 4th physical-index leg next to
  * partition pruning (q111), Morton z-order (q125), and bloom filters
  * (q128). Same promise as z-order (per-file min-max boxes tight on
  * BOTH clustered dimensions) delivered by a curve with strictly
  * better locality: consecutive Hilbert distances are always grid
  * neighbors, so each file's contiguous d-range covers one CONNECTED
  * region instead of Morton's occasionally disconnected quadrant
  * jumps. The curve index itself is the native codegen'd
  * [[graft.functions.HilbertXY2D]] (`hilbert_xy2d` in SQL).
  */
object HilbertLayout {

  import Entry.Q

  val HRoot = Fixtures.path("hilbert_events")
  val HFiles = 16

  private def hilbert(a: org.apache.spark.sql.Column,
      b: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    ColumnBridge.column(HilbertXY2D(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Write `df` clustered along the Hilbert curve of (`colA`, `colB`):
    * identical mechanics to [[ZOrderQueries.zorderWrite]] (quantize →
    * curve index → one range shuffle → within-file sort) with only the
    * curve swapped — the layout writer is curve-agnostic by design.
    */
  def hilbertWrite(df: DataFrame, colA: String, colB: String,
      path: String, nFiles: Int): Unit = {
    val Array(loA, hiA, loB, hiB) = df
      .agg(min(col(colA)).cast("double"), max(col(colA)).cast("double"),
        min(col(colB)).cast("double"), max(col(colB)).cast("double"))
      .head().toSeq.map(_.asInstanceOf[Double]).toArray
    df.withColumn("__h", hilbert(
        ZOrderQueries.quantize16(col(colA), loA, hiA),
        ZOrderQueries.quantize16(col(colB), loB, hiB)))
      .repartitionByRange(nFiles, col("__h"))
      .sortWithinPartitions(col("__h"))
      .drop("__h")
      .write.mode(SaveMode.Overwrite).parquet(path)
  }

  private def ensureHilbertLayout(s: SparkSession, dir: String): Unit = {
    Fixtures.once("hilbert_events", s"hilbert:$dir:$HFiles") {
      val ev = T.events(s, dir).withColumn("ts_us", expr("unix_micros(ts)"))
      hilbertWrite(ev, "user_id", "ts_us", HRoot, HFiles)
    }
    // the unclustered round-robin twin (ZBaseRoot) is the shared
    // baseline both curve gates measure against
    ZOrderQueries.ensureZLayout(s, dir)
  }

  /** q222 — aggregate a narrow user band off the Hilbert-clustered
    * layout: q125's three contracts (content parity through the
    * permutation, band predicate REQUIRED in PushedFilters, both
    * dimensions' mean per-file footer range under half the unclustered
    * twin's) with the Morton curve swapped for Hilbert. Locality must
    * hold on BOTH user_id and event-time simultaneously — the property
    * a linear sort cannot deliver on its second column.
    */
  val q222HilbertCluster: Q = (s, dir) => {
    import s.implicits._
    ensureHilbertLayout(s, dir)
    val band = s.read.parquet(HRoot)
      .filter($"user_id" >= ZOrderQueries.ZProbeLo &&
        $"user_id" < ZOrderQueries.ZProbeHi)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"), dsl.dsumExpr($"value").as("sum_value"))
    val plan = band.queryExecution.executedPlan.toString
    require(plan.contains("PushedFilters:") && plan.contains("user_id"),
      s"user_id band predicate not pushed to the parquet scan; plan:\n$plan")
    val uShrunk = ZOrderQueries.meanFooterRange(s, HRoot, "user_id") <
      0.5 * ZOrderQueries.meanFooterRange(s, ZOrderQueries.ZBaseRoot, "user_id")
    val tShrunk = ZOrderQueries.meanFooterRange(s, HRoot, "ts_us") <
      0.5 * ZOrderQueries.meanFooterRange(s, ZOrderQueries.ZBaseRoot, "ts_us")
    band
      .withColumn("clustered_ok", lit(uShrunk && tShrunk))
      .orderBy($"event_type")
  }

  val q222Sql: String =
    s"""SELECT event_type, COUNT(*) AS n, ${O.dsumExpr("value")} AS sum_value,
       |  TRUE AS clustered_ok
       |FROM events
       |WHERE user_id >= ${ZOrderQueries.ZProbeLo}
       |  AND user_id < ${ZOrderQueries.ZProbeHi}
       |GROUP BY event_type
       |ORDER BY event_type""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("q222_hilbert_cluster", q222HilbertCluster, q222Sql))
}
