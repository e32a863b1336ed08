package catbench

/** Every metric the benchmark emits, by name and unit. Every workload
  * emits the whole list for its mode: end-to-end metrics untraced,
  * per-layer metrics traced. A per-layer metric of a layer a workload
  * does not call reads 0. */
object Metrics {
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "op_gmean_ms" -> "ms",
    "suite_s" -> "s",
    "stored_bytes_per_input_byte" -> "ratio",
    "rss_peak_mb" -> "MiB")

  /** The analytic entries, each under the module that defines it. */
  val Entries: Seq[(String, String)] = Seq(
    "operators" -> "q522_jp_coloring",
    "relational" -> "q01_pricing_summary",
    "llm" -> "q361_deletion_join",
    "llm" -> "q319_naive_bayes")

  val Routes: Seq[String] = Seq("packages", "schemas", "objects", "object", "icon")

  val PerLayer: Seq[(String, String)] = Seq(
    "catalog.open_ms" -> "ms",
    "catalog.open_jobs" -> "count",
    "catalog.files_scanned_per_read" -> "count") ++
    Routes.map(r => s"catalog.query_ms.$r" -> "ms") ++ Seq(
    "catalog.rows_scanned_per_row_returned" -> "ratio",
    "catalog.reads_per_s" -> "1/s",
    "catalog.publish_p50_s" -> "s",
    "catalog.refresh_s" -> "s",
    "catalog.gc_ms" -> "ms",
    "catalog.files_written_per_publish" -> "count",
    "catalog.bytes_written_per_input_byte" -> "ratio",
    "core.index_builds" -> "count",
    "core.index_build_s" -> "s") ++
    Entries.flatMap { case (m, e) =>
      Seq(s"$m.$e.wall_s" -> "s", s"$m.$e.jobs" -> "count")
    } ++ Seq(
    "spark.jobs_per_op" -> "count",
    "spark.stages_per_op" -> "count",
    "spark.tasks_per_op" -> "count",
    "spark.sql_execs_per_op" -> "count",
    "spark.planning_ms_per_op" -> "ms",
    "spark.driver_gap_ms_per_op" -> "ms",
    "spark.exec_cpu_s_per_op" -> "s",
    "spark.shuffle_bytes_per_op" -> "bytes",
    "spark.spill_bytes" -> "bytes",
    "spark.task_failures" -> "count",
    "spark.unattributed_jobs" -> "count",
    "trace.overhead_pct" -> "%",
    "trace.ops_traced" -> "count",
    "trace.self_ms_per_op" -> "ms",
    "trace.unreconciled_ops" -> "count")

  /** The metrics of one mode, in declaration order; a name the workload
    * did not measure reads 0. Fails on a measured name not declared in
    * either mode. */
  def select(traced: Boolean, measured: Map[String, Double]): Seq[Stats.Metric] = {
    val decl = if (traced) PerLayer else EndToEnd
    val unknown = measured.keySet -- (EndToEnd ++ PerLayer).map(_._1)
    require(unknown.isEmpty, s"undeclared metrics: ${unknown.mkString(", ")}")
    decl.map { case (n, u) => Stats.Metric(n, measured.getOrElse(n, 0.0), u) }
  }

  /** Spark-level per-op figures over every traced operation. */
  def sparkLayer(t: Tracer): Map[String, Double] = {
    val ops = t.ops.toSeq
    val n = math.max(1, ops.size).toDouble
    Map(
      "spark.jobs_per_op" -> ops.map(_.jobs.size).sum / n,
      "spark.stages_per_op" -> ops.map(_.stages).sum / n,
      "spark.tasks_per_op" -> ops.map(_.tasks).sum / n,
      "spark.sql_execs_per_op" -> ops.map(_.sqlExecs).sum / n,
      "spark.planning_ms_per_op" -> ops.map(_.planningMs).sum / n,
      "spark.driver_gap_ms_per_op" -> ops.map(_.driverGapMs).sum / n,
      "spark.exec_cpu_s_per_op" -> ops.map(_.cpuNs).sum / 1e9 / n,
      "spark.shuffle_bytes_per_op" -> ops.map(_.shuffleBytes).sum / n,
      "spark.spill_bytes" -> ops.map(_.spillBytes).sum.toDouble,
      "spark.task_failures" -> ops.map(_.taskFailures).sum.toDouble,
      "spark.unattributed_jobs" -> t.unattributedJobs.toDouble,
      "trace.ops_traced" -> ops.size.toDouble,
      "trace.self_ms_per_op" -> ops.map(_.selfMs).sum / n,
      "trace.unreconciled_ops" -> ops.count(!t.reconciles(_)).toDouble)
  }
}
