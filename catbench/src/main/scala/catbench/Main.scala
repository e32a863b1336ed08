package catbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** Runs one workload in this JVM and prints its result as the last line
  * of standard output.
  *
  * {{{
  * catbench.Main --workload <catalog_refresh|analytic_mix>
  *   --seed <n> --trace <0|1> --work <dir> --cores <n> [--spans <file>]
  * }}}
  */
object Main {

  val Workloads = Seq("catalog_refresh", "analytic_mix")

  def session(work: Path, cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("catbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toUri.toString)
      .config("spark.local.dir", work.resolve("local").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Runs `workload` and returns the result line. */
  def run(workload: String, seed: Long, traced: Boolean, work: Path,
      cores: Int, spans: Option[Path]): String = {
    require(Workloads.contains(workload), s"unknown workload '$workload'")
    Files.createDirectories(work)
    val t0 = System.nanoTime()
    val spark = session(work, cores)
    val sessionS = (System.nanoTime() - t0) / 1e9
    try {
      val tracer = if (traced) Some(new Tracer(spark)) else None
      val runner = new Runner(tracer)
      val (setupS, measured) = workload match {
        case "catalog_refresh" =>
          CatalogBench.refresh(spark, runner, work, seed, CatalogBench.Refresh)
        case "analytic_mix" =>
          AnalyticMix.run(spark, runner, work, seed)
      }
      val all = measured ++ Map(
        "setup_s" -> (sessionS + setupS),
        "rss_peak_mb" -> Proc.rssPeakMb) ++
        tracer.fold(Map.empty[String, Double]) { t =>
          Metrics.sparkLayer(t) + ("trace.overhead_pct" -> runner.overheadPct)
        }
      for (t <- tracer; p <- spans) t.write(p)
      runner.walls.foreach { case (k, ws) =>
        System.err.println(f"[catbench] $k%-28s n=${ws.size}%2d median ${Stats.median(ws)}%9.1f ms  runs ${ws.map(w => f"$w%.0f").mkString(" ")}")
      }
      // A traced op whose spans do not add up to its wall time makes the
      // per-layer record wrong, so it fails the run like a wrong answer.
      val reconciled = tracer.forall(t => t.ops.forall(t.reconciles))
      Stats.resultLine(runner.failed == 0 && runner.attempted > 0 && reconciled,
        runner.attempted, runner.failed,
        Metrics.select(traced, all))
    } finally spark.stop()
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = opts.getOrElse(k,
      throw new IllegalArgumentException(s"missing $k"))
    val line =
      try run(need("--workload"), need("--seed").toLong,
        need("--trace") == "1", Paths.get(need("--work")),
        need("--cores").toInt,
        opts.get("--spans").map(Paths.get(_)))
      catch {
        case e: Throwable =>
          e.printStackTrace()
          sys.exit(1)
      }
    println(line)
    sys.exit(0)
  }
}
