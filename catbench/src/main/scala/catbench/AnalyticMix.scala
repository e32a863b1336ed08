package catbench

import java.nio.file.{Files, Path, Paths}

import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.core.IndexStore

/** `analytic_mix`: a fixed list of oracle-checked entries, each pass in
  * a seeded order. The warm-up pass runs every entry in a fixed order
  * and holds the IndexStore builds; the timed passes follow. */
object AnalyticMix {

  /** The read-only sf0.01 fixture that the entries' oracle checks use. */
  val Fixture: String =
    Paths.get(sys.props("user.home"), "testdata", "sf0.01").toString

  val WarmPasses = 1
  /** Timed passes of an untraced run. A traced run makes `TracedPasses`
    * passes of traced/bare pairs instead. */
  val TimedPasses = 3
  val TracedPasses = 1

  /** (rows, sum of row hashes mod 2^31-1, xor of row hashes) of each
    * entry's answer on [[Fixture]]. */
  val Pinned: Map[String, (Long, Long, Long)] = Map(
    "q522_jp_coloring" -> ((1504L, 1627717427991L, 9071868988363606497L)),
    "q01_pricing_summary" -> ((6L, 5526519710L, 5259223287568019223L)),
    "q361_deletion_join" -> ((19500L, 20857358794475L, -3677916812289558612L)),
    "q319_naive_bayes" -> ((1L, 1029553923L, 8983794329818762321L)))

  /** An order-insensitive digest of an answer, computed by Spark as the
    * action that materialises it. */
  def digest(df: DataFrame): (Long, Long, Long) = {
    val h = xxhash64(df.columns.map(c => df.col(s"`$c`")): _*)
    val r = df.agg(count(lit(1)),
      coalesce(sum(pmod(h, lit(2147483647L))), lit(0L)),
      coalesce(bit_xor(h), lit(0L))).head()
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  def run(spark: SparkSession, runner: Runner, work: Path,
      seed: Long): (Double, Map[String, Double]) = {
    require(Files.isDirectory(Paths.get(Fixture)), s"fixture $Fixture not found")
    val tracer = runner.tracer
    def span[T](n: String)(b: => T): T = tracer.fold(b)(_.span(n)(b))
    val names = Metrics.Entries.map(_._2)
    require(names.forall(Pinned.contains), "an entry has no pinned digest")
    val first = scala.collection.mutable.Map[String, (Long, Long, Long)]()
    val rng = new Random(seed)
    val builds0 = IndexStore.buildSeconds.size

    // Each run starts without the blocks and cached plans of the last.
    def cleanup(): Unit = {
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      spark.catalog.clearCache()
    }

    def entry(name: String, warm: Boolean): Unit =
      runner.op(s"entry.$name", warm, paired = true, cleanup = cleanup _) {
        val df = span("call")(SparkEntry.queries(name)(spark, Fixture))
        span("action")(digest(df))
      } { d =>
        val ok = first.getOrElseUpdate(name, d) == d && Pinned(name) == d
        if (!ok) System.err.println(s"[catbench] $name digest $d")
        ok
      }

    // The warm-up pass keeps one order for every seed, so the IndexStore
    // build that set-up reports always runs at the same point.
    for (_ <- 1 to WarmPasses) names.foreach(entry(_, warm = true))
    val builds = IndexStore.buildSeconds.drop(builds0)
    Proc.gcPause()
    val passes = if (tracer.isDefined) TracedPasses else TimedPasses
    for (_ <- 1 to passes) {
      rng.shuffle(names).foreach(entry(_, warm = false))
      Proc.gcPause()
    }
    val stored = Proc.treeSize(work.resolve("warehouse"))._1.toDouble /
      Proc.treeSize(Paths.get(Fixture))._1
    val measured = Map(
      "op_gmean_ms" -> runner.kindGmeanMs("entry."),
      "suite_s" -> runner.suiteMs(passes) / 1e3,
      "stored_bytes_per_input_byte" -> stored,
      "core.index_builds" -> builds.size.toDouble,
      "core.index_build_s" -> builds.map(_._2).sum) ++
      tracer.fold(Map.empty[String, Double]) { t =>
        Metrics.Entries.flatMap { case (m, e) =>
          val ops = t.ops.filter(_.kind == s"entry.$e")
          if (ops.isEmpty) Nil
          else Seq(s"$m.$e.wall_s" -> Stats.median(ops.map(_.wallMs)) / 1e3,
            s"$m.$e.jobs" -> ops.map(_.jobs.size).sum.toDouble / ops.size)
        }.toMap
      }
    (builds.map(_._2).sum, measured)
  }
}
