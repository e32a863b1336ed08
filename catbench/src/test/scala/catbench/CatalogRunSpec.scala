package catbench

import java.nio.file.Paths

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.FbcIngest

/** The catalog workload end to end on a small catalog: its checks, its
  * counts and its trace. */
class CatalogRunSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val work = Paths.get("target", "spec-work").toAbsolutePath
  private lazy val spark = Main.session(work, 2)

  override def afterAll(): Unit = {
    spark.stop()
    Proc.deleteTree(work)
  }

  /** Still above the 32-path listing threshold, so reads list in parallel
    * as in the benchmark. */
  private val Tiny = CatalogBench.Config(
    FbcGen.Shape(packages = 34, maxBundles = 4, zipf = 0.9, iconShare = 0.8,
      globals = 2),
    setupReps = 1, cycles = 2, routeReads = 5, keep = 2)

  private def traced(dir: String): (Runner, Tracer, Map[String, Double]) = {
    val tracer = new Tracer(spark)
    val runner = new Runner(Some(tracer))
    val (_, m) = CatalogBench.refresh(spark, runner, work.resolve(dir), 9, Tiny)
    (runner, tracer, m ++ Metrics.sparkLayer(tracer))
  }

  test("count metrics repeat exactly across two runs, and every op reconciles") {
    val (r1, t1, m1) = traced("run1")
    val (r2, t2, m2) = traced("run2")
    assert(r1.failed == 0 && r2.failed == 0)
    assert(r1.attempted == r2.attempted)
    Seq("stored_bytes_per_input_byte", "catalog.files_written_per_publish",
      "catalog.bytes_written_per_input_byte", "catalog.open_jobs",
      "catalog.files_scanned_per_read", "spark.jobs_per_op",
      "spark.stages_per_op", "spark.tasks_per_op", "spark.sql_execs_per_op")
      .foreach(k => assert(m1(k) == m2(k), k))
    assert(m1("catalog.files_written_per_publish") > 0)
    assert(m1("catalog.open_jobs") > 0, "a parallel listing job per open")
    assert(r1.pairs.size == 10, "each route read ran as a traced/bare pair")
    assert(!r1.overheadPct.isNaN)
    for (t <- Seq(t1, t2)) {
      assert(t.ops.nonEmpty)
      t.ops.foreach(op => assert(t.reconciles(op), s"${op.kind} self ${op.selfMs} ms"))
      assert(t.unattributedJobs == 0)
    }
  }

  test("a wrong expected answer is counted as a failed operation") {
    val root = work.resolve("wrong").resolve("cache").toString
    val src = work.resolve("wrong").resolve("catalog.jsonl")
    FbcGen.writeSource(src, FbcGen.generate(9, Tiny.shape), 0)
    FbcIngest.refreshIfChanged(spark, src.toString, root)
    val wrong = new FbcGen.Answers(FbcGen.generate(10, Tiny.shape))
    val runner = new Runner(None)
    val ms = runner.op("read")(
      CatalogBench.execute(spark, None, root, CatalogBench.Packages))(
      CatalogBench.check(wrong, CatalogBench.Packages, _))
    assert(ms.isEmpty)
    assert(runner.attempted == 1 && runner.failed == 1)
    assert(runner.walls.isEmpty, "a failed op leaves no latency sample")
    val right = new FbcGen.Answers(FbcGen.generate(9, Tiny.shape))
    assert(runner.op("read")(
      CatalogBench.execute(spark, None, root, CatalogBench.Packages))(
      CatalogBench.check(right, CatalogBench.Packages, _)).isDefined)
  }
}
