package catbench

import java.nio.file.Path

import scala.util.Random
import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.catalog.{CatalogQueries, FbcIngest}

import FbcGen._

/** The `catalog_refresh` workload: refresh cycles over a mutating FBC
  * source, each followed by a batch of reads of the new snapshot. One
  * client thread; nothing overlaps a timed call. */
object CatalogBench {

  sealed trait Read { def route: String }
  case object Packages extends Read { val route = "packages" }
  final case class Schemas(pkg: String) extends Read { val route = "schemas" }
  final case class Objects(pkg: String, schema: String) extends Read {
    val route = "objects"
  }
  final case class Obj(pkg: String, schema: String, name: String) extends Read {
    val route = "object"
  }
  final case class IconOf(pkg: String) extends Read { val route = "icon" }

  /** Fixed operation counts, so both sides of a comparison do the same
    * work. Each cycle makes one publish, one first read and
    * `routeReads` route reads; `cycles * routeReads` is a multiple of
    * the five routes. */
  final case class Config(shape: Shape, setupReps: Int, cycles: Int,
      routeReads: Int, keep: Int) {
    require(cycles * routeReads % Metrics.Routes.size == 0,
      "route reads must split evenly over the routes")
  }

  val Refresh = Config(RefreshShape, setupReps = 3, cycles = 5,
    routeReads = 2, keep = 2)

  /** `n` reads split evenly over the five routes, in a seeded order. No
    * measured request mix is at hand, so no route is weighted above
    * another. */
  def routeSchedule(n: Int, rng: Random): Vector[String] = {
    require(n % Metrics.Routes.size == 0, s"$n reads do not split over the routes")
    rng.shuffle(Metrics.Routes.toVector.flatMap(r =>
      Vector.fill(n / Metrics.Routes.size)(r)))
  }

  /** Zipf-skewed package choice over a seeded popularity order. */
  final class Popularity(pkgs: Vector[String], seed: Long, s: Double = 1.1) {
    private val order =
      pkgs.sortBy(p => (MurmurHash3.stringHash(p, seed.toInt), p))
    private val cdf = {
      val w = order.indices.map(r => 1.0 / math.pow(r + 1, s))
      val total = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / total).toArray
    }
    def pick(rng: Random): String = {
      val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
      order(math.min(if (i >= 0) i else -i - 1, order.size - 1))
    }
  }

  def readOf(route: String, a: Answers, pop: Popularity, rng: Random): Read = {
    val pkg = pop.pick(rng)
    def schema = { val ss = a.schemas(pkg); ss(rng.nextInt(ss.size)) }
    route match {
      case "packages" => Packages
      case "schemas" => Schemas(pkg)
      case "objects" => Objects(pkg, schema)
      case "object" =>
        val s = schema
        val os = a.objects(pkg, s)
        Obj(pkg, s, os(rng.nextInt(os.size)))
      case "icon" => IconOf(pkg)
    }
  }

  private def frame(meta: DataFrame, r: Read): DataFrame = r match {
    case Packages => CatalogQueries.listPackages(meta)
    case Schemas(p) => CatalogQueries.listSchemas(meta, p)
    case Objects(p, s) => CatalogQueries.listObjects(meta, p, s)
    case Obj(p, s, n) => CatalogQueries.getObject(meta, p, s, n)
    case IconOf(p) => CatalogQueries.getIcon(meta, p)
  }

  /** One whole read: open the active snapshot, run the route, collect. */
  def execute(spark: SparkSession, tracer: Option[Tracer], root: String,
      r: Read): Seq[Row] = {
    def span[T](n: String)(b: => T): T = tracer.fold(b)(_.span(n)(b))
    val meta = span("open")(CatalogQueries.forRoot(spark, root))
    val rows = span(s"query.${r.route}")(frame(meta, r).collect().toSeq)
    tracer.foreach(_.noteRows(rows.size))
    rows
  }

  def check(a: Answers, r: Read, rows: Seq[Row]): Boolean = {
    def strings = rows.map(_.getString(0))
    r match {
      case Packages => strings == a.packages
      case Schemas(p) => strings == a.schemas(p)
      case Objects(p, s) => strings == a.objects(p, s)
      case Obj(p, s, n) => strings == a.blob(p, s, n)
      case IconOf(p) =>
        rows.map(x => (x.getString(0), x.getAs[Array[Byte]](1).toSeq)) ==
          a.icon(p).toSeq.map(i => (i.mediatype, i.data.toSeq))
    }
  }

  /** Generates, writes and publishes the catalog `setupReps` times, each
    * into a fresh cache root, and keeps the last. Returns the catalog,
    * its root and source, the source size and the median set-up time. */
  private def setup(spark: SparkSession, work: Path, seed: Long,
      cfg: Config): (Catalog, Path, Path, Long, Double) = {
    val reps = (0 until cfg.setupReps).map { i =>
      val root = work.resolve(s"cache$i")
      val src = work.resolve(s"source$i").resolve("catalog.jsonl")
      val t0 = System.nanoTime()
      val cat = FbcGen.generate(seed, cfg.shape)
      val bytes = FbcGen.writeSource(src, cat, 0)
      FbcIngest.refreshIfChanged(spark, src.toString, root.toString)
      ((System.nanoTime() - t0) / 1e9, cat, root, src, bytes)
    }
    reps.init.foreach { case (_, _, root, src, _) =>
      Proc.deleteTree(root)
      Proc.deleteTree(src.getParent)
    }
    val (_, cat, root, src, bytes) = reps.last
    require(FbcIngest.activeSnapshot(root.toString).isDefined,
      "set-up published no snapshot")
    (cat, root, src, bytes, Stats.median(reps.map(_._1)))
  }

  /** Per-layer figures of the traced reads. */
  private def readLayer(t: Tracer, readWalls: Seq[Double]): Map[String, Double] = {
    val reads = t.ops.filter(_.kind == "read")
    val n = math.max(1, reads.size).toDouble
    def spanMs(name: String) = reads.flatMap(_.spans).filter(_.name == name).map(_.ms)
    val returned = reads.map(_.rowsReturned).sum
    Map(
      "catalog.open_ms" -> Stats.median(spanMs("open")),
      "catalog.open_jobs" -> reads.map(_.jobsIn("open")).sum / n,
      "catalog.files_scanned_per_read" -> reads.map(_.filesScanned).sum / n,
      "catalog.rows_scanned_per_row_returned" ->
        reads.map(_.rowsScanned).sum.toDouble / math.max(1L, returned),
      "catalog.reads_per_s" -> readWalls.size / (readWalls.sum / 1e3)) ++
      Metrics.Routes.flatMap { r =>
        val ms = spanMs(s"query.$r")
        if (ms.isEmpty) None else Some(s"catalog.query_ms.$r" -> Stats.median(ms))
      }
  }

  def refresh(spark: SparkSession, runner: Runner, work: Path, seed: Long,
      cfg: Config): (Double, Map[String, Double]) = {
    val (cat0, root, src, bytes0, setupS) = setup(spark, work, seed, cfg)
    val rootS = root.toString
    val tracer = runner.tracer
    def span[T](n: String)(b: => T): T = tracer.fold(b)(_.span(n)(b))
    val rng = new Random(seed ^ 0xf1e5)
    var cat = cat0
    var srcBytes = bytes0
    var a = new Answers(cat)
    var activeId = FbcIngest.activeSnapshot(rootS).get._1
    val publishWalls = Vector.newBuilder[Double]
    val readWalls = Vector.newBuilder[Double]
    val written = Vector.newBuilder[(Long, Long, Long)] // files, bytes, source bytes

    def read(r: Read, stale: Option[Answers], warm: Boolean,
        paired: Boolean): Unit = {
      val ms = runner.op("read", warm, paired)(
        execute(spark, tracer, rootS, r)) { rows =>
        val ok = check(a, r, rows)
        if (!ok && stale.exists(check(_, r, rows)))
          System.err.println(s"[catbench] stale read after a publish: $r")
        ok
      }
      if (!warm) ms.foreach(readWalls += _)
    }

    def cycle(version: Int, routes: Seq[String], warm: Boolean): Unit = {
      val (next, touched) = FbcGen.mutate(cat, rng, version)
      srcBytes = FbcGen.writeSource(src, next, version)
      val before = activeId
      val published = runner.op("publish", warm) {
        val id = span("refresh")(FbcIngest.refreshIfChanged(spark, src.toString, rootS))
        span("gc")(FbcIngest.gcSnapshots(rootS, cfg.keep))
        id
      } { id =>
        id != before && FbcIngest.activeSnapshot(rootS).exists(_._1 == id) &&
          FbcIngest.listSnapshots(rootS).size <= cfg.keep
      }
      FbcIngest.activeSnapshot(rootS).foreach(s => activeId = s._1)
      if (!warm) {
        published.foreach(publishWalls += _)
        val (snapBytes, snapFiles) =
          Proc.treeSize(root.resolve("snapshots").resolve(activeId))
        written += ((snapFiles, snapBytes, srcBytes))
      }
      val stale = a
      cat = next
      a = new Answers(cat)
      val pop = new Popularity(a.packages, seed)
      // The first read lists bundles of a package this cycle changed, so
      // a stale snapshot cannot pass it. It is the only read on a snapshot
      // nothing has opened yet, so it is never repeated as a pair.
      read(Objects(touched, SchemaBundle), Some(stale), warm, paired = false)
      routes.foreach { route =>
        read(readOf(route, a, pop, rng), Some(stale), warm, paired = true)
      }
    }

    // One untimed cycle warms the publish path and every route; the timed
    // cycles follow it.
    cycle(1, Metrics.Routes, warm = true)
    Proc.gcPause()
    val schedule = routeSchedule(cfg.cycles * cfg.routeReads, rng)
      .grouped(cfg.routeReads)
    for (version <- 2 to cfg.cycles + 1) {
      cycle(version, schedule.next(), warm = false)
      Proc.gcPause()
    }
    val reads = readWalls.result()
    val pubs = publishWalls.result()
    val stored = Proc.treeSize(root)._1.toDouble / srcBytes
    val measured = Map(
      "op_gmean_ms" -> runner.kindGmeanMs("read"),
      "suite_s" -> runner.suiteMs(passes = 1) / 1e3,
      "stored_bytes_per_input_byte" -> stored) ++
      tracer.fold(Map.empty[String, Double]) { t =>
        val pubOps = t.ops.filter(_.kind == "publish")
        def spanMs(n: String) = pubOps.flatMap(_.spans).filter(_.name == n).map(_.ms)
        val w = written.result()
        readLayer(t, reads) ++ Map(
          "catalog.publish_p50_s" -> Stats.median(pubs) / 1e3,
          "catalog.refresh_s" -> Stats.median(spanMs("refresh")) / 1e3,
          "catalog.gc_ms" -> Stats.median(spanMs("gc")),
          "catalog.files_written_per_publish" -> w.map(_._1).sum.toDouble / w.size,
          "catalog.bytes_written_per_input_byte" ->
            w.map(_._2).sum.toDouble / w.map(_._3).sum)
      }
    (setupS, measured)
  }
}
