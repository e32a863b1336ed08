package catbench

import scala.collection.mutable
import scala.util.control.NonFatal

/** Runs a workload's operations one at a time on the calling thread,
  * counts them, checks each answer, and times each one.
  *
  * With a tracer, every timed operation is traced. A `paired` operation
  * runs twice in a row, once traced and once bare, with the order
  * flipping from one pair to the next; the pairs give the tracing
  * overhead on equal work, with a second-run effect largely cancelled.
  */
final class Runner(val tracer: Option[Tracer]) {
  var attempted = 0L
  var failed = 0L
  /** Wall times (ms) of successful timed operations by kind; in a traced
    * run, of the traced halves. */
  val walls = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  /** (traced ms, bare ms) of each pair whose halves both succeeded. */
  val pairs = mutable.ArrayBuffer[(Double, Double)]()
  private var pairsRun = 0

  /** Runs `body` once, traced or bare, then `cleanup` untimed. Returns
    * its wall time in ms when it succeeded and `check` accepts its
    * answer; otherwise counts it as failed. */
  private def once[T](kind: String, traced: Boolean, cleanup: () => Unit)
      (body: => T)(check: T => Boolean): Option[Double] = {
    attempted += 1
    val out =
      try {
        if (traced) {
          val (r, rec) = tracer.get.op(kind)(body)
          Right((r, rec.wallMs))
        } else {
          val t0 = System.nanoTime()
          val r = body
          Right((r, (System.nanoTime() - t0) / 1e6))
        }
      } catch { case NonFatal(e) => Left(e) }
    cleanup()
    out match {
      case Right((r, ms)) if check(r) => Some(ms)
      case Right(_) =>
        failed += 1
        System.err.println(s"[catbench] $kind: wrong answer")
        None
      case Left(e) =>
        failed += 1
        System.err.println(s"[catbench] $kind failed: $e")
        None
    }
  }

  /** Runs one operation: bare without a tracer, traced with one, and as
    * a traced/bare pair when `paired` and traced. `cleanup` runs after
    * every run, outside its timing. Returns the (traced) wall time in ms
    * of a successful run. Warm-up operations run bare, are checked and
    * counted, and are never kept as samples. */
  def op[T](kind: String, warm: Boolean = false, paired: Boolean = false,
      cleanup: () => Unit = () => ())(body: => T)
      (check: T => Boolean): Option[Double] = {
    val ms =
      if (warm || tracer.isEmpty) once(kind, traced = false, cleanup)(body)(check)
      else if (!paired) once(kind, traced = true, cleanup)(body)(check)
      else {
        val tracedFirst = pairsRun % 2 == 0
        pairsRun += 1
        val a = once(kind, tracedFirst, cleanup)(body)(check)
        val b = once(kind, !tracedFirst, cleanup)(body)(check)
        val (t, u) = if (tracedFirst) (a, b) else (b, a)
        for (x <- t; y <- u) pairs += ((x, y))
        t
      }
    if (!warm) ms.foreach(walls.getOrElseUpdate(kind, mutable.ArrayBuffer()) += _)
    ms
  }

  /** Traced against bare wall time summed over the pairs, as a
    * percentage of bare time; 0 without pairs. */
  def overheadPct: Double =
    if (pairs.isEmpty) 0.0
    else (pairs.map(_._1).sum / pairs.map(_._2).sum - 1) * 100

  /** Time to run one pass of the operation list with each kind at its
    * median: a total that one slow operation cannot swing. */
  def suiteMs(passes: Int): Double =
    walls.values.map(ws => ws.size.toDouble / passes * Stats.median(ws)).sum

  /** Geometric mean, over the kinds whose name starts with `prefix`, of
    * each kind's median wall time (ms): a typical operation that does
    * not jump from one kind to another when two kinds' medians are close. */
  def kindGmeanMs(prefix: String): Double =
    Stats.gmean(walls.collect { case (k, ws) if k.startsWith(prefix) => Stats.median(ws) }.toSeq)
}

/** Process-level readings. */
object Proc {
  /** Peak resident set size of this JVM in MiB (VmHWM). */
  def rssPeakMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024
  }

  /** Bytes and regular files under a directory tree. */
  def treeSize(dir: java.nio.file.Path): (Long, Long) = {
    if (!java.nio.file.Files.exists(dir)) return (0L, 0L)
    val w = java.nio.file.Files.walk(dir)
    try {
      var bytes = 0L
      var files = 0L
      w.filter(java.nio.file.Files.isRegularFile(_)).forEach { f =>
        bytes += java.nio.file.Files.size(f)
        files += 1
      }
      (bytes, files)
    } finally w.close()
  }

  def deleteTree(dir: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(dir)) {
      val w = java.nio.file.Files.walk(dir)
      try w.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(java.nio.file.Files.delete(_))
      finally w.close()
    }

  /** Collects garbage at a fixed point between timed spans. */
  def gcPause(): Unit = System.gc()
}
