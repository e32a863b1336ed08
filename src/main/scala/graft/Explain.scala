package graft
import graft.core.GraftSession

/** Dev tool: print the formatted physical plan of named queries, on the
  * same session settings the bench runs (`SPARK_GRAFT_CPUS` cores).
  * Usage: runMain graft.Explain <sfDir> <name-substring>[,<substring>...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val pats = args(1).split(',').toSeq
    val spark = GraftSession.local("graft-explain")
    SparkEntry.queries
      .filter(kv => pats.exists(kv._1.contains)).toSeq.sortBy(_._1)
      .foreach { case (name, fn) =>
        println(s"==== $name ====")
        try fn(spark, sfDir).explain("formatted")
        catch { case e: Throwable => println(s"failed: ${e.getMessage}") }
      }
    spark.stop()
  }
}
