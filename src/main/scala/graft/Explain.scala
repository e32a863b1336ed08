package graft
import graft.core.GraftSession

/** Dev tool: print the formatted physical plan of named queries, on the
  * same session settings the bench runs (`SPARK_GRAFT_CPUS` cores).
  * Usage: runMain graft.Explain <sfDir> <name-substring>[,<substring>...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val nameFilter = SparkEntry.selected(Some(args(1)))
    val spark = GraftSession.local("graft-explain")
    SparkEntry.queries
      .filter(kv => nameFilter(kv._1)).toSeq.sortBy(_._1)
      .foreach { case (name, fn) =>
        println(s"==== $name ====")
        try fn(spark, sfDir).explain("formatted")
        catch { case e: Throwable => println(s"failed: ${e.getMessage}") }
      }
    spark.stop()
  }
}
