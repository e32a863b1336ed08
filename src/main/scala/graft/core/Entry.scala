package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registry record: an entry's name, the Spark plan it runs on a
  * scale-factor dir, and the DuckDB SQL over the same parquet tables
  * whose output the plan's must match. Each module declares its
  * entries once, as a `Seq[Entry]`; [[graft.SparkEntry]] collects them.
  */
final case class Entry(name: String, run: Entry.Q, sql: String)

object Entry {
  type Q = (SparkSession, String) => DataFrame
}
