package graft.sources

import org.apache.spark.sql.functions._

import graft.core.{Entry, Fixtures, GraftSession, Tables => T, dsl, OracleDsl => O}

/** DYNAMIC partition overwrite — the write-side primitive between
  * full-table overwrite (loses everything else) and append (duplicates
  * reprocessed data): `partitionOverwriteMode=dynamic` replaces ONLY
  * the partitions present in the incoming batch and leaves every other
  * partition's files untouched. This is how a daily reprocess lands —
  * rerun one day, overwrite one directory — and the Spark-first form of
  * the reference's per-directory snapshot replacement (cache.go:85-99
  * swaps exactly the directory it rebuilt).
  *
  * The gate: build a date-partitioned events table, dynamically
  * overwrite ONE day with recomputed rows carrying a deterministic
  * value adjustment, then aggregate per day. The oracle recomputes the
  * expected post-overwrite state from the source (adjusted day +
  * untouched others) — an overwrite that clobbered other partitions,
  * appended instead of replaced, or missed the target day all break
  * the hash.
  *
  * Scale note: the conf is scoped to the write and restored — dynamic
  * mode resolves overwritten partitions at COMMIT time from the
  * written data, so the job plans like any partitioned write (one
  * shuffle-free `partitionBy` append of the batch).
  */
object DynamicOverwrite {

  import Entry.Q

  val FixtureRoot = Fixtures.path("dynow")

  /** The reprocessed day and its deterministic adjustment. */
  val TargetDay = "2024-01-10"
  val Adjust = 1000.0

  val q175DynamicOverwrite: Q = (s, dir) => {
    import s.implicits._
    val root = s"$FixtureRoot/${Fixtures.dirTag(dir)}"
    val table = s"$root/events_by_day"
    // rebuild the base table fresh every run: the overwrite IS the
    // query, so the fixture must start un-overwritten every time
    Fixtures.deleteTree(java.nio.file.Paths.get(root))
    val ev = T.events(s, dir)
      .select($"event_id", $"user_id", $"value", to_date($"ts").as("day"))
    ev.write.partitionBy("day").parquet(table)
    // reprocess ONE day (values adjusted) and dynamically overwrite it
    GraftSession.withConfs(s,
        "spark.sql.sources.partitionOverwriteMode" -> "dynamic") {
      ev.filter($"day" === lit(TargetDay).cast("date"))
        .withColumn("value", $"value" + Adjust)
        .write.mode("overwrite").partitionBy("day").parquet(table)
    }
    s.read.parquet(table)
      .groupBy($"day")
      .agg(count(lit(1)).as("n_events"), dsl.dsum($"value").as("sum_value"))
      .orderBy($"day")
  }

  val q175Sql: String =
    s"""SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
       |  COUNT(*) AS n_events,
       |  ${O.dsum(s"CASE WHEN CAST(CAST(ts AS TIMESTAMP) AS DATE) = DATE '$TargetDay' THEN value + $Adjust ELSE value END")} AS sum_value
       |FROM events
       |GROUP BY day
       |ORDER BY day""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("q175_dynamic_overwrite", q175DynamicOverwrite, q175Sql))
}
