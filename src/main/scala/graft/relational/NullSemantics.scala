package graft.relational

import org.apache.spark.sql.functions._

import graft.core.{Entry, Tables => T}

/** Null-semantics surfaces: the null-safe equality join.
  *
  * `<=>` (Spark) / `IS NOT DISTINCT FROM` (ANSI/DuckDB) treats NULL as
  * a joinable value — NULL keys match each other instead of silently
  * dropping, the behavior every "unknown bucket" rollup needs. The
  * planner point: Spark keeps null-safe equality HASH-JOINABLE (NULL
  * hashes to an ordinary bucket) rather than degrading to a
  * nested-loop filter, so the shape scales like any equi-join.
  */
object NullSemantics {

  import Entry.Q

  /** q214 — null-safe rollup join: events and customers bucketed into
    * a 10-way key where bucket 0 becomes NULL (`nullif` — standing in
    * for a dirty/unknown dimension key), then joined with null-safe
    * equality so the unknown buckets pair up. A plain equi-join drops
    * the NULL row; the output pins both per-side counts for every
    * bucket including the NULL one.
    */
  val q214NullSafeJoin: Q = (s, dir) => {
    import s.implicits._
    val l = T.events(s, dir)
      .groupBy(nullif($"user_id" % 10, lit(0)).as("k"))
      .agg(count(lit(1)).as("event_n"))
    val r = T.customer(s, dir)
      .groupBy(nullif($"c_custkey" % 10, lit(0)).as("k"))
      .agg(count(lit(1)).as("cust_n"))
    l.join(r, l("k") <=> r("k"))
      .select(l("k").as("k"), $"event_n", $"cust_n")
      .orderBy($"k".asc_nulls_first)
  }

  val q214Sql: String =
    """WITH l AS (
      |  SELECT nullif(user_id % 10, 0) AS k, COUNT(*) AS event_n
      |  FROM events GROUP BY 1),
      |r AS (
      |  SELECT nullif(c_custkey % 10, 0) AS k, COUNT(*) AS cust_n
      |  FROM customer GROUP BY 1)
      |SELECT l.k, event_n, cust_n
      |FROM l JOIN r ON l.k IS NOT DISTINCT FROM r.k
      |ORDER BY l.k ASC NULLS FIRST""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("q214_null_safe_join", q214NullSafeJoin, q214Sql))
}
