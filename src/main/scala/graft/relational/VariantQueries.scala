package graft.relational

import org.apache.spark.sql.functions._

import graft.core.{Entry, Tables => T}

/** Spark 4's VARIANT type (SPARK-45891 — the open-source semi-
  * structured column: binary-encoded JSON with typed, lazy,
  * shredding-friendly access) driven end-to-end: serialize → 
  * `parse_json` → typed `variant_get` paths → aggregate, gated by the
  * round-trip identity against the same aggregation computed straight
  * from the source columns. This is the surface a 100 TB event-ingest
  * actually uses for schema-fluid payloads — q24's `get_json_object`
  * re-parses strings per access; VARIANT parses ONCE into a binary
  * the executor then navigates without re-tokenizing (and the parquet
  * writer can shred).
  *
  * The JSON payload is CONSTRUCTED deterministically from `events`
  * (exactly what an ingest boundary receives), so the DuckDB oracle
  * needs no variant support at all: it recomputes the aggregate from
  * the raw columns — if parse/extract dropped or mistyped anything,
  * counts and exact cent sums diverge.
  *
  * Plan shape: parse + extraction are per-row projections (no
  * shuffle); the one aggregation shuffles the extracted narrow
  * columns, never the payload. VariantQueriesSpec pins the column's
  * actual VariantType and a nested-path + try_variant_get miss.
  */
object VariantQueries {

  import Entry.Q

  val q359VariantExtract: Q = (s, dir) => {
    import s.implicits._
    val payload = T.events(s, dir)
      .select(to_json(struct(
        $"event_type".as("type"),
        struct(expr("CAST(FLOOR(100 * value) AS BIGINT)").as("cents"),
          ($"user_id" % 7).as("shard")).as("meta"))).as("j"))
    payload
      .select(expr("parse_json(j)").as("v"))
      .select(
        expr("variant_get(v, '$.type', 'string')").as("event_type"),
        expr("variant_get(v, '$.meta.cents', 'bigint')").as("cents"),
        expr("variant_get(v, '$.meta.shard', 'bigint')").as("shard"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"), sum($"cents").as("sum_cents"),
        countDistinct($"shard").as("n_shards"))
      .orderBy($"event_type")
  }

  /** Oracle: the same aggregate straight from the raw columns — the
    * round-trip identity IS the gate.
    */
  val q359Sql: String =
    """SELECT event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(FLOOR(100 * value) AS BIGINT)) AS BIGINT)
      |    AS sum_cents,
      |  CAST(COUNT(DISTINCT user_id % 7) AS BIGINT) AS n_shards
      |FROM events GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("q359_variant_extract", q359VariantExtract, q359Sql))
}
