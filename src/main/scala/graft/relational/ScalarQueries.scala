package graft.relational

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.{Entry, Tables => T, dsl, OracleDsl => O}
import graft.functions.WeightedAvg

/** Scalar-function surface (SURVEY.md §2.b scalar fns + UDx rows):
  * string / datetime / math / JSON / array-map galleries, UDF + UDAF
  * demos, and a correlated-aggregate pattern. All built-ins — codegen'd,
  * no Scala closures in the hot path except the two deliberate UDx demos.
  */
object ScalarQueries {

  import Entry.Q

  /** String functions over part. Patterns are kept in the common
    * Java-regex/RE2 subset so Spark and DuckDB agree.
    */
  val q21ScalarString: Q = (s, dir) => {
    import s.implicits._
    T.part(s, dir)
      .select($"p_partkey",
        upper($"p_name").as("name_upper"),
        lower($"p_brand").as("brand_lower"),
        substring($"p_name", 1, 8).as("name_prefix"),
        concat_ws("-", $"p_brand", $"p_type").as("brand_type"),
        split($"p_name", " ").getItem(0).as("first_word"),
        regexp_replace(concat($"p_name", lit(".json")), "\\.json$", "")
          .as("trimmed"),
        length($"p_name").as("name_len"),
        replace($"p_type", lit(" "), lit("_")).as("type_snake"))
      .orderBy($"p_partkey")
  }

  val q21Sql: String =
    """SELECT p_partkey,
      |  UPPER(p_name) AS name_upper,
      |  LOWER(p_brand) AS brand_lower,
      |  SUBSTRING(p_name, 1, 8) AS name_prefix,
      |  CONCAT_WS('-', p_brand, p_type) AS brand_type,
      |  STRING_SPLIT(p_name, ' ')[1] AS first_word,
      |  REGEXP_REPLACE(p_name || '.json', '\.json$', '') AS trimmed,
      |  LENGTH(p_name) AS name_len,
      |  REPLACE(p_type, ' ', '_') AS type_snake
      |FROM part
      |ORDER BY p_partkey""".stripMargin

  /** Datetime functions over orders. dayofweek uses Spark numbering
    * (1=Sunday); the oracle shifts DuckDB's dow (0=Sunday) to match.
    */
  val q22ScalarDatetime: Q = (s, dir) => {
    import s.implicits._
    T.orders(s, dir)
      .select($"o_orderkey",
        year($"o_orderdate").as("yr"),
        month($"o_orderdate").as("mo"),
        dayofmonth($"o_orderdate").as("dom"),
        dayofweek($"o_orderdate").as("dow"),
        date_trunc("month", $"o_orderdate").as("month_start"),
        datediff(to_date($"o_orderdate"), lit("1995-01-01").cast(DateType))
          .as("days_since_95"),
        (to_date($"o_orderdate") + expr("INTERVAL 30 DAYS")).as("due_date"),
        unix_timestamp($"o_orderdate").as("epoch_s"))
      .orderBy($"o_orderkey")
  }

  val q22Sql: String =
    """SELECT o_orderkey,
      |  CAST(EXTRACT(year FROM o_orderdate) AS INT) AS yr,
      |  CAST(EXTRACT(month FROM o_orderdate) AS INT) AS mo,
      |  CAST(EXTRACT(day FROM o_orderdate) AS INT) AS dom,
      |  CAST(EXTRACT(dow FROM o_orderdate) + 1 AS INT) AS dow,
      |  CAST(DATE_TRUNC('month', o_orderdate) AS TIMESTAMP) AS month_start,
      |  CAST(DATEDIFF('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS INT) AS days_since_95,
      |  CAST(CAST(o_orderdate AS DATE) + INTERVAL 30 DAY AS DATE) AS due_date,
      |  CAST(EPOCH(o_orderdate) AS BIGINT) AS epoch_s
      |FROM orders
      |ORDER BY o_orderkey""".stripMargin

  /** Math functions. round() runs in the decimal domain (double rounding
    * at a tie-prone scale differs between engines — see dsl notes);
    * sqrt is IEEE-correctly-rounded so doubles match bit-for-bit.
    */
  val q23ScalarMath: Q = (s, dir) => {
    import s.implicits._
    T.lineitem(s, dir)
      .filter($"l_orderkey" % 100 === 0)
      .select($"l_orderkey", $"l_linenumber",
        abs($"l_quantity" - lit(25.0)).as("abs_dev"),
        round($"l_extendedprice".cast(DecimalType(18, 2)), 1)
          .cast(DoubleType).as("price_round1"),
        ceil($"l_quantity").as("qty_ceil"),
        floor($"l_quantity").as("qty_floor"),
        sqrt($"l_quantity").as("qty_sqrt"),
        ($"l_orderkey" % 7).as("key_mod7"),
        (-$"l_discount").as("neg_disc"))
      .orderBy($"l_orderkey", $"l_linenumber")
  }

  val q23Sql: String =
    """SELECT l_orderkey, l_linenumber,
      |  ABS(l_quantity - 25.0) AS abs_dev,
      |  CAST(ROUND(CAST(l_extendedprice AS DECIMAL(18,2)), 1) AS DOUBLE) AS price_round1,
      |  CAST(CEIL(l_quantity) AS BIGINT) AS qty_ceil,
      |  CAST(FLOOR(l_quantity) AS BIGINT) AS qty_floor,
      |  SQRT(l_quantity) AS qty_sqrt,
      |  l_orderkey % 7 AS key_mod7,
      |  -l_discount AS neg_disc
      |FROM lineitem
      |WHERE l_orderkey % 100 = 0
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  /** JSON field extraction (reference R14 semantics — lazy parse of a
    * kept-verbatim blob): get_json_object over events.props.
    */
  val q24JsonExtract: Q = (s, dir) => {
    import s.implicits._
    T.events(s, dir)
      .withColumn("k", get_json_object($"props", "$.k").cast(LongType))
      .groupBy($"event_type")
      .agg(
        count(lit(1)).as("n"),
        sum($"k").as("sum_k"),
        min($"k").as("min_k"),
        max($"k").as("max_k"))
      .orderBy($"event_type")
  }

  val q24Sql: String =
    """SELECT event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
      |  MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
      |  MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** Array ops over embeddings: size, element access, order-independent
    * max, and an exact-decimal squared-norm via posexplode + re-group —
    * the shuffle-free pattern (explode stays partition-local; the
    * re-group keys on the original row id so AQE coalesces it).
    */
  val q25ArrayOps: Q = (s, dir) => {
    import s.implicits._
    T.embeddings(s, dir)
      .select($"vec_id", $"label",
        size($"embedding").as("dim"),
        element_at($"embedding", 1).as("first_el"),
        array_max($"embedding").as("max_el"),
        explode($"embedding").as("x"))
      .groupBy($"vec_id", $"label", $"dim", $"first_el", $"max_el")
      .agg(sum(($"x".cast(DoubleType) * $"x".cast(DoubleType))
        .cast(DecimalType(20, 12))).cast(DoubleType).as("norm2"))
      .orderBy($"vec_id")
  }

  val q25Sql: String =
    """SELECT vec_id, label,
      |  CAST(LEN(embedding) AS INT) AS dim,
      |  embedding[1] AS first_el,
      |  LIST_MAX(embedding) AS max_el,
      |  CAST(SUM(CAST(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) AS DECIMAL(20,12))) AS DOUBLE) AS norm2
      |FROM (SELECT vec_id, label, embedding, UNNEST(embedding) AS x FROM embeddings)
      |GROUP BY vec_id, label, embedding
      |ORDER BY vec_id""".stripMargin

  /** Map construction + explode: pivot two columns into key/value rows. */
  val q26MapExplode: Q = (s, dir) => {
    import s.implicits._
    T.orders(s, dir)
      .select(explode(map(
        lit("status"), $"o_orderstatus",
        lit("priority"), $"o_orderpriority")).as(Seq("key", "value")))
      .groupBy($"key", $"value")
      .agg(count(lit(1)).as("n"))
      .orderBy($"key", $"value")
  }

  val q26Sql: String =
    """SELECT key, value, COUNT(*) AS n
      |FROM (SELECT 'status' AS key, o_orderstatus AS value FROM orders
      |      UNION ALL
      |      SELECT 'priority', o_orderpriority FROM orders)
      |GROUP BY key, value
      |ORDER BY key, value""".stripMargin

  /** Custom typed UDAF ([[WeightedAvg]]): quantity-weighted avg price per
    * return flag, oracle-matched by its decimal-quantized SQL equivalent.
    */
  val q27Udaf: Q = (s, dir) => {
    import s.implicits._
    val wavg = udaf(WeightedAvg)
    T.lineitem(s, dir)
      .groupBy($"l_returnflag")
      .agg(
        wavg($"l_extendedprice", $"l_quantity").as("weighted_avg_price"),
        count(lit(1)).as("n"))
      .orderBy($"l_returnflag")
  }

  val q27Sql: String =
    s"""SELECT l_returnflag,
       |  ${O.dsumExpr("l_extendedprice * l_quantity")}
       |    / ${O.dsum("l_quantity")} AS weighted_avg_price,
       |  COUNT(*) AS n
       |FROM lineitem
       |GROUP BY l_returnflag
       |ORDER BY l_returnflag""".stripMargin

  /** Scalar UDF demo — deliberately trivial (mod 97) to document the
    * surface; real code should prefer the codegen'd builtin (`pmod`),
    * which this oracle also exercises.
    */
  val q28ScalarUdf: Q = (s, dir) => {
    import s.implicits._
    val mod97 = udf((k: Long) => k % 97)
    T.orders(s, dir)
      .select($"o_orderkey",
        mod97($"o_orderkey").as("udf_mod97"),
        pmod($"o_orderkey", lit(97L)).as("builtin_mod97"))
      .orderBy($"o_orderkey")
  }

  val q28Sql: String =
    """SELECT o_orderkey,
      |  o_orderkey % 97 AS udf_mod97,
      |  o_orderkey % 97 AS builtin_mod97
      |FROM orders
      |ORDER BY o_orderkey""".stripMargin

  /** Correlated-aggregate pattern: orders above their customer's average
    * price. Planned as agg + self-equi-join (no per-row subquery); the
    * exact-decimal avg makes the > comparison engine-identical.
    */
  val q30AboveCustomerAvg: Q = (s, dir) => {
    import s.implicits._
    val avgByCust = T.orders(s, dir)
      .groupBy($"o_custkey".as("ck"))
      .agg(dsl.davg($"o_totalprice").as("avg_price"))
    T.orders(s, dir)
      .join(avgByCust, $"o_custkey" === $"ck")
      .filter($"o_totalprice" > $"avg_price")
      .select($"o_orderkey", $"o_custkey", $"o_totalprice", $"avg_price")
      .orderBy($"o_orderkey")
  }

  val q30Sql: String =
    s"""SELECT o_orderkey, o_custkey, o_totalprice, avg_price
       |FROM orders
       |JOIN (SELECT o_custkey AS ck, ${O.davg("o_totalprice")} AS avg_price
       |      FROM orders GROUP BY o_custkey) a
       |  ON o_custkey = ck
       |WHERE o_totalprice > avg_price
       |ORDER BY o_orderkey""".stripMargin

  /** q281 — the Spark 4 VARIANT column path (the open-format
    * semi-structured type of the Snowflake/Databricks lineage, new in
    * Spark 4.0): a nested JSON document — constructed in-query from
    * event columns so both engines see byte-identical input — is
    * parsed ONCE into a `VariantType` value and fields are extracted
    * with `variant_get` typed paths (nested object hop `$.meta.k`,
    * array index `$.tags[1]`), then aggregated. Where q24's
    * `get_json_object` re-parses the string per extraction, the
    * variant parses once into a binary-encoded tree and each
    * extraction is a path walk — the schema-on-read economics the
    * type exists for. The oracle re-derives the same numbers from the
    * raw JSON with DuckDB's json functions — two engines, two
    * semi-structured stacks, one answer.
    */
  val q281Variant: Q = (s, dir) => {
    import s.implicits._
    val ev = T.events(s, dir).select($"event_type", $"props")
    val doc = concat(lit("{\"meta\":{\"type\":\""), $"event_type",
      lit("\",\"k\":"), get_json_object($"props", "$.k"),
      lit("},\"tags\":[\"alpha\",\"beta\"]}"))
    ev.withColumn("v", parse_json(doc))
      .select($"event_type",
        expr("variant_get(v, '$.meta.k', 'long')").as("k"),
        expr("variant_get(v, '$.tags[1]', 'string')").as("tag1"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"), sum($"k").as("sum_k"),
        countDistinct($"tag1").as("n_tags"))
      .orderBy($"event_type")
  }

  val q281Sql: String =
    """SELECT event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT))
      |    AS BIGINT) AS sum_k,
      |  CAST(COUNT(DISTINCT 'beta') AS BIGINT) AS n_tags
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** q282 — COLLATION-aware grouping (string collations, new in Spark
    * 4.0): part names re-cased three ways in-query (upper / initcap /
    * lower by key) then grouped under the UTF8_LCASE collation — the
    * engine-level case-insensitive equality that replaces the
    * lower()-everything workaround (and, unlike it, composes with
    * joins, DISTINCT, and window partitioning at no per-row rewrite
    * cost). Representative + count per collated group hash-match
    * DuckDB grouping the same re-cased strings by lower() — two
    * different case-insensitivity mechanisms, one answer.
    */
  val q282Collation: Q = (s, dir) => {
    import s.implicits._
    val recased = T.part(s, dir).select(
      when($"p_partkey" % 3 === 0, upper($"p_name"))
        .when($"p_partkey" % 3 === 1, initcap($"p_name"))
        .otherwise($"p_name").as("name"))
    recased
      .groupBy(collate($"name", "UTF8_LCASE").as("ci_name"))
      .agg(min($"name").as("representative"), count(lit(1)).as("n"))
      .select(lower($"ci_name").cast("string").as("name_lc"),
        $"representative", $"n")
      .orderBy($"name_lc")
  }

  val q282Sql: String =
    """WITH recased AS (
      |  SELECT CASE WHEN p_partkey % 3 = 0 THEN upper(p_name)
      |              WHEN p_partkey % 3 = 1 THEN
      |                array_to_string(list_transform(string_split(p_name, ' '),
      |                  w -> upper(w[1]) || lower(w[2:])), ' ')
      |              ELSE p_name END AS name
      |  FROM part)
      |SELECT lower(name) AS name_lc, MIN(name) AS representative,
      |  COUNT(*) AS n
      |FROM recased GROUP BY lower(name)
      |ORDER BY name_lc""".stripMargin

  /** q283 — error-safe arithmetic gallery (`try_add` / `try_divide` /
    * `try_cast`): the ANSI-mode answer to "one bad
    * row kills the job" — each operation yields NULL where strict
    * evaluation would raise (overflow, division by zero, malformed
    * cast), keeping the pipeline total. Edge values are constructed
    * per-row from lineitem keys so every failure class actually
    * occurs; DuckDB mirrors with TRY_CAST and explicit guards — the
    * null pattern, not just the happy path, must hash-match.
    */
  val q283TryGallery: Q = (s, dir) => {
    import s.implicits._
    T.lineitem(s, dir)
      .select($"l_orderkey", $"l_linenumber", $"l_quantity")
      .withColumn("ovf",
        expr("try_add(CAST(9223372036854775807 AS BIGINT), " +
          "CAST(l_orderkey AS BIGINT))"))
      .withColumn("div",
        expr("try_divide(CAST(l_quantity AS DOUBLE), " +
          "CAST(l_linenumber % 3 AS DOUBLE))"))
      .withColumn("bad_cast",
        expr("try_cast(concat('x', CAST(l_orderkey AS STRING)) AS INT)"))
      .withColumn("good_cast",
        expr("try_cast(CAST(l_orderkey AS STRING) AS INT)"))
      .groupBy(($"l_orderkey" % 7).as("bucket"))
      .agg(count(lit(1)).as("n"),
        sum(when($"ovf".isNull, 1L).otherwise(0L)).as("n_ovf_null"),
        sum(when($"div".isNull, 1L).otherwise(0L)).as("n_div_null"),
        sum(when($"bad_cast".isNull, 1L).otherwise(0L)).as("n_badcast_null"),
        sum($"good_cast".cast("long")).as("sum_goodcast"))
      .orderBy($"bucket")
  }

  val q283Sql: String =
    """SELECT l_orderkey % 7 AS bucket, COUNT(*) AS n,
      |  CAST(SUM(CASE WHEN l_orderkey <> 0 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_ovf_null,
      |  CAST(SUM(CASE WHEN l_linenumber % 3 = 0 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_div_null,
      |  CAST(COUNT(*) AS BIGINT) AS n_badcast_null,
      |  CAST(SUM(TRY_CAST(CAST(l_orderkey AS VARCHAR) AS INTEGER))
      |    AS BIGINT) AS sum_goodcast
      |FROM lineitem
      |GROUP BY bucket ORDER BY bucket""".stripMargin

  /** q441 — the MAP higher-order-function gallery (map_from_entries →
    * transform_keys → transform_values → map_zip_with → map_filter →
    * explode): the map-typed half of q25's array-HOF surface, absent
    * until now. Per customer, two priority-keyed maps (order count,
    * cent sum) are built from one partial agg, rewritten entirely
    * IN-ROW by the HOF chain (keys get a "P:" prefix on both sides so
    * the zip aligns; value = n·10¹³ + 2·sum_cents keeps both inputs
    * recoverable and overflow-free), filtered on v % 3, and exploded
    * back to rows. The oracle replays the SAME arithmetic
    * RELATIONALLY — no maps — so a wrong HOF semantics (zip missing a
    * key, filter dropping the wrong entry, key rewrite applied once)
    * breaks the row hash.
    *
    * Scale shape: one (custkey, priority) partial agg; everything
    * after is narrow in-row codegen — the point of map HOFs at 100 TB
    * is exactly that the reshape never touches a shuffle.
    */
  val q441MapHofs: Q = (s, dir) => {
    import s.implicits._
    val per = T.orders(s, dir)
      .select($"o_custkey", $"o_orderpriority".as("pr"),
        expr("CAST(FLOOR(100 * o_totalprice) AS BIGINT)").as("cents"))
      .groupBy($"o_custkey", $"pr")
      .agg(count(lit(1)).as("n"), sum($"cents").as("sc"))
    per.groupBy($"o_custkey")
      .agg(
        map_from_entries(sort_array(collect_list(struct($"pr", $"n"))))
          .as("mn"),
        map_from_entries(sort_array(collect_list(struct($"pr", $"sc"))))
          .as("ms"))
      .select($"o_custkey",
        explode(
          map_filter(
            map_zip_with(
              transform_keys($"mn", (k, _) => concat(lit("P:"), k)),
              transform_keys(
                transform_values($"ms", (_, v) => v * 2L),
                (k, _) => concat(lit("P:"), k)),
              (_, n, s2) => n * lit(10000000000000L) + coalesce(s2, lit(0L))),
            (_, v) => v % 3 === 0))
          .as(Seq("mkey", "mval")))
      .orderBy($"o_custkey", $"mkey")
  }

  val q441Sql: String =
    """WITH per AS (
      |  SELECT o_custkey, o_orderpriority AS pr,
      |    CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(CAST(FLOOR(100 * o_totalprice) AS BIGINT)) AS BIGINT)
      |      AS sc
      |  FROM orders GROUP BY 1, 2)
      |SELECT o_custkey, 'P:' || pr AS mkey,
      |  CAST(n * 10000000000000 + 2 * sc AS BIGINT) AS mval
      |FROM per
      |WHERE (n * 10000000000000 + 2 * sc) % 3 = 0
      |ORDER BY o_custkey, mkey""".stripMargin

  /** q442 — max_by / min_by (SQL:2023 arg-max aggregates, the "which
    * row holds the extreme" question every dashboard asks without a
    * self-join): per event type, the event id carrying the max and
    * min cent value. The ordering key is struct(cents, event_id) —
    * UNIQUE by construction, because max_by/min_by tie-breaking is
    * otherwise first-seen (partition-order-dependent); the unique
    * struct key is the discipline that makes the builtin
    * deterministic. Oracle replays with window ranks.
    *
    * Scale shape: one partial-aggregable pass — the agg form of the
    * q18 top-1 window, with no sort and no per-group state beyond two
    * running extremes.
    */
  val q442ArgExtremes: Q = (s, dir) => {
    import s.implicits._
    T.events(s, dir)
      .select($"event_type", $"event_id",
        expr("CAST(FLOOR(100 * value) AS BIGINT)").as("cents"))
      .groupBy($"event_type")
      .agg(
        max_by($"event_id", struct($"cents", $"event_id")).as("top_id"),
        min_by($"event_id", struct($"cents", $"event_id")).as("bot_id"),
        max($"cents").as("max_cents"), min($"cents").as("min_cents"))
      .orderBy($"event_type")
  }

  val q442Sql: String =
    """WITH c AS (
      |  SELECT event_type, event_id,
      |    CAST(FLOOR(100 * value) AS BIGINT) AS cents
      |  FROM events),
      |rk AS (
      |  SELECT event_type, event_id, cents,
      |    ROW_NUMBER() OVER (PARTITION BY event_type
      |      ORDER BY cents DESC, event_id DESC) AS rmax,
      |    ROW_NUMBER() OVER (PARTITION BY event_type
      |      ORDER BY cents ASC, event_id ASC) AS rmin
      |  FROM c)
      |SELECT event_type,
      |  MAX(CASE WHEN rmax = 1 THEN event_id END) AS top_id,
      |  MAX(CASE WHEN rmin = 1 THEN event_id END) AS bot_id,
      |  MAX(cents) AS max_cents, MIN(cents) AS min_cents
      |FROM rk GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("q441_map_hofs", q441MapHofs, q441Sql),
    Entry("q442_arg_extremes", q442ArgExtremes, q442Sql),
    Entry("q281_variant", q281Variant, q281Sql),
    Entry("q282_collation", q282Collation, q282Sql),
    Entry("q283_try_gallery", q283TryGallery, q283Sql),
    Entry("q21_scalar_string", q21ScalarString, q21Sql),
    Entry("q22_scalar_datetime", q22ScalarDatetime, q22Sql),
    Entry("q23_scalar_math", q23ScalarMath, q23Sql),
    Entry("q24_json_extract", q24JsonExtract, q24Sql),
    Entry("q25_array_ops", q25ArrayOps, q25Sql),
    Entry("q26_map_explode", q26MapExplode, q26Sql),
    Entry("q27_udaf_weighted_avg", q27Udaf, q27Sql),
    Entry("q28_scalar_udf", q28ScalarUdf, q28Sql),
    Entry("q30_above_customer_avg", q30AboveCustomerAvg, q30Sql))
}
