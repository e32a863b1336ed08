package graft.relational

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{Entry, Tables => T}

/** GORILLA DELTA-OF-DELTA COMPRESSION COST (Pelkonen et al. VLDB'15 —
  * Facebook's in-memory TSDB encoding, the de-facto time-series
  * compression standard Prometheus/M3/InfluxDB descend from: second
  * differences of a regular series are near-zero, so a variable-width
  * dod encoding stores hours of data in bits per point; the
  * storage-planning readout the layout family (q111 partitioning,
  * q113 compaction, q125/q130 clustering) was missing — "how many
  * bytes will this series actually take, and is the schedule regular
  * enough to compress"): per event type over the daily cent-total
  * series, the EXACT encoded bit count under the paper's timestamp
  * bucket table.
  *
  * Bit table (the VLDB'15 §4.1.1 control codes, widened at the tail
  * for 64-bit cent values): first point 64 bits (raw); second point =
  * its delta bucket; each later point buckets dod = d_t − d_{t−1}:
  * dod = 0 → 1 bit ('0'); [−63, 64] → 9 (2+7); [−255, 256] → 12
  * (3+9); [−2047, 2048] → 16 (4+12); else 68 (4+64). Every piece is
  * integer comparison + integer sum — EXACT in both engines; only the
  * final bits-per-point / compression-ratio readouts divide, as ONE
  * shared formula.
  *
  * Scale shape: the corpus collapses in ONE (type, day) partial agg
  * (the q380/q291 admission); lags and the bucket CASE run on the
  * CALENDAR-bounded daily frame; one final partial agg per type.
  */
object GorillaCost {

  import Entry.Q

  /** dod → encoded bits (shared verbatim — pure integer CASE). */
  val BitsCase: String =
    """CASE WHEN dod = 0 THEN 1
      | WHEN dod >= -63 AND dod <= 64 THEN 9
      | WHEN dod >= -255 AND dod <= 256 THEN 12
      | WHEN dod >= -2047 AND dod <= 2048 THEN 16
      | ELSE 68 END""".stripMargin.replace("\n", "")

  /** bits-per-point and ratio vs raw 64-bit — shared verbatim. */
  val RatioFormula: String =
    "CAST(total_bits AS DOUBLE) / CAST(n_days AS DOUBLE)"

  val q568GorillaCost: Q = (s, dir) => {
    import s.implicits._
    gorillaBits(T.events(s, dir)
      .groupBy($"event_type", date_trunc("day", $"ts").as("day"))
      .agg(sum(expr("CAST(FLOOR(100 * value) AS BIGINT)")).as("x")))
  }

  /** The bit-cost fold over any (event_type, day, x) daily frame —
    * the spec pins constant/ramp closed forms against it.
    */
  def gorillaBits(daily: DataFrame): DataFrame = {
    val s = daily.sparkSession
    import s.implicits._
    val w = Window.partitionBy($"event_type").orderBy($"day")
    daily
      .withColumn("i", row_number().over(w))
      .withColumn("d", $"x" - lag($"x", 1).over(w))
      .withColumn("dod", $"d" - lag($"d", 1).over(w))
      .withColumn("bits",
        when($"i" === 1, 64L)
          .when($"i" === 2, expr(BitsCase.replace("dod", "d")))
          .otherwise(expr(BitsCase)).cast("long"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_days"), sum($"bits").as("total_bits"))
      .withColumn("raw_bits", $"n_days" * 64L)
      .withColumn("bits_per_point", expr(RatioFormula))
      .orderBy($"event_type")
  }

  val q568Sql: String =
    s"""WITH daily AS (
      |  SELECT event_type, date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
      |    CAST(SUM(CAST(FLOOR(100 * value) AS BIGINT)) AS BIGINT) AS x
      |  FROM events GROUP BY 1, 2),
      |lagged AS (
      |  SELECT event_type,
      |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS i,
      |    x - LAG(x, 1) OVER (PARTITION BY event_type ORDER BY day) AS d
      |  FROM daily),
      |dods AS (
      |  SELECT event_type, i, d,
      |    d - LAG(d, 1) OVER (PARTITION BY event_type ORDER BY i) AS dod
      |  FROM lagged),
      |bits AS (
      |  SELECT event_type,
      |    CASE WHEN i = 1 THEN 64
      |         WHEN i = 2 THEN ${BitsCase.replace("dod", "d")}
      |         ELSE $BitsCase END AS bits
      |  FROM dods)
      |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
      |  CAST(SUM(bits) AS BIGINT) AS total_bits,
      |  CAST(COUNT(*) * 64 AS BIGINT) AS raw_bits,
      |  CAST(SUM(bits) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
      |    AS bits_per_point
      |FROM bits GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("q568_gorilla_cost", q568GorillaCost, q568Sql))
}
