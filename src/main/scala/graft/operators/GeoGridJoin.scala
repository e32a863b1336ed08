package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.core.{Entry, Tables => T}

/** Grid-bucketed SPATIAL nearest-neighbor join — the standard
  * scalable recipe for "nearest facility" / geo-enrichment queries
  * that a naive spelling computes as an all-pairs distance cross join:
  * snap both sides to a fixed lat/lon grid, replicate the (small)
  * facility side to its cell's 3×3 neighborhood, equi-join probes on
  * their cell, and take the per-probe argmin. The equi-join is the
  * whole trick — Catalyst shuffles/broadcasts it like any other join,
  * and candidate count per probe is bounded by facility density ×
  * 9 cells instead of |facilities|.
  *
  * Semantics contract (both engines, spelled identically):
  * coordinates are synthetic integer MILLIDEGREES derived from each
  * key via the repo's engine-portable md5 convention (the fixture has
  * no geo columns; the derivation is deterministic so the operator is
  * fully oracle-checkable), distance is the exact-integer squared
  * planar metric Δlat² + Δlon² in millidegrees² (no trig — libm
  * sin/cos are NOT correctly rounded and differ across engines, so a
  * haversine column would be the one non-reproducible float in the
  * repo; at city scale the planar metric ranks neighbors identically
  * and the BIGINT distance hash-compares), ties break to the smaller
  * supplier key, and probes with NO facility in their 3×3 neighborhood
  * drop (inner semantics — the miss rate is a grid-sizing diagnostic,
  * not data). No longitude wraparound at ±180: the synthetic domain is
  * a bounded plane, documented rather than patched.
  *
  * Scale shape: facility side explodes ×9 (tiny side — suppliers);
  * probe side maps to one cell each (narrow); one equi-join on the
  * cell key (AQE broadcasts the exploded facility frame when small);
  * argmin is a partial-aggregated min(struct(dist², key)) groupBy —
  * no window over data-sized partitions, no cross join anywhere.
  *
  * Reference anchor: none (no geo surface in a catalog server); [N].
  */
object GeoGridJoin {

  import Entry.Q

  /** Grid cell edge in millidegrees (30° cells: 4×12 grid over the
    * synthetic ±60°/±180° domain — sized so the sf0.01 supplier side
    * averages ~12 candidates per 3×3 probe neighborhood).
    */
  val CellMd = 30000

  /** Synthetic integer-millidegree coordinate from a key: 6 md5 hex
    * chars (24 bits) mod the axis span. Engine-portable (q95/q140
    * convention); the small modulo bias is irrelevant for a fixture.
    */
  private def coordMd(salt: String, key: Column, spanMd: Int): Column =
    conv(substring(md5(concat(lit(salt), key.cast("string"))), 1, 6), 16, 10)
      .cast("long") % spanMd

  private def coordSql(salt: String, key: String, spanMd: Int): String =
    s"CAST('0x' || substring(md5('$salt' || CAST($key AS VARCHAR)), 1, 6) AS BIGINT) % $spanMd"

  /** q297 — nearest supplier (by the exact squared planar metric) for
    * every customer with a supplier in its 3×3 grid neighborhood.
    */
  val q297GeoNearest: Q = (s, dir) => {
    import s.implicits._
    val cust = T.customer(s, dir).select($"c_custkey",
        coordMd("glat:", $"c_custkey", 120000).as("clat"),
        coordMd("glon:", $"c_custkey", 360000).as("clon"))
      .withColumn("cell_lat", expr(s"clat div $CellMd"))
      .withColumn("cell_lon", expr(s"clon div $CellMd"))
    val supp = T.supplier(s, dir).select($"s_suppkey",
        coordMd("glat:s", $"s_suppkey", 120000).as("slat"),
        coordMd("glon:s", $"s_suppkey", 360000).as("slon"))
      .withColumn("dlat", explode(sequence(lit(-1), lit(1))))
      .withColumn("dlon", explode(sequence(lit(-1), lit(1))))
      .select($"s_suppkey", $"slat", $"slon",
        (expr(s"slat div $CellMd") + $"dlat").as("cell_lat"),
        (expr(s"slon div $CellMd") + $"dlon").as("cell_lon"))
    cust.join(supp, Seq("cell_lat", "cell_lon"))
      .select($"c_custkey",
        struct(
          (($"clat" - $"slat") * ($"clat" - $"slat") +
            ($"clon" - $"slon") * ($"clon" - $"slon")).as("dist2"),
          $"s_suppkey").as("cand"))
      .groupBy($"c_custkey")
      .agg(min($"cand").as("best"))
      .select($"c_custkey", $"best.s_suppkey".as("s_suppkey"),
        $"best.dist2".as("dist2_md"))
      .orderBy($"c_custkey")
  }

  val q297Sql: String = {
    val clat = coordSql("glat:", "c_custkey", 120000)
    val clon = coordSql("glon:", "c_custkey", 360000)
    val slat = coordSql("glat:s", "s_suppkey", 120000)
    val slon = coordSql("glon:s", "s_suppkey", 360000)
    s"""WITH cust AS (
       |  SELECT c_custkey, $clat AS clat, $clon AS clon
       |  FROM customer),
       |supp0 AS (
       |  SELECT s_suppkey, $slat AS slat, $slon AS slon
       |  FROM supplier),
       |supp AS (
       |  SELECT s_suppkey, slat, slon,
       |    slat // $CellMd + dlat AS cell_lat,
       |    slon // $CellMd + dlon AS cell_lon
       |  FROM supp0
       |  CROSS JOIN (SELECT unnest(range(-1, 2)) AS dlat) a
       |  CROSS JOIN (SELECT unnest(range(-1, 2)) AS dlon) b),
       |cand AS (
       |  SELECT c_custkey, s_suppkey,
       |    (clat - slat) * (clat - slat) + (clon - slon) * (clon - slon)
       |      AS dist2,
       |    ROW_NUMBER() OVER (PARTITION BY c_custkey
       |      ORDER BY (clat - slat) * (clat - slat)
       |             + (clon - slon) * (clon - slon) ASC, s_suppkey ASC) AS rn
       |  FROM cust JOIN supp
       |    ON cust.clat // $CellMd = supp.cell_lat
       |   AND cust.clon // $CellMd = supp.cell_lon)
       |SELECT c_custkey, s_suppkey, CAST(dist2 AS BIGINT) AS dist2_md
       |FROM cand WHERE rn = 1 ORDER BY c_custkey""".stripMargin
  }

  val entries: Seq[Entry] = Seq(
    Entry("q297_geo_nearest", q297GeoNearest, q297Sql))
}
