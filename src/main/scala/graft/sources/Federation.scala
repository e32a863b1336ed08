package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.{Entry, Fixtures, Tables => T, dsl, OracleDsl => O}

/** Cross-format FEDERATED read: one logical table whose rows live in
  * three physical formats at once — a third of `orders` stays parquet,
  * a third is materialized as ORC, a third as CSV — read back with
  * `unionByName` into a single relation and aggregated. This is the
  * "storage is heterogeneous, the table is one" reality of every
  * long-lived warehouse mid-migration; the oracle aggregates the
  * ORIGINAL parquet, so a dropped, duplicated, or value-drifting row in
  * ANY format leg breaks the hash (q121's round-trip discipline across
  * three formats simultaneously).
  *
  * Determinism note: doubles round-trip CSV exactly because Spark
  * writes `Double.toString`'s shortest round-trip representation;
  * timestamps are deliberately excluded from the federated columns
  * (CSV timestamp formatting is a lossy seam — the scaladoc'd reason
  * production federations keep schema-full formats for temporal data).
  *
  * Scale shape: each leg is an independent pruned scan (format-native
  * pushdown still applies per leg); the union adds no shuffle. The
  * fixture build is content-addressed per SF dir and writes through
  * one Spark job per leg.
  */
object Federation {

  import Entry.Q

  private val csvSchema = StructType(Seq(
    StructField("o_orderkey", LongType),
    StructField("o_orderpriority", StringType),
    StructField("o_totalprice", DoubleType)))

  private def sfName(dir: String): String = s"fed/${Fixtures.dirTag(dir)}"

  private def legDirs(dir: String): (String, String) =
    (Fixtures.path(s"${sfName(dir)}/orc"), Fixtures.path(s"${sfName(dir)}/csv"))

  private def writeFixture(s: SparkSession, dir: String): Unit = {
    import s.implicits._
    val (orcDir, csvDir) = legDirs(dir)
    // key on the source file's identity, not just its path: a
    // regenerated testdata dir must invalidate the fixture
    val src = Paths.get(dir, "orders.parquet")
    val key = s"src=$dir:size=${Files.size(src)}" +
      s":mtime=${Files.getLastModifiedTime(src).toMillis}:legs=orc,csv:mod3"
    Fixtures.once(sfName(dir), key) {
      val base = T.orders(s, dir)
        .select($"o_orderkey", $"o_orderpriority", $"o_totalprice")
      base.filter($"o_orderkey" % 3 === 1)
        .write.mode("overwrite").orc(orcDir)
      base.filter($"o_orderkey" % 3 === 2)
        .write.mode("overwrite").option("header", "false").csv(csvDir)
    }
  }

  /** q171 — the federated relation, aggregated per priority. */
  val q171Federation: Q = (s, dir) => {
    import s.implicits._
    writeFixture(s, dir)
    val (orcDir, csvDir) = legDirs(dir)
    val parquetLeg = T.orders(s, dir)
      .select($"o_orderkey", $"o_orderpriority", $"o_totalprice")
      .filter($"o_orderkey" % 3 === 0)
    val orcLeg = s.read.orc(orcDir)
    val csvLeg = s.read.schema(csvSchema)
      .option("header", "false").csv(csvDir)
    parquetLeg.unionByName(orcLeg).unionByName(csvLeg)
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n_orders"),
        countDistinct($"o_orderkey").as("n_keys"),
        dsl.dsum($"o_totalprice").as("total_price"))
      .orderBy($"o_orderpriority")
  }

  val q171Sql: String =
    s"""SELECT o_orderpriority, COUNT(*) AS n_orders,
       |  COUNT(DISTINCT o_orderkey) AS n_keys,
       |  ${O.dsum("o_totalprice")} AS total_price
       |FROM orders
       |GROUP BY o_orderpriority
       |ORDER BY o_orderpriority""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("q171_federation", q171Federation, q171Sql))
}
