package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.relational.SketchAggregates.kllQuantiles

/** Contracts q220 relies on from Spark's KLL sketch
  * (`kll_sketch_agg_double`) and q220's read path
  * ([[graft.relational.SketchAggregates.kllQuantiles]]).
  */
class KllSketchSpec extends AnyFunSuite with SparkSpec {

  private def maxRankErr(data: Array[Double], qs: Seq[Double]): Double = {
    val n = data.length
    val nq = qs.length - 1
    (0 to nq).map { j =>
      val r = data.count(_ <= qs(j)).toDouble
      math.abs(r - n.toDouble * j / nq) / n
    }.max
  }

  /** Deterministic pseudo-random stream (LCG) — reproducible specs. */
  private def lcg(n: Int, seed: Long = 42L): Array[Double] = {
    var x = seed
    Array.fill(n) {
      x = x * 6364136223846793005L + 1442695040888963407L
      (x >>> 11).toDouble / (1L << 53).toDouble
    }
  }

  /** (n, deciles) of one sketch column over a one-row frame. */
  private def read(df: DataFrame, sk: Column): (Long, Seq[Double]) = {
    val row = df.select(kll_sketch_get_n_double(sk),
      kllQuantiles(sk, 10)).first()
    (row.getLong(0), row.getSeq[Double](1))
  }

  private def sketched(data: Array[Double], k: Int): (Long, Seq[Double]) = {
    import spark.implicits._
    read(data.toSeq.toDF("value").repartition(4)
      .agg(kll_sketch_agg_double($"value", k).as("sk")), $"sk")
  }

  test("exact below capacity") {
    val data = lcg(200)
    val (n, qs) = sketched(data, 256)
    assert(n === 200L)
    // no compaction has happened: every decile is an exact order statistic
    assert(maxRankErr(data, qs) <= 1.0 / 200 + 1e-9)
  }

  test("rank error bound on random data") {
    val data = lcg(50000)
    val (n, qs) = sketched(data, 200)
    assert(n === 50000L)
    val err = maxRankErr(data, qs)
    assert(err <= 0.03, s"rank error $err")
  }

  test("rank error bound on sorted (adversarial) input") {
    val data = Array.tabulate(50000)(_.toDouble)
    val (_, qs) = sketched(data, 200)
    val err = maxRankErr(data, qs)
    assert(err <= 0.03, s"rank error $err on sorted input")
  }

  test("merge tree matches the bound and preserves weight exactly") {
    import spark.implicits._
    val data = lcg(60000, seed = 7L)
    val chunks = data.grouped(9000).toSeq.zipWithIndex
      .flatMap { case (c, i) => c.map((i, _)) }.toDF("chunk", "value")
      .groupBy($"chunk").agg(kll_sketch_agg_double($"value", 200).as("sk"))
      .orderBy($"chunk").as[(Int, Array[Byte])].collect().map(_._2)
    assert(chunks.length === 7)
    // unbalanced fold merge (worst-ish tree shape)
    val root = chunks.tail.foldLeft(lit(chunks.head)) { (acc, b) =>
      kll_sketch_merge_double(acc, lit(b))
    }
    val (n, qs) = read(spark.range(1).toDF(), root)
    assert(n === data.length.toLong)
    val err = maxRankErr(data, qs)
    assert(err <= 0.03, s"rank error $err after merges")
  }

  test("grouped SQL aggregate honors the bound per group") {
    import spark.implicits._
    val n = 20000
    val df = lcg(n, seed = 11L).zipWithIndex
      .map { case (v, i) => (i % 3, v) }.toSeq.toDF("g", "value")
      .repartition(8)
    val rows = df.groupBy($"g")
      .agg(kll_sketch_agg_double($"value", 128).as("sk"),
        count(lit(1)).as("cnt"))
      .select($"g", kllQuantiles($"sk", 4), $"cnt")
      .collect()
    assert(rows.length === 3)
    val byGroup = lcg(n, seed = 11L).zipWithIndex
      .groupBy { case (_, i) => i % 3 }
    rows.foreach { row =>
      val g = row.getInt(0)
      val qs = row.getSeq[Double](1)
      val cnt = row.getLong(2)
      val data = byGroup(g).map(_._1)
      assert(cnt === data.length.toLong)
      assert(qs.length === 5)
      (0 to 4).foreach { j =>
        val r = data.count(_ <= qs(j)).toDouble
        assert(math.abs(r - data.length.toDouble * j / 4) <= 0.05 * data.length,
          s"group $g decile $j off")
      }
    }
  }

  test("all-null group evaluates to NULL") {
    import spark.implicits._
    val df = Seq((1, Option.empty[Double]), (1, None), (2, Some(5.0)))
      .toDF("g", "value")
    val rows = df.groupBy($"g")
      .agg(kll_sketch_agg_double($"value", 32).as("sk"))
      .select($"g", kllQuantiles($"sk", 2))
      .orderBy($"g").collect()
    assert(rows(0).isNullAt(1))
    assert(rows(1).getSeq[Double](1) === Seq(5.0, 5.0, 5.0))
  }
}
