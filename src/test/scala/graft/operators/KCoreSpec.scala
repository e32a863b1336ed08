package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

class KCoreSpec extends SparkSpec {
  import spark.implicits._

  private def core(edges: Seq[(Long, Long)], k: Int) =
    KCore.kcore(edges.toDF("u", "v"), k, rounds = 12)._1
      .as[(Long, Long)].collect().toMap

  test("K4 with pendant path: 3-core is exactly the K4") {
    // K4 on {1,2,3,4}; 4-5-6 path hangs off — peels away entirely
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L), (5L, 6L))
    val c = core(edges, 3)
    assert(c.keySet === Set(1L, 2L, 3L, 4L))
    assert(c.values.toSet === Set(3L)) // K4 in-core degrees
  }

  test("cascade: removing one low-degree node unravels a chain") {
    // triangle {1,2,3}; 4 attached to 2,3; 5 attached to 3,4 — for
    // k=3 everything eventually peels (no subgraph has min degree 3)
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L),
      (3L, 5L), (4L, 5L))
    assert(core(edges, 3).isEmpty)
  }

  test("2-core keeps every cycle, drops every tree limb") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), // cycle
      (3L, 4L), (4L, 5L)) // limb
    val c = core(edges, 2)
    assert(c.keySet === Set(1L, 2L, 3L))
  }

  test("core invariant on the fixture graph: min in-core degree >= k") {
    val dir = "/root/testdata/sf0.001"
    val out = KCore.q294KCore(spark, dir)
    val bad = out.filter(col("core_deg") < KCore.KCoreK).count()
    assert(bad === 0)
  }
}
