package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graftbridge.PlanBridge

import graft.SparkSpec

/** Round-count pins for every checkpointed convergence loop, on hand
  * graphs and the sf0.001 fixture graphs its own specs use: reading the
  * stop value off the round's own checkpoint must stop each loop at
  * exactly the round a separate count over the frame would.
  */
class FixpointRoundsSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  private lazy val kt: DataFrame =
    PlanBridge.checkpointResetStats(KTruss.ktEdges(spark, dir))

  private lazy val nearDup: DataFrame = PlanBridge.checkpointResetStats(
    BoruvkaMst.jaccardDistEdges(graft.core.Tables.documents(spark, dir))(
      spark))

  test("ConnectedComponents: 6 rounds on the 40-node path") {
    val path = (1L until 40L).map(i => (i, i + 1)).toDF("src", "dst")
    assert(ConnectedComponents.withRounds(path)._2 == 6)
  }

  test("KCore: 2 peels on K4 with a pendant path, 3 on the cascade") {
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L), (5L, 6L)).toDF("u", "v")
    val cascade = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L),
      (3L, 5L), (4L, 5L)).toDF("u", "v")
    assert(KCore.kcore(k4, 3, 12)._2 == 2)
    assert(KCore.kcore(cascade, 3, 12)._2 == 3)
  }

  test("KTruss: q509's 4-truss peel takes 4 rounds") {
    assert(KTruss.peelFixpoint(kt, KTruss.TrussK, kt.count())._3 == 4)
  }

  test("Coreness: 5 H-index rounds") {
    assert(Coreness.coreness(kt)._2 == 5)
  }

  test("JpColoring: 12 rounds") {
    assert(JpColoring.jpColoring(kt)._2 == 12)
  }

  test("LubyMis: 4 rounds") {
    assert(LubyMis.lubyMis(kt)._2 == 4)
  }

  test("Betweenness: the all-sources BFS closes in 6 rounds") {
    assert(Betweenness.bfsClosure(kt)._2 == 6)
  }

  test("BoruvkaMst: 2 engine rounds, at most 3 halving steps") {
    val (_, rounds, halvings) = BoruvkaMst.mstForest(nearDup)
    assert((rounds, halvings) == (2, 3))
  }

  test("Bridges: BFS/climb/parts rounds 3/2/2 on the near-dup graph, " +
      "5/4/3 on the tree+chords graph") {
    assert(Bridges.census(nearDup)._3 == Seq(3, 2, 2))
    assert(Bridges.census(Bridges.treeChordEdges(spark, dir))._3 ==
      Seq(5, 4, 3))
  }

  test("SccColoring: 1 peel of 2 trim / 6 color / 7 harvest rounds, " +
      "a chain trims in 4, the condensation levels settle in 2") {
    val (e, _) = SccColoring.edges(spark, dir)
    val (sccs, rounds) = SccColoring.sccWithRounds(e)
    assert(rounds == Map("peel" -> 1, "trim" -> 2, "color" -> 6,
      "harvest" -> 7))
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (9L, 9L))
      .toDF("u", "v")
    assert(SccColoring.sccWithRounds(chain)._2 == Map("peel" -> 1,
      "trim" -> 4, "color" -> 0, "harvest" -> 0))
    assert(SccColoring.sccLevelsFrom(e, sccs)._2 == 2)
  }

  test("Dbscan: NN-Descent converges in 3 rounds") {
    assert(Dbscan.nndConvergeGraph(spark, dir)._3 == 3L)
  }
}
