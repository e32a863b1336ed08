package graft.relational

import graft.SparkSpec
import graft.core.GraftSession.withConfs
import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan}

/** Pins that q183's catalog statistics actually CHANGE the plan: with
  * ANALYZE'd stats and CBO on, the join reorderer puts the selective
  * supplier edge at the bottom of the tree; with CBO off the plan stays
  * in the written (bad) order, lineitem⋈orders first. Results must be
  * identical either way — the optimization is order, not semantics.
  */
class CboJoinReorderSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  /** Table names referenced by the bottom-most join of the plan. */
  private def bottomJoinTables(plan: LogicalPlan): Set[String] = {
    val bottoms = plan.collect {
      case j: Join if !j.left.exists(_.isInstanceOf[Join]) &&
          !j.right.exists(_.isInstanceOf[Join]) => j
    }
    assert(bottoms.nonEmpty, s"no leaf join in:\n$plan")
    bottoms.flatMap(_.collectLeaves().map(_.toString)).flatMap { leaf =>
      Seq("lineitem", "orders", "supplier").filter(leaf.contains)
    }.toSet
  }

  test("ANALYZE'd stats + CBO flip the join order; the answer is unchanged") {
    TableStatsQueries.prepareCboTables(spark, dir)
    val (cboBottom, cboRows) = withConfs(spark, TableStatsQueries.CboConfs: _*) {
      val df = spark.sql(TableStatsQueries.CboJoinSql)
      (bottomJoinTables(df.queryExecution.optimizedPlan),
        df.collect().map(_.toSeq).toSeq)
    }
    // withConfs restored the session's prior conf, so this is the
    // statistics-blind default path
    val blind = spark.sql(TableStatsQueries.CboJoinSql)
    val blindBottom = bottomJoinTables(blind.queryExecution.optimizedPlan)
    val blindRows = blind.collect().map(_.toSeq).toSeq

    assert(blindBottom == Set("lineitem", "orders"),
      s"without CBO the written order should hold: $blindBottom")
    assert(cboBottom == Set("lineitem", "supplier"),
      s"with stats the selective supplier edge should join first: $cboBottom")
    assert(cboRows == blindRows, "reorder changed the answer")
    assert(cboRows.nonEmpty)
  }
}
