package graft.sources

import graft.SparkSpec
import graft.core.GraftSession.withConfs

/** The persisted-index contract: a term lookup scans exactly one of
  * the N buckets (pruning visible in the plan), and the served phrase
  * counts match the inline q135 computation.
  */
class PostingsIndexSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  test("term lookup scans 1 of N buckets") {
    val t = PostingsIndex.ensureIndex(spark, dir)
    // the auto-bucketed-scan heuristic disables bucketed reading when
    // it sees no JOIN/AGG benefit — for pure lookup pruning the
    // deployment pins it on (the conf a served index would set)
    withConfs(spark,
        "spark.sql.sources.bucketing.autoBucketedScan.enabled" -> "false") {
      val plan = spark.table(t)
        .filter($"tok" === graft.llm.CorpusOps.PhraseFirst)
        .queryExecution.executedPlan.toString
      assert(plan.contains(
        s"SelectedBucketsCount: 1 out of ${PostingsIndex.Buckets}"),
        s"bucket pruning missing from plan:\n$plan")
    }
  }

  test("served phrase counts equal the inline q135 computation") {
    val served = PostingsIndex.q428IndexedPhrase(spark, dir)
      .as[(Long, Long)].collect().toMap
    val inline = graft.llm.CorpusOps.q135PhraseSearch(spark, dir)
      .as[(Long, Long)].collect().toMap
    assert(served == inline,
      s"index round-trip diverged: ${served.size} vs ${inline.size} docs")
  }
}
