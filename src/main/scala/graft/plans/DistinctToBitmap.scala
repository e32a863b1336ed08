package graft.plans

import org.apache.spark.sql.catalyst.expressions.NamedExpression
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.IntegerType

import graft.functions.{BitmapAgg, BitmapCount}

/** Optimizer rule #2 (next to TopKFilterPushdown): rewrite
  * `COUNT(DISTINCT intCol)` into the single-pass Roaring bitmap
  * aggregate `rbm_count(rbm_agg(intCol))`.
  *
  * Why this is a genuine optimization and not a lateral move: Spark
  * plans a single distinct aggregate as TWO aggregation levels — a
  * partial DEDUP keyed (groupKeys, value) that shuffles every distinct
  * (group, value) PAIR, then the count — so shuffle volume goes by the
  * distinct-pair count. The bitmap form is ONE ObjectHashAggregate
  * whose partials ship a compressed bitmap per group: shuffle volume
  * goes by groups × compressed-set size, and the per-row path is a
  * bitmap add instead of a hash-relation probe+insert. Measured on
  * 20M rows, 32 groups, 500k distinct int keys, local[32], warm
  * (BASELINE.md, "Appendix: measurements from the retired probe
  * mains"): default two-level plan 1.08–1.30 s, rewritten
  * bitmap plan 0.48–0.70 s — ~1.9×; the gap goes by
  * rows-per-distinct (the dedup level's input volume).
  *
  * Semantics preserved exactly: COUNT(DISTINCT) ignores nulls — so
  * does rbm_agg; empty input yields 0 — an empty bitmap counts 0;
  * signed int32 keys are raw 32-bit Roaring patterns, so
  * set-of-patterns ≡ set-of-values. The rewrite fires ONLY for
  * IntegerType children (every int32 fits a bitmap key; wider types
  * keep Spark's plan rather than risk the 64-bit key space), and only
  * for DISTINCT counts without filters.
  */
object DistinctToBitmap extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case agg: Aggregate =>
      agg.transformExpressionsDown {
        case AggregateExpression(Count(Seq(c)), mode, true, None, _)
            if c.dataType == IntegerType =>
          BitmapCount(AggregateExpression(
            BitmapAgg(c), mode, isDistinct = false, None,
            NamedExpression.newExprId))
      }
  }
}
