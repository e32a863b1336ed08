package graft.functions

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.graftbridge.FunctionBridge

/** SQL surface for graft's native Catalyst expressions.
  *
  * Two registration paths, both exposing the same functions so
  * `spark.sql("SELECT simhash64(tokens) FROM ...")` works wherever the
  * Column API does:
  *
  *   1. `spark.sql.extensions=graft.functions.GraftExtensions` at
  *      session build — the standard library-extension hook
  *      (SparkSessionExtensions.injectFunction).
  *   2. [[GraftFunctions.register]] on a live session — for notebooks /
  *      shells created before the library was on the classpath.
  *
  * The builders construct the SAME expression instances the Column API
  * uses (TextFunctions / VectorFunctions), so SQL-spelled calls get
  * identical codegen — no UDF wrapping, full WholeStageCodegen.
  */
object GraftFunctions {

  /** Evaluate a foldable argument to a literal Int (e.g. srp_bucket's
    * plane count and seed must be compile-time constants — the bucket
    * layout is part of the INDEX definition, not per-row data).
    */
  private def intArg(e: Expression, fn: String, pos: Int): Int = e match {
    case Literal(v: Int, _) => v
    case other if other.foldable =>
      other.eval().asInstanceOf[Number].intValue()
    case _ => throw new IllegalArgumentException(
      s"$fn: argument $pos must be a constant integer")
  }

  private def arity(fn: String, args: Seq[Expression], n: Int): Unit =
    require(args.length == n, s"$fn expects $n arguments, got ${args.length}")

  /** (name, info, builder) descriptions for all graft SQL functions. */
  val descriptions: Seq[(FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("simhash64"),
      new ExpressionInfo(classOf[SimHash64].getName, "simhash64"),
      (args: Seq[Expression]) => {
        arity("simhash64", args, 1); SimHash64(args.head)
      }),
    (FunctionIdentifier("nfc_normalize"),
      new ExpressionInfo(classOf[NfcNormalize].getName, "nfc_normalize"),
      (args: Seq[Expression]) => {
        arity("nfc_normalize", args, 1); NfcNormalize(args.head)
      }),
    (FunctionIdentifier("dot_f32"),
      new ExpressionInfo(classOf[DotProductF32].getName, "dot_f32"),
      (args: Seq[Expression]) => {
        arity("dot_f32", args, 2); DotProductF32(args(0), args(1))
      }),
    (FunctionIdentifier("dot_q20"),
      new ExpressionInfo(classOf[DotProductQ20].getName, "dot_q20"),
      (args: Seq[Expression]) => {
        arity("dot_q20", args, 2); DotProductQ20(args(0), args(1))
      }),
    (FunctionIdentifier("jaro_winkler"),
      new ExpressionInfo(classOf[JaroWinkler].getName, "jaro_winkler"),
      (args: Seq[Expression]) => {
        arity("jaro_winkler", args, 2); JaroWinkler(args(0), args(1))
      }),
    (FunctionIdentifier("srp_bucket"),
      new ExpressionInfo(classOf[SrpBucket].getName, "srp_bucket"),
      (args: Seq[Expression]) => {
        arity("srp_bucket", args, 3)
        SrpBucket(args.head,
          intArg(args(1), "srp_bucket", 1), intArg(args(2), "srp_bucket", 2))
      }),
    (FunctionIdentifier("mg_topk"),
      new ExpressionInfo(classOf[MisraGriesTopK].getName, "mg_topk"),
      (args: Seq[Expression]) => {
        arity("mg_topk", args, 2)
        MisraGriesTopK(args.head, intArg(args(1), "mg_topk", 1))
      }),
    (FunctionIdentifier("cms_estimate"),
      new ExpressionInfo(classOf[CmsEstimate].getName, "cms_estimate"),
      (args: Seq[Expression]) => {
        arity("cms_estimate", args, 2); CmsEstimate(args(0), args(1))
      }),
    (FunctionIdentifier("hilbert_xy2d"),
      new ExpressionInfo(classOf[HilbertXY2D].getName, "hilbert_xy2d"),
      (args: Seq[Expression]) => {
        arity("hilbert_xy2d", args, 2); HilbertXY2D(args(0), args(1))
      }),
    (FunctionIdentifier("count_values"),
      new ExpressionInfo(classOf[CountValues].getName, "count_values"),
      (args: Seq[Expression]) => {
        arity("count_values", args, 1); CountValues(args.head)
      }),
    (FunctionIdentifier("rbm_agg"),
      new ExpressionInfo(classOf[BitmapAgg].getName, "rbm_agg"),
      (args: Seq[Expression]) => {
        arity("rbm_agg", args, 1); BitmapAgg(args.head)
      }),
    (FunctionIdentifier("rbm_or_agg"),
      new ExpressionInfo(classOf[BitmapOrAgg].getName, "rbm_or_agg"),
      (args: Seq[Expression]) => {
        arity("rbm_or_agg", args, 1); BitmapOrAgg(args.head)
      }),
    (FunctionIdentifier("rbm_count"),
      new ExpressionInfo(classOf[BitmapCount].getName, "rbm_count"),
      (args: Seq[Expression]) => {
        arity("rbm_count", args, 1); BitmapCount(args.head)
      }),
    (FunctionIdentifier("rbm_and_count"),
      new ExpressionInfo(classOf[BitmapAndCount].getName, "rbm_and_count"),
      (args: Seq[Expression]) => {
        arity("rbm_and_count", args, 2)
        BitmapAndCount(args(0), args(1))
      }),
    (FunctionIdentifier("rbm_or_count"),
      new ExpressionInfo(classOf[BitmapOrCount].getName, "rbm_or_count"),
      (args: Seq[Expression]) => {
        arity("rbm_or_count", args, 2)
        BitmapOrCount(args(0), args(1))
      }),
    (FunctionIdentifier("reservoir_sample"),
      new ExpressionInfo(classOf[ReservoirSample].getName, "reservoir_sample"),
      (args: Seq[Expression]) => {
        arity("reservoir_sample", args, 2)
        ReservoirSample(args.head, intArg(args(1), "reservoir_sample", 1))
      }),
    (FunctionIdentifier("deflate_len"),
      new ExpressionInfo(classOf[DeflateLen].getName, "deflate_len"),
      (args: Seq[Expression]) => {
        arity("deflate_len", args, 1); DeflateLen(args.head)
      }),
  )

  /** Register all graft SQL functions on a live session. */
  def register(spark: SparkSession): Unit =
    descriptions.foreach { case (id, info, builder) =>
      FunctionBridge.register(spark, id.funcName, info, builder)
    }
}

/** `spark.sql.extensions` entry point: SQL functions + the custom
  * whole-operator planner strategy ([[graft.plans.TopKStrategy]]).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.descriptions.foreach(ext.injectFunction)
    ext.injectPlannerStrategy(_ => graft.plans.TopKStrategy)
    ext.injectPlannerStrategy(_ => graft.plans.AsOfStrategy)
    ext.injectOptimizerRule(_ => graft.plans.TopKFilterPushdown)
    ext.injectOptimizerRule(_ => graft.plans.DistinctToBitmap)
  }
}
