package graft.functions

import java.nio.ByteBuffer

import org.roaringbitmap.RoaringBitmap

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types._

/** EXACT distinct-set algebra over compressed Roaring bitmaps — the
  * exact counterpart of the theta-sketch row (q257, on Spark's
  * built-in `theta_sketch_agg`): theta
  * trades exactness for constant state; a Roaring bitmap keeps the SET
  * itself in compressed form (array / bitset / run containers per
  * 2^16-key chunk), so counts, intersections, and unions are exact at
  * any merge order, and a pre-aggregated bitmap CUBE re-aggregates
  * losslessly — per-(key, day) bitmaps OR-fold to per-key totals
  * without touching raw rows again, the thing COUNT(DISTINCT) rollups
  * fundamentally cannot do. This is the audience-overlap /
  * distinct-cube workhorse of the ClickHouse (`groupBitmap*`) / Druid /
  * StarRocks lineage, built on the same RoaringBitmap library Spark
  * already ships for its shuffle-block tracking (Chambi et al.,
  * "Better bitmap performance with Roaring bitmaps").
  *
  * Surface: `rbm_agg(intCol)` folds raw keys to a serialized bitmap;
  * `rbm_or_agg(binCol)` OR-folds serialized bitmaps (the rollup
  * re-aggregator); `rbm_count(b)` / `rbm_and_count(a, b)` /
  * `rbm_or_count(a, b)` read exact cardinalities back as scalars.
  * All registered as SQL functions next to the theta family.
  *
  * Scale shape: both aggregates are ObjectHashAggregate with full
  * partial aggregation — each partition ships one compressed bitmap
  * per group, never raw keys, and OR is associative+commutative so
  * merge order / AQE re-planning cannot change results. State is
  * O(distinct keys in the group) worst case but Roaring-compressed
  * (dense ranges ≈ 2 bytes/key bitset, runs O(1)); the 64-bit key
  * space needs the Roaring64NavigableMap variant — out of scope here,
  * enforced by an explicit range check rather than silent truncation.
  */
object BitmapCodec {

  def serialize(bm: RoaringBitmap): Array[Byte] = {
    bm.runOptimize()
    val out = new Array[Byte](bm.serializedSizeInBytes())
    bm.serialize(ByteBuffer.wrap(out))
    out
  }

  def deserialize(bytes: Array[Byte]): RoaringBitmap = {
    val bm = new RoaringBitmap()
    bm.deserialize(ByteBuffer.wrap(bytes))
    bm
  }
}

/** `rbm_agg(col)` — exact distinct-key bitmap of an integral column
  * (keys must fit in [0, Int.MaxValue]; nulls ignored).
  */
case class BitmapAgg(
    child: Expression,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[RoaringBitmap]
  with UnaryLike[Expression] {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case LongType | IntegerType | ShortType | ByteType =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"rbm_agg: expected an integral column, got $other")
  }

  override def createAggregationBuffer(): RoaringBitmap = new RoaringBitmap()

  override def update(buf: RoaringBitmap, input: InternalRow): RoaringBitmap = {
    val v = child.eval(input)
    if (v != null) child.dataType match {
      case IntegerType =>
        // any int32 fits: Roaring keys are raw 32-bit patterns, and
        // set-of-bit-patterns semantics equals set-of-int-values — the
        // property the DistinctToBitmap rewrite relies on for signed
        // columns
        buf.add(v.asInstanceOf[Int])
      case _ =>
        val l = v.asInstanceOf[Number].longValue()
        require(l >= 0L && l <= Int.MaxValue.toLong,
          s"rbm_agg: key $l outside [0, 2^31-1] — use the 64-bit " +
            "bitmap variant for wider key spaces")
        buf.add(l.toInt)
    }
    buf
  }

  override def merge(buf: RoaringBitmap, other: RoaringBitmap): RoaringBitmap = {
    buf.or(other)
    buf
  }

  override def eval(buf: RoaringBitmap): Any = BitmapCodec.serialize(buf)

  override def serialize(buf: RoaringBitmap): Array[Byte] =
    BitmapCodec.serialize(buf)

  override def deserialize(bytes: Array[Byte]): RoaringBitmap =
    BitmapCodec.deserialize(bytes)

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def prettyName: String = "rbm_agg"

  override def withNewMutableAggBufferOffset(o: Int): BitmapAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): BitmapAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(newChild: Expression): BitmapAgg =
    copy(child = newChild)
}

/** `rbm_or_agg(col)` — OR-fold of serialized bitmaps: re-aggregates
  * a pre-built bitmap cube (per-(key, day) → per-key) without touching
  * raw rows; nulls ignored.
  */
case class BitmapOrAgg(
    child: Expression,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[RoaringBitmap]
  with UnaryLike[Expression] {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"rbm_or_agg: expected a binary bitmap column, got $other")
  }

  override def createAggregationBuffer(): RoaringBitmap = new RoaringBitmap()

  override def update(buf: RoaringBitmap, input: InternalRow): RoaringBitmap = {
    val v = child.eval(input)
    if (v != null) buf.or(BitmapCodec.deserialize(v.asInstanceOf[Array[Byte]]))
    buf
  }

  override def merge(buf: RoaringBitmap, other: RoaringBitmap): RoaringBitmap = {
    buf.or(other)
    buf
  }

  override def eval(buf: RoaringBitmap): Any = BitmapCodec.serialize(buf)

  override def serialize(buf: RoaringBitmap): Array[Byte] =
    BitmapCodec.serialize(buf)

  override def deserialize(bytes: Array[Byte]): RoaringBitmap =
    BitmapCodec.deserialize(bytes)

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def prettyName: String = "rbm_or_agg"

  override def withNewMutableAggBufferOffset(o: Int): BitmapOrAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): BitmapOrAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(newChild: Expression): BitmapOrAgg =
    copy(child = newChild)
}

/** `rbm_count(b)` — exact cardinality of a serialized bitmap. */
case class BitmapCount(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"rbm_count: expected a binary bitmap, got $other")
  }

  def count(bytesAny: Any): Long =
    BitmapCodec.deserialize(bytesAny.asInstanceOf[Array[Byte]])
      .getLongCardinality

  override def nullSafeEval(a: Any): Any = count(a)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bmCount", this, classOf[BitmapCount].getName)
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.count($a);")
  }

  override def prettyName: String = "rbm_count"
  override protected def withNewChildInternal(newChild: Expression): BitmapCount =
    copy(child = newChild)
}

/** `rbm_and_count(a, b)` — exact |A ∩ B| of two serialized bitmaps
  * (no materialized intersection: RoaringBitmap computes the
  * cardinality container-pairwise).
  */
case class BitmapAndCount(left: Expression, right: Expression)
  extends BinaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (BinaryType, BinaryType) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"rbm_and_count: expected two binary bitmaps, got $other")
    }

  def andCount(a: Any, b: Any): Long =
    RoaringBitmap.andCardinality(
      BitmapCodec.deserialize(a.asInstanceOf[Array[Byte]]),
      BitmapCodec.deserialize(b.asInstanceOf[Array[Byte]])).toLong

  override def nullSafeEval(a: Any, b: Any): Any = andCount(a, b)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bmAnd", this, classOf[BitmapAndCount].getName)
    nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = $ref.andCount($a, $b);")
  }

  override def prettyName: String = "rbm_and_count"
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BitmapAndCount =
    copy(left = newLeft, right = newRight)
}

/** `rbm_or_count(a, b)` — exact |A ∪ B| of two serialized bitmaps. */
case class BitmapOrCount(left: Expression, right: Expression)
  extends BinaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (BinaryType, BinaryType) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"rbm_or_count: expected two binary bitmaps, got $other")
    }

  def orCount(a: Any, b: Any): Long =
    RoaringBitmap.orCardinality(
      BitmapCodec.deserialize(a.asInstanceOf[Array[Byte]]),
      BitmapCodec.deserialize(b.asInstanceOf[Array[Byte]])).toLong

  override def nullSafeEval(a: Any, b: Any): Any = orCount(a, b)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bmOr", this, classOf[BitmapOrCount].getName)
    nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = $ref.orCount($a, $b);")
  }

  override def prettyName: String = "rbm_or_count"
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BitmapOrCount =
    copy(left = newLeft, right = newRight)
}
