package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.trees.{BinaryLike, UnaryLike}
import org.apache.spark.sql.types._

/** AGG-28 — EXACT distinct sets as mergeable bitmap aggregate state (the
  * warehouse bitmap-index pattern: Doris/ClickHouse `bitmap_union`,
  * Druid's bitmap indexes, roaring bitmaps — here a dense fixed-domain
  * bitset, the degenerate roaring container, because the lake's entity
  * keys are dense integers).
  *
  * Positioning in the sketch family: HLL (agg16/19/21) answers distinct
  * counts approximately in KB of state and CANNOT intersect exactly
  * (inclusion–exclusion compounds error — agg19 documents it); the exact
  * answer via Spark's count_distinct expands rows through the shuffle.
  * A bitmap is the third point on that curve: EXACT, fixed-size state
  * (domain/8 bytes — 32 KB for a 2^18 key space), bitwise-OR merge so
  * map-side combine ships ONE bitmap per task, and set ALGEBRA on final
  * states: exact intersections/differences of distinct sets from a
  * one-pass scan, the query family HLL fundamentally cannot serve.
  *
  * Domain is a declared literal bound; out-of-range keys FAIL LOUDLY
  * (a bitmap over a bounded domain must never silently drop — resize or
  * re-key instead). Serialized form: the raw bitset words.
  */
case class BitmapAgg(
    child: Expression,
    maxKey: Int,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] with UnaryLike[Expression] {

  require(maxKey >= 0 && maxKey < (1 << 26),
    s"bitmap_agg domain [0, $maxKey] out of supported range (dense bitset" +
      " caps at 2^26 = 8 MB state; re-key or shard beyond that)")

  override def prettyName: String = "bitmap_agg"
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case LongType | IntegerType | ShortType | ByteType =>
      TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"bitmap_agg expects an integral key, got ${t.catalogString}")
  }

  override def createAggregationBuffer(): Array[Long] =
    new Array[Long]((maxKey >> 6) + 1)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val key = v match {
        case l: Long => l
        case i: Int => i.toLong
        case s: Short => s.toLong
        case b: Byte => b.toLong
        case other => throw new IllegalStateException(s"bad key $other")
      }
      require(key >= 0 && key <= maxKey,
        s"bitmap_agg key $key outside declared domain [0, $maxKey]")
      buf((key >> 6).toInt) |= 1L << (key & 63)
    }
    buf
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < a.length) { a(i) |= b(i); i += 1 }
    a
  }

  override def eval(buf: Array[Long]): Any = serialize(buf)

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(buf.length * 8)
    buf.foreach(bb.putLong)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = ByteBuffer.wrap(bytes)
    Array.fill(bytes.length / 8)(bb.getLong)
  }

  override def withNewMutableAggBufferOffset(o: Int): BitmapAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): BitmapAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(c: Expression): BitmapAgg =
    copy(child = c)
}

/** `bitmap_cardinality(binary) -> bigint` — exact |set|: popcount over the
  * words. Runs on O(groups) final rows, not a hot path. */
case class BitmapCardinality(child: Expression)
    extends UnaryExpression with CodegenFallback with UnaryLike[Expression] {
  override def prettyName: String = "bitmap_cardinality"
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"bitmap_cardinality expects binary, got ${t.catalogString}")
  }
  override def nullSafeEval(x: Any): Any = {
    val bytes = x.asInstanceOf[Array[Byte]]
    val bb = ByteBuffer.wrap(bytes)
    var n = 0L
    var i = 0
    while (i < bytes.length / 8) {
      n += java.lang.Long.bitCount(bb.getLong(i * 8))
      i += 1
    }
    n
  }
  override protected def withNewChildInternal(c: Expression): BitmapCardinality =
    copy(child = c)
}

/** `bitmap_and_cardinality(a, b) -> bigint` — exact |A ∩ B| from two
  * same-domain bitmaps: the set-algebra query HLL cannot answer exactly
  * (agg19's inclusion–exclusion carries compounded error; this is the
  * same question with zero error from the same one-pass scan shape). */
case class BitmapAndCardinality(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback with BinaryLike[Expression] {
  override def prettyName: String = "bitmap_and_cardinality"
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (BinaryType, BinaryType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"bitmap_and_cardinality expects (binary, binary), got " +
          s"(${l.catalogString}, ${r.catalogString})")
    }
  override def nullSafeEval(ab: Any, bb0: Any): Any = {
    val a = ab.asInstanceOf[Array[Byte]]
    val b = bb0.asInstanceOf[Array[Byte]]
    require(a.length == b.length,
      s"bitmap domains differ: ${a.length * 8} vs ${b.length * 8} bits")
    val ba = ByteBuffer.wrap(a)
    val bbuf = ByteBuffer.wrap(b)
    var n = 0L
    var i = 0
    while (i < a.length / 8) {
      n += java.lang.Long.bitCount(ba.getLong(i * 8) & bbuf.getLong(i * 8))
      i += 1
    }
    n
  }
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): BitmapAndCardinality = copy(l, r)
}
