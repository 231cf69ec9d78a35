package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, XxHash64Function}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.trees.{BinaryLike, UnaryLike}
import org.apache.spark.sql.types._

/** PROF-2b — Count-Min sketch as first-class mergeable aggregate state,
  * built for JOIN-SIZE ESTIMATION via the sketch inner product.
  *
  * The planner question at 100 TB is "how many rows will this join
  * produce?" — the answer is the frequency-vector inner product
  * Σ_k cntA(k)·cntB(k), which is exactly what decides broadcast vs
  * shuffle vs salt (join13) before paying for the join. Computing it
  * exactly needs a groupBy per side (shuffle ~|keys| rows, the prof2
  * query); a CMS of each side answers it from FIXED-size state:
  * est = min_i Σ_j A[i][j]·B[i][j] over the d rows (Cormode & Muthu-
  * krishnan 2005, §4.2). Estimates are biased UP only (colliding keys
  * add non-negative cross terms), and est ≤ exact + (e/w)·N_A·N_B with
  * probability 1−e^−d — ApproxSpec pins both sides of that contract.
  *
  * Execution is a TypedImperativeAggregate (like [[DdsAgg]]) whose
  * partial state (d×w longs, ~80 KB at the defaults) merges by element-
  * wise add, so map-side combine ships one sketch per task across the
  * shuffle, never rows. Layout: serialized as [depth, w0 counts…,
  * w1 counts…]; row hashes are xxhash64(key, seed=row) — the same
  * public hash family the engine already uses for minhash/fingerprints.
  */
case class CmsAgg(
    child: Expression,
    depth: Int = 5,
    width: Int = 2048,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] with UnaryLike[Expression] {

  require(depth >= 1 && width >= 2, s"cms_sketch_agg($depth, $width)")

  override def prettyName: String = "cms_sketch_agg"
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case LongType | IntegerType | ShortType | ByteType =>
      TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"cms_sketch_agg expects an integral key, got ${t.catalogString}")
  }

  // slot 0 carries depth so the scalar side needs no config coupling;
  // stamped at CREATION, not first update — an empty partition's sketch
  // must still carry its shape (PropertySpec found the update-only stamp
  // crashing the inner product on empty sides)
  override def createAggregationBuffer(): Array[Long] = {
    val buf = new Array[Long](1 + depth * width)
    buf(0) = depth
    buf
  }

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
      var i = 0
      while (i < depth) {
        val h = XxHash64Function.hash(key, LongType, i.toLong)
        val bucket = (h % width + width) % width
        buf(1 + i * width + bucket.toInt) += 1
        i += 1
      }
    }
    buf
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 1
    while (i < a.length) { a(i) += b(i); i += 1 }
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

  override def withNewMutableAggBufferOffset(o: Int): CmsAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): CmsAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(c: Expression): CmsAgg =
    copy(child = c)
}

/** `cms_inner_product(a, b) -> bigint` — join-cardinality estimate
  * Σ_k cntA(k)·cntB(k) from two same-shape CMS sketches: min over hash
  * rows of the row-wise counter dot product. Runs on 1-row final stages
  * (one pair of sketches), not a hot path — CodegenFallback is fine. */
case class CmsInnerProduct(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback with BinaryLike[Expression] {
  override def prettyName: String = "cms_inner_product"
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (BinaryType, BinaryType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"cms_inner_product expects (binary, binary), got " +
          s"(${l.catalogString}, ${r.catalogString})")
    }
  override def nullSafeEval(ab: Any, bb: Any): Any = {
    def longs(x: Any): Array[Long] = {
      val buf = ByteBuffer.wrap(x.asInstanceOf[Array[Byte]])
      Array.fill(x.asInstanceOf[Array[Byte]].length / 8)(buf.getLong)
    }
    val a = longs(ab); val b = longs(bb)
    require(a.length == b.length && a(0) == b(0),
      s"sketch shapes differ: ${a.length}/${a(0)} vs ${b.length}/${b(0)}")
    val depth = a(0).toInt
    val width = (a.length - 1) / depth
    var best = Long.MaxValue
    var i = 0
    while (i < depth) {
      var dot = 0L
      var j = 0
      while (j < width) {
        dot += a(1 + i * width + j) * b(1 + i * width + j)
        j += 1
      }
      if (dot < best) best = dot
      i += 1
    }
    best
  }
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): CmsInnerProduct = copy(l, r)
}

/** Static probe kernel for [[CmsEstimate]] — a standalone object so the
  * generated Java can call the static forwarder
  * `graft.functions.CmsProbe.estimate(bytes, key)` directly. Reads counters
  * straight off the serialized sketch (ByteBuffer.wrap is a view, not a
  * copy) — no per-row deserialization. */
object CmsProbe {
  def estimate(bytes: Array[Byte], key: Long): Long = {
    val bb = ByteBuffer.wrap(bytes)
    val depth = bb.getLong(0).toInt
    val width = (bytes.length / 8 - 1) / depth
    var best = Long.MaxValue
    var i = 0
    while (i < depth) {
      val h = XxHash64Function.hash(key, LongType, i.toLong)
      val bucket = ((h % width + width) % width).toInt
      val c = bb.getLong((1 + i * width + bucket) * 8)
      if (c < best) best = c
      i += 1
    }
    best
  }
}

/** `cms_estimate(sketch, key) -> bigint` — point-frequency estimate
  * min_i counts[i][h_i(key)] from a [[CmsAgg]] sketch. UNLIKE the 1-row
  * inner product, this probe runs PER CANDIDATE ROW (agg17b estimates
  * every heavy-hitter candidate against a broadcast sketch — millions of
  * rows at 100 TB), so it participates in whole-stage codegen via a
  * static-kernel call instead of falling back to interpreted eval or a
  * ScalaUDF (the shape join12b's bloom_might_contain already proved out;
  * PlanSpec asserts the codegen span). */
case class CmsEstimate(left: Expression, right: Expression)
    extends BinaryExpression with BinaryLike[Expression] {
  override def prettyName: String = "cms_estimate"
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (BinaryType, LongType | IntegerType | ShortType | ByteType) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"cms_estimate expects (binary, integral), got " +
          s"(${l.catalogString}, ${r.catalogString})")
    }
  override def nullSafeEval(b: Any, k: Any): Any = {
    val key = k match {
      case l: Long => l
      case i: Int => i.toLong
      case s: Short => s.toLong
      case by: Byte => by.toLong
      case other => throw new IllegalStateException(s"bad key $other")
    }
    CmsProbe.estimate(b.asInstanceOf[Array[Byte]], key)
  }
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
  : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    defineCodeGen(ctx, ev, (b, k) =>
      s"graft.functions.CmsProbe.estimate($b, (long)($k))")
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): CmsEstimate = copy(l, r)
}
