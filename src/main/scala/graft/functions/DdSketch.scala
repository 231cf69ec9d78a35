package graft.functions

import java.nio.ByteBuffer

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.trees.{BinaryLike, UnaryLike}
import org.apache.spark.sql.types._

/** AGG-23 — DDSketch-style quantile sketch (Masson/Rim/Lee, VLDB 2019) as
  * first-class mergeable aggregate state: the QUANTILE complement to the
  * engine's cardinality sketches (HLL agg16, Spark's theta agg22, CMS prof2b).
  *
  * Why this sketch and not t-digest / built-in approx_percentile: the
  * log-bucket mapping `i = ⌈ln(x)/ln(γ)⌉`, γ = (1+α)/(1−α) is
  * DETERMINISTIC and INSERTION-ORDER-FREE — the sketch of a dataset is a
  * pure function of its multiset of values, so (a) two engines that agree
  * on `ln` produce bit-identical sketches (the driver's DuckDB oracle
  * replicates the bucketing in plain SQL and hash-matches, something
  * impossible for t-digest whose centroids depend on merge order), and
  * (b) merge is bucket-wise ADD — associative, commutative, lossless:
  * sketch(A ⊎ B) is byte-identical to merge(sketch(A), sketch(B))
  * (DdsSpec pins this as an equality, not a tolerance). The price is the
  * guarantee being RELATIVE error α on the quantile VALUE (γ-geometric
  * buckets), which is exactly what price/latency/size distributions want.
  *
  * Execution (100 TB posture): a TypedImperativeAggregate whose partial
  * state is the bucket→count map — map-side combine ships one sketch
  * (O(log_γ(max/min)) ≈ a few hundred 12-byte entries) per task across
  * the shuffle, never rows. At α = 1% the full positive double range
  * needs < 36k buckets, and a real column's range spans a few hundred —
  * KB-scale state like the other sketch families. The scalar quantile
  * expressions run on 1-row final stages (CodegenFallback fine).
  *
  * Cross-engine protocol (why the oracle can hash-match an "approximate"
  * operator): bucket indices are exact BIGINTs (empirically 0 mismatches
  * over all 583k distinct sf0.1 prices between JVM `Math.log` and
  * DuckDB's libm `LN`); the estimate 2γⁱ/(γ+1) is rounded to 2 dp
  * because `pow` DOES differ by 1 ulp between libms (2/2001 indices
  * tested); ranks use integer arithmetic `⌊q·(n−1)⌋ = q₄·(n−1) div 10⁴`
  * (q at 4-decimal precision) matching DuckDB's exact DECIMAL literals.
  */
object DdSketch {
  /** Serialized layout: [gammaBits: Long][zeroCount: Long][m: Int]
    * [(idx: Int, count: Long) × m, sorted by idx]. Sorted order makes the
    * bytes a canonical function of the multiset (merge-path-independent —
    * DdsSpec compares serialized sketches with ===). */
  def serialize(gamma: Double, zero: Long, buckets: mutable.LongMap[Long]): Array[Byte] = {
    val idxs = buckets.keys.toArray.sorted
    val buf = ByteBuffer.allocate(8 + 8 + 4 + idxs.length * 12)
    buf.putLong(java.lang.Double.doubleToLongBits(gamma))
    buf.putLong(zero)
    buf.putInt(idxs.length)
    idxs.foreach { i =>
      // the wire format carries Int indices; DdsAgg's alpha floor keeps
      // every reachable index far inside that range — fail loudly rather
      // than wrap if that invariant is ever violated
      require(i == i.toInt.toLong, s"dds bucket index $i exceeds Int range")
      buf.putInt(i.toInt); buf.putLong(buckets(i))
    }
    buf.array()
  }

  def deserialize(bytes: Array[Byte]): (Double, Long, mutable.LongMap[Long]) = {
    val buf = ByteBuffer.wrap(bytes)
    val gamma = java.lang.Double.longBitsToDouble(buf.getLong)
    val zero = buf.getLong
    val m = buf.getInt
    val map = mutable.LongMap.empty[Long]
    var i = 0
    while (i < m) { val idx = buf.getInt; map(idx.toLong) = buf.getLong; i += 1 }
    (gamma, zero, map)
  }

  /** Total count (zero + all buckets). */
  def count(bytes: Array[Byte]): Long = {
    val (_, zero, map) = deserialize(bytes)
    zero + map.values.sum
  }

  /** Quantile bucket index for q (4-decimal precision): the smallest
    * bucket whose cumulative count reaches rank ⌊q·(n−1)⌋ + 1, zeros
    * (x ≤ 0 tallied in zeroCount) ranking below every positive bucket.
    * Long.MinValue encodes "rank falls in the zero bucket". Boxed so an
    * EMPTY sketch (a group whose values were all NULL — DdsAgg skips
    * nulls but still emits state) yields SQL NULL instead of crashing
    * the query. */
  def quantileBucket(bytes: Array[Byte], q: Double): java.lang.Long = {
    val (_, zero, map) = deserialize(bytes)
    val n = zero + map.values.sum
    if (n == 0) return null
    val q4 = Math.round(q * 10000)
    require(q4 >= 0 && q4 <= 10000, s"quantile out of [0,1]: $q")
    val rank = q4 * (n - 1) / 10000 + 1 // 1-based target rank, exact
    if (rank <= zero) return Long.MinValue
    var cum = zero
    for (idx <- map.keys.toArray.sorted) {
      cum += map(idx)
      if (cum >= rank) return idx
    }
    throw new IllegalStateException("unreachable: rank exceeds count")
  }

  /** Quantile value estimate: bucket midpoint 2γⁱ/(γ+1) rounded to 2 dp
    * (see cross-engine protocol above); 0.0 for the zero bucket; NULL for
    * an empty sketch. */
  def quantileValue(bytes: Array[Byte], q: Double): java.lang.Double = {
    val (gamma, _, _) = deserialize(bytes)
    val i = quantileBucket(bytes, q)
    if (i == null) null
    else if (i.longValue == Long.MinValue) 0.0
    else Math.round(2.0 * Math.pow(gamma, i.toDouble) / (gamma + 1) * 100.0) / 100.0
  }

  /** CDF: fraction of tallied values with bucket index ≤ bucket(x) —
    * the inverse of the quantile query ("what share of prices are ≤ x").
    * Deterministic: an integer cumulative count divided by an integer
    * total, both pure functions of the multiset, so a SQL oracle that
    * replicates the bucketing reproduces the double EXACTLY (one IEEE
    * division of identical integers). x ≤ 0 counts just the zero bucket. */
  def cdf(bytes: Array[Byte], x: Double): java.lang.Double = {
    val (gamma, zero, map) = deserialize(bytes)
    val n = zero + map.values.sum
    if (n == 0) return null
    val cum =
      if (x <= 0 || x.isNaN) zero
      else {
        val xi = Math.ceil(Math.log(x) / Math.log(gamma)).toLong
        zero + map.iterator.collect { case (i, c) if i <= xi => c }.sum
      }
    cum.toDouble / n.toDouble
  }
}

/** `dds_sketch_agg(x[, alpha]) -> binary` — build the sketch over a double
  * column; x ≤ 0 and NaN land in the zero bucket (the data-plane columns
  * this serves — prices, sizes, latencies — are positive). */
case class DdsAgg(
    child: Expression,
    alpha: Double = 0.01,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[(Array[Long], mutable.LongMap[Long])]
  with UnaryLike[Expression] {

  // floor at 1e-6: below ~2e-7 the index ⌈ln(x)/ln(γ)⌉ can exceed Int
  // range and the wire format (Int indices) could not hold it
  require(alpha >= 1e-6 && alpha < 1, s"dds_sketch_agg alpha out of [1e-6,1): $alpha")

  private val gamma = (1 + alpha) / (1 - alpha)
  // DIVISION, not reciprocal-multiply: ⌈ln(x)/ln(γ)⌉ is the cross-engine
  // contract (verified 0/583k mismatches vs DuckDB); x·(1/y) rounds twice
  // and can land the ratio on the other side of an integer
  private val logGamma = Math.log(gamma)

  override def prettyName: String = "dds_sketch_agg"
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case DoubleType | FloatType | LongType | IntegerType | ShortType | ByteType =>
      TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"dds_sketch_agg expects a numeric column, got ${t.catalogString}")
  }

  // buffer = (1-cell zero-count box, bucket map) — the box dodges an
  // immutable-tuple rebuild per row
  override def createAggregationBuffer(): (Array[Long], mutable.LongMap[Long]) =
    (new Array[Long](1), mutable.LongMap.empty[Long])

  override def update(
      buf: (Array[Long], mutable.LongMap[Long]),
      input: InternalRow): (Array[Long], mutable.LongMap[Long]) = {
    val v = child.eval(input)
    if (v != null) {
      val x = v match {
        case d: Double => d
        case f: Float => f.toDouble
        case l: Long => l.toDouble
        case i: Int => i.toDouble
        case s: Short => s.toDouble
        case b: Byte => b.toDouble
        case other => throw new IllegalStateException(s"bad input $other")
      }
      if (x > 0 && !x.isNaN && !x.isInfinite) {
        val idx = Math.ceil(Math.log(x) / logGamma).toLong
        buf._2(idx) = buf._2.getOrElse(idx, 0L) + 1
      } else buf._1(0) += 1
    }
    buf
  }

  override def merge(
      buf: (Array[Long], mutable.LongMap[Long]),
      other: (Array[Long], mutable.LongMap[Long])): (Array[Long], mutable.LongMap[Long]) = {
    buf._1(0) += other._1(0)
    other._2.foreach { case (i, c) => buf._2(i) = buf._2.getOrElse(i, 0L) + c }
    buf
  }

  override def eval(buf: (Array[Long], mutable.LongMap[Long])): Any =
    DdSketch.serialize(gamma, buf._1(0), buf._2)

  override def serialize(buf: (Array[Long], mutable.LongMap[Long])): Array[Byte] =
    DdSketch.serialize(gamma, buf._1(0), buf._2)

  override def deserialize(bytes: Array[Byte]): (Array[Long], mutable.LongMap[Long]) = {
    val (_, zero, map) = DdSketch.deserialize(bytes)
    (Array(zero), map)
  }

  override def withNewMutableAggBufferOffset(o: Int): DdsAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): DdsAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(c: Expression): DdsAgg =
    copy(child = c)
}

/** `dds_merge_agg(sketch) -> binary` — re-aggregate persisted sketches
  * (bucket-wise add; lossless). The lakehouse rollup path: per-slice
  * sketches persist once, any coarser slice is answered from sketch-sized
  * state without rescanning rows (the agg21 rolling-HLL shape, for
  * quantiles). */
case class DdsMergeAgg(
    child: Expression,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[(Array[Long], mutable.LongMap[Long])]
  with UnaryLike[Expression] {

  override def prettyName: String = "dds_merge_agg"
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"dds_merge_agg expects binary sketches, got ${t.catalogString}")
  }

  // gammaBits of the first sketch seen rides in slot 1 (0 = none yet);
  // merging sketches of different alpha is a contract violation
  override def createAggregationBuffer(): (Array[Long], mutable.LongMap[Long]) =
    (new Array[Long](2), mutable.LongMap.empty[Long])

  private def absorb(
      buf: (Array[Long], mutable.LongMap[Long]),
      gammaBits: Long, zero: Long, map: mutable.LongMap[Long]): Unit = {
    if (buf._1(1) == 0L) buf._1(1) = gammaBits
    else require(buf._1(1) == gammaBits,
      "dds_merge_agg: sketches built with different alpha")
    buf._1(0) += zero
    map.foreach { case (i, c) => buf._2(i) = buf._2.getOrElse(i, 0L) + c }
  }

  override def update(
      buf: (Array[Long], mutable.LongMap[Long]),
      input: InternalRow): (Array[Long], mutable.LongMap[Long]) = {
    val v = child.eval(input)
    if (v != null) {
      val (gamma, zero, map) = DdSketch.deserialize(v.asInstanceOf[Array[Byte]])
      absorb(buf, java.lang.Double.doubleToLongBits(gamma), zero, map)
    }
    buf
  }

  override def merge(
      buf: (Array[Long], mutable.LongMap[Long]),
      other: (Array[Long], mutable.LongMap[Long])): (Array[Long], mutable.LongMap[Long]) = {
    if (other._1(1) != 0L) {
      if (buf._1(1) == 0L) buf._1(1) = other._1(1)
      else require(buf._1(1) == other._1(1),
        "dds_merge_agg: sketches built with different alpha")
    }
    buf._1(0) += other._1(0)
    other._2.foreach { case (i, c) => buf._2(i) = buf._2.getOrElse(i, 0L) + c }
    buf
  }

  private def gammaOf(buf: (Array[Long], mutable.LongMap[Long])): Double =
    if (buf._1(1) == 0L) 1.0 else java.lang.Double.longBitsToDouble(buf._1(1))

  override def eval(buf: (Array[Long], mutable.LongMap[Long])): Any =
    DdSketch.serialize(gammaOf(buf), buf._1(0), buf._2)

  override def serialize(buf: (Array[Long], mutable.LongMap[Long])): Array[Byte] = {
    // gammaBits must survive the shuffle even for still-empty partials —
    // ride it through the standard layout's gamma slot
    DdSketch.serialize(gammaOf(buf), buf._1(0), buf._2)
  }

  override def deserialize(bytes: Array[Byte]): (Array[Long], mutable.LongMap[Long]) = {
    val (gamma, zero, map) = DdSketch.deserialize(bytes)
    val buf = (new Array[Long](2), map)
    buf._1(0) = zero
    buf._1(1) = if (gamma == 1.0) 0L else java.lang.Double.doubleToLongBits(gamma)
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): DdsMergeAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): DdsMergeAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(c: Expression): DdsMergeAgg =
    copy(child = c)
}

/** `dds_quantile_bucket(sketch, q) -> bigint` — exact bucket index (the
  * oracle-hashable half of the answer; Long.MinValue = zero bucket). */
case class DdsQuantileBucket(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback with BinaryLike[Expression] {
  override def prettyName: String = "dds_quantile_bucket"
  override def dataType: DataType = LongType
  override def nullable: Boolean = true // NULL for an empty sketch
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (BinaryType, DoubleType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"dds_quantile_bucket expects (binary, double), got " +
          s"(${l.catalogString}, ${r.catalogString})")
    }
  override def nullSafeEval(b: Any, q: Any): Any =
    DdSketch.quantileBucket(b.asInstanceOf[Array[Byte]], q.asInstanceOf[Double])
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): DdsQuantileBucket = copy(l, r)
}

/** `dds_quantile(sketch, q) -> double` — value estimate, 2 dp. */
case class DdsQuantile(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback with BinaryLike[Expression] {
  override def prettyName: String = "dds_quantile"
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true // NULL for an empty sketch
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (BinaryType, DoubleType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"dds_quantile expects (binary, double), got " +
          s"(${l.catalogString}, ${r.catalogString})")
    }
  override def nullSafeEval(b: Any, q: Any): Any =
    DdSketch.quantileValue(b.asInstanceOf[Array[Byte]], q.asInstanceOf[Double])
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): DdsQuantile = copy(l, r)
}

/** `dds_cdf(sketch, x) -> double` — fraction of values ≤ x (exact ratio of
  * deterministic bucket counts; oracle-reproducible, see DdSketch.cdf). */
case class DdsCdf(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback with BinaryLike[Expression] {
  override def prettyName: String = "dds_cdf"
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true // NULL for an empty sketch
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (BinaryType, DoubleType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"dds_cdf expects (binary, double), got " +
          s"(${l.catalogString}, ${r.catalogString})")
    }
  override def nullSafeEval(b: Any, x: Any): Any =
    DdSketch.cdf(b.asInstanceOf[Array[Byte]], x.asInstanceOf[Double])
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): DdsCdf = copy(l, r)
}
