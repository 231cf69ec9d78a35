package graft.functions

import java.nio.ByteBuffer

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** AGG-25 — SpaceSaving top-k (Metwally/Agrawal/El Abbadi 2005) as a
  * mergeable aggregate: the third tier of the heavy-hitter story.
  *
  *   agg17  — exact: full groupBy, shuffle ~|keys| rows, two passes of
  *            logic to rank;
  *   agg17b — CMS probe: fixed sketch state, but the CANDIDATE set still
  *            comes from an exact groupBy — CMS answers point queries,
  *            it cannot enumerate;
  *   agg25  — SpaceSaving: ONE pass, fixed k-counter state, and the
  *            candidates come OUT of the sketch itself with per-key error
  *            bounds. This is the shape that works on a stream or a
  *            100 TB scan where even ~|keys| exchange rows is too much:
  *            the shuffle carries one k-entry summary per task.
  *
  * Per-key contract (the classic SpaceSaving invariants, ApproxSpec):
  *   est ≥ true ≥ est − err   (err tracked per key; err=0 ⇒ exact)
  * and any key with true count > N/k is guaranteed present. Counter
  * merge (sum shared keys, keep top-k by count after absorbing each
  * side's eviction floor into err) preserves both bounds with the
  * summed floors — Agarwal et al., "Mergeable Summaries", PODS 2012.
  *
  * NOT canonical bytes (eviction depends on arrival order — like every
  * counter-based summary), hence spec-bounded rather than oracle-hashed:
  * the agg16/19/21/22 precedent.
  */
object SpaceSaving {

  /** counters: key → (count, err). Mutating update.
    *
    * Eviction is amortized O(1): a naive min-scan per evicting offer is
    * O(k) — measured 4.9 s on the sf0.1 bench (600k offers × k=512 when
    * distinct keys ≫ k, nearly every unseen key evicts). Instead keep a
    * lazily-rebuilt POOL of keys currently at the min count: each rebuild
    * is O(k) but only fires when the pool drains, and the min count can
    * only rise ≤ N/k times total, so rebuild work is O(N) across a whole
    * partition. Pool entries are validated on use (a pooled key that got
    * incremented since the rebuild is skipped). */
  final class Buf(val k: Int) {
    val m: mutable.LongMap[Array[Long]] = mutable.LongMap.empty
    private var minC = 0L
    private var minPool: Array[Long] = Array.emptyLongArray
    private var minPoolIdx = 0

    /** Invalidate the min pool (after absorb/deserialize mutations). */
    private[SpaceSaving] def resetPool(): Unit = {
      minPool = Array.emptyLongArray
      minPoolIdx = 0
      minC = 0L
    }

    private def evictTarget(): Long = {
      while (true) {
        while (minPoolIdx < minPool.length) {
          val cand = minPool(minPoolIdx); minPoolIdx += 1
          val v = m.getOrNull(cand)
          if (v != null && v(0) == minC) return cand
        }
        var newMin = Long.MaxValue
        m.foreach { case (_, v) => if (v(0) < newMin) newMin = v(0) }
        minC = newMin
        val pool = mutable.ArrayBuilder.make[Long]
        m.foreach { case (kk, v) => if (v(0) == minC) pool += kk }
        minPool = pool.result(); minPoolIdx = 0
      }
      throw new IllegalStateException("unreachable")
    }

    def offer(key: Long): Unit = {
      val cur = m.getOrNull(key)
      if (cur != null) cur(0) += 1
      else if (m.size < k) m(key) = Array(1L, 0L)
      else {
        // evict a min-count key; the newcomer inherits its count as
        // the overestimate floor
        val victim = evictTarget()
        m.remove(victim) // victim validated at count == minC by evictTarget
        m(key) = Array(minC + 1, minC)
      }
    }
    /** Eviction floor: a key ABSENT from a SpaceSaving summary has true
      * count ≤ the min counter — but only once the summary has actually
      * evicted (a non-full summary has seen every key offered; floor 0). */
    private def floor: Long =
      if (m.size < k) 0L else m.values.foldLeft(Long.MaxValue)((a, v) => math.min(a, v(0)))

    /** Absorb `other` (Agarwal et al., PODS 2012): shared keys sum
      * count+err; a key present on ONE side only gains the other side's
      * eviction floor in BOTH fields (its unseen-side true count is
      * bounded by that floor — adding it keeps est ≥ true, and adding it
      * to err keeps est − err ≤ true); then trim back to the k largest
      * estimates. */
    def absorb(other: Buf): Unit = {
      val fSelf = floor
      val fOther = other.floor
      val selfOnly = m.keys.filter(!other.m.contains(_)).toArray
      other.m.foreach { case (kk, v) =>
        val cur = m.getOrNull(kk)
        if (cur != null) { cur(0) += v(0); cur(1) += v(1) }
        else m(kk) = Array(v(0) + fSelf, v(1) + fSelf)
      }
      if (fOther > 0) selfOnly.foreach { kk =>
        val cur = m(kk); cur(0) += fOther; cur(1) += fOther
      }
      if (m.size > k) {
        val keep = m.toArray.sortBy { case (kk, v) => (-v(0), kk) }.take(k)
        m.clear()
        keep.foreach { case (kk, v) => m(kk) = v }
      }
      resetPool()
    }
  }

  def serialize(b: Buf): Array[Byte] = {
    val entries = b.m.toArray.sortBy(_._1)
    val buf = ByteBuffer.allocate(4 + 4 + entries.length * 24)
    buf.putInt(b.k)
    buf.putInt(entries.length)
    entries.foreach { case (kk, v) =>
      buf.putLong(kk); buf.putLong(v(0)); buf.putLong(v(1))
    }
    buf.array()
  }

  def deserialize(bytes: Array[Byte]): Buf = {
    val buf = ByteBuffer.wrap(bytes)
    val b = new Buf(buf.getInt)
    val n = buf.getInt
    var i = 0
    while (i < n) {
      b.m(buf.getLong) = Array(buf.getLong, buf.getLong); i += 1
    }
    b
  }
}

/** `space_saving_agg(key, k) -> array<struct<key,est,err>>` — top-k rows
  * by estimated count, descending (ties by key for determinism of the
  * OUTPUT ORDER given the counters). */
case class SpaceSavingAgg(
    child: Expression,
    k: Int,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[SpaceSaving.Buf]
  with UnaryLike[Expression] {

  require(k > 0 && k <= 100000, s"space_saving_agg k out of range: $k")

  override def prettyName: String = "space_saving_agg"
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("key", LongType, nullable = false),
    StructField("est", LongType, nullable = false),
    StructField("err", LongType, nullable = false))), containsNull = false)
  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case LongType | IntegerType | ShortType | ByteType =>
      TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"space_saving_agg expects an integral key, got ${t.catalogString}")
  }

  override def createAggregationBuffer(): SpaceSaving.Buf =
    new SpaceSaving.Buf(k)

  override def update(b: SpaceSaving.Buf, input: InternalRow): SpaceSaving.Buf = {
    val v = child.eval(input)
    if (v != null) b.offer(v match {
      case l: Long => l
      case i: Int => i.toLong
      case s: Short => s.toLong
      case by: Byte => by.toLong
      case other => throw new IllegalStateException(s"bad key $other")
    })
    b
  }

  override def merge(b: SpaceSaving.Buf, o: SpaceSaving.Buf): SpaceSaving.Buf = {
    b.absorb(o); b
  }

  override def eval(b: SpaceSaving.Buf): Any = {
    val rows = b.m.toArray.sortBy { case (kk, v) => (-v(0), kk) }
      .map { case (kk, v) => InternalRow(kk, v(0), v(1)) }
    new GenericArrayData(rows.asInstanceOf[Array[Any]])
  }

  override def serialize(b: SpaceSaving.Buf): Array[Byte] =
    SpaceSaving.serialize(b)
  override def deserialize(bytes: Array[Byte]): SpaceSaving.Buf =
    SpaceSaving.deserialize(bytes)

  override def withNewMutableAggBufferOffset(o: Int): SpaceSavingAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): SpaceSavingAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(c: Expression): SpaceSavingAgg =
    copy(child = c)
}
