package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.types.{BooleanType, ByteType, DataType, Decimal, IntegerType, LongType, NumericType, ShortType}

/** Every SQL function graft adds to a session, one row each, and the one
  * place they and graft's planner rules are injected. `Graft.session`
  * applies [[Registry.apply]], so the names resolve in `expr`,
  * `call_function` and `spark.sql` alike.
  *
  * A row's signature names its arguments, `[...]` marking an optional
  * tail. Before a builder runs, the call's argument count is checked
  * against the signature, and builders read literal arguments through
  * [[Args]]: a wrong count, a non-literal, a NULL or a wrongly typed
  * literal fails at analysis with a message naming the function and the
  * argument. No name here is a Spark builtin; theta sketches (agg22) are
  * Spark's own `theta_*` functions.
  */
object Registry {

  final case class Fn(name: String, cls: Class[_], signature: String,
      build: Args => Expression) {
    val params: Seq[String] =
      signature.split("[\\[\\],]").map(_.trim).filter(_.nonEmpty).toSeq
    /** The required arguments alone, and all of them. */
    val arities: Seq[Int] = Seq(
      signature.takeWhile(_ != '[').split(",").count(_.trim.nonEmpty),
      params.size).distinct
  }

  /** A call's arguments, with the one reader for literal arguments. */
  final class Args(fn: Fn, children: Seq[Expression]) {
    def apply(i: Int): Expression = children(i)
    def size: Int = children.size
    def int(i: Int): Int = lit(i, "an INT") {
      case Literal(v: Number, t) if Integral(t) && v.longValue.isValidInt =>
        v.intValue
    }
    def long(i: Int): Long = lit(i, "a BIGINT") {
      case Literal(v: Number, t) if Integral(t) => v.longValue
    }
    def double(i: Int): Double = lit(i, "a numeric") {
      case Literal(d: Decimal, _) => d.toDouble
      case Literal(v: Number, _: NumericType) => v.doubleValue
    }
    def bool(i: Int): Boolean = lit(i, "a BOOLEAN") {
      case Literal(v: Boolean, BooleanType) => v
    }
    private def lit[A](i: Int, kind: String)(
        read: PartialFunction[Literal, A]): A = {
      def refuse(why: String): Nothing = throw new IllegalArgumentException(
        s"${fn.name} ${fn.params(i)} $why")
      children(i) match {
        case Literal(null, _) => refuse("must not be NULL")
        case l: Literal => read.applyOrElse(l, (_: Literal) =>
          refuse(s"must be $kind literal, got ${l.dataType.sql} $l"))
        case other => refuse(s"must be a literal, got $other")
      }
    }
  }

  private val Integral =
    Set[DataType](ByteType, ShortType, IntegerType, LongType)

  val functions: Seq[Fn] = Seq(
    Fn("cosine_sim", classOf[CosineSim], "a, b", a => CosineSim(a(0), a(1))),
    Fn("l2_sq", classOf[L2Sq], "a, b", a => L2Sq(a(0), a(1))),
    Fn("shingles3", classOf[Shingles3], "text", a => Shingles3(a(0))),
    Fn("word_ngrams", classOf[WordNGrams], "text, n, drop_empty",
      a => WordNGrams(a(0), a.int(1), a.bool(2))),
    Fn("rolling_hash64", classOf[RollingHash64], "text",
      a => RollingHash64(a(0))),
    Fn("simhash64", classOf[Simhash64], "text", a => Simhash64(a(0))),
    Fn("stripe_sums", classOf[StripeSums], "bytes", a => StripeSums(a(0))),
    Fn("minhash_sig", classOf[MinHashSig], "tokens, k",
      a => MinHashSig(a(0), a.int(1))),
    Fn("minhash_bands", classOf[MinHashBands], "tokens, k, bands",
      a => MinHashBands(a(0), a.int(1), a.int(2))),
    Fn("lsh_buckets", classOf[LshBuckets], "v, tables, k",
      a => LshBuckets(a(0), a.int(1), a.int(2))),
    Fn("jaro_winkler", classOf[JaroWinkler], "s1, s2",
      a => JaroWinkler(a(0), a(1))),
    Fn("cms_sketch_agg", classOf[CmsAgg], "col[, depth, width]",
      a => if (a.size == 1) CmsAgg(a(0)) else CmsAgg(a(0), a.int(1), a.int(2))),
    Fn("cms_inner_product", classOf[CmsInnerProduct], "a, b",
      a => CmsInnerProduct(a(0), a(1))),
    Fn("cms_estimate", classOf[CmsEstimate], "sketch, key",
      a => CmsEstimate(a(0), a(1))),
    Fn("dds_sketch_agg", classOf[DdsAgg], "x[, alpha]",
      a => if (a.size == 1) DdsAgg(a(0)) else DdsAgg(a(0), a.double(1))),
    Fn("dds_merge_agg", classOf[DdsMergeAgg], "sketch",
      a => DdsMergeAgg(a(0))),
    Fn("dds_quantile_bucket", classOf[DdsQuantileBucket], "sketch, q",
      a => DdsQuantileBucket(a(0), a(1))),
    Fn("dds_quantile", classOf[DdsQuantile], "sketch, q",
      a => DdsQuantile(a(0), a(1))),
    Fn("dds_cdf", classOf[DdsCdf], "sketch, x", a => DdsCdf(a(0), a(1))),
    Fn("space_saving_agg", classOf[SpaceSavingAgg], "key, k",
      a => SpaceSavingAgg(a(0), a.int(1))),
    Fn("bitmap_agg", classOf[BitmapAgg], "key, max_key",
      a => BitmapAgg(a(0), a.int(1))),
    Fn("bitmap_cardinality", classOf[BitmapCardinality], "bitmap",
      a => BitmapCardinality(a(0))),
    Fn("bitmap_and_cardinality", classOf[BitmapAndCardinality], "a, b",
      a => BitmapAndCardinality(a(0), a(1))),
    // JOIN-12b: Spark's own bloom build (BloomFilterAggregate) and
    // codegen'd probe (BloomFilterMightContain). Only the runtime
    // row-level-filtering rewrite uses them; neither is in the public
    // registry. The probe's bloom argument must be a constant or scalar
    // subquery (its checkInputDataTypes enforces it), so the sketch is
    // fixed before the scan starts, which makes the prune plan-safe.
    Fn("bloom_filter_agg", classOf[BloomFilterAggregate],
      "xxhash64_col[, estimatedNumItems, numBits]",
      a => if (a.size == 1) new BloomFilterAggregate(a(0))
        else new BloomFilterAggregate(a(0), Literal(a.long(1)),
          Literal(a.long(2)))),
    Fn("bloom_might_contain", classOf[BloomFilterMightContain],
      "bloom, xxhash64_col", a => BloomFilterMightContain(a(0), a(1))))

  def apply(ext: SparkSessionExtensions): Unit = {
    functions.foreach { fn =>
      ext.injectFunction((new FunctionIdentifier(fn.name),
        new ExpressionInfo(fn.cls.getName, fn.name),
        (children: Seq[Expression]) => {
          if (!fn.arities.contains(children.size))
            throw new IllegalArgumentException(s"${fn.name} takes " +
              fn.arities.mkString(" or ") +
              (if (fn.arities == Seq(1)) " argument" else " arguments") +
              s" (${fn.signature}), got ${children.size}")
          fn.build(new Args(fn, children))
        }))
    }
    // PLAN-1: the custom top-k-per-group physical operator (heap-based,
    // map-side pruned) — see graft.plans.TopKPerGroup
    ext.injectPlannerStrategy(_ => graft.plans.TopKStrategy)
    // RULE-1: auto-rewrite of the row_number()<=k window pattern into
    // PLAN-1, so the idiomatic formulation gets the heap plan for free
    ext.injectOptimizerRule(_ => graft.plans.TopKRewrite)
    // RULE-2: a sort over a driver-held local relation sorts at plan time
    ext.injectOptimizerRule(_ => graft.plans.LocalSortFold)
  }
}
