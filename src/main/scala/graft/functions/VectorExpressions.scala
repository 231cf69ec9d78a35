package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expression for the embedding hot path (SURVEY §4 item:
  * "hot paths promoted to custom Expression with codegen").
  *
  * `cosine_sim(array<float>, array<float>) -> double`: one fused loop over
  * the two arrays computing dot(a,b), ||a||², ||b||² — replaces three
  * interpreted `aggregate(zip_with(...))` higher-order expressions (each of
  * which allocates a lambda frame per element). Accumulation order is
  * left-to-right in double, identical to the HOF formulation and to the
  * DuckDB oracle's list_dot_product — results are bit-equal, only faster.
  * Edge cases match the HOF formulation exactly (ADVICE r3 item 3):
  * mismatched lengths → null (zip_with pads the short side with null, which
  * nulls the aggregate); zero-norm / empty input → null (rather than the
  * 0/0 = NaN the naive formula yields — NaN breaks orderBy-desc top-k).
  *
  * Codegen emits a tight primitive loop inside whole-stage codegen; the
  * interpreted path (nullSafeEval) matches it exactly.
  */
case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def checkInputDataTypes() = {
    def ok(t: DataType) = t match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"cosine_sim expects (array<float>, array<float>), got " +
          s"(${left.dataType.catalogString}, ${right.dataType.catalogString})")
  }

  // may return null for non-null inputs (length mismatch / zero norm)
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val xi = x.getFloat(i).toDouble
      val yi = y.getFloat(i).toDouble
      dot += xi * yi
      na += xi * xi
      nb += yi * yi
      i += 1
    }
    if (na == 0.0 || nb == 0.0) null
    else dot / math.sqrt(na) / math.sqrt(nb)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val xi = ctx.freshName("xi")
      val yi = ctx.freshName("yi")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    double $xi = (double) $a.getFloat($i);
         |    double $yi = (double) $b.getFloat($i);
         |    $dot += $xi * $yi; $na += $xi * $xi; $nb += $yi * $yi;
         |  }
         |  if ($na == 0.0 || $nb == 0.0) {
         |    ${ev.isNull} = true;
         |  } else {
         |    ${ev.value} = $dot / java.lang.Math.sqrt($na)
         |      / java.lang.Math.sqrt($nb);
         |  }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSim =
    copy(left = newLeft, right = newRight)
}

/** `l2_sq(array<float>, array<float>) -> double`: squared L2 distance in
  * one fused codegen'd loop — the other embedding hot-path kernel (r19).
  * Every IVF-PQ surface runs it O(n·k) per training/encode pass
  * (cell assignment, per-subspace Lloyd rounds, ADC LUTs, exact re-rank),
  * previously as an interpreted `aggregate(zip_with(...))` pair of
  * higher-order expressions allocating a lambda frame per element.
  *
  * Bit-parity contract with that HOF formulation (the oracles replay these
  * doubles): left-to-right accumulation of (x−y)² in double; mismatched
  * lengths → null (zip_with pads with null, nulling the aggregate); a null
  * ELEMENT → null (same propagation); empty arrays → 0.0 (the aggregate's
  * zero element, NOT null — EmptyAudit shapes hit this).
  */
case class L2Sq(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def checkInputDataTypes() = {
    def ok(t: DataType) = t match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"l2_sq expects (array<float>, array<float>), got " +
          s"(${left.dataType.catalogString}, ${right.dataType.catalogString})")
  }

  // may return null for non-null inputs (length mismatch / null element)
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val d = x.getFloat(i).toDouble - y.getFloat(i).toDouble
      acc += d * d
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val d = ctx.freshName("d")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) {
         |      ${ev.isNull} = true; break;
         |    }
         |    double $d = (double) $a.getFloat($i) - (double) $b.getFloat($i);
         |    $acc += $d * $d;
         |  }
         |  if (!${ev.isNull}) { ${ev.value} = $acc; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): L2Sq =
    copy(left = newLeft, right = newRight)
}

/** `minhash_sig(array<string>, k) -> array<bigint>`: k-lane MinHash
  * signature in ONE fused loop — each shingle is xxhash64'd once, lane j is
  * a cheap splitmix remix of that hash, minima tracked in a local array.
  * Replaces k interpreted `array_min(transform(...))` higher-order exprs
  * (which also allocated k arrays per row). CodegenFallback is deliberate:
  * per-row work is O(shingles×k) ≫ one virtual-call dispatch, so custom
  * codegen would buy nothing measurable (SURVEY §4 preference order (b)).
  *
  * The lane-mix function is an internal detail of the sketch (the declared
  * LSH query is verified against EXACT Jaccard, not signature bytes), so it
  * only needs determinism + good avalanche, not oracle parity. */
case class MinHashSig(child: Expression, k: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  override def dataType: DataType = ArrayType(org.apache.spark.sql.types.LongType)

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val mins = Array.fill(k)(Long.MaxValue)
    var i = 0
    while (i < n) {
      val s = arr.getUTF8String(i)
      val h0 = org.apache.spark.sql.catalyst.expressions.XxHash64Function
        .hash(s, org.apache.spark.sql.types.StringType, 42L)
      var j = 0
      while (j < k) {
        // splitmix64 of (h0 ^ golden*j): full-avalanche per-lane remix
        var z = h0 ^ (j.toLong * 0x9E3779B97F4A7C15L)
        z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
        z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
        z ^= z >>> 31
        if (z < mins(j)) mins(j) = z
        j += 1
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(mins)
  }

  override protected def withNewChildInternal(c: Expression): MinHashSig =
    copy(child = c)
}

/** `shingles3(string) -> array<string>`: distinct 3-word shingles of a
  * space-tokenized text, in first-occurrence order — semantics identical to
  * the HOF formulation
  * `array_distinct(transform(sequence(...), i -> concat_ws(' ', w[i..i+2])))`
  * with `w = split(text, ' ')`, but tokenizing ONCE per row. The HOF tree
  * inlines the `split` subexpression into every lambda site (no
  * common-subexpression elimination across lambda scopes in interpreted
  * higher-order functions), re-splitting the text ~3× per shingle — this
  * was the dominant cost of the whole LSH pipeline at bench scale. */
case class Shingles3(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.StringType)

  override def nullSafeEval(input: Any): Any = {
    // mirror Spark's split(text, " ") exactly: Java regex, limit -1
    val toks = input.toString.split(" ", -1)
    if (toks.length < 3)
      new org.apache.spark.sql.catalyst.util.GenericArrayData(
        Array.empty[Any])
    else {
      val seen = new java.util.LinkedHashSet[String](toks.length * 2)
      var i = 0
      while (i + 2 < toks.length) {
        seen.add(toks(i) + " " + toks(i + 1) + " " + toks(i + 2))
        i += 1
      }
      val out = new Array[Any](seen.size)
      val it = seen.iterator()
      var j = 0
      while (it.hasNext) {
        out(j) = org.apache.spark.unsafe.types.UTF8String.fromString(it.next())
        j += 1
      }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
    }
  }

  override protected def withNewChildInternal(c: Expression): Shingles3 =
    copy(child = c)
}

/** `word_ngrams(string, n, drop_empty) -> array<string>`: ALL n-word
  * sliding windows of a space-tokenized text, in order, multiplicity
  * kept — semantics identical to the HOF formulation
  * `transform(sequence(1, size(t) - n + 1), i -> concat_ws(' ', slice(t, i, n)))`
  * with `t = filter(split(text, ' '), x -> x <> '')` when `dropEmpty`
  * (llm32/llm32b/llm36's gram stream) or `t = split(text, ' ')` when not
  * (llm37's — empty tokens ride along, so a gram reproduces the source
  * text's exact spacing). Fewer than n tokens → empty array (the callers'
  * former `size(t) >= n` row filter becomes a no-op explode). The HOF
  * tree is interpreted (no whole-stage codegen for lambda expressions)
  * and allocates a lambda frame + an n-element slice array + a concat
  * per window — measured 2.4 µs/gram at bench scale (G32 probe, r22);
  * this kernel tokenizes ONCE at the UTF-8 byte level (0x20 never occurs
  * inside a multi-byte sequence) and emits each gram as a zero-copy
  * slice of the row's bytes whenever the window's tokens are separated
  * by single spaces (always, for drop_empty=false), building a joined
  * buffer only across multi-space gaps. */
case class WordNGrams(child: Expression, n: Int, dropEmpty: Boolean)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.ExpectsInputTypes
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  require(n >= 1, s"word_ngrams n must be >= 1, got $n")

  override def prettyName: String = "word_ngrams"

  // AbstractDataType is sql-private: let the override's type be inferred
  override def inputTypes = Seq(org.apache.spark.sql.types.StringType)

  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.StringType)

  override def nullSafeEval(input: Any): Any = {
    val bytes = input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String]
      .getBytes
    // token boundaries as byte offsets: starts(k) inclusive, ends(k)
    // exclusive. split(text, " ") yields one token per inter-space run
    // INCLUDING empties (k consecutive spaces => k-1 empty tokens between
    // the two words, plus leading/trailing empties); dropEmpty mirrors
    // the filter(_ <> "") wrapper by keeping non-empty runs only.
    var cap = 16
    var starts = new Array[Int](cap)
    var ends = new Array[Int](cap)
    var m = 0
    def push(s: Int, e: Int): Unit = {
      if (!(dropEmpty && e == s)) {
        if (m == cap) {
          cap *= 2
          starts = java.util.Arrays.copyOf(starts, cap)
          ends = java.util.Arrays.copyOf(ends, cap)
        }
        starts(m) = s; ends(m) = e; m += 1
      }
    }
    var start = 0
    var i = 0
    while (i <= bytes.length) {
      if (i == bytes.length || bytes(i) == ' ') {
        push(start, i)
        start = i + 1
      }
      i += 1
    }
    if (m < n)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(
        Array.empty[Any])
    val out = new Array[Any](m - n + 1)
    var w = 0
    while (w + n <= m) {
      val from = starts(w)
      val to = ends(w + n - 1)
      // token bytes + (n-1) single-space joiners == the source span length
      // exactly when every inter-token gap in the window is one space —
      // then the gram IS the source slice (zero copy; always true when
      // empties are kept, since an empty token "absorbs" its gap)
      var tokBytes = 0
      var k = w
      while (k < w + n) { tokBytes += ends(k) - starts(k); k += 1 }
      val joined = tokBytes + (n - 1)
      out(w) =
        if (to - from == joined)
          org.apache.spark.unsafe.types.UTF8String.fromBytes(
            bytes, from, joined)
        else {
          val buf = new Array[Byte](joined)
          var pos = 0
          k = w
          while (k < w + n) {
            if (k > w) { buf(pos) = ' '; pos += 1 }
            val len = ends(k) - starts(k)
            System.arraycopy(bytes, starts(k), buf, pos, len)
            pos += len
            k += 1
          }
          org.apache.spark.unsafe.types.UTF8String.fromBytes(buf)
        }
      w += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def withNewChildInternal(c: Expression): WordNGrams =
    copy(child = c)
}

/** `lsh_buckets(array<float>, tables, k) -> array<int>`: multi-table
  * random-hyperplane sign buckets. Semantically identical to the HOF
  * formulation (weight for (table t, plane p, dim i) =
  * xxhash64(t, p, i) / Long.MaxValue; bucket bit p set iff dot > 0) but the
  * weights are computed ONCE per (tables, k, dim) and cached — the HOF tree
  * re-derived every weight per row per element, which dominated ANN cost.
  * Weight layout is deterministic, so bucket assignments are stable across
  * runs and executors. */
case class LshBuckets(child: Expression, tables: Int, k: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.IntegerType)

  @transient private lazy val weightCache =
    new java.util.concurrent.ConcurrentHashMap[Integer, Array[Array[Double]]]()

  private def weights(dim: Int): Array[Array[Double]] =
    weightCache.computeIfAbsent(dim, { _ =>
      Array.tabulate(tables * k) { tp =>
        val t = tp / k
        val p = tp % k
        Array.tabulate(dim) { i =>
          // same derivation as the HOF: xxhash64 of the long-encoded ints
          val h1 = org.apache.spark.sql.catalyst.expressions.XxHash64Function
            .hash(t.toLong, org.apache.spark.sql.types.LongType, 42L)
          val h2 = org.apache.spark.sql.catalyst.expressions.XxHash64Function
            .hash(p.toLong, org.apache.spark.sql.types.LongType, h1)
          val h3 = org.apache.spark.sql.catalyst.expressions.XxHash64Function
            .hash(i.toLong, org.apache.spark.sql.types.LongType, h2)
          h3.toDouble / Long.MaxValue.toDouble
        }
      }
    })

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val dim = arr.numElements()
    val w = weights(dim)
    val v = new Array[Double](dim)
    var i = 0
    while (i < dim) { v(i) = arr.getFloat(i).toDouble; i += 1 }
    val out = new Array[Any](tables)
    var t = 0
    while (t < tables) {
      var bucket = 0
      var p = 0
      while (p < k) {
        val wr = w(t * k + p)
        var dot = 0.0
        var j = 0
        while (j < dim) { dot += v(j) * wr(j); j += 1 }
        if (dot > 0) bucket |= (1 << p)
        p += 1
      }
      out(t) = bucket
      t += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def withNewChildInternal(c: Expression): LshBuckets =
    copy(child = c)
}

/** `rolling_hash64(string) -> bigint`: Rabin–Karp polynomial rolling
  * fingerprint over the UTF-8 bytes — h = Σ (bᵢ+1)·257^(n-1-i) in wrapping
  * 64-bit arithmetic (Horner's rule; +1 so trailing NUL-like and empty
  * prefixes can't alias). Order-sensitive (unlike a bag-of-words hash)
  * and whitespace-significant; a native expression because wrapping
  * multiply is an ANSI-mode overflow error in SQL arithmetic, codegen'd
  * as one primitive byte loop. Redefined from the r10 xx64-per-token fold
  * in r12 so the DuckDB oracle can replay it exactly (HUGEINT mod-2⁶⁴
  * list_reduce) — xxhash64 has no DuckDB twin; the byte polynomial is the
  * canonical rolling-hash form and drops the CodegenFallback.
  * Deterministic; FingerprintSpec pins the contract. */
/** EXPR-5 — `stripe_sums(binary) -> array<bigint>`: the mm8 media feature
  * (byte at position i feeds stripe i mod 8) as a codegen'd expression —
  * one primitive loop over the payload inside whole-stage codegen, no UDF
  * ser/de on the scan projection. Integer arithmetic end-to-end, so the
  * DuckDB oracle's per-byte SQL recomputation matches exactly. */
case class StripeSums(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.LongType, containsNull = false)

  override def checkInputDataTypes() =
    if (child.dataType == org.apache.spark.sql.types.BinaryType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"stripe_sums expects binary, got ${child.dataType.catalogString}")

  override def nullSafeEval(input: Any): Any = {
    val bytes = input.asInstanceOf[Array[Byte]]
    val sums = new Array[Long](8)
    var i = 0
    while (i < bytes.length) { sums(i % 8) += bytes(i) & 0xff; i += 1 }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(sums)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, b => {
      val sums = ctx.freshName("sums")
      val i = ctx.freshName("i")
      s"""
         |long[] $sums = new long[8];
         |for (int $i = 0; $i < $b.length; $i++) {
         |  $sums[$i % 8] += $b[$i] & 0xff;
         |}
         |${ev.value} = org.apache.spark.sql.catalyst.expressions
         |  .UnsafeArrayData.fromPrimitiveArray($sums);
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): StripeSums =
    copy(child = c)
}

case class RollingHash64(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.LongType

  override def nullSafeEval(input: Any): Any = {
    val bytes =
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].getBytes
    var h = 0L
    var i = 0
    while (i < bytes.length) { h = h * 257L + (bytes(i) & 0xff) + 1L; i += 1 }
    h
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s => {
      val bytes = ctx.freshName("bytes")
      val i = ctx.freshName("i")
      s"""
         |byte[] $bytes = $s.getBytes();
         |long ${ev.value}_h = 0L;
         |for (int $i = 0; $i < $bytes.length; $i++) {
         |  ${ev.value}_h = ${ev.value}_h * 257L + ($bytes[$i] & 0xff) + 1L;
         |}
         |${ev.value} = ${ev.value}_h;
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): RollingHash64 =
    copy(child = c)
}

/** `simhash64(string) -> bigint`: 64-bit SimHash over space-separated
  * unigram tokens on the engine's cross-engine hash protocol (per-token
  * hash = first 16 hex digits of md5(token), i.e. the first 8 digest
  * bytes big-endian — exactly [[graft.llm.LlmOps.simhashOf]], which stays
  * the spec reference, and exactly what the DuckDB oracle recomputes).
  * This native kernel replaces the interpreted HOF formulation that
  * allocated a 64-element array per token per row (zip_with(acc,
  * sequence(0,63), …) folds) — llm2c/llm2d's map stage, the engine's
  * single most expensive interpreted expression. Tokenization happens at
  * the UTF-8 BYTE level (0x20 never occurs inside a multi-byte sequence,
  * so byte-splitting ≡ string-splitting on ' '), and each token hashes
  * without materializing a substring. Codegen emits one static call per
  * row — the row loop stays inside whole-stage codegen, zero lambda
  * frames.
  *
  * NULL semantics (ADVICE r20): NULL in → NULL out (null-intolerant
  * UnaryExpression), matching the HOF column [[graft.llm.LlmOps.simhashCol]]
  * — and deliberately NOT the scalar spec [[graft.llm.LlmOps.simhashOf]],
  * which as a plain JVM function maps null to 0L (the empty-text
  * fingerprint). Column-level NULL propagation is the engine contract;
  * ApproxSpec pins the null row. */
case class Simhash64(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.LongType

  override def nullSafeEval(input: Any): Any =
    Simhash64.compute(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.Simhash64.compute($c)")

  override protected def withNewChildInternal(c: Expression): Simhash64 =
    copy(child = c)
}

object Simhash64 {
  // MessageDigest is not thread-safe; one instance per executor thread
  private val md5 = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** Bit-identical to [[graft.llm.LlmOps.simhashOf]] (ApproxSpec pins the
    * equivalence on real documents and adversarial strings). */
  def compute(s: org.apache.spark.unsafe.types.UTF8String): Long = {
    val bytes = s.getBytes
    val md = md5.get()
    val counts = new Array[Int](64)
    var start = 0
    var i = 0
    while (i <= bytes.length) {
      if (i == bytes.length || bytes(i) == ' ') {
        if (i > start) {
          md.reset()
          md.update(bytes, start, i - start)
          val d = md.digest()
          var h = 0L
          var j = 0
          while (j < 8) { h = (h << 8) | (d(j) & 0xffL); j += 1 }
          var b = 0
          while (b < 64) {
            counts(b) += (if (((h >>> b) & 1L) == 1L) 1 else -1); b += 1
          }
        }
        start = i + 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (counts(b) > 0) out |= (1L << b); b += 1 }
    out
  }
}

/** Registration via the sanctioned extension point; Graft.session applies
  * this so the functions resolve everywhere (SQL included). */
object VectorExtensions {
  def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[CosineSim].getName, "cosine_sim"),
      (children: Seq[Expression]) => CosineSim(children(0), children(1))))
    ext.injectFunction((
      new FunctionIdentifier("l2_sq"),
      new ExpressionInfo(classOf[L2Sq].getName, "l2_sq"),
      (children: Seq[Expression]) => L2Sq(children(0), children(1))))
    ext.injectFunction((
      new FunctionIdentifier("shingles3"),
      new ExpressionInfo(classOf[Shingles3].getName, "shingles3"),
      (children: Seq[Expression]) => Shingles3(children.head)))
    ext.injectFunction((
      new FunctionIdentifier("lsh_buckets"),
      new ExpressionInfo(classOf[LshBuckets].getName, "lsh_buckets"),
      (children: Seq[Expression]) => {
        def intLit(e: Expression): Int = e match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v, _) =>
            v.toString.toInt
          case other => throw new IllegalArgumentException(
            s"lsh_buckets tables/k must be literals, got $other")
        }
        LshBuckets(children(0), intLit(children(1)), intLit(children(2)))
      }))
    ext.injectFunction((
      new FunctionIdentifier("word_ngrams"),
      new ExpressionInfo(classOf[WordNGrams].getName, "word_ngrams"),
      (children: Seq[Expression]) => {
        require(children.length == 3, "word_ngrams takes 3 arguments " +
          s"(text, n, drop_empty), got ${children.length}")
        def lit(e: Expression, arg: String): String = e match {
          case org.apache.spark.sql.catalyst.expressions.Literal(null, _) =>
            throw new IllegalArgumentException(
              s"word_ngrams $arg must not be NULL")
          case org.apache.spark.sql.catalyst.expressions.Literal(v, _) =>
            v.toString
          case other => throw new IllegalArgumentException(
            s"word_ngrams $arg must be a literal, got $other")
        }
        WordNGrams(children(0), lit(children(1), "n").toInt,
          lit(children(2), "drop_empty").toBoolean)
      }))
    ext.injectFunction((
      new FunctionIdentifier("rolling_hash64"),
      new ExpressionInfo(classOf[RollingHash64].getName, "rolling_hash64"),
      (children: Seq[Expression]) => RollingHash64(children.head)))
    ext.injectFunction((
      new FunctionIdentifier("simhash64"),
      new ExpressionInfo(classOf[Simhash64].getName, "simhash64"),
      (children: Seq[Expression]) => Simhash64(children.head)))
    ext.injectFunction((
      new FunctionIdentifier("stripe_sums"),
      new ExpressionInfo(classOf[StripeSums].getName, "stripe_sums"),
      (children: Seq[Expression]) => StripeSums(children.head)))
    ext.injectFunction((
      new FunctionIdentifier("minhash_sig"),
      new ExpressionInfo(classOf[MinHashSig].getName, "minhash_sig"),
      (children: Seq[Expression]) => MinHashSig(children(0), children(1) match {
        case org.apache.spark.sql.catalyst.expressions.Literal(v, _) =>
          v.toString.toInt
        case other => throw new IllegalArgumentException(
          s"minhash_sig k must be a literal, got $other")
      })))
    // PLAN-1: the custom top-k-per-group physical operator (heap-based,
    // map-side pruned) — see graft.plans.TopKPerGroup
    ext.injectPlannerStrategy(_ => graft.plans.TopKStrategy)
    // RULE-1: auto-rewrite of the row_number()<=k window pattern into
    // PLAN-1, so the idiomatic formulation gets the heap plan for free
    ext.injectOptimizerRule(_ => graft.plans.TopKRewrite)
  }
}
