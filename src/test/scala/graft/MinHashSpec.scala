package graft

import graft.llm.LlmOps
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The LSH signature table behind llm2/llm12/llm39 and the near-dup
  * ingest: the native minhash_bands kernel pinned to the per-band
  * `xxhash64(slice(minhash_sig))` formulation it replaced, and the
  * self-join keeping one signature row per shingled document. */
class MinHashSpec extends SparkSpec {

  /** Band b = xxhash64 of signature lanes [b*r, (b+1)*r), as built-ins. */
  private def bandsHof(sh: Column, k: Int, bands: Int): Column = {
    val r = k / bands
    transform(sequence(lit(0), lit(bands - 1)),
      b => xxhash64(slice(LlmOps.minhashSig(sh, k), b * r + 1, lit(r))))
  }

  private def bandsOf(sh: Column, k: Int, bands: Int): Column =
    call_function("minhash_bands", sh, lit(k), lit(bands))

  test("bandedOf: band rows and schema equal the per-band formulation on " +
      "the documents corpus") {
    val docs = Tables.documents(spark, Sf0001)
    val ref = LlmOps.shingled(docs)
      .select(col("doc_id"), posexplode(bandsHof(col("sh"), 128, 32)))
      .withColumnRenamed("pos", "band_idx")
      .withColumnRenamed("col", "band_hash")
    val got = LlmOps.bandedOf(LlmOps.signatures(docs))
    assert(got.schema === ref.schema)
    assert(got.count() === ref.count())
    assert(got.exceptAll(ref).isEmpty && ref.exceptAll(got).isEmpty)
  }

  test("minhash_bands edge cases: empty and single-shingle sets, unicode, " +
      "k not a multiple of bands") {
    val s = spark
    import s.implicits._
    val rows = Seq(Seq.empty[String], Seq("a b c"), Seq("á β 語", "x  y"),
        (1 to 50).map(i => s"w$i w${i + 1} w${i + 2}"))
      .toDF("sh")
      .select(bandsOf(col("sh"), 128, 32).as("f"),
        bandsHof(col("sh"), 128, 32).as("r"),
        bandsOf(col("sh"), 16, 5).as("f5"),
        bandsHof(col("sh"), 16, 5).as("r5"))
      .collect()
    rows.foreach { r =>
      assert(r.getSeq[Long](0) === r.getSeq[Long](1))
      assert(r.getSeq[Long](2) === r.getSeq[Long](3))
      assert(r.getSeq[Long](0).length === 32 && r.getSeq[Long](2).length === 5)
    }
  }

  test("signatures: the kernel runs once per document, under no lambda") {
    val plan = LlmOps.signatures(Tables.documents(spark, Sf0001))
      .queryExecution.optimizedPlan
    val exprs = plan.flatMap(_.expressions)
    val kernels = exprs.flatMap(_.collect {
      case e: graft.functions.MinHashBands => e })
    // the document filter must not tokenize: one shingles3 per document
    val tokenizers = exprs.flatMap(_.collect {
      case e: graft.functions.Shingles3 => e })
    val lambdas = exprs.flatMap(_.collect {
      case l: org.apache.spark.sql.catalyst.expressions.LambdaFunction => l })
    assert(kernels.length === 1 && tokenizers.length === 1 && lambdas.isEmpty,
      plan.toString)
  }

  test("llm2: the near-dup self-join stores one signature row per shingled " +
      "document and nothing else") {
    val docs = Tables.documents(spark, Sf0001)
    val (pairs, added) =
      storageAddedBy(LlmOps.minhashNearDupPairs(docs, 0.8).collect())
    assert(pairs.nonEmpty)
    assert(added.length === 1, added.mkString("; "))
    val sig = spark.sparkContext.getPersistentRDDs(added.head.id)
    try assert(sig.count() === LlmOps.shingled(docs).count())
    finally RoundCheckpointer.free(sig)
  }
}
