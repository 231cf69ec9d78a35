package graft

import graft.llm.LlmOps
import org.apache.spark.sql.functions._

/** Native Shingles3 must agree element-for-element with the HOF
  * formulation on the real corpus (incl. consecutive-space tokens). */
class ShinglesSpec extends SparkSpec {

  test("shingles3 native == HOF on documents corpus") {
    val diff = Tables.documents(spark, Sf0001)
      .select(LlmOps.shingles3(col("text")).as("fast"),
        LlmOps.shingles3Hof(col("text")).as("ref"))
      .filter(col("fast") =!= col("ref"))
    assert(diff.count() === 0)
  }

  test("shingles3 edge cases") {
    val s = spark
    import s.implicits._
    val rows = Seq("a b c d", "a b", "", "x  y z", "a b c a b c a b c")
      .toDF("text")
      .select(LlmOps.shingles3(col("text")).as("sh"),
        LlmOps.shingles3Hof(col("text")).as("ref"))
      .collect()
    rows.foreach(r => assert(r.getSeq[String](0) === r.getSeq[String](1)))
    assert(rows(0).getSeq[String](0) === Seq("a b c", "b c d"))
    assert(rows(1).getSeq[String](0).isEmpty)
    // "x  y z" double space -> empty middle token, preserved by both
    assert(rows(3).getSeq[String](0) === Seq("x  y", " y z"))
    // repeated shingles deduped, first-occurrence order
    assert(rows(4).getSeq[String](0).count(_ == "a b c") === 1)
  }

  test("shingled keeps exactly the documents whose shingle set is non-empty") {
    val s = spark
    import s.implicits._
    val texts = Seq(null, "", " ", "  ", "a b", "a  b", " a ", "a\nb c",
      "a\nb\nc d e", "a b c d", "x  y z", "%_ \\ x")
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val ref = docs.select(col("doc_id"), LlmOps.shingles3(col("text")).as("sh"))
      .filter(size(col("sh")) > 0)
    val got = LlmOps.shingled(docs)
    assert(got.schema === ref.schema)
    assert(got.orderBy("doc_id").collect().toSeq ===
      ref.orderBy("doc_id").collect().toSeq)
    assert(got.count() === 7L)
  }
}
