package graft

import org.apache.spark.sql.functions._

/** r22 native word_ngrams kernel: pinned byte-for-byte against the HOF
  * formulation it replaced in llm16/llm32/llm32b/llm36/llm37's gram
  * streams, on the real corpus and on adversarial spacing/unicode. */
class WordNGramsSpec extends SparkSpec {

  private def hofFiltered(n: Int) = {
    val t = filter(split(col("text"), " "), x => x =!= "")
    when(size(t) >= n,
      transform(sequence(lit(1), size(t) - (n - 1)),
        i => concat_ws(" ", slice(t, i, lit(n)))))
      .otherwise(array().cast("array<string>"))
  }

  private def hofRaw(n: Int) = {
    val w = split(col("text"), " ")
    when(size(w) >= n,
      transform(sequence(lit(1), size(w) - (n - 1)),
        i => concat_ws(" ", slice(w, i, lit(n)))))
      .otherwise(array().cast("array<string>"))
  }

  test("word_ngrams native == HOF on the documents corpus (both variants)") {
    val diff = Tables.documents(spark, Sf0001)
      .select(
        call_function("word_ngrams", col("text"), lit(8), lit(true)).as("f8"),
        hofFiltered(8).as("r8"),
        call_function("word_ngrams", col("text"), lit(8), lit(false)).as("u8"),
        hofRaw(8).as("s8"),
        call_function("word_ngrams", col("text"), lit(3), lit(true)).as("f3"),
        hofFiltered(3).as("r3"))
      .filter(col("f8") =!= col("r8") || col("u8") =!= col("s8") ||
        col("f3") =!= col("r3"))
    assert(diff.count() === 0)
  }

  test("word_ngrams edge cases: spacing runs, unicode, short docs") {
    val s = spark
    import s.implicits._
    val texts = Seq(
      "a b c d e f g h i",      // plain
      "a  b c d e f g h i",     // double space (slow-path join when filtered)
      "  a b c d e f g h  ",    // leading/trailing runs
      "a b c d e f g h",        // exactly n tokens -> one gram
      "a b c",                  // under n -> empty
      "",                       // empty text
      "á β 語 d e f g h i",     // multibyte tokens
      "a     b c d e f g h i")  // 5-space run
    val rows = texts.toDF("text")
      .select(col("text"),
        call_function("word_ngrams", col("text"), lit(8), lit(true)).as("f"),
        hofFiltered(8).as("rf"),
        call_function("word_ngrams", col("text"), lit(8), lit(false)).as("u"),
        hofRaw(8).as("ru"))
      .collect()
    rows.foreach { r =>
      assert(r.getSeq[String](1) === r.getSeq[String](2),
        s"filtered mismatch on '${r.getString(0)}'")
      assert(r.getSeq[String](3) === r.getSeq[String](4),
        s"raw mismatch on '${r.getString(0)}'")
    }
    // filtered: multi-space gaps collapse to single spaces inside a gram
    assert(rows(1).getSeq[String](1).head === "a b c d e f g h")
    // raw: the gram reproduces the source spacing (zero-copy slice)
    assert(rows(1).getSeq[String](3).head === "a  b c d e f g")
    assert(rows(4).getSeq[String](1).isEmpty)
    assert(rows(5).getSeq[String](1).isEmpty)
  }

  test("word_ngrams misuse fails at analysis with a message naming it") {
    val s = spark
    import s.implicits._
    val text = Seq("a b c").toDF("text")
    // select() only analyzes: each refusal happens before any job runs
    def refusal(df: => org.apache.spark.sql.DataFrame): String =
      intercept[Exception](df).getMessage
    val arity = refusal(text.select(
      call_function("word_ngrams", col("text"), lit(2))))
    val nullN = refusal(text.select(
      call_function("word_ngrams", col("text"), lit(null), lit(true))))
    val nullDrop = refusal(text.select(
      call_function("word_ngrams", col("text"), lit(2), lit(null))))
    val nonString = refusal(Seq(1).toDF("x").select(
      call_function("word_ngrams", col("x"), lit(2), lit(true))))
    Seq(arity, nullN, nullDrop, nonString).foreach(m =>
      assert(m.contains("word_ngrams"), m))
    assert(arity.contains("3 arguments"), arity)
    assert(nullN.contains("n must not be NULL"), nullN)
    assert(nullDrop.contains("drop_empty must not be NULL"), nullDrop)
    assert(nonString.contains("STRING"), nonString)
  }
}
