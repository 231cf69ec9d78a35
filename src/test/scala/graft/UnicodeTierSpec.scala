package graft

import graft.llm.LlmOps
import org.apache.spark.sql.Row

/** The unicode tier (`llm*u` queries over fixtures/unicode_docs.csv) run
  * through sbt: each test pins the contract its query's comment states,
  * on the 21-doc fixture (CJK, RTL, emoji, the NFC/NFD pair 13/14). */
class UnicodeTierSpec extends SparkSpec {

  private def run(name: String): Array[Row] =
    LlmOps.queries(name)(spark, Sf0001).collect()

  private lazy val fixtureText: Map[Long, String] =
    spark.read.option("header", "true").option("quote", "\"")
      .schema("doc_id BIGINT, text STRING, url STRING")
      .csv("fixtures/unicode_docs.csv")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap

  test("llm20u: every doc round-trips byte-exactly with nothing dropped " +
      "(the NFC/NFD pair 13/14 stays distinct)") {
    val rows = run("llm20u_boilerplate_unicode")
    assert(fixtureText.size === 21)
    assert(rows.map(_.getAs[Long]("doc_id")).toSeq === (1L to 21L))
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      assert(r.getAs[String]("text_clean") === fixtureText(id), s"doc $id")
      assert(r.getAs[Long]("n_dropped") === 0L, s"doc $id")
    }
    assert(fixtureText(13L) !== fixtureText(14L))
  }

  test("llm10u: doc 2's email, IPv4 and card become placeholders; doc 7's " +
      "Arabic-Indic digit run is not a card number") {
    val clean = run("llm10u_redact_pii_unicode")
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("clean_text"))
      .toMap
    assert(clean(2L) ===
      "please contact <EMAIL> or <IP> card <CARD> for details")
    assert(clean(7L) === fixtureText(7L))
    assert(clean(7L).contains("٠١٢٣٤٥٦٧٨٩٠١٢٣"))
  }

  test("llm23u: doc 1's messy url canonicalizes to " +
      "https://example.com/Docs/A?q=1") {
    val rows = run("llm23u_url_canon_unicode")
      .filter(_.getAs[String]("canonical_url") ==
        "https://example.com/Docs/A?q=1")
    assert(rows.length === 1)
    assert(rows.head.getAs[Long]("keep_id") === 1L)
    assert(rows.head.getAs[String]("registered_domain") === "example.com")
  }

  test("llm29u: docs with no [a-z0-9] token have no bigram row") {
    val ids = run("llm29u_bigram_lm_unicode")
      .map(_.getAs[Long]("doc_id")).toSet
    Seq(3L, 5L, 6L, 7L, 9L, 10L, 11L, 12L).foreach { id =>
      assert(!ids.contains(id), s"doc $id")
    }
    assert(ids.contains(1L) && ids.contains(2L))
  }
}
