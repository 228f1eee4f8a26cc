package graft.functions

import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSpark

/** The fused counting expressions (token_counts, ngram_counts,
  * norm_ngram_counts, shingle_hashes3): semantics locked to their
  * unfused builtin/regex compositions, plus edge cases the corpus gate
  * cannot exercise. */
class TokenCountsSpec extends AnyFunSuite with GraftSpark {

  import spark.implicits._

  test("token_counts: multiplicities over a space-separated stream; runs tolerated") {
    val m = Seq("a b a  c b a").toDF("t")
      .selectExpr("token_counts(t)").collect()(0).getMap[String, Long](0)
    assert(m == Map("a" -> 3L, "b" -> 2L, "c" -> 1L))
    val empty = Seq("", "   ").toDF("t")
      .selectExpr("token_counts(t) AS m").collect()
    assert(empty.forall(_.getMap[String, Long](0).isEmpty))
  }

  test("norm_ngram_counts(n=1) equals token_counts over the normText regex chain") {
    val texts = Seq("The  QUICK, brown-fox! 42 jumps 42",
      "Ünïcode straße ÉTÉ 2024", "", "!!!", "a")
    val got = texts.toDF("text")
      .selectExpr("norm_ngram_counts(text, 1) AS m").collect()
      .map(_.getMap[String, Long](0))
    val want = texts.toDF("text")
      .selectExpr(
        "token_counts(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' '), ' +', ' '))) AS m")
      .collect().map(_.getMap[String, Long](0))
    assert(got.toSeq == want.toSeq)
  }

  test("multi-char full-lowercase canary: walk matches the regex chain on U+0130/U+01F0") {
    // U+0130 İ lowers to 'i' + combining U+0307 (a 1:M SpecialCasing
    // expansion): the stripped combining mark must SPLIT the token in
    // the walk exactly as it does in the regex chain. U+01F0 ǰ and the
    // ligature ﬁ (U+FB01, uppercase-only expansion — lowercase stable)
    // plus a surrogate-pair char round out the class.
    val texts = Seq("xİy", "İstanbul İİ abǰcd", "aﬁb",
      "e𐐀f", "İ", "AİZ9")
    val got = texts.toDF("text")
      .selectExpr("norm_ngram_counts(text, 1) AS m").collect()
      .map(_.getMap[String, Long](0))
    val want = texts.toDF("text")
      .selectExpr(
        "token_counts(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' '), ' +', ' '))) AS m")
      .collect().map(_.getMap[String, Long](0))
    assert(got.toSeq == want.toSeq)
  }

  test("norm_ngram_counts(n=2): sliding bigram multiplicities; short docs empty") {
    val m = Seq("a b a b a").toDF("t")
      .selectExpr("norm_ngram_counts(t, 2)").collect()(0).getMap[String, Long](0)
    assert(m == Map("a b" -> 2L, "b a" -> 2L))
    val short = Seq("only", "").toDF("t")
      .selectExpr("norm_ngram_counts(t, 2) AS m").collect()
    assert(short.forall(_.getMap[String, Long](0).isEmpty))
  }

  test("shingle_hashes3 equals transform(shingles3, h60)") {
    val texts = Seq("The quick brown fox jumps over", "a b", "")
    val got = texts.toDF("text")
      .selectExpr("shingle_hashes3(text) AS h").collect()
      .map(_.getSeq[Long](0))
    val want = texts.toDF("text")
      .selectExpr(
        "transform(shingles3(text), s -> cast(conv(substring(md5(s), 1, 15), 16, 10) AS BIGINT)) AS h")
      .collect().map(_.getSeq[Long](0))
    assert(got.toSeq == want.toSeq)
  }

  test("fused counting expressions stay inside whole-stage codegen") {
    val df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .selectExpr("norm_ngram_counts(text, 2) AS m", "shingle_hashes3(text) AS h")
    val codegenned = df.queryExecution.executedPlan.collect {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w
    }
    assert(codegenned.nonEmpty, df.queryExecution.executedPlan.toString)
  }
}
