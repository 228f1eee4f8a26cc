package graft.functions

import org.apache.spark.sql.functions.{col, expr}
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSpark

/** Native word_ngrams: differential parity against the builtin
  * transform(sequence(...)) composition that defines its semantics. */
class WordNgramsSpec extends AnyFunSuite with GraftSpark {

  import spark.implicits._

  private def refGrams(n: Int) = {
    val parts = (0 until n).map(j => s"element_at(t, i + $j)").mkString(", ")
    expr(
      s"""CASE WHEN size(t) >= $n
         |  THEN array_distinct(transform(sequence(1, size(t) - ${n - 1}),
         |       i -> concat_ws(' ', $parts)))
         |  ELSE array() END""".stripMargin)
  }

  private def assertParity(df: org.apache.spark.sql.DataFrame, n: Int): Unit = {
    val bad = df
      .withColumn("t", expr("regexp_extract_all(text, '\\\\S+', 0)"))
      .withColumn("ref", refGrams(n))
      .withColumn("got", expr(s"word_ngrams(text, $n)"))
      .filter(col("ref") =!= col("got"))
      .select("text", "ref", "got").collect()
    assert(bad.isEmpty, s"n=$n divergence on: ${bad.take(3).mkString("; ")}")
  }

  test("parity with the builtin composition on the sf0.001 corpus, n=2/5/8") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    for (n <- Seq(2, 5, 8)) assertParity(docs, n)
  }

  test("parity on crafted edge cases") {
    val df = Seq(
      "", " ", "a", "a b", "a b c", "a a a a", "x y x y x y",
      "tab\tand\nnewline separated words here now",
      "vt\u000Bsplit is java-space spec-locked here",
      "exactly eight words to make one gram!",
      "dup gram dup gram dup gram dup gram dup",
      "émigré café 中文 tokens 𝐀stral pair seven eight nine").toDF("text")
    for (n <- Seq(1, 2, 3, 8)) assertParity(df, n)
  }

  test("literal-n guard") {
    intercept[Exception] {
      Seq(("a b c", 2)).toDF("text", "n")
        .select(expr("word_ngrams(text, n)")).collect()
    }
  }

  private def assertBlockParity(df: org.apache.spark.sql.DataFrame, n: Int): Unit = {
    // builtin-composition reference: floor(m/n) blocks of exactly n
    // tokens, in order, NOT distinct (word_blocks' semantics contract)
    val ref = expr(
      s"""CASE WHEN size(t) >= $n
         |  THEN transform(sequence(1, size(t) div $n),
         |       b -> concat_ws(' ', slice(t, (b - 1) * $n + 1, $n)))
         |  ELSE array() END""".stripMargin)
    val bad = df
      .withColumn("t", expr("regexp_extract_all(text, '\\\\S+', 0)"))
      .withColumn("ref", ref)
      .withColumn("got", expr(s"word_blocks(text, $n)"))
      .filter(col("ref") =!= col("got"))
      .select("text", "ref", "got").collect()
    assert(bad.isEmpty, s"n=$n divergence on: ${bad.take(3).mkString("; ")}")
  }

  test("word_blocks parity: corpus + crafted edges (order, repeats, ragged tail)") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    for (n <- Seq(1, 3, 10)) assertBlockParity(docs, n)
    val df = Seq(
      "", " ", "a", "a b", "a b c d e f",
      "dup dup dup dup dup dup", // repeated blocks PRESERVED (not distinct)
      "tab\tand\nnewline separated words here now eight",
      "one two three four five six seven").toDF("text")
    for (n <- Seq(1, 2, 3, 7)) assertBlockParity(df, n)
  }

  test("word_blocks: repeats kept, tail dropped, short text empty") {
    val got = Seq("a b a b tail").toDF("text")
      .select(expr("word_blocks(text, 2)").as("b")).collect().head.getSeq[String](0)
    assert(got == Seq("a b", "a b")) // 5th token is ragged tail
    val short = Seq("just four tokens here").toDF("text")
      .select(expr("word_blocks(text, 5)").as("b")).collect().head.getSeq[String](0)
    assert(short.isEmpty)
  }

  test("word_ngrams_all: keeps repeats and order; distinct of it equals word_ngrams") {
    val all = Seq("a b a b a").toDF("text")
      .select(expr("word_ngrams_all(text, 2)").as("g")).collect().head.getSeq[String](0)
    assert(all == Seq("a b", "b a", "a b", "b a")) // multiplicity + order
    // corpus differential: array_distinct(all) ≡ the distinct expression
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    for (n <- Seq(2, 5)) {
      val bad = docs
        .withColumn("ref", expr(s"word_ngrams(text, $n)"))
        .withColumn("got", expr(s"array_distinct(word_ngrams_all(text, $n))"))
        .filter(col("ref") =!= col("got")).count()
      assert(bad == 0L, s"n=$n")
    }
    // short/empty texts yield empty arrays
    val edges = Seq("", " ", "a").toDF("text")
      .select(expr("word_ngrams_all(text, 2)").as("g")).collect()
    assert(edges.forall(_.getSeq[String](0).isEmpty))
  }
}
