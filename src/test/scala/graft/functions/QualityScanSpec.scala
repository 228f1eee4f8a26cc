package graft.functions

import org.apache.spark.sql.functions.{col, expr}
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSpark

/** Native quality_scan expression: differential parity against the
  * builtin array-function composition that defines its semantics
  * (regexp tokenizer + array_distinct over joined grams + per-token
  * frequency max), on real corpus data and crafted edge cases. */
class QualityScanSpec extends AnyFunSuite with GraftSpark {

  import spark.implicits._

  /** The reference formulation in Spark builtins (exactly the oracle's
    * definition; O(n²) top_n is fine at spec scale). */
  private def refCols(df: org.apache.spark.sql.DataFrame) = df
    .withColumn("t", expr("regexp_extract_all(text, '\\\\S+', 0)"))
    .withColumn("r_n_words", expr("CAST(size(t) AS BIGINT)"))
    .withColumn("r_sum_len", expr(
      "CAST(length(regexp_replace(text, '\\\\s', '')) AS BIGINT)"))
    .withColumn("r_d2", expr(
      """CAST(size(array_distinct(CASE WHEN size(t) >= 2
        |  THEN transform(sequence(1, size(t) - 1),
        |       i -> concat(element_at(t, i), ' ', element_at(t, i + 1)))
        |  ELSE array() END)) AS BIGINT)""".stripMargin))
    .withColumn("r_d3", expr(
      """CAST(size(array_distinct(CASE WHEN size(t) >= 3
        |  THEN transform(sequence(1, size(t) - 2),
        |       i -> concat(element_at(t, i), ' ', element_at(t, i + 1), ' ', element_at(t, i + 2)))
        |  ELSE array() END)) AS BIGINT)""".stripMargin))
    .withColumn("r_top_n", expr(
      """CAST(CASE WHEN size(t) = 0 THEN 0 ELSE
        |  array_max(transform(array_distinct(t), w -> size(filter(t, x -> x = w))))
        |  END AS BIGINT)""".stripMargin))

  private def assertParity(df: org.apache.spark.sql.DataFrame): Unit = {
    val bad = refCols(df.withColumn("qs", expr("quality_scan(text)")))
      .filter(
        col("qs.n_words") =!= col("r_n_words") ||
          col("qs.sum_len") =!= col("r_sum_len") ||
          col("qs.d2") =!= col("r_d2") ||
          col("qs.d3") =!= col("r_d3") ||
          col("qs.top_n") =!= col("r_top_n"))
      .select("text", "qs", "r_n_words", "r_sum_len", "r_d2", "r_d3", "r_top_n")
      .collect()
    assert(bad.isEmpty, s"scan/builtin divergence on: ${bad.take(3).mkString("; ")}")
  }

  test("parity with the builtin composition on the sf0.001 corpus") {
    assertParity(spark.read.parquet("/root/testdata/sf0.001/documents.parquet"))
  }

  test("parity on crafted edge cases") {
    assertParity(Seq(
      "", " ", "\t\n\f\r", "one", "a a", "a b a b a b",
      "a a a a a a a a", "x y x y x", "the quick brown fox",
      "w1 w2 w3 w1 w2 w3 w1 w2 w3", // repeated 3-gram loop
      "solo", "pair up", "tri gram here",
      "émigré café émigré café naïve", "中文 字 中文 字",
      "𝐀stral 𝐀stral pair", // surrogate pairs: code-point sum_len
      "  leading and   multi  space ", "tab\tsep\ttab\tsep",
      "punct, punct, punct,", // distinct-by-exact-string (comma kept)
      ("tok" * 1) + " " + ("tok" * 2) + " tok toktok").toDF("text"))
  }

  test("parity on generated strings (whitespace-heavy, repetitive, unicode)") {
    val gen = org.scalacheck.Gen.listOfN(40, org.scalacheck.Gen.oneOf(
      "a", "bb", "word", "the", "中", "é", "𝐀x", " ", "\t", "\n", "\u000B",
      "\f", "\r", "  ", "a a", "w1 w2"))
      .map(_.mkString(""))
    val strings = org.scalacheck.Gen.listOfN(300, gen).sample.get
    assertParity(strings.toDF("text"))
  }

  test("derived repetition metrics on a known document") {
    // 6 words, 5 2-grams ("a b" x2, "b a" x2, "b c") → d2=3,
    // 4 3-grams ("a b a", "b a b", "a b c" — "a b a","b a b",… distinct=3)
    val r = Seq("a b a b c c").toDF("text")
      .select(expr("quality_scan(text)").as("qs")).select("qs.*").head()
    assert(r.getLong(0) == 6)   // n_words
    assert(r.getLong(1) == 6)   // sum_len: six 1-char tokens
    assert(r.getLong(2) == 4)   // d2: "a b","b a","b c","c c"
    assert(r.getLong(3) == 4)   // d3: "a b a","b a b","a b c","b c c"
    assert(r.getLong(4) == 2)   // top_n: a and b appear 2x... c too
  }
}
