package graft.functions

import org.apache.spark.sql.functions.{col, expr}
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen

import graft.GraftSpark

/** Native text_stats_scan expression: differential parity against the
  * five-regex builtin composition it replaced, on real corpus data and
  * on generated edge-case strings. */
class TextStatsSpec extends AnyFunSuite with GraftSpark {

  import spark.implicits._

  /** The original regex composition (the oracle's definition). */
  private def regexCols(df: org.apache.spark.sql.DataFrame) = df
    .withColumn("r_n_chars", org.apache.spark.sql.functions.length(col("text")).cast("long"))
    .withColumn("r_n_tokens",
      org.apache.spark.sql.functions.size(expr("regexp_extract_all(text, '\\\\S+', 0)")).cast("long"))
    .withColumn("r_alpha", expr(
      "CAST(length(regexp_replace(text, '[^A-Za-z]', '')) AS BIGINT)"))
    .withColumn("r_digits", expr(
      "CAST(length(regexp_replace(text, '[^0-9]', '')) AS BIGINT)"))
    .withColumn("r_stops", org.apache.spark.sql.functions.size(expr(
      "regexp_extract_all(lower(text), '\\\\b(the|a|an|and|or|of|to|in|is|it)\\\\b', 0)")).cast("long"))

  private def assertParity(df: org.apache.spark.sql.DataFrame): Unit = {
    val bad = regexCols(df.withColumn("st", expr("text_stats_scan(text)")))
      .filter(
        col("st.n_chars_raw") =!= col("r_n_chars") ||
          col("st.n_tokens") =!= col("r_n_tokens") ||
          col("st.alpha") =!= col("r_alpha") ||
          col("st.digits") =!= col("r_digits") ||
          col("st.stop_hits") =!= col("r_stops"))
      .select("text", "st", "r_n_chars", "r_n_tokens", "r_alpha", "r_digits", "r_stops")
      .collect()
    assert(bad.isEmpty, s"scan/regex divergence on: ${bad.take(3).mkString("; ")}")
  }

  test("parity with the regex composition on the sf0.001 corpus") {
    assertParity(spark.read.parquet("/root/testdata/sf0.001/documents.parquet"))
  }

  test("parity on crafted edge cases") {
    assertParity(Seq(
      "", " ", "\t\n\f\r", "the", "THE", "The the tHe",
      "it's an _it_ and it", "a", "a b", "in7 7in in_ _in in",
      "word中文the中", "42 4a2 a42 424",
      "émigré the café", "ß The Straße is 9", "multi  \n\nspace   the",
      "𝐀the and𝐀 of", // astral letters extend \b word runs
      "trailing the", "the leading", "-the-", "(a)", "a,an,and,or",
      "ANDROID band sand", "TO to To tO", "x" * 5000 + " the").toDF("text"))
  }

  /** Same differential discipline for the langid scan. */
  private def assertLangParity(df: org.apache.spark.sql.DataFrame): Unit = {
    val markers = Map(
      "en" -> "\\\\b(the|and|of|is)\\\\b",
      "de" -> "\\\\b(der|die|das|und|ist)\\\\b",
      "fr" -> "\\\\b(le|la|les|et|est)\\\\b",
      "es" -> "\\\\b(el|los|las|es|y)\\\\b")
    val withRegex = markers.foldLeft(df.withColumn("ls", expr("lang_scan(text)"))) {
      case (d, (lang, pat)) =>
        d.withColumn(s"r_$lang",
          org.apache.spark.sql.functions.size(
            expr(s"regexp_extract_all(lower(text), '$pat', 0)")).cast("long"))
    }.withColumn("r_zh",
      org.apache.spark.sql.functions.length(
        org.apache.spark.sql.functions.regexp_replace(
          col("text"), "[^\\x{4e00}-\\x{9fff}]", "")).cast("long"))
    val bad = withRegex.filter(
      col("ls.en_hits") =!= col("r_en") || col("ls.de_hits") =!= col("r_de") ||
        col("ls.fr_hits") =!= col("r_fr") || col("ls.es_hits") =!= col("r_es") ||
        col("ls.zh_chars") =!= col("r_zh"))
      .select("text", "ls", "r_en", "r_de", "r_fr", "r_es", "r_zh").collect()
    assert(bad.isEmpty, s"lang_scan/regex divergence: ${bad.take(3).mkString("; ")}")
  }

  test("lang_scan parity with the marker regexes on corpus and edge cases") {
    assertLangParity(spark.read.parquet("/root/testdata/sf0.001/documents.parquet"))
    assertLangParity(Seq(
      "", "the und le el y", "Y y EL el", "DER die DAS", "l'est de l'ile",
      "中文 the 中", "和的 y 了", "isthmus the-is is_", "est-ce que c'est",
      "los angeles las vegas", "und9 9und und", "y", "-y-", "(y)").toDF("text"))
  }

  test("random ascii+unicode strings agree") {
    val charGen = Gen.frequency(
      8 -> Gen.oneOf(('a' to 'z') ++ ('A' to 'Z')),
      3 -> Gen.oneOf(' ', '\t', '\n', '\r', '\f', '\u000B'),
      2 -> Gen.oneOf('0' to '9'),
      2 -> Gen.oneOf('.', ',', '!', '-', '_', '\'', '(', ')'),
      1 -> Gen.oneOf('中', 'é', 'ß'))
    val strGen = Gen.listOf(charGen).map(_.mkString)
    val samples = Gen.listOfN(200, strGen).sample.getOrElse(Nil)
    assertParity(samples.toDF("text"))
  }
}
