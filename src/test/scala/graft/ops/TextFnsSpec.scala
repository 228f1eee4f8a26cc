package graft.ops

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSpark

/** PII scrubbing: pattern coverage, redaction order, and the
  * no-PII-untouched identity. */
class TextFnsSpec extends AnyFunSuite with GraftSpark {

  import spark.implicits._

  private def redact(s: String): String =
    Seq(s).toDF("t").select(TextFns.redactPii(col("t"))).collect().head.getString(0)

  private def count(s: String, re: String): Long =
    Seq(s).toDF("t").select(TextFns.countMatches(col("t"), re)).collect().head.getLong(0)

  test("emails, phones and IPv4 literals are redacted; counts match") {
    val s = "mail a.user+tag@sub.example.co.uk or b_2@x9.io, " +
      "call +1-415-555-0142 / +44-207-555-9999, host 10.0.255.3 and 192.168.1.1"
    val r = redact(s)
    assert(!r.contains("@") && !r.contains("555-") && !r.contains("10.0.255.3"))
    assert(r.contains("<EMAIL>") && r.contains("<PHONE>") && r.contains("<IP>"))
    assert(count(s, TextFns.EMAIL_RE) == 2)
    assert(count(s, TextFns.PHONE_RE) == 2)
    assert(count(s, TextFns.IP_RE) == 2)
  }

  test("text without PII passes through unchanged") {
    val s = "plain words only, version 1.2 of the spec, ratio 3.5x faster"
    assert(redact(s) == s)
    assert(count(s, TextFns.EMAIL_RE) == 0)
    assert(count(s, TextFns.PHONE_RE) == 0)
    // 1.2 / 3.5 are not dotted quads
    assert(count(s, TextFns.IP_RE) == 0)
  }

  test("word boundaries: a longer dotted run does not half-match as IPv4") {
    // five dotted groups: \b stops 1.2.3.4.5 matching as 1.2.3.4 + tail
    // (the first four groups match with the final \b landing between
    // '4' and '.', Java and RE2 agree — lock the shared semantics)
    val s = "build 1.2.3.4.5 shipped"
    assert(redact(s) == "build <IP>.5 shipped")
  }

  test("redaction is idempotent on already-redacted text") {
    val once = redact("ping admin@example.org at 10.1.2.3")
    assert(redact(once) == once)
  }

  private def fixMoji(s: String): String =
    Seq(s).toDF("t").select(TextFns.fixMojibake(col("t")))
      .collect().head.getString(0)

  private def countMoji(s: String): Long =
    Seq(s).toDF("t").select(TextFns.countMojibake(col("t")))
      .collect().head.getLong(0)

  test("mojibake repair: the five cp1252 double-decode cases") {
    // caf<e-acute> and don<rsquo>t, corrupted then repaired
    val bad = "cafÃ© donâ€™t " +
      "maÃ±ana Ã¼ber â€” dash"
    val good = "café don’t mañana über — dash"
    assert(fixMoji(bad) == good)
    assert(countMoji(bad) == 5L)
  }

  test("script counts and dominance: mixed-script text, latin default on ties") {
    def counts(s: String): Seq[Long] =
      Seq(s).toDF("t").select(
        TextFns.SCRIPTS.map { case (_, j, _) =>
          TextFns.scriptCount(col("t"), j) }: _*).collect().head
        .toSeq.map(_.asInstanceOf[Long])
    def dom(s: String): String =
      Seq(s).toDF("t").select(TextFns.dominantScript(col("t")))
        .collect().head.getString(0)
    // "abc" + cyrillic ab + han one = 3 latin, 2 cyrillic, 1 han
    val mixed = "abc аб 一"
    assert(counts(mixed) == Seq(3L, 2L, 1L, 0L))
    assert(dom(mixed) == "latin")
    assert(dom("абв ok") == "cyrillic")
    // digits/punct belong to no script: all-zero ties default latin
    assert(dom("123 ...") == "latin")
    assert(dom("اباب a") == "arabic")
  }

  test("mojibake repair is identity on clean text and idempotent") {
    val clean = "café naïve — plain ascii too"
    assert(fixMoji(clean) == clean)
    assert(countMoji(clean) == 0L)
    val once = fixMoji("Ã©Ã© twice")
    assert(fixMoji(once) == once)
  }
}
