package graft.ops

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSpark

/** HTML stripping: payload removal, entity order, tag spacing; link
  * extraction feeding the url canonical chain. */
class HtmlSpec extends AnyFunSuite with GraftSpark {

  import spark.implicits._

  private def strip(s: String): String =
    Seq(s).toDF("t").select(Html.stripHtml(col("t")))
      .collect().head.getString(0)

  test("script/style payloads vanish WITH content; comments vanish") {
    val page = "<p>keep</p><script>var s='drop me';</script>" +
      "<style>.x{color:red}</style><!-- gone -->tail"
    assert(strip(page) == "keep tail")
  }

  test("tags become single spaces so block boundaries never glue words") {
    assert(strip("<h1>a</h1><p>b</p>") == "a b")
  }

  test("entities decode with &amp; last: &amp;lt; stays a literal &lt;") {
    assert(strip("x &lt;y&gt; &quot;q&quot; &#39;s&#39; a&amp;b") ==
      "x <y> \"q\" 's' a&b")
    assert(strip("&amp;lt;") == "&lt;")
  }

  test("whitespace collapses and ends trim") {
    assert(strip("  a\n\n<br/>   b  ") == "a b")
  }

  test("extractLinks finds the planted href and canonicalizes like UrlCanon") {
    val docs = Seq((0L, "body words"), (5L, "more words"))
      .toDF("doc_id", "text")
    val got = Html.extractLinks(docs).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getString(2), r.getString(3))))
      .toMap
    val expect = UrlCanon.canonicalizeUrls(docs).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getString(2), r.getString(3))))
      .toMap
    assert(got == expect) // one anchor per page, same url -> same canon
  }
}
