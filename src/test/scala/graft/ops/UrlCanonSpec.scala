package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSpark

/** UrlCanon: rule-by-rule canonicalization cases, grain invariants,
  * and the scan-speed plan shape. */
class UrlCanonSpec extends AnyFunSuite with GraftSpark {

  import spark.implicits._

  private def canonOf(url: String): (String, String) = {
    val r = Seq(url).toDF("u")
      .select(UrlCanon.canonical(col("u")), UrlCanon.host(col("u")))
      .collect()(0)
    (r.getString(0), r.getString(1))
  }

  test("each canonicalization rule fires exactly as declared") {
    // case, www, default port, index.html, query, fragment all strip
    assert(canonOf("HTTP://WWW.Site1.Example.org:80/Articles/3/index.html?utm=x#top") ==
      (("http://site1.example.org/articles/3", "site1.example.org")))
    // https default port strips; non-default port stays
    assert(canonOf("https://site2.example.org:443/a")._1 == "https://site2.example.org/a")
    assert(canonOf("https://site2.example.org:8080/a")._1 == "https://site2.example.org:8080/a")
    // :80 under https is identity-bearing and stays
    assert(canonOf("https://h.org:80/a")._1 == "https://h.org:80/a")
    // trailing slash strips; bare host unchanged
    assert(canonOf("http://h.org/a/")._1 == "http://h.org/a")
    assert(canonOf("http://h.org")._1 == "http://h.org")
    // index.html strips only as a full trailing path segment
    assert(canonOf("http://h.org/index.html")._1 == "http://h.org")
    assert(canonOf("http://h.org/xindex.html")._1 == "http://h.org/xindex.html")
    // host key never carries a port
    assert(canonOf("http://h.org:8080/a")._2 == "h.org")
  }

  test("planted messy variants collapse onto shared canonical urls") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val c = UrlCanon.canonicalizeUrls(docs)
    // canonical form is idempotent: canonicalizing a canonical url is a no-op
    assert(c.filter(UrlCanon.canonical(col("url_canon")) =!= col("url_canon"))
      .count() == 0)
    // the plant collapses: fewer distinct canonical urls than raw urls
    val raw = c.select("url").distinct().count()
    val canon = c.select("url_canon").distinct().count()
    assert(canon < raw)
    // dedup groups agree with a direct groupBy over the same keys
    val viaOp = UrlCanon.dedupByUrl(docs)
      .agg(sum("n_dups"), count(lit(1))).collect()(0)
    assert(viaOp.getLong(0) == docs.count() && viaOp.getLong(1) == canon)
    // host grain: every canonical url's authority starts with its host
    assert(c.filter(!col("url_canon").contains(col("host"))).count() == 0)
  }

  test("canonicalization is a pure projection — no exchange in the plan") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val plan = UrlCanon.canonicalizeUrls(docs)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"))
  }
}
