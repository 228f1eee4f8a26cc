package graft.sources

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSpark

/** WARC framing walk, gzip member streams, HTTP parsing, malformed
  * tolerance — the parser side; the builder/oracle arithmetic is
  * locked cross-engine by the warc_* gate keys. */
class WarcSpec extends AnyFunSuite with GraftSpark {

  import spark.implicits._

  private def docs(rows: (Long, String, String)*) =
    rows.toDF("doc_id", "text", "source")

  test("round trip: every doc comes back as one request + one response") {
    val d = docs((1L, "alpha beta", "s1"), (2L, "gamma", "s2"),
      (35L, "delta", "s3"))
    val recs = Warc.records(Warc.filesFromDocuments(d)).collect()
    assert(recs.count(_.getString(1) == "response") == 3)
    assert(recs.count(_.getString(1) == "request") == 3)
    val resp = recs.filter(_.getString(1) == "response")
      .map(r => r.getString(2) -> r.getString(6)).toMap
    // doc 1 and 2: html-wrapped; doc 35 (35 % 11 == 2) also html
    assert(resp("https://crawl.invalid/s1/1") ==
      Warc.expectedBody(1L, "alpha beta", "s1"))
    assert(resp("https://crawl.invalid/s2/2") ==
      Warc.expectedBody(2L, "gamma", "s2"))
  }

  test("recordsFromPath reads real .warc/.warc.gz files off disk identically") {
    import spark.implicits._
    val d = docs((1L, "alpha beta", "s1"), (2L, "gamma", "s2"),
      (33L, "delta", "s3"))
    val files = Warc.filesFromDocuments(d).as[(Long, Array[Byte])].collect()
    val dir = java.nio.file.Files.createTempDirectory("graft-warc-path")
    files.foreach { case (id, payload) =>
      val ext = if (id % 2 == 1) "warc.gz" else "warc"
      java.nio.file.Files.write(dir.resolve(f"crawl-$id%05d.$ext"), payload)
    }
    val fromPath = Warc.recordsFromPath(spark, dir.toString)
      .collect().map(r => (r.getString(1), r.getString(2), r.getString(6))).toSet
    val fromTable = Warc.records(Warc.filesFromDocuments(d))
      .collect().map(r => (r.getString(1), r.getString(2), r.getString(6))).toSet
    assert(fromPath == fromTable)
    org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("text/plain branch (doc_id % 11 == 3) ships the raw text") {
    val d = docs((3L, "plain body here", "s0"))
    val r = Warc.records(Warc.filesFromDocuments(d))
      .filter(col("rec_type") === "response").collect()(0)
    assert(r.getString(4) == "text/plain")
    assert(r.getString(6) == "plain body here")
    assert(r.getLong(5) == "plain body here".getBytes(UTF_8).length.toLong)
  }

  test("404 branch (doc_id % 17 == 0) keeps the body, changes the status") {
    val d = docs((17L, "gone", "s0"))
    val r = Warc.records(Warc.filesFromDocuments(d))
      .filter(col("rec_type") === "response").collect()(0)
    assert(r.getLong(3) == 404L)
    assert(r.getString(6) == Warc.expectedBody(17L, "gone", "s0"))
  }

  test("gzip member files parse identically to plain files") {
    // doc 2 lands in file 2 (plain), doc 33 in file 1 (gzip members)
    val d = docs((2L, "same text", "sA"), (33L, "same text", "sB"))
    val recs = Warc.records(Warc.filesFromDocuments(d))
      .filter(col("rec_type") === "response")
      .select("file_id", "body").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(recs(2L) == Warc.expectedBody(2L, "same text", "sA"))
    assert(recs(1L) == Warc.expectedBody(33L, "same text", "sB"))
  }

  test("multi-byte UTF-8 bodies round-trip with exact byte accounting") {
    val txt = "caf\u00e9 \u4e16\u754c"
    val d = docs((1L, txt, "s"))
    val r = Warc.records(Warc.filesFromDocuments(d))
      .filter(col("rec_type") === "response").collect()(0)
    assert(r.getString(6) == Warc.expectedBody(1L, txt, "s"))
    assert(r.getLong(5) == Warc.expectedBodyBytes(1L, txt, "s"))
  }

  test("planted garbage tail -> one malformed row, parsed records kept") {
    // file 0 (13 | 0) carries the garbage tail; doc 0 still parses
    val d = docs((0L, "kept", "s"))
    val recs = Warc.records(Warc.filesFromDocuments(d)).collect()
    assert(recs.count(_.getString(1) == "malformed") == 1)
    assert(recs.count(_.getString(1) == "response") == 1)
  }

  test("truncated body ends the walk with a malformed row, no throw") {
    val good = "WARC/1.0\r\nWARC-Type: request\r\n" +
      "WARC-Target-URI: u\r\nContent-Length: 4\r\n\r\nGET \r\n\r\n"
    val bad = "WARC/1.0\r\nWARC-Type: response\r\n" +
      "Content-Length: 9999\r\n\r\nshort"
    val recs = Warc.parseFile(7L, (good + bad).getBytes(UTF_8))
    assert(recs.map(_.rec_type) == Seq("request", "malformed"))
  }

  test("header names are case-insensitive; mime parameter is stripped") {
    val body = "HTTP/1.1 200 OK\r\ncontent-TYPE: text/html; charset=utf-8\r\n\r\nhi"
    val rec = "WARC/1.0\r\nwarc-type: response\r\nWARC-TARGET-URI: u\r\n" +
      s"CONTENT-length: ${body.getBytes(UTF_8).length}\r\n\r\n$body\r\n\r\n"
    val recs = Warc.parseFile(1L, rec.getBytes(UTF_8))
    assert(recs.size == 1)
    assert(recs.head.rec_type == "response")
    assert(recs.head.content_mime == "text/html")
    assert(recs.head.body == "hi")
  }

  test("latin-1 branch: declared charset decodes the planted byte; bytes = chars") {
    val d = docs((5L, "ascii only", "s")) // 5 % 19 == 5, pure ASCII
    val r = Warc.records(Warc.filesFromDocuments(d))
      .filter(col("rec_type") === "response").collect()(0)
    val exp = Warc.expectedBody(5L, "ascii only", "s")
    assert(exp.contains("ascii only\u00e9"))
    assert(r.getString(6) == exp)
    // iso-8859-1 encodes every char single-byte: bytes == chars, NOT
    // the utf-8 byte count (which would be chars + 1)
    assert(r.getLong(5) == exp.length.toLong)
    assert(Warc.expectedBodyBytes(5L, "ascii only", "s") == exp.length.toLong)
  }

  test("latin-1 branch suppressed on non-ASCII text: utf-8 fallback") {
    val txt = "caf\u00e9"
    val d = docs((24L, txt, "s")) // 24 % 19 == 5 but text isn't ASCII
    val r = Warc.records(Warc.filesFromDocuments(d))
      .filter(col("rec_type") === "response").collect()(0)
    assert(r.getString(6) == Warc.expectedBody(24L, txt, "s"))
    assert(r.getLong(5) == Warc.expectedBodyBytes(24L, txt, "s"))
  }

  test("chunked transfer-encoding de-chunks to the identity") {
    val txt = "x" * 350 // 7 % 23 == 7 -> chunked; body spans 5 chunks
    val d = docs((7L, txt, "s"))
    val r = Warc.records(Warc.filesFromDocuments(d))
      .filter(col("rec_type") === "response").collect()(0)
    assert(r.getString(6) == Warc.expectedBody(7L, txt, "s"))
    assert(r.getLong(5) == Warc.expectedBodyBytes(7L, txt, "s"))
  }

  test("broken chunked framing is record-level: the walk continues") {
    val block = "HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n\r\nZZZ\r\nnope"
    val bad = ("WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: u\r\n" +
      s"Content-Length: ${block.getBytes(UTF_8).length}\r\n\r\n$block\r\n\r\n")
      .getBytes(UTF_8)
    val recs = Warc.parseFile(9L, bad ++ Warc.requestRecord(1L, "s"))
    assert(recs.map(_.rec_type) == Seq("malformed", "request"))
  }

  test("revisit records (doc_id % 31 == 13): headers-only, typed, counted") {
    val d = docs((13L, "seen before", "s"))
    val recs = Warc.records(Warc.filesFromDocuments(d)).collect()
    assert(recs.count(_.getString(1) == "revisit") == 1)
    assert(recs.count(_.getString(1) == "response") == 1)
    val rv = recs.filter(_.getString(1) == "revisit")(0)
    assert(rv.getString(2) == "https://crawl.invalid/s/13")
    assert(rv.isNullAt(6)) // no body stored
  }

  test("unknown record types are typed rows, not a tail stop") {
    val rec = "WARC/1.0\r\nWARC-Type: warcinfo\r\nContent-Length: 2\r\n\r\nok\r\n\r\n"
    val recs = Warc.parseFile(1L,
      (rec.getBytes(UTF_8) ++ Warc.requestRecord(1L, "s")))
    assert(recs.map(_.rec_type) == Seq("other:warcinfo", "request"))
  }

  test("corrupt gzip payload -> single malformed row") {
    val recs = Warc.parseFile(3L,
      Array[Byte](0x1f.toByte, 0x8b.toByte, 1, 2, 3, 4, 5))
    assert(recs.map(_.rec_type) == Seq("malformed"))
  }
}
