package graft.sources

import java.io.ByteArrayInputStream
import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.UTF_8
import java.util.zip.{GZIPInputStream, GZIPOutputStream}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** WARC ingestion — the web-crawl container format (ISO 28500; the
  * layout Common Crawl distributes) that a web-scale text corpus
  * arrives in before any of the text/dedup/quality operators can run.
  * The reference's surface has no crawl ingest at all (its sources
  * stop at its own wire protocol, src/server.c); this is part of the
  * LLM-data extension tier, built like the multimodal decoders
  * (ops/Multimodal.scala): a real zero-dependency parser over opaque
  * binary payloads, row-local mapPartitions, zero shuffle, row-level
  * malformed tolerance.
  *
  * Supported: WARC/1.0 framing (version line, CRLF headers,
  * Content-Length-delimited block, CRLF CRLF separator), response and
  * request record types, `application/http` payload parsing (status
  * line, headers, entity body de-chunked under `Transfer-Encoding:
  * chunked` and decoded in the declared charset — utf-8, iso-8859-1/
  * latin-1, windows-1252; anything else falls back to utf-8, the
  * tolerant default every production extractor uses), and the Common
  * Crawl compression layout — each record its own gzip member,
  * members concatenated (one GZIPInputStream pass reads the whole
  * file: Java's implementation walks concatenated members natively).
  *
  * Malformed tolerance is two-level, matching where trust is lost: a
  * WARC FRAMING failure (bad version line, missing/invalid
  * Content-Length, truncated block) ends that file's walk with one
  * `malformed` row — after a framing error there is no trustworthy
  * resync point inside the member stream — while every record already
  * parsed stays; an HTTP PAYLOAD failure inside an intact frame (bad
  * status line, broken chunked framing) is RECORD-level — one
  * `malformed` row, walk continues from the known record boundary. A
  * malformed file can never fail the task.
  *
  * Scale shape: one input row per crawl file, records exploded
  * row-locally (flatMap — no shuffle, no state); a 100 TB crawl
  * parallelizes per file exactly like the production readers. Memory
  * is bounded by one decompressed file per task (crawl files are
  * ~1 GiB by convention — the same per-task bound every WARC reader
  * carries). If the (file_id, payload) staging table is PARQUET, cap
  * `spark.sql.parquet.columnarReaderBatchSize` (e.g. 8): the default
  * 4096-row vectorized batch multiplied by multi-MB binary cells
  * reserves gigabytes of direct buffer per task (measured OOM at
  * 32 tasks x 4 MB payloads).
  */
object Warc {

  /** One parsed record. `rec_type` is `response`/`request`/
    * `malformed`; non-response rows carry -1/null for the HTTP
    * fields (the multimodal -1 convention). `body` is the entity body
    * de-chunked and decoded in its declared charset; `body_bytes` its
    * exact DECODED byte length (post-de-chunk, pre-charset). */
  final case class WarcRecord(
      file_id: Long,
      rec_type: String,
      url: String,
      http_status: Long,
      content_mime: String,
      body_bytes: Long,
      body: String)

  // ---- fixture builder (deterministic, from the documents table) ----

  /** Number of synthetic crawl files the fixture shards into. */
  val NFiles = 32L

  /** Deterministic WARC fixture: shard `documents` into [[NFiles]]
    * crawl files (`file_id = doc_id % NFiles`), one request + one
    * response record per doc in doc_id order. Odd files use the
    * Common Crawl layout (gzip member per record); even files are
    * plain. Every 13th file carries a trailing non-WARC garbage
    * record — the malformed-tail case, planted OUTSIDE the document
    * set so the closed-form oracle stays exact. The generative
    * arithmetic (status 404 on doc_id % 17 = 0, text/plain on
    * doc_id % 11 = 3, iso-8859-1 with one planted non-ASCII byte on
    * doc_id % 19 = 5 over pure-ASCII text, chunked transfer encoding
    * on doc_id % 23 = 7, the HTML wrapper) is replayed by the gate
    * oracles, mm_png-style.
    *
    * Output: (file_id, payload binary). */
  def filesFromDocuments(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), col("text"), col("source"))
      .as[(Long, String, String)]
      .groupByKey(_._1 % NFiles)
      .mapGroups { (fileId, it) =>
        val out = new ByteArrayOutputStream()
        val gz = fileId % 2 == 1
        // fixture files are small (docs/NFiles records); sorting the
        // group in memory is builder-side determinism, not an
        // operator-path collect
        it.toArray.sortBy(_._1).foreach { case (docId, text, source) =>
          writeMember(out, requestRecord(docId, source), gz)
          writeMember(out, responseRecord(docId, text, source), gz)
          // crawl-time dedup: every 31st doc re-appears as a REVISIT
          // record (unchanged payload referenced, not re-stored)
          if (docId % 31 == 13)
            writeMember(out, revisitRecord(docId, source), gz)
        }
        if (fileId % 13 == 0)
          writeMember(out, "NOT-A-WARC-RECORD\r\n".getBytes(UTF_8), gz)
        (fileId, out.toByteArray)
      }
      .toDF("file_id", "payload")
  }

  private[sources] def writeMember(out: ByteArrayOutputStream, rec: Array[Byte],
      gz: Boolean): Unit =
    if (gz) {
      val g = new GZIPOutputStream(out)
      g.write(rec); g.finish(); g.close()
    } else out.write(rec)

  private[sources] def urlOf(docId: Long, source: String): String =
    s"https://crawl.invalid/$source/$docId"

  /** The fixture page: title, a robots-noindex meta on doc_id % 29 =
    * 11 (the crawl-politeness flag the indexable-text gate must
    * honor), the document text, and one OUTLINK to a sibling doc of
    * the same source — extracted provenance for the link-graph gate. */
  private[sources] def htmlOf(docId: Long, text: String,
      source: String): String = {
    val meta =
      if (docId % 29 == 11) "<meta name=\"robots\" content=\"noindex\">"
      else ""
    s"<html><head><title>Doc</title>$meta</head><body><p>$text</p>" +
      s"<a href=\"${urlOf(docId + 17, source)}\">next</a></body></html>"
  }

  /** The latin-1 fixture branch only fires on pure-ASCII source text
    * (bytes == chars — the oracle mirrors with strlen = length) so the
    * planted non-ASCII byte is always the APPENDED one. */
  private[sources] def isLatin1Branch(docId: Long, text: String): Boolean =
    docId % 19 == 5 && text.getBytes(UTF_8).length == text.length

  /** The decoded entity body the parser must reproduce for `docId` —
    * the single source of truth the specs assert against (the gate
    * oracles restate it closed-form in SQL by design). */
  private[sources] def expectedBody(docId: Long, text: String,
      source: String): String = {
    val t = if (isLatin1Branch(docId, text)) text + "\u00e9" else text
    if (docId % 11 == 3) t else htmlOf(docId, t, source)
  }

  private[sources] def expectedBodyBytes(docId: Long, text: String,
      source: String): Long = {
    val b = expectedBody(docId, text, source)
    if (isLatin1Branch(docId, text)) b.length.toLong
    else b.getBytes(UTF_8).length.toLong
  }

  private[sources] def responseRecord(docId: Long, text: String,
      source: String): Array[Byte] = {
    val latin1 = isLatin1Branch(docId, text)
    val chunked = docId % 23 == 7
    val bodyStr = expectedBody(docId, text, source)
    val charset =
      if (latin1) java.nio.charset.StandardCharsets.ISO_8859_1 else UTF_8
    val raw = bodyStr.getBytes(charset)
    val body = if (chunked) chunkEncode(raw, 100) else raw
    val status = if (docId % 17 == 0) "404 Not Found" else "200 OK"
    val mime = if (docId % 11 == 3) "text/plain" else "text/html"
    val csName = if (latin1) "iso-8859-1" else "utf-8"
    val http = (s"HTTP/1.1 $status\r\n" +
      s"Content-Type: $mime; charset=$csName\r\n" +
      (if (chunked) "Transfer-Encoding: chunked\r\n"
       else s"Content-Length: ${raw.length}\r\n") +
      "\r\n").getBytes(UTF_8) ++ body
    record("response", docId, source, "application/http; msgtype=response",
      http)
  }

  /** HTTP/1.1 chunked transfer encoding: hex-size line, chunk, CRLF,
    * repeated; zero-size terminator with an empty trailer. */
  private[sources] def chunkEncode(raw: Array[Byte], chunkSize: Int): Array[Byte] = {
    val out = new ByteArrayOutputStream(raw.length + 64)
    var off = 0
    while (off < raw.length) {
      val n = math.min(chunkSize, raw.length - off)
      out.write(f"$n%x\r\n".getBytes(UTF_8))
      out.write(raw, off, n)
      out.write("\r\n".getBytes(UTF_8))
      off += n
    }
    out.write("0\r\n\r\n".getBytes(UTF_8))
    out.toByteArray
  }

  /** WARC revisit record: a re-crawl whose payload matched an earlier
    * capture (identified by WARC-Refers-To) — stored headers-only.
    * The crawl-time half of dedup; the corpus-side half is the
    * url/content dedup family in ops/Dedup. */
  private[sources] def revisitRecord(docId: Long, source: String): Array[Byte] =
    (s"WARC/1.0\r\n" +
      "WARC-Type: revisit\r\n" +
      f"WARC-Record-ID: <urn:uuid:r$docId%031d>\r\n" +
      f"WARC-Refers-To: <urn:uuid:$docId%032d>\r\n" +
      "WARC-Date: 2024-01-02T00:00:00Z\r\n" +
      s"WARC-Target-URI: ${urlOf(docId, source)}\r\n" +
      "Content-Length: 0\r\n\r\n" +
      "\r\n\r\n").getBytes(UTF_8)

  private[sources] def requestRecord(docId: Long, source: String): Array[Byte] = {
    val http = (s"GET /$source/$docId HTTP/1.1\r\n" +
      "Host: crawl.invalid\r\n\r\n").getBytes(UTF_8)
    record("request", docId, source, "application/http; msgtype=request",
      http)
  }

  private def record(tpe: String, docId: Long, source: String,
      contentType: String, block: Array[Byte]): Array[Byte] =
    (s"WARC/1.0\r\n" +
      s"WARC-Type: $tpe\r\n" +
      f"WARC-Record-ID: <urn:uuid:$docId%032d>\r\n" +
      "WARC-Date: 2024-01-01T00:00:00Z\r\n" +
      s"WARC-Target-URI: ${urlOf(docId, source)}\r\n" +
      s"Content-Type: $contentType\r\n" +
      s"Content-Length: ${block.length}\r\n\r\n").getBytes(UTF_8) ++
      block ++ "\r\n\r\n".getBytes(UTF_8)

  // ---- parser ----

  /** Read REAL crawl files (.warc / .warc.gz, any names) from a path
    * or glob via Spark's binaryFile source and parse every record —
    * the production entry point: one row per file, read parallelism =
    * file count, no staging table. `file_id` is the xxhash64 of the
    * file path (stable, join-able back to provenance via the same
    * hash); the per-task memory bound is one decompressed file, as on
    * [[records]].
    *
    * Per-file size bound: the binaryFile source materializes each
    * file as ONE byte array, capped at ~2 GiB
    * (spark.sql.sources.binaryFile.maxLength / the JVM array limit) —
    * a crawl file above that fails the read with Spark's own length
    * error. Common Crawl's ~1 GiB-per-WARC convention keeps real
    * fleets safely inside the bound; re-shard anything bigger before
    * ingest. */
  def recordsFromPath(spark: org.apache.spark.sql.SparkSession,
      glob: String): DataFrame =
    records(spark.read.format("binaryFile").load(glob)
      .select(xxhash64(col("path")).as("file_id"),
        col("content").as("payload")))

  /** Parse every record of every crawl file: one flatMap, no shuffle.
    * Input must have (file_id long, payload binary). */
  def records(files: DataFrame): DataFrame = {
    val spark = files.sparkSession
    import spark.implicits._
    files.select(col("file_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .flatMap { case (fileId, payload) => parseFile(fileId, payload) }
      .toDF()
  }

  /** Whole-file record walk; gunzips the member stream first when the
    * payload leads with the gzip magic. */
  private[sources] def parseFile(fileId: Long,
      payload: Array[Byte]): Seq[WarcRecord] = {
    val (bytes, gzError) =
      if (payload.length >= 2 && (payload(0) & 0xff) == 0x1f &&
          (payload(1) & 0xff) == 0x8b)
        gunzipAll(payload)
      else (payload, false)
    val out = Seq.newBuilder[WarcRecord]
    var pos = 0
    var endedMalformed = false
    while (pos < bytes.length) {
      parseRecord(fileId, bytes, pos) match {
        case Some((rec, next)) => out += rec; pos = next
        case None =>
          out += malformed(fileId); endedMalformed = true; pos = bytes.length
      }
    }
    // a gzip stream error (corrupt header, truncated member) keeps
    // every record decompressed before it and records the tail loss as
    // one malformed row — unless the partial walk already did
    if (gzError && !endedMalformed) out += malformed(fileId)
    out.result()
  }

  private def malformed(fileId: Long): WarcRecord =
    WarcRecord(fileId, "malformed", null, -1L, null, -1L, null)

  /** Decompress the concatenated-member stream; on a stream error
    * (corrupt header, truncated member, bad CRC) returns everything
    * decompressed so far plus the error flag — a damaged tail must
    * not drop the file's intact leading records. */
  private def gunzipAll(payload: Array[Byte]): (Array[Byte], Boolean) = {
    val out = new ByteArrayOutputStream(payload.length * 4)
    try {
      val in = new GZIPInputStream(new ByteArrayInputStream(payload))
      val buf = new Array[Byte](64 * 1024)
      var n = in.read(buf)
      while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
      (out.toByteArray, false)
    } catch {
      case _: java.io.IOException => (out.toByteArray, true)
    }
  }

  /** One WARC record at `pos`: returns (record, next position) or None
    * on any framing failure (the walk stops — no resync point). */
  private def parseRecord(fileId: Long, b: Array[Byte],
      pos: Int): Option[(WarcRecord, Int)] = {
    val (version, afterVersion) = readLine(b, pos).getOrElse(return None)
    if (version != "WARC/1.0") return None
    val (headers, afterHeaders) =
      readHeaders(b, afterVersion).getOrElse(return None)
    val len = headers.get("content-length")
      .flatMap(v => v.toLongOption).getOrElse(return None)
    if (len < 0 || afterHeaders + len > b.length) return None
    val blockEnd = (afterHeaders + len).toInt
    // record separator: two CRLF after the block (tolerated absent at
    // end-of-stream)
    var next = blockEnd
    if (next + 4 <= b.length && b(next) == '\r' && b(next + 1) == '\n' &&
        b(next + 2) == '\r' && b(next + 3) == '\n') next += 4
    else if (next != b.length) return None
    val tpe = headers.getOrElse("warc-type", "")
    val uri = headers.getOrElse("warc-target-uri", null)
    val rec = tpe match {
      case "response" =>
        // the WARC frame is intact here, so an HTTP-payload failure is
        // RECORD-level, not tail-level: emit one malformed row and
        // keep walking from the known record boundary
        parseHttp(b, afterHeaders, blockEnd) match {
          case Some(r) => r.copy(file_id = fileId, url = uri)
          case None => malformed(fileId)
        }
      case "request" =>
        WarcRecord(fileId, "request", uri, -1L, null, -1L, null)
      case "revisit" =>
        WarcRecord(fileId, "revisit", uri, -1L, null, -1L, null)
      case "" => return None // a WARC record without a type is a framing lie
      case other =>
        // warcinfo/metadata/conversion/...: intact frame, known walk
        // boundary — tolerate as a typed row instead of killing the tail
        WarcRecord(fileId, "other:" + other, uri, -1L, null, -1L, null)
    }
    Some((rec, next))
  }

  /** Charsets the decoder honors from the Content-Type parameter —
    * the three that cover essentially all real crawls; anything else
    * (or none) decodes as UTF-8, the tolerant default every
    * production extractor uses. */
  private val Charsets = Map(
    "utf-8" -> UTF_8, "utf8" -> UTF_8,
    "iso-8859-1" -> java.nio.charset.StandardCharsets.ISO_8859_1,
    "latin-1" -> java.nio.charset.StandardCharsets.ISO_8859_1,
    "windows-1252" -> java.nio.charset.Charset.forName("windows-1252"))

  /** HTTP response inside [off, end): status, base mime, entity body
    * de-chunked when Transfer-Encoding: chunked and decoded in the
    * declared charset. None on a malformed message (the CALLER treats
    * that as record-level). */
  private def parseHttp(b: Array[Byte], off: Int,
      end: Int): Option[WarcRecord] = {
    val (statusLine, afterStatus) = readLine(b, off).getOrElse(return None)
    if (afterStatus > end) return None
    val parts = statusLine.split(" ", 3)
    if (parts.length < 2 || !parts(0).startsWith("HTTP/")) return None
    val status = parts(1).toLongOption.getOrElse(return None)
    val (headers, bodyOff) = readHeaders(b, afterStatus).getOrElse(return None)
    if (bodyOff > end) return None
    val ct = headers.getOrElse("content-type", "")
    val mime = if (ct.isEmpty) null else ct.split(";")(0).trim
    val charset = ct.split(";").drop(1)
      .map(_.trim.toLowerCase).find(_.startsWith("charset="))
      .map(_.substring("charset=".length).stripPrefix("\"").stripSuffix("\""))
      .flatMap(Charsets.get).getOrElse(UTF_8)
    val chunked = headers.get("transfer-encoding")
      .exists(_.trim.equalsIgnoreCase("chunked"))
    val raw =
      if (chunked) deChunk(b, bodyOff, end).getOrElse(return None)
      else java.util.Arrays.copyOfRange(b, bodyOff, end)
    Some(WarcRecord(-1L, "response", null, status, mime,
      raw.length.toLong, new String(raw, charset)))
  }

  /** Decode an HTTP/1.1 chunked body in [off, end): hex-size lines
    * (chunk extensions after `;` ignored), terminator chunk, trailer
    * section tolerated. None on any framing violation. */
  private def deChunk(b: Array[Byte], off: Int, end: Int): Option[Array[Byte]] = {
    val out = new ByteArrayOutputStream(end - off)
    var pos = off
    while (true) {
      val (sizeLine, afterSize) = readLine(b, pos).getOrElse(return None)
      if (afterSize > end) return None
      val size =
        try java.lang.Long.parseLong(sizeLine.split(";")(0).trim, 16)
        catch { case _: NumberFormatException => return None }
      if (size < 0 || size > Int.MaxValue) return None
      if (size == 0) return Some(out.toByteArray)
      if (afterSize + size + 2 > end) return None
      out.write(b, afterSize, size.toInt)
      if (b((afterSize + size).toInt) != '\r' ||
          b((afterSize + size + 1).toInt) != '\n') return None
      pos = (afterSize + size + 2).toInt
    }
    None // unreachable
  }

  /** CRLF-terminated line as ISO-8859-1 (header bytes are ASCII by
    * spec); returns (line, position after CRLF). */
  private def readLine(b: Array[Byte], pos: Int): Option[(String, Int)] = {
    var i = pos
    while (i + 1 < b.length && !(b(i) == '\r' && b(i + 1) == '\n')) i += 1
    if (i + 1 >= b.length) None
    else Some((new String(b, pos, i - pos, UTF_8), i + 2))
  }

  /** Header block until the blank line; keys lower-cased (header names
    * are case-insensitive in both WARC and HTTP). */
  private def readHeaders(b: Array[Byte],
      pos: Int): Option[(Map[String, String], Int)] = {
    val m = Map.newBuilder[String, String]
    var p = pos
    while (true) {
      val (line, next) = readLine(b, p).getOrElse(return None)
      if (line.isEmpty) return Some((m.result(), next))
      val i = line.indexOf(':')
      if (i <= 0) return None
      m += (line.substring(0, i).trim.toLowerCase -> line.substring(i + 1).trim)
      p = next
    }
    None // unreachable
  }
}
