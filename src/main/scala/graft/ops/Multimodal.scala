package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column support: opaque `binary` payloads + typed
  * metadata, decoded per-partition in batches.
  *
  * The decoders are REAL zero-dependency header parsers for three
  * self-describing uncompressed formats — BMP (BITMAPINFOHEADER),
  * binary PPM (P6), and RIFF/WAV PCM: magic bytes are validated and
  * width/height/sample-rate/sample-count are read from the actual
  * payload bytes. (Compressed formats would need codec libraries this
  * container doesn't ship; for these formats the header IS the decode.)
  *
  * The media fixture plants payloads whose geometry derives
  * arithmetically from media_id, so the DuckDB oracle can verify every
  * decoded feature — including the whole-payload byte checksum — in
  * closed form without parsing binary (see StreamSurface.mmOracle).
  *
  * Scale notes: payloads stay opaque binary end-to-end (no driver
  * collect); `mapPartitions` amortizes per-batch decoder setup (the
  * same reason Python pipelines use mapInPandas); feature output is a
  * flat struct so downstream ops are columnar again. A malformed
  * payload decodes to format "unknown" instead of failing the job —
  * row-level error tolerance, matching the INSERT path's per-record
  * error counting philosophy.
  */
object Multimodal {

  // ---- deterministic fixture geometry (mirrored by the SQL oracle) ----
  private[ops] def fillByte(id: Long): Int = (id % 251).toInt
  private[ops] def imgW(id: Long): Int = (16 + id % 97).toInt
  private[ops] def imgH(id: Long): Int = (16 + id % 53).toInt
  private[ops] def wavRate(id: Long): Int = (8000 + (id % 5) * 4000).toInt
  private[ops] def wavSamples(id: Long): Int = (64 + id % 129).toInt

  private def le(x: Long, n: Int): Array[Byte] =
    Array.tabulate(n)(i => ((x >> (8 * i)) & 0xff).toByte)

  /** A real, well-formed payload for media_id: BMP / PPM / WAV by
    * id % 3, pixel/sample body filled with the constant fill byte. */
  private[ops] def buildPayload(id: Long): Array[Byte] = {
    val fill = fillByte(id).toByte
    (id % 3) match {
      case 0 => // BMP: 54-byte BITMAPINFOHEADER, 24bpp, 4-byte-padded rows
        val w = imgW(id); val h = imgH(id)
        val row = ((w * 3 + 3) / 4) * 4
        val body = row * h
        val bb = java.nio.ByteBuffer.allocate(54 + body)
        bb.put('B'.toByte).put('M'.toByte)
        bb.put(le(54L + body, 4)).put(le(0, 4)).put(le(54, 4))
        bb.put(le(40, 4)).put(le(w, 4)).put(le(h, 4))
        bb.put(le(1, 2)).put(le(24, 2)).put(le(0, 4)).put(le(body, 4))
        bb.put(le(2835, 4)).put(le(2835, 4)).put(le(0, 4)).put(le(0, 4))
        java.util.Arrays.fill(bb.array(), 54, 54 + body, fill)
        bb.array()
      case 1 => // binary PPM: ASCII "P6\n<w> <h>\n255\n" + w*h*3 pixels
        val w = imgW(id); val h = imgH(id)
        val head = s"P6\n$w $h\n255\n".getBytes("US-ASCII")
        val out = new Array[Byte](head.length + w * h * 3)
        System.arraycopy(head, 0, out, 0, head.length)
        java.util.Arrays.fill(out, head.length, out.length, fill)
        out
      case _ => // WAV: 44-byte RIFF header, 16-bit mono PCM
        val rate = wavRate(id); val ns = wavSamples(id)
        val data = ns * 2
        val bb = java.nio.ByteBuffer.allocate(44 + data)
        bb.put("RIFF".getBytes("US-ASCII")).put(le(36L + data, 4))
        bb.put("WAVE".getBytes("US-ASCII"))
        bb.put("fmt ".getBytes("US-ASCII")).put(le(16, 4))
        bb.put(le(1, 2)).put(le(1, 2)) // PCM, mono
        bb.put(le(rate, 4)).put(le(rate * 2L, 4)) // byte rate = rate*2
        bb.put(le(2, 2)).put(le(16, 2)) // block align, bits/sample
        bb.put("data".getBytes("US-ASCII")).put(le(data, 4))
        java.util.Arrays.fill(bb.array(), 44, 44 + data, fill)
        bb.array()
    }
  }

  /** Build the media table from the documents fixture: one planted
    * BMP/PPM/WAV payload per document. */
  def mediaFromDocuments(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), col("source")).as[(Long, String)]
      .mapPartitions(_.map { case (id, source) =>
        val mt = (id % 3) match {
          case 0 => "image/bmp"
          case 1 => "image/x-portable-pixmap"
          case _ => "audio/wav"
        }
        (id, buildPayload(id), mt, source)
      }).toDF("media_id", "payload", "media_type", "source")
  }

  /** Decoded features; -1 marks not-applicable (audio has no
    * width, images no sample rate) and unknown-format geometry. */
  final case class MediaFeatures(
      media_id: Long,
      format: String,
      n_bytes: Long,
      first_byte: Long,
      byte_checksum: Long,
      width: Long,
      height: Long,
      sample_rate: Long,
      n_samples: Long)

  /** Real header decode: validates magic bytes and reads geometry from
    * the payload bytes. Malformed/short payloads yield "unknown" with
    * -1 geometry rather than failing the task. */
  private[ops] def decode(mediaId: Long, p: Array[Byte]): MediaFeatures = {
    val n = p.length
    var sum = 0L
    var i = 0
    while (i < n) { sum += p(i) & 0xff; i += 1 }
    val first = if (n > 0) p(0) & 0xff else -1L
    def le32(o: Int): Long = (p(o) & 0xffL) | ((p(o + 1) & 0xffL) << 8) |
      ((p(o + 2) & 0xffL) << 16) | ((p(o + 3) & 0xffL) << 24)
    def le16(o: Int): Int = (p(o) & 0xff) | ((p(o + 1) & 0xff) << 8)
    def base(fmt: String) =
      MediaFeatures(mediaId, fmt, n, first, sum, -1, -1, -1, -1)
    if (n >= 54 && p(0) == 'B' && p(1) == 'M')
      base("bmp").copy(width = le32(18), height = le32(22))
    else if (n >= 9 && p(0) == 'P' && p(1) == '6') {
      var o = 2
      def skipWs(): Unit =
        while (o < n && (p(o) == ' ' || p(o) == '\n' || p(o) == '\t' || p(o) == '\r')) o += 1
      def readInt(): Long = {
        var v = 0L
        while (o < n && p(o) >= '0' && p(o) <= '9') { v = v * 10 + (p(o) - '0'); o += 1 }
        v
      }
      skipWs(); val w = readInt()
      skipWs(); val h = readInt()
      base("ppm").copy(width = w, height = h)
    } else if (n >= 44 && p(0) == 'R' && p(1) == 'I' && p(2) == 'F' && p(3) == 'F' &&
        p(8) == 'W' && p(9) == 'A' && p(10) == 'V' && p(11) == 'E') {
      val channels = le16(22)
      val rate = le32(24)
      val bits = le16(34)
      val dataBytes = le32(40)
      val bytesPerSample = math.max(channels * bits / 8, 1)
      base("wav").copy(sample_rate = rate, n_samples = dataBytes / bytesPerSample)
    } else base("unknown")
  }

  /** Batch feature extraction: decoder runs per-partition in a tight
    * loop over the payload bytes (the mapInPandas analog). */
  def extractFeatures(media: DataFrame): Dataset[MediaFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select("media_id", "payload").as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, payload) => decode(id, payload) })
  }

  /** Real half-resolution resize on the payload BYTES: nearest-neighbor
    * pixel sampling for BMP/PPM (every 2nd pixel of every 2nd row, new
    * well-formed header, zero row padding), 2:1 decimation for WAV
    * (every 2nd 16-bit sample, halved sample rate). Unknown formats
    * pass through untouched (row-level tolerance, like [[decode]]).
    * The resized payload re-decodes through [[extractFeatures]], so the
    * mm_resize gate verifies the WHOLE resize+re-encode+decode chain
    * against a closed-form oracle. */
  private[ops] def resizePayloadHalf(p: Array[Byte]): Array[Byte] = {
    val n = p.length
    def le32(o: Int): Int = (p(o) & 0xff) | ((p(o + 1) & 0xff) << 8) |
      ((p(o + 2) & 0xff) << 16) | ((p(o + 3) & 0xff) << 24)
    if (n >= 54 && p(0) == 'B' && p(1) == 'M') {
      val w = le32(18); val h = le32(22)
      if (w <= 0 || h <= 0) return p
      val nw = math.max(w / 2, 1); val nh = math.max(h / 2, 1)
      val srcStride = ((w * 3 + 3) / 4) * 4
      val outStride = ((nw * 3 + 3) / 4) * 4
      val body = outStride * nh
      val bb = java.nio.ByteBuffer.allocate(54 + body)
      bb.put('B'.toByte).put('M'.toByte)
      bb.put(le(54L + body, 4)).put(le(0, 4)).put(le(54, 4))
      bb.put(le(40, 4)).put(le(nw, 4)).put(le(nh, 4))
      bb.put(le(1, 2)).put(le(24, 2)).put(le(0, 4)).put(le(body, 4))
      bb.put(le(2835, 4)).put(le(2835, 4)).put(le(0, 4)).put(le(0, 4))
      val out = bb.array()
      var y = 0
      while (y < nh) {
        var x = 0
        while (x < nw) {
          val src = 54 + 2 * y * srcStride + 6 * x
          val dst = 54 + y * outStride + 3 * x
          if (src + 2 < n) { // nearest-neighbor: pixel (2x, 2y)
            out(dst) = p(src); out(dst + 1) = p(src + 1); out(dst + 2) = p(src + 2)
          }
          x += 1
        }
        y += 1 // row padding stays zero-initialized
      }
      out
    } else if (n >= 9 && p(0) == 'P' && p(1) == '6') {
      var o = 2
      def skipWs(): Unit =
        while (o < n && (p(o) == ' ' || p(o) == '\n' || p(o) == '\t' || p(o) == '\r')) o += 1
      def readInt(): Int = {
        var v = 0
        while (o < n && p(o) >= '0' && p(o) <= '9') { v = v * 10 + (p(o) - '0'); o += 1 }
        v
      }
      skipWs(); val w = readInt()
      skipWs(); val h = readInt()
      skipWs(); readInt() // maxval
      if (o >= n || w <= 0 || h <= 0) return p
      val bodyStart = o + 1 // the single whitespace after maxval
      val nw = math.max(w / 2, 1); val nh = math.max(h / 2, 1)
      val head = s"P6\n$nw $nh\n255\n".getBytes("US-ASCII")
      val out = new Array[Byte](head.length + 3 * nw * nh)
      System.arraycopy(head, 0, out, 0, head.length)
      var y = 0
      while (y < nh) {
        var x = 0
        while (x < nw) {
          val src = bodyStart + 3 * (2 * y * w + 2 * x)
          val dst = head.length + 3 * (y * nw + x)
          if (src + 2 < n) {
            out(dst) = p(src); out(dst + 1) = p(src + 1); out(dst + 2) = p(src + 2)
          }
          x += 1
        }
        y += 1
      }
      out
    } else if (n >= 44 && p(0) == 'R' && p(1) == 'I' && p(2) == 'F' && p(3) == 'F' &&
        p(8) == 'W' && p(9) == 'A' && p(10) == 'V' && p(11) == 'E') {
      val rate = le32(24); val dataBytes = le32(40)
      val ns = dataBytes / 2 // fixture contract: 16-bit mono
      val newRate = math.max(rate / 2, 1)
      val newNs = (ns + 1) / 2
      val data = newNs * 2
      val bb = java.nio.ByteBuffer.allocate(44 + data)
      bb.put("RIFF".getBytes("US-ASCII")).put(le(36L + data, 4))
      bb.put("WAVE".getBytes("US-ASCII"))
      bb.put("fmt ".getBytes("US-ASCII")).put(le(16, 4))
      bb.put(le(1, 2)).put(le(1, 2))
      bb.put(le(newRate, 4)).put(le(newRate * 2L, 4))
      bb.put(le(2, 2)).put(le(16, 2))
      bb.put("data".getBytes("US-ASCII")).put(le(data, 4))
      val out = bb.array()
      var s = 0
      while (s < newNs) { // every 2nd sample
        val src = 44 + 4 * s
        val dst = 44 + 2 * s
        if (src + 1 < n) { out(dst) = p(src); out(dst + 1) = p(src + 1) }
        s += 1
      }
      out
    } else p
  }

  /** Half-resolution resize over the media table (per-partition batch,
    * payloads stay opaque binary). Output: (media_id, payload) — the
    * resized bytes re-decode through [[extractFeatures]]; join back on
    * media_id when the type/source metadata is needed downstream. */
  def resizeHalf(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select("media_id", "payload").as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, payload) =>
        (id, resizePayloadHalf(payload))
      }).toDF("media_id", "payload")
  }

  final case class AudioFrame(
      media_id: Long, frame_idx: Long, n_in_frame: Long, byte_sum: Long)

  /** PCM frame sampling over the WAV subset — the audio face of
    * video-style frame sampling: a REAL RIFF chunk walk (not fixed
    * header offsets — 'fmt ' is located wherever it sits, so an
    * extended fmt chunk or a LIST/INFO chunk before 'data' parses
    * correctly instead of yielding garbage), the data chunk split into
    * fixed frames of `frameSamples` samples, every `stride`-th frame
    * kept with its sample count and byte checksum. Non-WAV and
    * malformed payloads (no fmt/data chunk found) emit no frames.
    * Row-local flatMap — no shuffle, no driver state; at 100 TB the
    * sampler runs at scan speed like every decoder here. */
  def frameSampleAudio(media: DataFrame, frameSamples: Int = 32,
      stride: Int = 2): Dataset[AudioFrame] = {
    require(frameSamples >= 1 && stride >= 1)
    val spark = media.sparkSession
    import spark.implicits._
    media.select("media_id", "payload").as[(Long, Array[Byte])]
      .flatMap { case (id, p) =>
        val n = p.length
        if (n < 12 || p(0) != 'R' || p(1) != 'I' || p(2) != 'F' || p(3) != 'F' ||
          p(8) != 'W' || p(9) != 'A' || p(10) != 'V' || p(11) != 'E') Iterator.empty
        else {
          def le32(o: Int): Long = (p(o) & 0xffL) | ((p(o + 1) & 0xffL) << 8) |
            ((p(o + 2) & 0xffL) << 16) | ((p(o + 3) & 0xffL) << 24)
          def le16(o: Int): Int = (p(o) & 0xff) | ((p(o + 1) & 0xff) << 8)
          def tag(o: Int, t: String): Boolean =
            p(o) == t(0) && p(o + 1) == t(1) && p(o + 2) == t(2) && p(o + 3) == t(3)
          // walk subchunks: [4-byte tag][4-byte LE size][body, padded
          // to even]. Record the fmt fields and the data extent; stop
          // once both are seen.
          var off = 12L
          var bytesPerSample = 0L
          var dataStart = -1L
          var dataBytes = -1L
          while (off + 8 <= n && (bytesPerSample == 0L || dataStart < 0)) {
            val o = off.toInt
            val size = le32(o + 4)
            // first-wins like the data rule below: a second fmt chunk
            // encountered while still searching for data must not
            // displace the canonical first one
            if (tag(o, "fmt ") && size >= 16 && off + 8 + 16 <= n &&
                bytesPerSample == 0L)
              bytesPerSample = math.max(le16(o + 10) * le16(o + 22) / 8, 1).toLong
            else if (tag(o, "data") && dataStart < 0) {
              // first-wins: a later duplicate data chunk (walked while
              // still looking for fmt) must not displace the canonical
              // first one
              dataStart = off + 8
              dataBytes = math.min(size, n - dataStart)
            }
            off += 8 + size + (size & 1) // chunks pad to even length
          }
          if (bytesPerSample <= 0 || dataStart < 0) Iterator.empty
          else {
            val nSamples = dataBytes / bytesPerSample
            val nFrames = ((nSamples + frameSamples - 1) / frameSamples).toInt
            Iterator.range(0, nFrames, stride).map { fi =>
              val sampleStart = fi.toLong * frameSamples
              val inFrame = math.min(frameSamples.toLong, nSamples - sampleStart)
              val byteStart = dataStart + sampleStart * bytesPerSample
              var sum = 0L
              var i = byteStart.toInt
              val end = (byteStart + inFrame * bytesPerSample).toInt
              while (i < end) { sum += p(i) & 0xff; i += 1 }
              AudioFrame(id, fi.toLong, inFrame, sum)
            }
          }
        }
      }
  }

  // ---------------------------------------------------------------
  // PNG: the compressed-format tier. Unlike BMP/PPM/WAV (where the
  // header IS the decode), PNG requires a real pixel decode: zlib
  // inflate of the IDAT stream (java.util.zip — in every JVM, no
  // codec dependency) followed by per-scanline UNFILTERING with all
  // five PNG filter types (None/Sub/Up/Average/Paeth). The planted
  // encoder cycles the filter type per row (y % 5), so a decoder that
  // skips or botches any filter type produces a wrong pixel checksum
  // and fails the hash gate — the decode is verified end-to-end, not
  // just the header walk. Chunk CRCs are verified (a real decoder's
  // integrity contract); the IDAT stream is split across two chunks
  // to exercise the multi-IDAT concatenation path every PNG reader
  // must implement.
  // ---------------------------------------------------------------

  /** Paeth predictor (PNG spec §9, filter type 4). */
  private def paeth(a: Int, b: Int, c: Int): Int = {
    val pa = math.abs(b - c)
    val pb = math.abs(a - c)
    val pc = math.abs(a + b - 2 * c)
    if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
  }

  /** A real, well-formed 8-bit RGB PNG for media_id: geometry from the
    * shared fixture arithmetic (imgW/imgH/fillByte), per-row filter
    * type y % 5, zlib-deflated scanlines split into TWO IDAT chunks,
    * CRC32 on every chunk. */
  private[ops] def buildPngPayload(id: Long): Array[Byte] = {
    val w = imgW(id); val h = imgH(id); val fill = fillByte(id)
    val stride = w * 3
    val raw = Array.fill[Byte](h * stride)(fill.toByte)
    val filtered = new Array[Byte](h * (1 + stride))
    var y = 0
    while (y < h) {
      val ft = y % 5
      filtered(y * (1 + stride)) = ft.toByte
      var x = 0
      while (x < stride) {
        val cur = raw(y * stride + x) & 0xff
        val left = if (x >= 3) raw(y * stride + x - 3) & 0xff else 0
        val up = if (y > 0) raw((y - 1) * stride + x) & 0xff else 0
        val ul = if (y > 0 && x >= 3) raw((y - 1) * stride + x - 3) & 0xff else 0
        val pred = ft match {
          case 0 => 0
          case 1 => left
          case 2 => up
          case 3 => (left + up) / 2
          case _ => paeth(left, up, ul)
        }
        filtered(y * (1 + stride) + 1 + x) = ((cur - pred) & 0xff).toByte
        x += 1
      }
      y += 1
    }
    val defl = new java.util.zip.Deflater()
    val z = new java.io.ByteArrayOutputStream()
    defl.setInput(filtered); defl.finish()
    val buf = new Array[Byte](8192)
    while (!defl.finished()) z.write(buf, 0, defl.deflate(buf))
    defl.end()
    val zb = z.toByteArray
    def chunk(tag: String, data: Array[Byte]): Array[Byte] = {
      val t = tag.getBytes("US-ASCII")
      val bb = java.nio.ByteBuffer.allocate(12 + data.length)
      bb.putInt(data.length).put(t).put(data)
      val crc = new java.util.zip.CRC32()
      crc.update(t); crc.update(data)
      bb.putInt(crc.getValue.toInt)
      bb.array()
    }
    val ihdr = java.nio.ByteBuffer.allocate(13)
      .putInt(w).putInt(h)
      .put(8.toByte)  // bit depth
      .put(2.toByte)  // color type: truecolor RGB
      .put(0.toByte).put(0.toByte).put(0.toByte) // deflate, filter 0, no interlace
      .array()
    val sig = Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)
    val mid = zb.length / 2
    sig ++ chunk("IHDR", ihdr) ++
      chunk("IDAT", java.util.Arrays.copyOfRange(zb, 0, mid)) ++
      chunk("IDAT", java.util.Arrays.copyOfRange(zb, mid, zb.length)) ++
      chunk("IEND", Array.emptyByteArray)
  }

  /** PNG media table from the documents fixture: one planted RGB PNG
    * per document (every doc — no id % 3 split; PNG is its own tier). */
  def pngFromDocuments(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), col("source")).as[(Long, String)]
      .mapPartitions(_.map { case (id, source) =>
        (id, buildPngPayload(id), "image/png", source)
      }).toDF("media_id", "payload", "media_type", "source")
  }

  /** Decoded-PNG features. `filter_sum` is the sum of the per-row
    * filter-type bytes (proves the decoder read every scanline header);
    * `pixel_checksum` sums every UNFILTERED pixel byte (proves all five
    * de-filters reconstruct the raw image). -1s + "unknown" for
    * malformed payloads, like [[decode]]. */
  final case class PngFeatures(
      media_id: Long,
      format: String,
      width: Long,
      height: Long,
      bit_depth: Long,
      color_type: Long,
      n_idat: Long,
      filter_sum: Long,
      pixel_checksum: Long)

  /** Full PNG decode: signature + CRC-verified chunk walk + multi-IDAT
    * zlib inflate + scanline unfiltering. Supports the 8-bit truecolor
    * non-interlaced subset the fixture plants; anything else (wrong
    * depth/type, bad CRC, truncated or over-long IDAT stream, unknown
    * filter type) is "unknown" — row-level tolerance, never a thrown
    * job failure. */
  private[ops] def decodePng(id: Long, p: Array[Byte]): PngFeatures = {
    val bad = PngFeatures(id, "unknown", -1, -1, -1, -1, -1, -1, -1)
    val n = p.length
    if (n < 8 || (p(0) & 0xff) != 0x89 || p(1) != 'P' || p(2) != 'N' ||
      p(3) != 'G' || p(4) != 0x0d || p(5) != 0x0a || p(6) != 0x1a ||
      p(7) != 0x0a) return bad
    def be32(o: Int): Int = ((p(o) & 0xff) << 24) | ((p(o + 1) & 0xff) << 16) |
      ((p(o + 2) & 0xff) << 8) | (p(o + 3) & 0xff)
    var off = 8
    var w = -1; var h = -1; var depth = -1; var ctype = -1
    var nIdat = 0
    var sawEnd = false
    val idat = new java.io.ByteArrayOutputStream()
    while (off + 12 <= n && !sawEnd) {
      val len = be32(off)
      if (len < 0 || off + 12 + len > n) return bad
      val crc = new java.util.zip.CRC32()
      crc.update(p, off + 4, 4 + len)
      if (crc.getValue.toInt != be32(off + 8 + len)) return bad
      val tag = new String(p, off + 4, 4, "US-ASCII")
      tag match {
        case "IHDR" =>
          if (len != 13) return bad
          w = be32(off + 8); h = be32(off + 12)
          depth = p(off + 16) & 0xff; ctype = p(off + 17) & 0xff
          if (p(off + 18) != 0 || p(off + 19) != 0 || p(off + 20) != 0) return bad
        case "IDAT" => nIdat += 1; idat.write(p, off + 8, len)
        case "IEND" => sawEnd = true
        case _ => // ancillary chunk (tEXt, pHYs, …): CRC already checked, skip
      }
      off += 12 + len
    }
    if (w <= 0 || h <= 0 || depth != 8 || ctype != 2 || nIdat == 0 || !sawEnd)
      return bad
    val stride = w * 3
    // overflow guard before allocating: fixture images are small, but a
    // hostile header must not OOM the executor
    if (w.toLong * h * 3 > (1L << 28)) return bad
    val expect = h * (1 + stride)
    val filtered = new Array[Byte](expect)
    val infl = new java.util.zip.Inflater()
    infl.setInput(idat.toByteArray)
    var got = 0
    try {
      while (got < expect && !infl.finished()) {
        val k = infl.inflate(filtered, got, expect - got)
        if (k == 0 && infl.needsInput()) return bad // truncated stream
        got += k
      }
      if (got != expect || !infl.finished()) return bad // short or over-long
    } catch { case _: java.util.zip.DataFormatException => return bad }
    finally infl.end()
    val raw = new Array[Byte](h * stride)
    var fsum = 0L
    var psum = 0L
    var y = 0
    while (y < h) {
      val ft = filtered(y * (1 + stride)) & 0xff
      if (ft > 4) return bad
      fsum += ft
      var x = 0
      while (x < stride) {
        val v = filtered(y * (1 + stride) + 1 + x) & 0xff
        val left = if (x >= 3) raw(y * stride + x - 3) & 0xff else 0
        val up = if (y > 0) raw((y - 1) * stride + x) & 0xff else 0
        val ul = if (y > 0 && x >= 3) raw((y - 1) * stride + x - 3) & 0xff else 0
        val pred = ft match {
          case 0 => 0
          case 1 => left
          case 2 => up
          case 3 => (left + up) / 2
          case _ => paeth(left, up, ul)
        }
        val r = (v + pred) & 0xff
        raw(y * stride + x) = r.toByte
        psum += r
        x += 1
      }
      y += 1
    }
    PngFeatures(id, "png", w, h, depth, ctype, nIdat, fsum, psum)
  }

  /** Batch PNG feature extraction — same per-partition shape as
    * [[extractFeatures]]: payloads stay opaque binary, the decoder runs
    * row-local, no shuffle, no driver state. */
  def extractPngFeatures(media: DataFrame): Dataset[PngFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select("media_id", "payload").as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, payload) => decodePng(id, payload) })
  }

  // ---- JPEG (JFIF) tier ----

  private[ops] def jpegEntropyBytes(id: Long): Int = (10 + id % 40).toInt

  /** A structurally real baseline JFIF payload: SOI, APP0(JFIF 1.1),
    * one DQT (64-byte table of the fill value), SOF0 (8-bit, 3
    * components, fixture geometry), SOS (3 components) followed by an
    * entropy run of fill bytes (fill ≤ 250, so no 0xFF needs byte
    * stuffing), EOI. Not a renderable image — the entropy run is not
    * valid Huffman data — but every SEGMENT is well-formed, which is
    * what a metadata walk consumes; pixel-level ground truth lives in
    * the BMP/PPM/PNG tiers. */
  private[ops] def buildJpegPayload(id: Long): Array[Byte] = {
    val fill = fillByte(id).toByte
    val w = imgW(id); val h = imgH(id); val el = jpegEntropyBytes(id)
    val out = new java.io.ByteArrayOutputStream()
    def be16(x: Int): Unit = { out.write((x >> 8) & 0xff); out.write(x & 0xff) }
    def marker(m: Int): Unit = { out.write(0xff); out.write(m) }
    marker(0xd8) // SOI
    marker(0xe0); be16(16) // APP0, len incl. the length field
    out.write("JFIF".getBytes("US-ASCII")); out.write(0)
    out.write(1); out.write(1) // version 1.1
    out.write(0); be16(1); be16(1) // aspect-ratio units, 1:1 density
    out.write(0); out.write(0) // no thumbnail
    marker(0xdb); be16(67); out.write(0) // DQT: pq=0/tq=0 + 64 entries
    var i = 0
    while (i < 64) { out.write(fill & 0xff); i += 1 }
    marker(0xc0); be16(8 + 3 * 3) // SOF0
    out.write(8); be16(h); be16(w); out.write(3)
    var c = 1
    while (c <= 3) { out.write(c); out.write(0x11); out.write(0); c += 1 }
    marker(0xda); be16(6 + 2 * 3) // SOS
    out.write(3)
    c = 1
    while (c <= 3) { out.write(c); out.write(0); c += 1 }
    out.write(0); out.write(63); out.write(0) // spectral selection
    i = 0
    while (i < el) { out.write(fill & 0xff); i += 1 }
    marker(0xd9) // EOI
    out.toByteArray
  }

  def jpegFromDocuments(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), col("source")).as[(Long, String)]
      .mapPartitions(_.map { case (id, source) =>
        (id, buildJpegPayload(id), "image/jpeg", source)
      }).toDF("media_id", "payload", "media_type", "source")
  }

  /** Decoded-JPEG metadata. `n_segments` counts marker segments walked
    * before SOS (proves the length-framed walk), `entropy_bytes` the
    * entropy-coded run scanned up to EOI (proves the stuffed-byte
    * scan), `dqt_sum` the quantization-table byte sum (proves segment
    * CONTENT was read, not skipped). */
  final case class JpegFeatures(
      media_id: Long,
      format: String,
      width: Long,
      height: Long,
      bit_precision: Long,
      n_components: Long,
      n_segments: Long,
      entropy_bytes: Long,
      dqt_sum: Long)

  /** Real JFIF marker walk: SOI, big-endian length-framed segments
    * (DQT table summed, SOF0..SOF15 parsed for geometry), SOS entropy
    * scan honoring 0xFF00 byte stuffing and restart markers, EOI.
    * Malformed/truncated payloads yield "unknown" with -1 geometry —
    * row-level tolerance, never a thrown job failure. */
  private[ops] def decodeJpeg(id: Long, p: Array[Byte]): JpegFeatures = {
    val bad = JpegFeatures(id, "unknown", -1, -1, -1, -1, -1, -1, -1)
    val n = p.length
    if (n < 4 || (p(0) & 0xff) != 0xff || (p(1) & 0xff) != 0xd8) return bad
    def be16(o: Int): Int = ((p(o) & 0xff) << 8) | (p(o + 1) & 0xff)
    var off = 2
    var w = -1L; var h = -1L; var prec = -1L; var ncomp = -1L
    var nSeg = 0L; var dqtSum = -1L
    while (off + 4 <= n) {
      if ((p(off) & 0xff) != 0xff) return bad
      val m = p(off + 1) & 0xff
      if (m == 0xd9) return bad // EOI before any SOS: no image
      val len = be16(off + 2)
      if (len < 2 || off + 2 + len > n) return bad
      m match {
        case 0xdb => // DQT: sum table bytes (skip the pq/tq id byte)
          if (dqtSum < 0) dqtSum = 0
          var i = off + 5
          while (i < off + 2 + len) { dqtSum += p(i) & 0xff; i += 1 }
        case sof if sof >= 0xc0 && sof <= 0xcf && sof != 0xc4 && sof != 0xc8 && sof != 0xcc =>
          if (len < 8) return bad
          prec = p(off + 4) & 0xff
          h = be16(off + 5); w = be16(off + 7)
          ncomp = p(off + 9) & 0xff
        case 0xda => // SOS: entropy scan to EOI
          if (w < 0 || h < 0) return bad // SOS before SOF
          var i = off + 2 + len
          var eb = 0L
          while (i + 1 < n) {
            val b = p(i) & 0xff
            if (b == 0xff) {
              val nx = p(i + 1) & 0xff
              if (nx == 0xd9)
                return JpegFeatures(id, "jpeg", w, h, prec, ncomp, nSeg, eb, dqtSum)
              else if (nx == 0x00 || (nx >= 0xd0 && nx <= 0xd7)) {
                eb += 2; i += 2 // stuffed 0xFF / restart marker
              } else return bad
            } else { eb += 1; i += 1 }
          }
          return bad // ran out without EOI
        case _ => // APPn/COM/DHT/…: length-framed, skip
      }
      nSeg += 1
      off += 2 + len
    }
    bad
  }

  /** Batch JPEG metadata extraction, same row-local shape as
    * [[extractPngFeatures]]. */
  def extractJpegFeatures(media: DataFrame): Dataset[JpegFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select("media_id", "payload").as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, payload) => decodeJpeg(id, payload) })
  }

  // ---- JPEG pixel tier: REAL baseline-sequential entropy decode ----
  // The metadata tier above stops at entropy-scan framing (triage);
  // this tier closes the image family: the payloads carry VALID
  // Huffman-coded scan data (DQT/DHT/SOF0/SOS, one grayscale
  // component), and the decoder runs the full baseline pipeline —
  // canonical Huffman tables from the DHT, DC prediction + EXTEND,
  // AC run/size RLE with EOB/ZRL, zigzag→natural dequantization, 2-D
  // IDCT, level shift, clamp, and MCU edge clipping. The planted
  // per-block DC pattern makes every decoded pixel id-derivable, so
  // the oracle checks the decode pixel-for-pixel in closed form.

  /** ITU T.81 zigzag scan order: zigzag index → natural (row*8+col). */
  private val ZIGZAG: Array[Int] = Array(
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63)

  /** Annex K.3.1 luminance-DC code lengths (symbols 0..11). */
  private val DC_BITS = Array(0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0)
  private val DC_VALS = Array.tabulate(12)(identity)
  /** Minimal valid AC table: the single EOB symbol at code length 1. */
  private val AC_BITS = Array(1, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
  private val AC_VALS = Array(0x00)

  /** Planted per-block flat pixel value: 128 + ((fill + block) % 17 − 8)
    * — encoded as a DC-only block (q=8 for every coefficient, DC =
    * value−128, all AC zero), whose IDCT is exactly the flat value. */
  private[ops] def jpegBlockPixel(id: Long, block: Int): Int =
    128 + ((fillByte(id) + block) % 17) - 8

  private final class BitWriter(out: java.io.ByteArrayOutputStream) {
    private var acc = 0
    private var n = 0
    def put(v: Int, bits: Int): Unit = {
      var i = bits - 1
      while (i >= 0) {
        acc = (acc << 1) | ((v >> i) & 1); n += 1
        if (n == 8) { out.write(acc); if (acc == 0xff) out.write(0x00); acc = 0; n = 0 }
        i -= 1
      }
    }
    def flushOnes(): Unit =
      if (n > 0) { put((1 << (8 - n)) - 1, 8 - n) } // pads to a byte boundary
  }

  /** A fully decodable grayscale baseline JFIF: per-8×8-block DC-only
    * data under the planted [[jpegBlockPixel]] pattern. */
  private[ops] def buildJpegPixelPayload(id: Long): Array[Byte] = {
    val w = imgW(id); val h = imgH(id)
    val bw = (w + 7) / 8; val bh = (h + 7) / 8
    val out = new java.io.ByteArrayOutputStream()
    def be16(x: Int): Unit = { out.write((x >> 8) & 0xff); out.write(x & 0xff) }
    def marker(m: Int): Unit = { out.write(0xff); out.write(m) }
    marker(0xd8) // SOI
    marker(0xdb); be16(67); out.write(0) // DQT id 0: all-8 table
    (0 until 64).foreach(_ => out.write(8))
    // DHT: DC class0/id0 then AC class1/id0 in one segment
    val dhtLen = 2 + (1 + 16 + DC_VALS.length) + (1 + 16 + AC_VALS.length)
    marker(0xc4); be16(dhtLen)
    out.write(0x00); DC_BITS.foreach(out.write); DC_VALS.foreach(out.write)
    out.write(0x10); AC_BITS.foreach(out.write); AC_VALS.foreach(out.write)
    marker(0xc0); be16(8 + 3) // SOF0: 8-bit, 1 component
    out.write(8); be16(h); be16(w); out.write(1)
    out.write(1); out.write(0x11); out.write(0)
    marker(0xda); be16(6 + 2) // SOS: 1 component, tables 0/0
    out.write(1); out.write(1); out.write(0x00)
    out.write(0); out.write(63); out.write(0)
    // entropy: canonical Huffman codes derived from the tables above
    val (dcCodes, dcLens) = canonicalCodes(DC_BITS, DC_VALS.length)
    val bwr = new BitWriter(out)
    var pred = 0
    var b = 0
    while (b < bw * bh) {
      val dc = jpegBlockPixel(id, b) - 128
      val diff = dc - pred
      pred = dc
      val mag = Math.abs(diff)
      var s = 0
      while ((mag >> s) != 0) s += 1
      bwr.put(dcCodes(s), dcLens(s))
      if (s > 0) bwr.put(if (diff < 0) diff + (1 << s) - 1 else diff, s)
      // AC: immediate EOB (code '0', length 1 in the minimal table)
      bwr.put(0, 1)
      b += 1
    }
    bwr.flushOnes()
    marker(0xd9) // EOI
    out.toByteArray
  }

  /** Canonical Huffman assignment (T.81 C.2): symbol index → (code,
    * length), in BITS/HUFFVAL order. */
  private def canonicalCodes(bits: Array[Int], nSyms: Int): (Array[Int], Array[Int]) = {
    val codes = new Array[Int](nSyms); val lens = new Array[Int](nSyms)
    var code = 0; var k = 0
    var l = 1
    while (l <= 16) {
      var i = 0
      while (i < bits(l - 1)) { codes(k) = code; lens(k) = l; code += 1; k += 1; i += 1 }
      code <<= 1
      l += 1
    }
    (codes, lens)
  }

  def jpegPixelFromDocuments(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), col("source")).as[(Long, String)]
      .mapPartitions(_.map { case (id, source) =>
        (id, buildJpegPixelPayload(id), "image/jpeg", source)
      }).toDF("media_id", "payload", "media_type", "source")
  }

  final case class JpegPixelFeatures(
      media_id: Long,
      format: String,
      width: Long,
      height: Long,
      n_blocks: Long,
      pixel_sum: Long,
      pixel_min: Long,
      pixel_max: Long)

  /** Full baseline-sequential grayscale decode: marker walk → Huffman
    * tables → per-block entropy decode (DC predict/EXTEND, AC run/size
    * with EOB/ZRL) → zigzag dequant → 2-D IDCT → level shift/clamp →
    * edge-clipped pixel aggregation. Malformed payloads yield
    * "unknown"/−1 (row-level tolerance, the decoder-tier contract). */
  private[ops] def decodeJpegPixels(id: Long, p: Array[Byte]): JpegPixelFeatures = {
    val bad = JpegPixelFeatures(id, "unknown", -1, -1, -1, -1, -1, -1)
    try decodeJpegPixelsImpl(id, p).getOrElse(bad)
    catch { case scala.util.control.NonFatal(_) => bad }
  }

  private def decodeJpegPixelsImpl(id: Long, p: Array[Byte]): Option[JpegPixelFeatures] = {
    val n = p.length
    if (n < 4 || (p(0) & 0xff) != 0xff || (p(1) & 0xff) != 0xd8) return None
    def be16(o: Int): Int = ((p(o) & 0xff) << 8) | (p(o + 1) & 0xff)
    val qt = Array.ofDim[Int](4, 64)
    // Huffman maps per (class, id): (len, code) → symbol
    val huff = Array.fill(2, 4)(null: java.util.HashMap[Int, Int])
    var w = -1; var h = -1; var dcSel = -1; var acSel = -1; var tq = -1
    var off = 2
    var scanAt = -1
    while (scanAt < 0 && off + 4 <= n) {
      if ((p(off) & 0xff) != 0xff) return None
      val m = p(off + 1) & 0xff
      val len = be16(off + 2)
      if (len < 2 || off + 2 + len > n) return None
      m match {
        case 0xdb =>
          var i = off + 4
          while (i < off + 2 + len) {
            val pq = (p(i) & 0xff) >> 4; val id0 = p(i) & 0x0f
            if (pq != 0 || id0 > 3) return None // 8-bit tables only
            var z = 0
            while (z < 64) { qt(id0)(ZIGZAG(z)) = p(i + 1 + z) & 0xff; z += 1 }
            i += 65
          }
        case 0xc4 =>
          var i = off + 4
          while (i < off + 2 + len) {
            val tc = (p(i) & 0xff) >> 4; val th = p(i) & 0x0f
            if (tc > 1 || th > 3) return None
            val bits = Array.tabulate(16)(j => p(i + 1 + j) & 0xff)
            val nsym = bits.sum
            val vals = Array.tabulate(nsym)(j => p(i + 17 + j) & 0xff)
            val (codes, lens) = canonicalCodes(bits, nsym)
            val map = new java.util.HashMap[Int, Int]()
            var k = 0
            while (k < nsym) { map.put((lens(k) << 16) | codes(k), vals(k)); k += 1 }
            huff(tc)(th) = map
            i += 17 + nsym
          }
        case 0xc0 => // baseline SOF only in this tier
          if (len < 8) return None
          h = be16(off + 5); w = be16(off + 7)
          if ((p(off + 9) & 0xff) != 1) return None // grayscale tier
          tq = p(off + 12) & 0x0f
        case 0xda =>
          if (w < 0) return None
          dcSel = (p(off + 6) & 0xff) >> 4; acSel = p(off + 6) & 0x0f
          scanAt = off + 2 + len
        case sof if sof >= 0xc1 && sof <= 0xcf && sof != 0xc4 && sof != 0xc8 && sof != 0xcc =>
          return None // progressive/arithmetic: out of tier
        case _ => ()
      }
      if (scanAt < 0) off += 2 + len
    }
    if (scanAt < 0) return None
    val dcMap = huff(0)(dcSel); val acMap = huff(1)(acSel)
    if (dcMap == null || acMap == null) return None
    val q = qt(tq)

    // entropy bit reader over the stuffed scan
    var pos = scanAt; var acc = 0; var nb = 0; var eoi = false
    def nextBit(): Int = {
      if (nb == 0) {
        if (pos + 1 >= n) throw new RuntimeException("eof")
        val b = p(pos) & 0xff
        if (b == 0xff) {
          val nx = p(pos + 1) & 0xff
          if (nx == 0x00) { acc = 0xff; pos += 2 }
          else if (nx == 0xd9) { eoi = true; throw new RuntimeException("eoi") }
          else throw new RuntimeException("marker in scan")
        } else { acc = b; pos += 1 }
        nb = 8
      }
      nb -= 1
      (acc >> nb) & 1
    }
    def decodeSym(map: java.util.HashMap[Int, Int]): Int = {
      var code = 0; var l = 0
      while (l < 16) {
        code = (code << 1) | nextBit(); l += 1
        val key = (l << 16) | code
        if (map.containsKey(key)) return map.get(key)
      }
      throw new RuntimeException("bad code")
    }
    def receiveExtend(s: Int): Int = {
      if (s == 0) return 0
      var r = 0; var i = 0
      while (i < s) { r = (r << 1) | nextBit(); i += 1 }
      if (r < (1 << (s - 1))) r - (1 << s) + 1 else r
    }

    val bw = (w + 7) / 8; val bh = (h + 7) / 8
    var pred = 0
    var pixSum = 0L; var pixMin = 256L; var pixMax = -1L
    val coef = new Array[Int](64)
    val px = new Array[Double](64)
    var b = 0
    try {
      while (b < bw * bh) {
        java.util.Arrays.fill(coef, 0)
        val s = decodeSym(dcMap)
        pred += receiveExtend(s)
        coef(0) = pred * q(0)
        var zi = 1
        var done = false
        while (!done && zi < 64) {
          val rs = decodeSym(acMap)
          if (rs == 0x00) done = true // EOB
          else if (rs == 0xf0) zi += 16 // ZRL
          else {
            zi += rs >> 4
            if (zi > 63) throw new RuntimeException("ac overflow")
            coef(ZIGZAG(zi)) = receiveExtend(rs & 15) * q(ZIGZAG(zi))
            zi += 1
          }
        }
        idct8x8(coef, px)
        val bx = b % bw; val by = b / bw
        val cw = math.min(8, w - bx * 8); val ch = math.min(8, h - by * 8)
        var y = 0
        while (y < ch) {
          var x = 0
          while (x < cw) {
            var v = math.round(px(y * 8 + x) + 128.0)
            if (v < 0) v = 0; if (v > 255) v = 255
            pixSum += v
            if (v < pixMin) pixMin = v
            if (v > pixMax) pixMax = v
            x += 1
          }
          y += 1
        }
        b += 1
      }
    } catch { case _: RuntimeException => return None }
    Some(JpegPixelFeatures(id, "jpeg", w, h, bw.toLong * bh, pixSum, pixMin, pixMax))
  }

  /** C(u)·cos((2x+1)uπ/16) basis table, indexed [x][u] — hoisted out
    * of the per-pixel loop (the naive form paid ~8k `math.cos` calls
    * per block; the table cut the 150k-payload decode wall 2x). */
  private val IDCT_COS: Array[Array[Double]] = Array.tabulate(8, 8) { (x, u) =>
    (if (u == 0) 0.7071067811865476 else 1.0) *
      math.cos((2 * x + 1) * u * math.Pi / 16)
  }

  /** Exact direct 2-D IDCT (T.81 A.3.3) over the hoisted basis table,
    * skipping zero coefficients — per-block cost is constant and the
    * fixture blocks are DC-dominant, so the sparse direct sum beats an
    * AAN butterfly on clarity at no measured cost. */
  private def idct8x8(coef: Array[Int], out: Array[Double]): Unit = {
    java.util.Arrays.fill(out, 0.0)
    var u = 0
    while (u < 8) {
      var v = 0
      while (v < 8) {
        val c = coef(v * 8 + u)
        if (c != 0) {
          var y = 0
          while (y < 8) {
            val cv = IDCT_COS(y)(v) * c
            var x = 0
            while (x < 8) {
              out(y * 8 + x) += IDCT_COS(x)(u) * cv
              x += 1
            }
            y += 1
          }
        }
        v += 1
      }
      u += 1
    }
    var i = 0
    while (i < 64) { out(i) /= 4.0; i += 1 }
  }

  /** Batch pixel-tier decode, row-local like every decoder here. */
  def extractJpegPixelFeatures(media: DataFrame): Dataset[JpegPixelFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select("media_id", "payload").as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, payload) => decodeJpegPixels(id, payload) })
  }

  // ---------------------------------------------------------------
  // GIF: the dictionary-compression tier. PNG exercises inflate
  // (zlib), JPEG the marker walk; GIF89a requires a REAL LZW decode —
  // variable-width codes (9→12 bits, LSB-first), dictionary growth,
  // CLEAR resets, the KwKwK corner case, and 255-byte sub-block
  // framing. The planted index pattern (x + y + fill) % 256 varies
  // per pixel, so a decoder that botches code-width growth or the
  // dictionary order produces a wrong index checksum and fails the
  // hash gate — the decode is verified end-to-end.
  // ---------------------------------------------------------------

  /** GIF LZW compressor (encoder side of the plant): spec-standard —
    * emit CLEAR, then greedy longest-match dictionary coding; code
    * width grows when the next free code no longer fits; CLEAR + reset
    * at 4096 entries. LSB-first bit packing. */
  private[ops] def lzwEncode(mcs: Int, data: Array[Byte]): Array[Byte] = {
    val clear = 1 << mcs
    val eoi = clear + 1
    val out = new java.io.ByteArrayOutputStream()
    var bitBuf = 0L
    var bitCnt = 0
    var codeSize = mcs + 1
    def emit(code: Int): Unit = {
      bitBuf |= code.toLong << bitCnt
      bitCnt += codeSize
      while (bitCnt >= 8) {
        out.write((bitBuf & 0xff).toInt)
        bitBuf >>>= 8
        bitCnt -= 8
      }
    }
    // boxed key/value types: a primitive-valued java.util.HashMap would
    // unbox a missing-key null to 0 and turn every miss into a "hit"
    var dict = new java.util.HashMap[java.lang.Long, java.lang.Integer]()
    var next = eoi + 1
    def reset(): Unit = {
      dict = new java.util.HashMap[java.lang.Long, java.lang.Integer]()
      next = eoi + 1; codeSize = mcs + 1
    }
    emit(clear)
    if (data.nonEmpty) {
      var cur = data(0) & 0xff
      var i = 1
      while (i < data.length) {
        val k = data(i) & 0xff
        val key = java.lang.Long.valueOf((cur.toLong << 8) | k)
        val hit = dict.get(key)
        if (hit ne null) cur = hit.intValue
        else {
          emit(cur)
          dict.put(key, next)
          next += 1
          // grow AFTER assigning: codes up to next-1 must fit a read
          // on the decoder side, which adds its entry one code later
          if (next == (1 << codeSize) + 1 && codeSize < 12) codeSize += 1
          if (next == 4097) { emit(clear); reset() }
          cur = k
        }
        i += 1
      }
      emit(cur)
    }
    emit(eoi)
    if (bitCnt > 0) out.write((bitBuf & 0xff).toInt)
    out.toByteArray
  }

  /** GIF LZW decompressor: the decoder half of the contract above.
    * Returns the index stream, or null on any malformed input (bad
    * code, overrun, missing EOI tolerance: stream end accepted). */
  private[ops] def lzwDecode(mcs: Int, data: Array[Byte], maxPixels: Int): Array[Byte] = {
    val clear = 1 << mcs
    val eoi = clear + 1
    val out = new java.io.ByteArrayOutputStream()
    // dictionary as (prefix code, appended byte); roots are implicit
    val prefix = new Array[Int](4096)
    val append = new Array[Byte](4096)
    var next = eoi + 1
    var codeSize = mcs + 1
    var bitBuf = 0L
    var bitCnt = 0
    var pos = 0
    var prev = -1
    def expand(code: Int): Array[Byte] = {
      // walk the chain; root codes are single bytes
      var c = code
      val sb = new java.io.ByteArrayOutputStream()
      while (c >= eoi + 1) { sb.write(append(c) & 0xff); c = prefix(c) }
      sb.write(c)
      val b = sb.toByteArray
      // chain was built tail-first: reverse
      var i = 0; var j = b.length - 1
      while (i < j) { val t = b(i); b(i) = b(j); b(j) = t; i += 1; j -= 1 }
      b
    }
    while (pos < data.length || bitCnt >= codeSize) {
      while (bitCnt < codeSize && pos < data.length) {
        bitBuf |= (data(pos) & 0xffL) << bitCnt
        bitCnt += 8
        pos += 1
      }
      if (bitCnt < codeSize) return null // truncated mid-code
      val code = (bitBuf & ((1L << codeSize) - 1)).toInt
      bitBuf >>>= codeSize
      bitCnt -= codeSize
      if (code == clear) { next = eoi + 1; codeSize = mcs + 1; prev = -1 }
      else if (code == eoi) return out.toByteArray
      else {
        if (code > next || (code == next && prev < 0)) return null
        val entry: Array[Byte] =
          if (code < clear) Array(code.toByte)
          else if (code < next) expand(code)
          else { // KwKwK: code == next — prev's expansion + its head
            val pe = expand(prev)
            pe :+ pe(0)
          }
        out.write(entry, 0, entry.length)
        if (out.size() > maxPixels) return null // hostile stream guard
        if (prev >= 0 && next < 4096) {
          prefix(next) = prev
          append(next) = entry(0)
          next += 1
          if (next == (1 << codeSize) && codeSize < 12) codeSize += 1
        }
        prev = code
      }
    }
    out.toByteArray // EOI missing but stream consumed: tolerate
  }

  /** Palette component values for index i — shared by the plant and
    * the oracle: (7i % 256, 11i % 256, 13i % 256). */
  private def palR(i: Int) = (7 * i) % 256
  private def palG(i: Int) = (11 * i) % 256
  private def palB(i: Int) = (13 * i) % 256

  /** A real, well-formed GIF89a for media_id: shared fixture geometry,
    * 256-entry global color table, a Graphic Control Extension (to
    * exercise extension skipping), index pattern (x + y + fill) % 256
    * LZW-compressed into 255-byte sub-blocks. */
  private[ops] def buildGifPayload(id: Long): Array[Byte] = {
    val w = imgW(id); val h = imgH(id); val fill = fillByte(id)
    val out = new java.io.ByteArrayOutputStream()
    def le16(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
    out.write("GIF89a".getBytes("US-ASCII"))
    le16(w); le16(h)
    out.write(0xF7) // GCT present, 8-bit color resolution, size 2^(7+1)=256
    out.write(fill % 256) // background color index
    out.write(0) // aspect
    var i = 0
    while (i < 256) { out.write(palR(i)); out.write(palG(i)); out.write(palB(i)); i += 1 }
    // Graphic Control Extension (0x21 0xF9): must be skipped by walkers
    out.write(Array(0x21, 0xF9, 4, 0, 0, 0, 0, 0).map(_.toByte))
    out.write(0x2C) // image descriptor
    le16(0); le16(0); le16(w); le16(h)
    out.write(0) // no local color table, no interlace
    val idx = new Array[Byte](w * h)
    var p = 0
    while (p < idx.length) {
      idx(p) = (((p % w) + (p / w) + fill) % 256).toByte
      p += 1
    }
    out.write(8) // LZW minimum code size
    val lzw = lzwEncode(8, idx)
    var off = 0
    while (off < lzw.length) {
      val n = math.min(255, lzw.length - off)
      out.write(n)
      out.write(lzw, off, n)
      off += n
    }
    out.write(0) // block terminator
    out.write(0x3B) // trailer
    out.toByteArray
  }

  /** GIF media table from the documents fixture (every doc — its own
    * tier, like PNG/JPEG). */
  def gifFromDocuments(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), col("source")).as[(Long, String)]
      .mapPartitions(_.map { case (id, source) =>
        (id, buildGifPayload(id), "image/gif", source)
      }).toDF("media_id", "payload", "media_type", "source")
  }

  /** Decoded-GIF features. `index_checksum` sums every decoded LZW
    * index (proves the full dictionary decode); `rgb_checksum` sums
    * the palette components those indices select (proves the color
    * table read). */
  final case class GifFeatures(
      media_id: Long,
      format: String,
      width: Long,
      height: Long,
      n_colors: Long,
      bg_index: Long,
      index_checksum: Long,
      rgb_checksum: Long)

  /** Full GIF89a decode: header + logical screen descriptor + global
    * color table + extension skipping + image descriptor + sub-block
    * reassembly + LZW decompression. Supports the GCT non-interlaced
    * subset the fixture plants; anything malformed (bad signature,
    * truncated table, wrong pixel count, bad LZW stream) is "unknown"
    * — row-level tolerance, never a thrown job failure. */
  private[ops] def decodeGif(id: Long, p: Array[Byte]): GifFeatures = {
    val bad = GifFeatures(id, "unknown", -1, -1, -1, -1, -1, -1)
    val n = p.length
    if (n < 13 || p(0) != 'G' || p(1) != 'I' || p(2) != 'F' ||
      p(3) != '8' || (p(4) != '9' && p(4) != '7') || p(5) != 'a') return bad
    def le16(o: Int): Int = (p(o) & 0xff) | ((p(o + 1) & 0xff) << 8)
    val w = le16(6); val h = le16(8)
    val packed = p(10) & 0xff
    val bgIndex = p(11) & 0xff
    if ((packed & 0x80) == 0) return bad // fixture subset: GCT required
    val nColors = 1 << ((packed & 7) + 1)
    var off = 13
    if (off + nColors * 3 > n) return bad
    val palette = new Array[Int](nColors * 3)
    var i = 0
    while (i < nColors * 3) { palette(i) = p(off + i) & 0xff; i += 1 }
    off += nColors * 3
    // block walk: skip extensions (0x21 <label> <sub-blocks...0>) until
    // the image descriptor (0x2C); trailer before an image is malformed
    var sawImage = false
    while (!sawImage) {
      if (off >= n) return bad
      (p(off) & 0xff) match {
        case 0x2C => sawImage = true
        case 0x21 =>
          off += 2 // introducer + label
          var blk = if (off < n) p(off) & 0xff else -1
          while (blk > 0) {
            off += 1 + blk
            blk = if (off < n) p(off) & 0xff else -1
          }
          if (blk < 0) return bad
          off += 1 // terminator
        case _ => return bad
      }
    }
    if (off + 10 > n) return bad
    val iw = le16(off + 5); val ih = le16(off + 7)
    val ipacked = p(off + 9) & 0xff
    if ((ipacked & 0x80) != 0 || (ipacked & 0x40) != 0) return bad // subset: no LCT/interlace
    if (iw != w || ih != h || w <= 0 || h <= 0) return bad
    if (w.toLong * h > (1L << 26)) return bad // hostile-header guard
    off += 10
    if (off >= n) return bad
    val mcs = p(off) & 0xff
    if (mcs < 2 || mcs > 8) return bad
    off += 1
    val lzw = new java.io.ByteArrayOutputStream()
    var blk = if (off < n) p(off) & 0xff else -1
    while (blk > 0) {
      if (off + 1 + blk > n) return bad
      lzw.write(p, off + 1, blk)
      off += 1 + blk
      blk = if (off < n) p(off) & 0xff else -1
    }
    if (blk != 0) return bad
    val indices = lzwDecode(mcs, lzw.toByteArray, w * h)
    if (indices == null || indices.length != w * h) return bad
    var isum = 0L
    var rsum = 0L
    i = 0
    while (i < indices.length) {
      val ix = indices(i) & 0xff
      if (ix >= nColors) return bad
      isum += ix
      rsum += palette(ix * 3) + palette(ix * 3 + 1) + palette(ix * 3 + 2)
      i += 1
    }
    GifFeatures(id, "gif", w, h, nColors, bgIndex, isum, rsum)
  }

  /** Batch GIF feature extraction, same row-local shape as
    * [[extractPngFeatures]]: payloads stay opaque binary, the decoder
    * runs per row, no shuffle, no driver state. */
  def extractGifFeatures(media: DataFrame): Dataset[GifFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select("media_id", "payload").as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, payload) => decodeGif(id, payload) })
  }

  // ---------------------------------------------------------------
  // TIFF: the structured-metadata tier. Where JPEG is a linear marker
  // walk, TIFF is an OFFSET-BASED directory walk: an endian-tagged
  // header points at an IFD of 12-byte entries (tag, type, count,
  // inline-value-or-offset) which in turn point at strip data and
  // out-of-line arrays. The plant alternates little- and big-endian
  // files by id parity, so the decoder's byte-order handling is
  // exercised on every other row — a decoder hardwired to one order
  // fails half the checksums.
  // ---------------------------------------------------------------

  /** A real, well-formed baseline-RGB TIFF for media_id: shared
    * fixture geometry, uncompressed single-strip pixel data (constant
    * fill), 8 ascending-tag IFD entries, BitsPerSample as an
    * out-of-line 3-SHORT array; byte order II (id even) / MM (id odd). */
  private[ops] def buildTiffPayload(id: Long): Array[Byte] = {
    val w = imgW(id); val h = imgH(id); val fill = fillByte(id)
    val le = id % 2 == 0
    val px = 3 * w * h
    val out = java.nio.ByteBuffer.allocate(8 + px + 6 + 2 + 8 * 12 + 4)
      .order(if (le) java.nio.ByteOrder.LITTLE_ENDIAN
        else java.nio.ByteOrder.BIG_ENDIAN)
    out.put((if (le) "II" else "MM").getBytes("US-ASCII"))
    out.putShort(42)
    val pxOff = 8
    val bpsOff = pxOff + px
    val ifdOff = bpsOff + 6
    out.putInt(ifdOff)
    var i = 0
    while (i < px) { out.put(fill.toByte); i += 1 }
    out.putShort(8.toShort).putShort(8.toShort).putShort(8.toShort) // bps array
    def entry(tag: Int, typ: Int, count: Int, value: Int): Unit = {
      out.putShort(tag.toShort).putShort(typ.toShort).putInt(count)
      if (typ == 3 && count == 1) { // SHORT inline: packed in the first 2 bytes
        out.putShort(value.toShort).putShort(0)
      } else out.putInt(value)
    }
    out.putShort(8.toShort) // entry count
    entry(256, 3, 1, w)       // ImageWidth
    entry(257, 3, 1, h)       // ImageLength
    entry(258, 3, 3, bpsOff)  // BitsPerSample → out-of-line offset
    entry(259, 3, 1, 1)       // Compression = none
    entry(262, 3, 1, 2)       // Photometric = RGB
    entry(273, 4, 1, pxOff)   // StripOffsets (single strip)
    entry(278, 3, 1, h)       // RowsPerStrip
    entry(279, 4, 1, px)      // StripByteCounts
    out.putInt(0) // next-IFD terminator
    out.array()
  }

  /** TIFF media table from the documents fixture (every doc). */
  def tiffFromDocuments(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), col("source")).as[(Long, String)]
      .mapPartitions(_.map { case (id, source) =>
        (id, buildTiffPayload(id), "image/tiff", source)
      }).toDF("media_id", "payload", "media_type", "source")
  }

  final case class TiffFeatures(
      media_id: Long,
      format: String,
      byte_order: String,
      width: Long,
      height: Long,
      n_entries: Long,
      compression: Long,
      strip_bytes: Long,
      pixel_checksum: Long)

  /** Endian-aware TIFF decode: header + IFD walk + inline/offset value
    * resolution + single-strip pixel checksum. Supports the
    * uncompressed single-strip subset the fixture plants; anything
    * malformed (bad magic, entry table or strip out of bounds, missing
    * geometry) is "unknown" — row-level tolerance. */
  private[ops] def decodeTiff(id: Long, p: Array[Byte]): TiffFeatures = {
    val bad = TiffFeatures(id, "unknown", "", -1, -1, -1, -1, -1, -1)
    val n = p.length
    if (n < 8) return bad
    val le =
      if (p(0) == 'I' && p(1) == 'I') true
      else if (p(0) == 'M' && p(1) == 'M') false
      else return bad
    def u16(o: Int): Int =
      if (o + 2 > n) -1
      else if (le) (p(o) & 0xff) | ((p(o + 1) & 0xff) << 8)
      else ((p(o) & 0xff) << 8) | (p(o + 1) & 0xff)
    def u32(o: Int): Long =
      if (o + 4 > n) -1L
      else if (le) (p(o) & 0xffL) | ((p(o + 1) & 0xffL) << 8) |
        ((p(o + 2) & 0xffL) << 16) | ((p(o + 3) & 0xffL) << 24)
      else ((p(o) & 0xffL) << 24) | ((p(o + 1) & 0xffL) << 16) |
        ((p(o + 2) & 0xffL) << 8) | (p(o + 3) & 0xffL)
    if (u16(2) != 42) return bad
    val ifd = u32(4)
    if (ifd < 8 || ifd + 2 > n) return bad
    val count = u16(ifd.toInt)
    if (count <= 0 || ifd + 2 + count * 12 + 4 > n) return bad
    var w = -1L; var h = -1L; var comp = -1L
    var stripOff = -1L; var stripLen = -1L
    var e = 0
    while (e < count) {
      val o = ifd.toInt + 2 + e * 12
      val tag = u16(o)
      val typ = u16(o + 2)
      // SHORT(3) inline values occupy the first 2 bytes of the value
      // field in the FILE's byte order; LONG(4) the full 4 bytes
      val v: Long =
        if (typ == 3) u16(o + 8).toLong
        else u32(o + 8)
      tag match {
        case 256 => w = v
        case 257 => h = v
        case 259 => comp = v
        case 273 => stripOff = if (typ == 3) v else u32(o + 8)
        case 279 => stripLen = if (typ == 3) v else u32(o + 8)
        case _ => // BitsPerSample offset etc.: walked, not needed
      }
      e += 1
    }
    if (w <= 0 || h <= 0 || stripOff < 0 || stripLen < 0) return bad
    if (stripOff + stripLen > n || w * h * 3 > (1L << 28)) return bad
    var sum = 0L
    var i = stripOff.toInt
    val end = (stripOff + stripLen).toInt
    while (i < end) { sum += p(i) & 0xff; i += 1 }
    TiffFeatures(id, "tiff", if (le) "II" else "MM", w, h, count, comp,
      stripLen, sum)
  }

  /** Batch TIFF feature extraction, same row-local shape as the other
    * decoders. */
  def extractTiffFeatures(media: DataFrame): Dataset[TiffFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select("media_id", "payload").as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, payload) => decodeTiff(id, payload) })
  }

  // ---------------------------------------------------------------
  // MP4/ISO-BMFF: the container tier — the format a video training
  // corpus actually ships in. Where TIFF is an offset directory, BMFF
  // is LENGTH-FRAMED RECURSION: every box is [u32 size][4cc type]
  // [payload], containers nest boxes verbatim, and nothing points
  // backwards — so the walk is a single forward recursion with the
  // box size as the only framing. The plant varies the top-level
  // LAYOUT by id parity (moov-before-mdat "faststart" vs the
  // mdat-first capture layout) and routes every 7th mdat through the
  // 64-bit largesize escape (size==1 + u64), so a walker that assumes
  // moov-first or 32-bit framing fails a deterministic slice of rows.
  // ---------------------------------------------------------------

  private[ops] def mp4Dur(id: Long): Int = (600 + id % 1234).toInt
  private[ops] def mp4SampleSize(fill: Int, i: Int): Int = 1 + (fill + i) % 97
  private[ops] val Mp4Timescale = 600

  /** A real, minimal ISO-BMFF file for media_id: ftyp(isom) +
    * moov[mvhd + trak[tkhd + mdia[mdhd + hdlr + minf[stbl[stsz]]]]] +
    * mdat. Geometry rides tkhd's 16.16 fixed-point width/height,
    * duration/timescale ride mvhd (v0), stsz carries `ns` per-sample
    * sizes (1 + (fill+i) % 97) and mdat is exactly their sum in
    * constant fill bytes — so sample_bytes ≡ mdat_bytes only if BOTH
    * the table read and the framing are right. */
  private[ops] def buildMp4Payload(id: Long): Array[Byte] = {
    val w = imgW(id); val h = imgH(id); val fill = fillByte(id)
    val ns = wavSamples(id); val dur = mp4Dur(id)
    val sizes = Array.tabulate(ns)(i => mp4SampleSize(fill, i))
    val sb = sizes.sum
    def bb(n: Int) = java.nio.ByteBuffer.allocate(n)
      .order(java.nio.ByteOrder.BIG_ENDIAN)
    def box(typ: String, body: Array[Byte]*): Array[Byte] = {
      val len = 8 + body.map(_.length).sum
      val out = bb(len)
      out.putInt(len).put(typ.getBytes("US-ASCII"))
      body.foreach(out.put)
      out.array()
    }
    // size==1 escape: u64 largesize after the type (16-byte header)
    def largeBox(typ: String, body: Array[Byte]): Array[Byte] = {
      val out = bb(16 + body.length)
      out.putInt(1).put(typ.getBytes("US-ASCII"))
        .putLong(16L + body.length).put(body)
      out.array()
    }
    val unityMatrix = {
      val m = bb(36)
      m.putInt(0x00010000).putInt(0).putInt(0)
      m.putInt(0).putInt(0x00010000).putInt(0)
      m.putInt(0).putInt(0).putInt(0x40000000)
      m.array()
    }
    val ftyp = box("ftyp",
      bb(16).put("isom".getBytes("US-ASCII")).putInt(0x200)
        .put("isom".getBytes("US-ASCII")).put("mp42".getBytes("US-ASCII"))
        .array())
    val mvhd = box("mvhd", {
      val b = bb(100)
      b.putInt(0).putInt(0).putInt(0) // v0+flags, ctime, mtime
      b.putInt(Mp4Timescale).putInt(dur)
      b.putInt(0x00010000).putShort(0x0100.toShort).putShort(0) // rate, vol
      b.putLong(0) // reserved
      b.put(unityMatrix)
      (0 until 6).foreach(_ => b.putInt(0)) // pre_defined
      b.putInt(2) // next_track_ID
      b.array()
    })
    val tkhd = box("tkhd", {
      val b = bb(84)
      b.putInt(7).putInt(0).putInt(0) // v0 + enabled/in-movie flags
      b.putInt(1).putInt(0).putInt(dur) // track_ID, reserved, duration
      b.putLong(0).putShort(0).putShort(0).putShort(0).putShort(0)
      b.put(unityMatrix)
      b.putInt(w << 16).putInt(h << 16) // 16.16 fixed point
      b.array()
    })
    val mdhd = box("mdhd", {
      val b = bb(24)
      b.putInt(0).putInt(0).putInt(0)
      b.putInt(Mp4Timescale).putInt(dur)
      b.putShort(0x55c4.toShort).putShort(0) // 'und', pre_defined
      b.array()
    })
    val hdlr = box("hdlr", {
      val b = bb(25)
      b.putInt(0).putInt(0).put("vide".getBytes("US-ASCII"))
      b.putInt(0).putInt(0).putInt(0).put(0.toByte) // reserved + "" name
      b.array()
    })
    val stsz = box("stsz", {
      val b = bb(12 + 4 * ns)
      b.putInt(0).putInt(0).putInt(ns) // v0, sample_size=0 (per-entry)
      sizes.foreach(b.putInt)
      b.array()
    })
    val moov = box("moov", mvhd,
      box("trak", tkhd,
        box("mdia", mdhd, hdlr, box("minf", box("stbl", stsz)))))
    val mdatBody = Array.fill(sb)(fill.toByte)
    val mdat =
      if (id % 7 == 0) largeBox("mdat", mdatBody) else box("mdat", mdatBody)
    // faststart (moov first) on even ids, capture layout on odd ids
    val parts =
      if (id % 2 == 0) Seq(ftyp, moov, mdat) else Seq(ftyp, mdat, moov)
    val out = new java.io.ByteArrayOutputStream()
    parts.foreach(out.write)
    out.toByteArray
  }

  /** MP4 media table from the documents fixture (every doc). */
  def mp4FromDocuments(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), col("source")).as[(Long, String)]
      .mapPartitions(_.map { case (id, source) =>
        (id, buildMp4Payload(id), "video/mp4", source)
      }).toDF("media_id", "payload", "media_type", "source")
  }

  final case class Mp4Features(
      media_id: Long,
      format: String,
      major_brand: String,
      timescale: Long,
      duration: Long,
      width: Long,
      height: Long,
      n_samples: Long,
      sample_bytes: Long,
      mdat_bytes: Long,
      mdat_checksum: Long,
      n_boxes: Long)

  /** Recursive length-framed box walk: top-level and container boxes
    * framed by their u32 size (size==1 → u64 largesize, size==0 →
    * to-EOF), leaves parsed version-aware (mvhd/tkhd v0 and v1
    * layouts), stsz summed entry-by-entry, mdat checksummed. Supports
    * any top-level ordering. Anything malformed — truncated box,
    * header overrun, nesting past depth 8, trailing junk shorter than
    * a header, missing moov geometry — is "unknown"; row-level
    * tolerance like every other tier. */
  private[ops] def decodeMp4(id: Long, p: Array[Byte]): Mp4Features = {
    val bad = Mp4Features(id, "unknown", "", -1, -1, -1, -1, -1, -1, -1, -1, -1)
    val n = p.length
    def u8(o: Long): Int = if (o < 0 || o + 1 > n) -1 else p(o.toInt) & 0xff
    def be32(o: Long): Long =
      if (o < 0 || o + 4 > n) -1L
      else ((p(o.toInt) & 0xffL) << 24) | ((p(o.toInt + 1) & 0xffL) << 16) |
        ((p(o.toInt + 2) & 0xffL) << 8) | (p(o.toInt + 3) & 0xffL)
    def be64(o: Long): Long =
      if (o < 0 || o + 8 > n) -1L else (be32(o) << 32) | be32(o + 4)
    def str4(o: Long): String =
      if (o < 0 || o + 4 > n) ""
      else new String(p, o.toInt, 4, java.nio.charset.StandardCharsets.US_ASCII)
    var brand = ""; var tsc = -1L; var dur = -1L
    var w = -1L; var h = -1L
    var nsamp = -1L; var sbytes = -1L
    var mbytes = -1L; var msum = -1L
    var boxes = 0L; var ok = true
    def walk(start: Long, end: Long, depth: Int): Unit = {
      var o = start
      while (ok && o + 8 <= end) {
        var sz = be32(o)
        val typ = str4(o + 4)
        var hdr = 8L
        if (sz == 1) { sz = be64(o + 8); hdr = 16 }
        else if (sz == 0) sz = end - o // open-ended final box
        if (sz < hdr || sz > end - o) { ok = false; return }
        boxes += 1
        val b = o + hdr
        typ match {
          case "moov" | "trak" | "mdia" | "minf" | "stbl" =>
            if (depth < 8) walk(b, o + sz, depth + 1) else ok = false
          case "ftyp" =>
            if (sz >= hdr + 4) brand = str4(b)
          case "mvhd" =>
            if (u8(b) == 1) { tsc = be32(b + 20); dur = be64(b + 24) }
            else { tsc = be32(b + 12); dur = be32(b + 16) }
          case "tkhd" =>
            // v0 body: vf4 ct4 mt4 id4 res4 dur4 | res8 l2 a2 v2 r2
            // matrix36 → width at body+76; v1 widens the three times
            // and duration to 8 bytes → +88
            val g = if (u8(b) == 1) b + 88 else b + 76
            val fw = be32(g); val fh = be32(g + 4)
            if (fw >= 0 && fh >= 0) { w = fw >> 16; h = fh >> 16 }
          case "stsz" =>
            val fixed = be32(b + 4); val cnt = be32(b + 8)
            if (cnt < 0) { ok = false; return }
            nsamp = cnt
            if (fixed > 0) sbytes = fixed * cnt
            else if (b + 12 + 4 * cnt > o + sz) { ok = false; return }
            else {
              var i = 0L; var s = 0L
              while (i < cnt) { s += be32(b + 12 + 4 * i); i += 1 }
              sbytes = s
            }
          case "mdat" =>
            mbytes = sz - hdr
            var i = b; var s = 0L
            while (i < o + sz) { s += p(i.toInt) & 0xff; i += 1 }
            msum = s
          case _ => // unknown box: skipped by its own framing
        }
        o += sz
      }
      if (o != end) ok = false // trailing junk shorter than a header
    }
    walk(0L, n.toLong, 0)
    if (!ok || brand.isEmpty || tsc < 0 || w < 0 || nsamp < 0 || mbytes < 0)
      bad
    else Mp4Features(id, "mp4", brand, tsc, dur, w, h, nsamp, sbytes,
      mbytes, msum, boxes)
  }

  /** Batch MP4 feature extraction, same row-local shape as the other
    * decoders. */
  def extractMp4Features(media: DataFrame): Dataset[Mp4Features] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select("media_id", "payload").as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, payload) => decodeMp4(id, payload) })
  }

  // ---------------------------------------------------------------
  // ZIP: the archive tier — the third navigation style after TIFF's
  // offset directory and BMFF's forward length framing: discovery is
  // BACKWARD (the end-of-central-directory trailer is found by
  // scanning from EOF through a variable-length comment), the central
  // directory is an INDEX whose entries point at little-endian local
  // headers, and entry payloads mix stored and raw-deflate members —
  // so the walk exercises trailer search, LE framing, index-to-local
  // cross-checks, and Inflater(nowrap) in one tier. The plant gives
  // every 5th archive a trailer comment (EOCD is NOT at −22) and
  // routes every (id+i)%3==0 member through deflate; the decoder
  // re-inflates and re-CRCs every member, so the crc_ok/sizes_ok
  // verdicts only reach n_entries when discovery, index, local
  // framing AND decompression all agree.
  // ---------------------------------------------------------------

  private[ops] def zipEntries(id: Long): Int = (4 + id % 13).toInt
  private[ops] def zipEntryLen(fill: Int, i: Int): Int = 1 + (fill + i) % 97
  private[ops] def zipCommentLen(id: Long): Int =
    if (id % 5 == 0) (1 + id % 7).toInt else 0
  private[ops] def zipDeflated(id: Long, i: Int): Boolean = (id + i) % 3 == 0

  /** A real, minimal ZIP archive for media_id: `zipEntries` members
    * named f0.txt.. with deterministic bodies ((fill + 7i + j) % 251),
    * stored or raw-deflated per the id rule, CRC-32 and sizes recorded
    * in both local headers and the central directory, and a trailer
    * comment on every 5th id so EOCD discovery must scan. */
  private[ops] def buildZipPayload(id: Long): Array[Byte] = {
    val fill = fillByte(id); val ne = zipEntries(id)
    val out = new java.io.ByteArrayOutputStream()
    def le16(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
    def le32(v: Long): Unit = (0 until 4).foreach(k => out.write(((v >> (8 * k)) & 0xff).toInt))
    val names = Array.tabulate(ne)(i => s"f$i.txt".getBytes("US-ASCII"))
    val bodies = Array.tabulate(ne) { i =>
      Array.tabulate(zipEntryLen(fill, i))(j => ((fill + 7 * i + j) % 251).toByte)
    }
    val stored = Array.tabulate(ne) { i =>
      if (!zipDeflated(id, i)) bodies(i)
      else {
        val d = new java.util.zip.Deflater(java.util.zip.Deflater.DEFAULT_COMPRESSION, true)
        d.setInput(bodies(i)); d.finish()
        val buf = new Array[Byte](bodies(i).length * 2 + 64)
        val n = d.deflate(buf); d.end()
        java.util.Arrays.copyOf(buf, n)
      }
    }
    val crcs = bodies.map { b =>
      val c = new java.util.zip.CRC32(); c.update(b); c.getValue
    }
    val offsets = new Array[Long](ne)
    for (i <- 0 until ne) {
      offsets(i) = out.size()
      le32(0x04034b50L); le16(20); le16(0)            // sig, version, flags
      le16(if (zipDeflated(id, i)) 8 else 0)          // method
      le16(0); le16(0x2821)                           // dos time, date
      le32(crcs(i)); le32(stored(i).length.toLong); le32(bodies(i).length.toLong)
      le16(names(i).length); le16(0)                  // name len, extra len
      out.write(names(i)); out.write(stored(i))
    }
    val cdStart = out.size()
    for (i <- 0 until ne) {
      le32(0x02014b50L); le16(20); le16(20); le16(0)
      le16(if (zipDeflated(id, i)) 8 else 0)
      le16(0); le16(0x2821)
      le32(crcs(i)); le32(stored(i).length.toLong); le32(bodies(i).length.toLong)
      le16(names(i).length); le16(0); le16(0)         // name/extra/comment len
      le16(0); le16(0); le32(0)                       // disk, int/ext attrs
      le32(offsets(i))
      out.write(names(i))
    }
    val cdSize = out.size() - cdStart
    val comment = Array.fill(zipCommentLen(id))('c'.toByte)
    le32(0x06054b50L); le16(0); le16(0)               // EOCD, disk numbers
    le16(ne); le16(ne)
    le32(cdSize.toLong); le32(cdStart.toLong)
    le16(comment.length); out.write(comment)
    out.toByteArray
  }

  /** ZIP media table from the documents fixture (every doc). */
  def zipFromDocuments(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), col("source")).as[(Long, String)]
      .mapPartitions(_.map { case (id, source) =>
        (id, buildZipPayload(id), "application/zip", source)
      }).toDF("media_id", "payload", "media_type", "source")
  }

  final case class ZipFeatures(
      media_id: Long,
      format: String,
      n_entries: Long,
      total_bytes: Long,
      n_stored: Long,
      n_deflated: Long,
      comment_len: Long,
      crc_ok: Long,
      sizes_ok: Long)

  /** Backward EOCD discovery + central-directory walk + per-member
    * local-header verify: EOCD found by scanning back from EOF for its
    * signature (validated against a consistent comment length), each
    * CD entry's local header re-framed at its recorded offset, member
    * data inflated when deflated, and length + CRC-32 recomputed over
    * the UNCOMPRESSED bytes against the directory's claims. Anything
    * malformed — no EOCD, directory overrun, signature mismatch,
    * local/central disagreement on name or method, inflate error —
    * degrades that row to "unknown" with -1s, row-level tolerance like
    * every other tier. */
  private[ops] def decodeZip(id: Long, p: Array[Byte]): ZipFeatures = {
    val bad = ZipFeatures(id, "unknown", -1, -1, -1, -1, -1, -1, -1)
    def u16(o: Int): Int = (p(o) & 0xff) | ((p(o + 1) & 0xff) << 8)
    def u32(o: Int): Long = (0 until 4).map(k => (p(o + k) & 0xffL) << (8 * k)).sum
    if (p.length < 22) return bad
    // EOCD: last offset where the signature frames a record whose
    // comment length reaches exactly EOF
    var eocd = -1
    var o = p.length - 22
    while (o >= 0 && eocd < 0) {
      if (u32(o) == 0x06054b50L && o + 22 + u16(o + 20) == p.length) eocd = o
      else o -= 1
    }
    if (eocd < 0) return bad
    val ne = u16(eocd + 10)
    if (u16(eocd + 8) != ne) return bad // single-disk archive
    val cdSize = u32(eocd + 12); val cdStart = u32(eocd + 16)
    if (cdStart + cdSize != eocd.toLong) return bad
    val commentLen = u16(eocd + 20)
    var off = cdStart.toInt
    var tot = 0L; var nStored = 0L; var nDeflated = 0L
    var crcOk = 0L; var sizesOk = 0L
    try {
      for (_ <- 0 until ne) {
        if (u32(off) != 0x02014b50L) return bad
        val method = u16(off + 10)
        val crc = u32(off + 16)
        val csize = u32(off + 20); val usize = u32(off + 24)
        val nameLen = u16(off + 28); val extraLen = u16(off + 30)
        val cmtLen = u16(off + 32)
        val lho = u32(off + 42).toInt
        val name = new String(p, off + 46, nameLen, "US-ASCII")
        // local header cross-check: signature, method, name agree
        if (u32(lho) != 0x04034b50L || u16(lho + 8) != method) return bad
        val lNameLen = u16(lho + 26); val lExtraLen = u16(lho + 28)
        if (new String(p, lho + 30, lNameLen, "US-ASCII") != name) return bad
        val dataOff = lho + 30 + lNameLen + lExtraLen
        val raw = java.util.Arrays.copyOfRange(p, dataOff, dataOff + csize.toInt)
        val data =
          if (method == 0) raw
          else if (method == 8) {
            val inf = new java.util.zip.Inflater(true)
            inf.setInput(raw)
            val buf = new java.io.ByteArrayOutputStream()
            val tmp = new Array[Byte](4096)
            while (!inf.finished()) {
              val n = inf.inflate(tmp)
              if (n == 0 && !inf.finished()) return bad
              buf.write(tmp, 0, n)
            }
            inf.end(); buf.toByteArray
          } else return bad
        if (method == 0) nStored += 1 else nDeflated += 1
        tot += data.length
        if (data.length.toLong == usize) sizesOk += 1
        val c = new java.util.zip.CRC32(); c.update(data)
        if (c.getValue == crc) crcOk += 1
        off += 46 + nameLen + extraLen + cmtLen
      }
    } catch { case _: Exception => return bad }
    if (off != eocd) return bad // directory must end exactly at EOCD
    ZipFeatures(id, "zip", ne, tot, nStored, nDeflated, commentLen,
      crcOk, sizesOk)
  }

  /** Batch ZIP feature extraction — row-local, the other tiers' shape. */
  def extractZipFeatures(media: DataFrame): Dataset[ZipFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select("media_id", "payload").as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, payload) => decodeZip(id, payload) })
  }

  // ---------------------------------------------------------------
  // TAR (ustar): the sequential fixed-block archive tier — the format
  // training shards actually ship in (WebDataset is tar of samples).
  // A fourth navigation style: no index, no trailer — the walk is
  // 512-byte header blocks with OCTAL-TEXT size fields framing the
  // padded member data, terminated by two zero blocks. Headers carry
  // a REAL checksum (byte sum with the checksum field blanked), so
  // chksum_ok only reaches n_members when framing and field parsing
  // both hold. The plant mixes files and directories and pads every
  // 5th archive with an extra zero block (legal trailer padding a
  // walker must tolerate).
  // ---------------------------------------------------------------

  private[ops] def tarMembers(id: Long): Int = (3 + id % 11).toInt
  private[ops] def tarIsDir(id: Long, i: Int): Boolean = (id + i) % 4 == 0
  private[ops] def tarLen(fill: Int, i: Int): Int = 1 + (fill + i) % 97

  /** A real ustar archive for media_id: `tarMembers` members (every
    * (id+i)%4==0 one a directory), file bodies ((fill + 11i + j) % 251)
    * padded to 512, correct octal sizes and header checksums, two zero
    * end blocks (+1 padding block on every 5th id). */
  private[ops] def buildTarPayload(id: Long): Array[Byte] = {
    val fill = fillByte(id); val ne = tarMembers(id)
    val out = new java.io.ByteArrayOutputStream()
    def field(b: Array[Byte], off: Int, s: String): Unit = {
      val x = s.getBytes("US-ASCII")
      System.arraycopy(x, 0, b, off, math.min(x.length, 99))
    }
    for (i <- 0 until ne) {
      val dir = tarIsDir(id, i)
      val size = if (dir) 0 else tarLen(fill, i)
      val h = new Array[Byte](512)
      field(h, 0, if (dir) s"d$i/" else s"s$i.bin")
      field(h, 100, "0000644")
      field(h, 108, "0000000")
      field(h, 116, "0000000")
      field(h, 124, f"${size.toLong}%011o")
      field(h, 136, "00000000000")
      java.util.Arrays.fill(h, 148, 156, ' '.toByte) // chksum blank
      h(156) = if (dir) '5' else '0'
      field(h, 257, "ustar")
      h(263) = '0'; h(264) = '0'
      val sum = h.map(_ & 0xff).sum
      field(h, 148, f"$sum%06o")
      h(154) = 0; h(155) = ' '
      out.write(h)
      if (!dir) {
        val body = Array.tabulate(size)(j => ((fill + 11 * i + j) % 251).toByte)
        out.write(body)
        out.write(new Array[Byte]((512 - size % 512) % 512))
      }
    }
    out.write(new Array[Byte](1024))
    if (id % 5 == 0) out.write(new Array[Byte](512))
    out.toByteArray
  }

  /** TAR media table from the documents fixture (every doc). */
  def tarFromDocuments(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), col("source")).as[(Long, String)]
      .mapPartitions(_.map { case (id, source) =>
        (id, buildTarPayload(id), "application/x-tar", source)
      }).toDF("media_id", "payload", "media_type", "source")
  }

  final case class TarFeatures(
      media_id: Long,
      format: String,
      n_members: Long,
      n_files: Long,
      n_dirs: Long,
      total_bytes: Long,
      chksum_ok: Long,
      content_checksum: Long)

  /** Sequential 512-block walk: per header, validate the ustar magic,
    * re-sum the header bytes against the octal checksum field, parse
    * the octal size, skip/checksum the padded member data; stop at the
    * first zero block (tolerating any number of trailing zero blocks).
    * Malformed — bad magic, non-octal size, header overrun, data past
    * EOF, nonzero trailer garbage — degrades the row to "unknown". */
  private[ops] def decodeTar(id: Long, p: Array[Byte]): TarFeatures = {
    val bad = TarFeatures(id, "unknown", -1, -1, -1, -1, -1, -1)
    if (p.length < 1024 || p.length % 512 != 0) return bad
    var off = 0
    var nm = 0L; var nf = 0L; var nd = 0L; var tot = 0L
    var ckOk = 0L; var content = 0L
    def zeroBlock(o: Int): Boolean = {
      var i = o; while (i < o + 512) { if (p(i) != 0) return false; i += 1 }
      true
    }
    while (off + 512 <= p.length && !zeroBlock(off)) {
      if (new String(p, off + 257, 5, "US-ASCII") != "ustar") return bad
      val sizeStr = new String(p, off + 124, 12, "US-ASCII")
        .takeWhile(c => c >= '0' && c <= '7')
      if (sizeStr.isEmpty) return bad
      val size = java.lang.Long.parseLong(sizeStr, 8)
      val claimed = {
        val s = new String(p, off + 148, 8, "US-ASCII")
          .dropWhile(_ == ' ').takeWhile(c => c >= '0' && c <= '7')
        if (s.isEmpty) -1L else java.lang.Long.parseLong(s, 8)
      }
      var sum = 0L
      var i = 0
      while (i < 512) {
        sum += (if (i >= 148 && i < 156) ' '.toInt else p(off + i) & 0xff)
        i += 1
      }
      if (sum == claimed) ckOk += 1
      val dir = p(off + 156) == '5'
      nm += 1; if (dir) nd += 1 else nf += 1
      val dataBlocks = ((size + 511) / 512).toInt
      if (off + 512 + dataBlocks * 512 > p.length) return bad
      var j = 0
      while (j < size) { content += (p(off + 512 + j) & 0xff); j += 1 }
      tot += size
      off += 512 + dataBlocks * 512
    }
    // trailer: everything from the first zero block to EOF must be zero
    while (off < p.length) { if (p(off) != 0) return bad; off += 1 }
    if (nm == 0) return bad
    TarFeatures(id, "tar", nm, nf, nd, tot, ckOk, content)
  }

  /** Batch TAR feature extraction — row-local, the other tiers' shape. */
  def extractTarFeatures(media: DataFrame): Dataset[TarFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select("media_id", "payload").as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, payload) => decodeTar(id, payload) })
  }

  // ---------------------------------------------------------------
  // Parquet: the container format training data actually ships in —
  // and the fifth navigation style: after BMFF's forward length
  // framing, TIFF's offset directory, ZIP's backward trailer and
  // tar's sequential blocks, the parquet footer is a SELF-DESCRIBING
  // tagged serialization (Thrift compact protocol: varint/zigzag
  // field headers with delta-encoded ids, nested structs/lists,
  // unknown fields skipped by TYPE, not by layout). Discovery is
  // backward (PAR1 magic + u32 footer length at EOF), then the
  // FileMetaData walk yields schema leaves, row groups and column
  // chunks whose offsets index the data region — the decoder
  // re-reads every chunk extent and checksums it, so the verdicts
  // only hold when varint decode, field dispatch, framing and
  // offsets all agree.
  // ---------------------------------------------------------------

  private[ops] def pqCols(id: Long): Int = (2 + id % 3).toInt
  private[ops] def pqGroups(id: Long): Int = (1 + id % 4).toInt
  private[ops] def pqRows(id: Long): Int = (100 + id % 900).toInt
  private[ops] def pqChunkSize(fill: Int, g: Int, c: Int): Int =
    10 + (fill + 7 * g + 3 * c) % 200
  /** Codec enum per column: UNCOMPRESSED(0) / SNAPPY(1) / ZSTD(6). */
  private[ops] def pqCodec(c: Int): Int = c % 3 match {
    case 0 => 0; case 1 => 1; case _ => 6
  }
  /** Physical type enum per column: INT32(1) / INT64(2) / BYTE_ARRAY(6). */
  private[ops] def pqType(c: Int): Int = c % 3 match {
    case 0 => 1; case 1 => 2; case _ => 6
  }
  private[ops] def pqChunkByte(fill: Int, k: Int, j: Int): Int =
    (fill + 11 * k + j) % 251

  /** Thrift compact protocol writer — just enough for FileMetaData. */
  private final class TcWriter {
    private val out = new java.io.ByteArrayOutputStream()
    private var lastId = 0
    private val stack = new java.util.ArrayDeque[Integer]()
    def result(): Array[Byte] = out.toByteArray
    private def vu(v0: Long): Unit = {
      var v = v0
      while ((v & ~0x7fL) != 0) { out.write(((v & 0x7f) | 0x80).toInt); v >>>= 7 }
      out.write(v.toInt)
    }
    private def zz(v: Long): Unit = vu((v << 1) ^ (v >> 63))
    def field(id: Int, tpe: Int): Unit = {
      val delta = id - lastId
      if (delta >= 1 && delta <= 15) out.write((delta << 4) | tpe)
      else { out.write(tpe); zz(id.toLong) }
      lastId = id
    }
    def i32(id: Int, v: Long): Unit = { field(id, 5); zz(v) }
    def i64(id: Int, v: Long): Unit = { field(id, 6); zz(v) }
    def str(id: Int, s: String): Unit = {
      field(id, 8); val b = s.getBytes("UTF-8"); vu(b.length.toLong); out.write(b)
    }
    def listBegin(id: Int, size: Int, elemType: Int): Unit = {
      field(id, 9)
      if (size < 15) out.write((size << 4) | elemType)
      else { out.write(0xf0 | elemType); vu(size.toLong) }
    }
    def i32Elem(v: Long): Unit = zz(v)
    def strElem(s: String): Unit = {
      val b = s.getBytes("UTF-8"); vu(b.length.toLong); out.write(b)
    }
    def structBegin(): Unit = { stack.push(lastId); lastId = 0 }
    def structEnd(): Unit = { out.write(0); lastId = stack.pop() }
  }

  /** A real, minimal parquet file for media_id: PAR1 magic, a data
    * region of `groups x cols` planted column chunks, a Thrift-compact
    * FileMetaData footer (schema root + leaves, per-group RowGroup /
    * ColumnChunk / ColumnMetaData with real offsets), u32 LE footer
    * length, PAR1. Row counts split exactly across groups
    * (nr div ng + carry), chunk bytes are position-dependent so a
    * wrong offset reads visibly wrong bytes. */
  private[ops] def buildParquetPayload(id: Long): Array[Byte] = {
    val fill = fillByte(id)
    val nc = pqCols(id); val ng = pqGroups(id); val nr = pqRows(id)
    val out = new java.io.ByteArrayOutputStream()
    out.write("PAR1".getBytes("US-ASCII"))
    val offsets = Array.ofDim[Long](ng, nc)
    for (g <- 0 until ng; c <- 0 until nc) {
      offsets(g)(c) = out.size().toLong
      val k = g * nc + c
      val sz = pqChunkSize(fill, g, c)
      var j = 0
      while (j < sz) { out.write(pqChunkByte(fill, k, j)); j += 1 }
    }
    val w = new TcWriter
    w.i32(1, 1) // version
    w.listBegin(2, 1 + nc, 12) // schema: root + leaves
    w.structBegin() // root SchemaElement
    w.str(4, "schema"); w.i32(5, nc.toLong)
    w.structEnd()
    for (c <- 0 until nc) {
      w.structBegin()
      w.i32(1, pqType(c).toLong) // type
      w.i32(3, 0L) // repetition_type REQUIRED
      w.str(4, s"c$c")
      w.structEnd()
    }
    w.i64(3, nr.toLong) // num_rows
    w.listBegin(4, ng, 12) // row_groups
    for (g <- 0 until ng) {
      val rowsG = nr / ng + (if (g < nr % ng) 1 else 0)
      w.structBegin() // RowGroup
      w.listBegin(1, nc, 12) // columns
      for (c <- 0 until nc) {
        val sz = pqChunkSize(fill, g, c)
        w.structBegin() // ColumnChunk
        w.i64(2, offsets(g)(c)) // file_offset
        w.field(3, 12); w.structBegin() // meta_data: ColumnMetaData
        w.i32(1, pqType(c).toLong)
        w.listBegin(2, 2, 5); w.i32Elem(0L); w.i32Elem(3L) // PLAIN, RLE
        w.listBegin(3, 1, 8); w.strElem(s"c$c") // path_in_schema
        w.i32(4, pqCodec(c).toLong)
        w.i64(5, rowsG.toLong) // num_values
        w.i64(6, sz.toLong * 2) // total_uncompressed_size
        w.i64(7, sz.toLong) // total_compressed_size
        w.i64(9, offsets(g)(c)) // data_page_offset
        w.structEnd()
        w.structEnd()
      }
      w.i64(2, (0 until nc).map(pqChunkSize(fill, g, _).toLong).sum)
      w.i64(3, rowsG.toLong)
      w.structEnd()
    }
    w.str(6, "graft-synthetic")
    val footer = {
      val b = new java.io.ByteArrayOutputStream()
      b.write(w.result()); b.write(0) // FileMetaData struct STOP
      b.toByteArray
    }
    out.write(footer)
    (0 until 4).foreach(k => out.write((footer.length >> (8 * k)) & 0xff))
    out.write("PAR1".getBytes("US-ASCII"))
    out.toByteArray
  }

  /** Parquet media table from the documents fixture (every doc). */
  def parquetFromDocuments(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), col("source")).as[(Long, String)]
      .mapPartitions(_.map { case (id, source) =>
        (id, buildParquetPayload(id), "application/vnd.apache.parquet", source)
      }).toDF("media_id", "payload", "media_type", "source")
  }

  final case class ParquetFeatures(
      media_id: Long,
      format: String,
      version: Long,
      n_cols: Long,
      n_groups: Long,
      num_rows: Long,
      n_chunks: Long,
      values_sum: Long,
      data_bytes: Long,
      codec_sum: Long,
      rows_ok: Long,
      bounds_ok: Long,
      data_checksum: Long)

  /** Thrift compact protocol reader: varints, zigzag, and a GENERIC
    * type-directed skip (nested structs/lists/maps included) so
    * fields this walk doesn't model — statistics, sort orders, future
    * additions — pass through by TYPE, exactly how a real reader
    * survives schema evolution. Throws past `end`; the caller maps
    * any throw to the tier's "unknown" row. */
  private final class TcReader(p: Array[Byte], var o: Int, end: Int) {
    def u8(): Int = {
      if (o >= end) throw new IndexOutOfBoundsException(s"$o")
      val v = p(o) & 0xff; o += 1; v
    }
    def varint(): Long = {
      var x = 0L; var s = 0; var b = 0
      do {
        b = u8(); x |= (b & 0x7fL) << s; s += 7
        if (s > 70) throw new NumberFormatException("varint overrun")
      } while ((b & 0x80) != 0)
      x
    }
    def zig(): Long = { val v = varint(); (v >>> 1) ^ -(v & 1L) }
    def str(): String = {
      val len = varint().toInt
      if (len < 0 || o + len > end) throw new IndexOutOfBoundsException(s"str $len")
      val s = new String(p, o, len, java.nio.charset.StandardCharsets.UTF_8)
      o += len; s
    }
    def listHeader(): (Int, Int) = {
      val b = u8(); val t = b & 0x0f
      val sz = (b >> 4) & 0x0f
      (if (sz == 15) varint().toInt else sz, t)
    }
    /** Skip one value of compact type `t` (element position: bools are
      * one byte here; field-position bools carry no payload). */
    def skipValue(t: Int): Unit = t match {
      case 1 | 2 | 3 => o += 1
      case 4 | 5 | 6 => varint()
      case 7 => o += 8
      case 8 => val len = varint().toInt; o += len
      case 9 | 10 =>
        val (n, et) = listHeader(); (0 until n).foreach(_ => skipValue(et))
      case 11 =>
        val n = varint().toInt
        if (n > 0) {
          val kv = u8(); val kt = (kv >> 4) & 0x0f; val vt = kv & 0x0f
          (0 until n).foreach { _ => skipValue(kt); skipValue(vt) }
        }
      case 12 => readStruct((_, _) => false)
      case x => throw new IllegalStateException(s"compact type $x")
    }
    /** Walk a struct's fields; `handle(id, type)` returns true if it
      * consumed the value, false to generic-skip it. Field-header
      * bools (types 1/2) carry their value in the header and are
      * always consumed. */
    def readStruct(handle: (Int, Int) => Boolean): Unit = {
      var last = 0
      while (true) {
        val b = u8()
        if (b == 0) return
        val t = b & 0x0f
        val delta = (b >> 4) & 0x0f
        val id = if (delta != 0) last + delta else zig().toInt
        last = id
        if (t != 1 && t != 2 && !handle(id, t)) skipValue(t)
      }
    }
  }

  /** Footer walk + data-region cross-check. Backward discovery (tail
    * magic + u32 LE footer length), generic Thrift walk of
    * FileMetaData, then every column chunk's
    * [data_page_offset, +total_compressed_size) extent is bounds-
    * checked against the data region and re-checksummed. rows_ok
    * verifies Σ row-group rows ≡ footer num_rows. Any structural
    * violation — bad magic, footer overrun, malformed varint, type
    * mismatch — is the "unknown" row. */
  private[ops] def decodeParquet(id: Long, p: Array[Byte]): ParquetFeatures = {
    val bad = ParquetFeatures(id, "unknown", -1, -1, -1, -1, -1, -1, -1, -1, -1, -1, -1)
    val n = p.length
    if (n < 12) return bad
    def ascii(o: Int, len: Int) = new String(p, o, len, "US-ASCII")
    if (ascii(0, 4) != "PAR1" || ascii(n - 4, 4) != "PAR1") return bad
    val flen = (0 until 4).map(k => (p(n - 8 + k) & 0xffL) << (8 * k)).sum
    if (flen <= 0 || flen > n - 12) return bad
    val fStart = (n - 8 - flen).toInt
    try {
      val r = new TcReader(p, fStart, n - 8)
      var version = -1L; var numRows = -1L
      var nCols = 0L; var nGroups = 0L; var nChunks = 0L
      var valuesSum = 0L; var dataBytes = 0L; var codecSum = 0L
      var groupRowsSum = 0L; var inBounds = 0L; var checksum = 0L
      r.readStruct { (fid, t) =>
        (fid, t) match {
          case (1, 5) => version = r.zig(); true
          case (2, 9) => // schema
            val (cnt, et) = r.listHeader()
            if (et != 12) throw new IllegalStateException("schema elem type")
            (0 until cnt).foreach { _ =>
              var isLeaf = true
              r.readStruct { (sf, st) =>
                (sf, st) match {
                  case (5, 5) => r.zig(); isLeaf = false; true // num_children
                  case _ => false
                }
              }
              if (isLeaf) nCols += 1
            }
            true
          case (3, 6) => numRows = r.zig(); true
          case (4, 9) => // row_groups
            val (cnt, et) = r.listHeader()
            if (et != 12) throw new IllegalStateException("row group type")
            (0 until cnt).foreach { _ =>
              nGroups += 1
              r.readStruct { (gf, gt) =>
                (gf, gt) match {
                  case (1, 9) => // columns
                    val (cn, ct) = r.listHeader()
                    if (ct != 12) throw new IllegalStateException("chunk type")
                    (0 until cn).foreach { _ =>
                      nChunks += 1
                      r.readStruct { (cf, ctt) =>
                        (cf, ctt) match {
                          case (3, 12) => // meta_data
                            var off = -1L; var csz = -1L
                            r.readStruct { (mf, mt) =>
                              (mf, mt) match {
                                case (4, 5) => codecSum += r.zig(); true
                                case (5, 6) => valuesSum += r.zig(); true
                                case (7, 6) => csz = r.zig(); true
                                case (9, 6) => off = r.zig(); true
                                case _ => false
                              }
                            }
                            if (csz >= 0) dataBytes += csz
                            if (off >= 4 && csz >= 0 && off + csz <= fStart) {
                              inBounds += 1
                              var j = 0L
                              while (j < csz) {
                                checksum += p((off + j).toInt) & 0xff; j += 1
                              }
                            }
                            true
                          case _ => false
                        }
                      }
                    }
                    true
                  case (3, 6) => groupRowsSum += r.zig(); true
                  case _ => false
                }
              }
            }
            true
          case _ => false
        }
      }
      if (version < 0 || numRows < 0 || nCols == 0 || nGroups == 0) bad
      else ParquetFeatures(id, "parquet", version, nCols, nGroups, numRows,
        nChunks, valuesSum, dataBytes, codecSum,
        if (groupRowsSum == numRows) 1 else 0,
        if (inBounds == nChunks) 1 else 0, checksum)
    } catch {
      case scala.util.control.NonFatal(_) => bad
    }
  }

  /** Batch parquet-footer extraction — row-local like every tier. */
  def extractParquetFeatures(media: DataFrame): Dataset[ParquetFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select("media_id", "payload").as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, payload) => decodeParquet(id, payload) })
  }

  // ---------------------------------------------------------------
  // Avro OCF: the row-oriented sibling of the parquet tier — the
  // container Kafka archives and ingest pipelines ship. Framing is
  // sync-marker based (16 random-per-file bytes after every block),
  // lengths are Avro zigzag varints (zigzag at WRITE, unlike Thrift
  // compact's type-dependent zigzag), and the payload decodes
  // record-by-record (each planted record is one zigzag long), so
  // n_records/value_sum only match when the varint walk, the block
  // framing and the sync discipline all agree.
  // ---------------------------------------------------------------

  private[ops] def avroBlocks(id: Long): Int = (1 + id % 5).toInt
  private[ops] def avroRecs(fill: Int, b: Int): Int = 5 + (fill + b) % 20
  private[ops] def avroValue(fill: Int, b: Int, i: Int): Int =
    (fill + 13 * b + i) % 1000
  private[ops] def avroSyncByte(fill: Int, j: Int): Int = (fill + 3 * j) % 256
  /** Shared with the oracle builder (schema_len is its byte length). */
  val AvroSchemaJson: String =
    """{"type":"record","name":"r","fields":[{"name":"v","type":"long"}]}"""

  /** A real, minimal Avro Object Container File for media_id: magic
    * Obj\x01, file-metadata map (avro.schema + avro.codec null) in the
    * standard block form, 16-byte sync marker, then `avroBlocks` data
    * blocks — zigzag-varint record count, zigzag-varint byte length,
    * the records (each one zigzag long), the sync marker again. */
  private[ops] def buildAvroPayload(id: Long): Array[Byte] = {
    val fill = fillByte(id)
    val out = new java.io.ByteArrayOutputStream()
    def zz(v0: Long): Unit = {
      var v = (v0 << 1) ^ (v0 >> 63)
      while ((v & ~0x7fL) != 0) { out.write(((v & 0x7f) | 0x80).toInt); v >>>= 7 }
      out.write(v.toInt)
    }
    def bytesV(b: Array[Byte]): Unit = { zz(b.length.toLong); out.write(b) }
    out.write("Obj".getBytes("US-ASCII")); out.write(1)
    zz(2L) // metadata map: one block of two entries
    bytesV("avro.schema".getBytes("UTF-8"))
    bytesV(AvroSchemaJson.getBytes("UTF-8"))
    bytesV("avro.codec".getBytes("UTF-8"))
    bytesV("null".getBytes("UTF-8"))
    zz(0L) // map end
    val sync = Array.tabulate(16)(j => avroSyncByte(fill, j).toByte)
    out.write(sync)
    for (b <- 0 until avroBlocks(id)) {
      val nr = avroRecs(fill, b)
      val body = new java.io.ByteArrayOutputStream()
      for (i <- 0 until nr) {
        var v = (avroValue(fill, b, i).toLong << 1) // zigzag of non-negative
        while ((v & ~0x7fL) != 0) { body.write(((v & 0x7f) | 0x80).toInt); v >>>= 7 }
        body.write(v.toInt)
      }
      val bb = body.toByteArray
      zz(nr.toLong); zz(bb.length.toLong)
      out.write(bb); out.write(sync)
    }
    out.toByteArray
  }

  /** Avro media table from the documents fixture (every doc). */
  def avroFromDocuments(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), col("source")).as[(Long, String)]
      .mapPartitions(_.map { case (id, source) =>
        (id, buildAvroPayload(id), "avro/binary", source)
      }).toDF("media_id", "payload", "media_type", "source")
  }

  final case class AvroFeatures(
      media_id: Long,
      format: String,
      n_meta: Long,
      codec: String,
      schema_len: Long,
      n_blocks: Long,
      n_records: Long,
      value_sum: Long,
      sync_ok: Long,
      bytes_ok: Long)

  /** OCF walk: magic, metadata map blocks (multi-block tolerated),
    * header sync capture, then block-by-block record decode — every
    * record's zigzag long is re-walked (not skipped by the byte
    * length), so bytes_ok cross-checks the declared block length
    * against the decoded span, and sync_ok re-verifies the marker
    * after every block. Malformed anything → "unknown". */
  private[ops] def decodeAvro(id: Long, p: Array[Byte]): AvroFeatures = {
    val bad = AvroFeatures(id, "unknown", -1, "", -1, -1, -1, -1, -1, -1)
    val n = p.length
    if (n < 20 || p(0) != 'O' || p(1) != 'b' || p(2) != 'j' || p(3) != 1)
      return bad
    var o = 4
    try {
      def varint(): Long = {
        var x = 0L; var s = 0; var b = 0
        do {
          if (o >= n) throw new IndexOutOfBoundsException("varint")
          b = p(o) & 0xff; o += 1
          x |= (b & 0x7fL) << s; s += 7
          if (s > 70) throw new NumberFormatException("varint overrun")
        } while ((b & 0x80) != 0)
        (x >>> 1) ^ -(x & 1L)
      }
      def bytesV(): Array[Byte] = {
        val len = varint().toInt
        if (len < 0 || o + len > n) throw new IndexOutOfBoundsException("bytes")
        val a = java.util.Arrays.copyOfRange(p, o, o + len); o += len; a
      }
      var nMeta = 0L; var codec = "null"; var schemaLen = -1L
      var cnt = varint()
      while (cnt != 0) {
        if (cnt < 0) throw new IllegalStateException("sized map block")
        (0L until cnt).foreach { _ =>
          val k = new String(bytesV(), "UTF-8")
          val v = bytesV()
          nMeta += 1
          if (k == "avro.codec") codec = new String(v, "UTF-8")
          if (k == "avro.schema") schemaLen = v.length.toLong
        }
        cnt = varint()
      }
      if (o + 16 > n) return bad
      val sync = java.util.Arrays.copyOfRange(p, o, o + 16); o += 16
      var blocks = 0L; var recs = 0L; var vsum = 0L
      var syncOk = 0L; var bytesOk = 0L
      while (o < n) {
        val nr = varint(); val blen = varint()
        if (nr < 0 || blen < 0 || o + blen + 16 > n) return bad
        val blockEnd = o + blen
        (0L until nr).foreach { _ =>
          if (o >= blockEnd) throw new IndexOutOfBoundsException("rec overrun")
          vsum += varint()
        }
        if (o == blockEnd) bytesOk += 1
        o = blockEnd.toInt
        if (java.util.Arrays.equals(
            java.util.Arrays.copyOfRange(p, o, o + 16), sync)) syncOk += 1
        o += 16
        blocks += 1; recs += nr
      }
      if (blocks == 0 || schemaLen < 0) bad
      else AvroFeatures(id, "avro", nMeta, codec, schemaLen, blocks, recs,
        vsum, if (syncOk == blocks) 1 else 0, if (bytesOk == blocks) 1 else 0)
    } catch {
      case scala.util.control.NonFatal(_) => bad
    }
  }

  /** Batch Avro OCF extraction — row-local like every tier. */
  def extractAvroFeatures(media: DataFrame): Dataset[AvroFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select("media_id", "payload").as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, payload) => decodeAvro(id, payload) })
  }

  /** Frame sampling for video-like payloads: emits `n` deterministic
    * byte-slices per payload (a real impl samples decoded frames).
    * Output: (media_id, frame_idx, frame_bytes). */
  def sampleFrames(media: DataFrame, n: Int): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select("media_id", "payload").as[(Long, Array[Byte])]
      .flatMap { case (id, payload) =>
        val len = math.max(payload.length, 1)
        (0 until n).map { f =>
          val start = (len.toLong * f / n).toInt
          val end = (len.toLong * (f + 1) / n).toInt
          (id, f, payload.slice(start, end))
        }
      }.toDF("media_id", "frame_idx", "frame_bytes")
  }
}
