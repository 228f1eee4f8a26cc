package graft.ops

import org.apache.spark.sql.functions.lit
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSpark

/** Multimodal decode: real BMP/PPM/WAV header parsing over planted
  * payloads, partition-batch execution, frame sampling, and graceful
  * handling of malformed bytes. */
class MultimodalSpec extends AnyFunSuite with GraftSpark {

  import spark.implicits._

  // ids chosen to cover all three formats (id % 3) twice
  private lazy val docs = Seq(0L, 1L, 2L, 3L, 4L, 5L)
    .map(id => (id, s"doc $id", "en", s"src$id", 6L))
    .toDF("doc_id", "text", "lang", "source", "n_chars")

  test("media table carries real format payloads as opaque binary") {
    val media = Multimodal.mediaFromDocuments(docs)
    assert(media.schema("payload").dataType ==
      org.apache.spark.sql.types.BinaryType)
    val byId = media.collect()
      .map(r => r.getAs[Long]("media_id") -> r.getAs[Array[Byte]]("payload")).toMap
    assert(byId(0L).take(2).map(_.toChar).mkString == "BM")
    assert(byId(1L).take(2).map(_.toChar).mkString == "P6")
    assert(byId(2L).take(4).map(_.toChar).mkString == "RIFF")
  }

  test("decoder reads planted geometry from the actual bytes") {
    val media = Multimodal.mediaFromDocuments(docs).repartition(3)
    val feats = Multimodal.extractFeatures(media).collect()
      .map(f => f.media_id -> f).toMap
    for (id <- Seq(0L, 3L)) { // BMP
      assert(feats(id).format == "bmp")
      assert(feats(id).width == 16 + id % 97 && feats(id).height == 16 + id % 53)
      assert(feats(id).sample_rate == -1)
      assert(feats(id).first_byte == 'B'.toLong)
    }
    for (id <- Seq(1L, 4L)) { // PPM
      assert(feats(id).format == "ppm")
      assert(feats(id).width == 16 + id % 97 && feats(id).height == 16 + id % 53)
      assert(feats(id).n_bytes ==
        s"P6\n${feats(id).width} ${feats(id).height}\n255\n".length +
          3 * feats(id).width * feats(id).height)
    }
    for (id <- Seq(2L, 5L)) { // WAV
      assert(feats(id).format == "wav")
      assert(feats(id).sample_rate == 8000 + (id % 5) * 4000)
      assert(feats(id).n_samples == 64 + id % 129)
      assert(feats(id).width == -1)
    }
    // run twice → identical (decode is deterministic)
    val again = Multimodal.extractFeatures(media).collect()
      .map(f => f.media_id -> f).toMap
    assert(feats == again)
  }

  test("checksum equals fixed-header sum plus fill-byte body (oracle identity)") {
    // independently recompute the checksum of a PPM payload from the
    // generative formula the SQL oracle uses
    val id = 4L
    val p = Multimodal.extractFeatures(
      Multimodal.mediaFromDocuments(docs.filter($"doc_id" === id)))
      .collect().head
    val w = 16 + id % 97; val h = 16 + id % 53; val fill = id % 251
    val headerChars = s"P6\n$w $h\n255\n"
    val expected = headerChars.map(_.toLong).sum + 3 * w * h * fill
    assert(p.byte_checksum == expected)
  }

  test("malformed payloads decode as unknown instead of failing the job") {
    val junk = Seq((99L, Array[Byte](1, 2, 3), "application/octet-stream", "x"))
      .toDF("media_id", "payload", "media_type", "source")
    val f = Multimodal.extractFeatures(junk).collect().head
    assert(f.format == "unknown")
    assert(f.n_bytes == 3 && f.width == -1 && f.sample_rate == -1)
    assert(f.byte_checksum == 6L)
  }

  test("half-resize halves geometry and re-decodes through the same extractor") {
    for (id <- Seq(0L, 1L, 2L, 31L, 32L, 33L)) {
      val src = Multimodal.decode(id, Multimodal.buildPayload(id))
      val out = Multimodal.decode(id,
        Multimodal.resizePayloadHalf(Multimodal.buildPayload(id)))
      assert(out.format == src.format, s"id=$id")
      if (src.format == "bmp" || src.format == "ppm") {
        assert(out.width == math.max(src.width / 2, 1), s"id=$id")
        assert(out.height == math.max(src.height / 2, 1), s"id=$id")
      } else {
        assert(out.sample_rate == src.sample_rate / 2, s"id=$id")
        assert(out.n_samples == (src.n_samples + 1) / 2, s"id=$id")
      }
      assert(out.n_bytes < src.n_bytes, s"id=$id")
    }
    // non-media bytes pass through untouched
    val junk = Array[Byte](1, 2, 3)
    assert(Multimodal.resizePayloadHalf(junk).toSeq == junk.toSeq)
  }

  test("PCM frame sampler parses the data chunk: counts, partial tail, stride") {
    // id=2 → WAV with ns = 64 + 2 % 129 = 66 samples, fill = 2:
    // frames of 32 → 3 frames (32, 32, 2); stride 2 keeps frames 0, 2
    val media = Multimodal.mediaFromDocuments(docs.filter($"doc_id" === 2))
    val frames = Multimodal.frameSampleAudio(media, 32, 2)
      .orderBy("frame_idx").collect()
    assert(frames.map(f => (f.frame_idx, f.n_in_frame, f.byte_sum)).toSeq ==
      Seq((0L, 32L, 32L * 2 * 2), (2L, 2L, 2L * 2 * 2)))
    // stride 1 keeps all 3; total samples recompose to ns
    val all = Multimodal.frameSampleAudio(media, 32, 1).collect()
    assert(all.map(_.n_in_frame).sum == 66L)
    // brute parity: byte sums recompute from the raw payload bytes
    val payload = media.collect().head.getAs[Array[Byte]]("payload")
    all.foreach { f =>
      val start = 44 + f.frame_idx.toInt * 64
      val expect = payload.slice(start, start + f.n_in_frame.toInt * 2)
        .map(_ & 0xff).sum.toLong
      assert(f.byte_sum == expect)
    }
    // images emit no frames
    assert(Multimodal.frameSampleAudio(
      Multimodal.mediaFromDocuments(docs.filter($"doc_id" === 0)), 32, 2)
      .count() == 0)
  }

  test("PCM frame sampler walks RIFF chunks: extended fmt + LIST chunk parse like the canonical twin") {
    import java.nio.{ByteBuffer, ByteOrder}
    // 66 mono 16-bit samples of a constant byte, like the id=2 fixture
    val ns = 66
    val fill: Byte = 7
    val data = Array.fill(ns * 2)(fill)
    def chunk(tag: String, body: Array[Byte]): Array[Byte] = {
      val bb = ByteBuffer.allocate(8 + body.length + (body.length & 1))
        .order(ByteOrder.LITTLE_ENDIAN)
      bb.put(tag.getBytes("US-ASCII")).putInt(body.length).put(body)
      bb.array() // trailing pad byte (odd sizes) stays zero
    }
    // extended fmt: 18-byte body (cbSize=0 tail), NOT at offset 12's
    // canonical 16-byte shape; an odd-sized LIST chunk sits before data
    val fmt18 = ByteBuffer.allocate(18).order(ByteOrder.LITTLE_ENDIAN)
      .putShort(1.toShort).putShort(1.toShort).putInt(8000)
      .putInt(16000).putShort(2.toShort).putShort(16.toShort)
      .putShort(0.toShort).array()
    val list = "INFOIART someone".getBytes("US-ASCII").dropRight(1) // 15 bytes: odd
    def wav(chunks: Array[Byte]*): Array[Byte] = {
      val body = chunks.flatten.toArray
      val bb = ByteBuffer.allocate(12 + body.length).order(ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes("US-ASCII")).putInt(4 + body.length)
        .put("WAVE".getBytes("US-ASCII")).put(body)
      bb.array()
    }
    val extended = wav(chunk("fmt ", fmt18), chunk("LIST", list), chunk("data", data))
    val canonical = wav(chunk("fmt ", fmt18.take(16)), chunk("data", data))
    val media = Seq((1L, extended), (2L, canonical))
      .toDF("media_id", "payload").withColumn("format", lit("wav"))
    val frames = Multimodal.frameSampleAudio(media, 32, 2).collect()
      .groupBy(_.media_id).view.mapValues(
        _.sortBy(_.frame_idx).map(f => (f.frame_idx, f.n_in_frame, f.byte_sum)).toSeq)
    assert(frames(1L) == frames(2L))
    assert(frames(1L) == Seq((0L, 32L, 32L * 2 * fill), (2L, 2L, 2L * 2 * fill)))
    // fmt-only (no data chunk) and truncated-garbage payloads emit nothing
    val noData = wav(chunk("fmt ", fmt18.take(16)))
    assert(Multimodal.frameSampleAudio(
      Seq((3L, noData)).toDF("media_id", "payload"), 32, 1).count() == 0)
    // first-wins: with [data][data'][fmt] ordering the walk keeps
    // looking for fmt past the first data chunk but must NOT let the
    // second data chunk displace the canonical first one
    val other = Array.fill(10 * 2)(9.toByte)
    val dataFirst = wav(chunk("data", data), chunk("data", other),
      chunk("fmt ", fmt18.take(16)))
    val ff = Multimodal.frameSampleAudio(
        Seq((4L, dataFirst)).toDF("media_id", "payload"), 32, 1)
      .collect().sortBy(_.frame_idx)
    assert(ff.map(_.n_in_frame).sum == ns.toLong) // frames from data #1
    assert(ff.head.byte_sum == 32L * 2 * fill)
    // fmt is first-wins too (symmetric with the data rule): a
    // malformed dual-fmt file [fmt 16-bit][fmt' 8-bit][data] decodes
    // with the FIRST fmt — 66 16-bit samples, not 132 8-bit ones
    val fmt8 = ByteBuffer.allocate(16).order(ByteOrder.LITTLE_ENDIAN)
      .putShort(1.toShort).putShort(1.toShort).putInt(8000)
      .putInt(8000).putShort(1.toShort).putShort(8.toShort).array()
    val dualFmt = wav(chunk("fmt ", fmt18.take(16)), chunk("fmt ", fmt8),
      chunk("data", data))
    val df2 = Multimodal.frameSampleAudio(
        Seq((5L, dualFmt)).toDF("media_id", "payload"), 32, 1)
      .collect().sortBy(_.frame_idx)
    assert(df2.map(_.n_in_frame).sum == ns.toLong)
  }

  test("PNG: planted payloads decode through inflate + all five de-filters") {
    // heights ≥ 16 guarantee every filter type 0-4 appears (y % 5)
    val media = Multimodal.pngFromDocuments(docs).repartition(3)
    val feats = Multimodal.extractPngFeatures(media).collect()
      .map(f => f.media_id -> f).toMap
    for (id <- Seq(0L, 1L, 2L, 3L, 4L, 5L)) {
      val w = 16 + id % 97; val h = 16 + id % 53; val fill = id % 251
      val f = feats(id)
      assert(f.format == "png", s"id=$id")
      assert(f.width == w && f.height == h, s"id=$id")
      assert(f.bit_depth == 8 && f.color_type == 2, s"id=$id")
      assert(f.n_idat == 2, s"id=$id") // multi-IDAT concat exercised
      // Σ_{y<h} (y%5): full cycles of 10 plus the partial-run triangle
      val r = h % 5
      assert(f.filter_sum == (h / 5) * 10 + r * (r - 1) / 2, s"id=$id")
      // the raw image is constant fill: only a correct reconstruction
      // through Sub/Up/Average/Paeth lands on exactly this sum
      assert(f.pixel_checksum == 3 * w * h * fill, s"id=$id")
    }
  }

  test("PNG: corrupt and malformed payloads decode as unknown, never throw") {
    val good = Multimodal.buildPngPayload(3L)
    def mutate(i: Int, b: Byte): Array[Byte] = {
      val c = good.clone(); c(i) = b; c
    }
    val cases = Seq(
      5L -> Array[Byte](1, 2, 3),                 // not a PNG at all
      6L -> good.take(40),                        // truncated mid-chunk
      7L -> mutate(1, 'Q'.toByte),                // broken signature
      // flip a byte inside the first IDAT body: CRC check must catch it
      8L -> mutate(8 + 25 + 12, (good(8 + 25 + 12) ^ 0x55).toByte),
      // flip IHDR's bit-depth field (byte 8+8+8=24) — CRC catches too
      9L -> mutate(24, 16.toByte))
    val media = cases.map { case (id, p) => (id, p) }.toDF("media_id", "payload")
    val out = Multimodal.extractPngFeatures(media).collect()
    assert(out.length == cases.length)
    assert(out.forall(f => f.format == "unknown" && f.width == -1 &&
      f.pixel_checksum == -1))
    // and a BMP payload is a clean unknown for the PNG decoder
    assert(Multimodal.decodePng(0L, Multimodal.buildPayload(0L)).format == "unknown")
  }

  test("PNG: ancillary chunks are skipped, single-IDAT decodes too") {
    // rebuild id=4's PNG as [IHDR][tEXt][one IDAT][IEND]: same pixels
    val id = 4L
    val w = 16 + id % 97; val h = 16 + id % 53
    val orig = Multimodal.buildPngPayload(id)
    // parse orig to recover the two IDAT bodies, then re-chunk
    def be32(p: Array[Byte], o: Int): Int =
      ((p(o) & 0xff) << 24) | ((p(o + 1) & 0xff) << 16) |
        ((p(o + 2) & 0xff) << 8) | (p(o + 3) & 0xff)
    var off = 8
    val idat = new java.io.ByteArrayOutputStream()
    var ihdrBody: Array[Byte] = null
    while (off + 12 <= orig.length) {
      val len = be32(orig, off)
      val tag = new String(orig, off + 4, 4, "US-ASCII")
      if (tag == "IHDR") ihdrBody = orig.slice(off + 8, off + 8 + len)
      if (tag == "IDAT") idat.write(orig, off + 8, len)
      off += 12 + len
    }
    def chunk(tag: String, data: Array[Byte]): Array[Byte] = {
      val t = tag.getBytes("US-ASCII")
      val bb = java.nio.ByteBuffer.allocate(12 + data.length)
      bb.putInt(data.length).put(t).put(data)
      val crc = new java.util.zip.CRC32()
      crc.update(t); crc.update(data)
      bb.putInt(crc.getValue.toInt)
      bb.array()
    }
    val rebuilt = orig.take(8) ++ chunk("IHDR", ihdrBody) ++
      chunk("tEXt", "Comment graft".getBytes("US-ASCII")) ++
      chunk("IDAT", idat.toByteArray) ++ chunk("IEND", Array.emptyByteArray)
    val f = Multimodal.decodePng(id, rebuilt)
    assert(f.format == "png" && f.width == w && f.height == h)
    assert(f.n_idat == 1)
    assert(f.pixel_checksum == 3 * w * h * (id % 251))
  }

  test("frame sampling slices cover the payload exactly") {
    val media = Multimodal.mediaFromDocuments(docs.filter($"doc_id" === 0))
    val payload = media.collect().head.getAs[Array[Byte]]("payload")
    val frames = Multimodal.sampleFrames(media, 4).orderBy("frame_idx").collect()
    assert(frames.length == 4)
    val joined = frames.flatMap(_.getAs[Array[Byte]]("frame_bytes"))
    assert(joined.toSeq == payload.toSeq)
  }

  test("JPEG: marker walk reads geometry, DQT content, and the entropy run") {
    val media = Multimodal.jpegFromDocuments(docs).repartition(3)
    val feats = Multimodal.extractJpegFeatures(media).collect()
      .map(f => f.media_id -> f).toMap
    for (id <- Seq(0L, 1L, 2L, 3L, 4L, 5L)) {
      val f = feats(id)
      assert(f.format == "jpeg", s"id=$id")
      assert(f.width == 16 + id % 97 && f.height == 16 + id % 53, s"id=$id")
      assert(f.bit_precision == 8 && f.n_components == 3, s"id=$id")
      assert(f.n_segments == 3, s"id=$id") // APP0, DQT, SOF0
      assert(f.entropy_bytes == 10 + id % 40, s"id=$id")
      assert(f.dqt_sum == 64 * (id % 251), s"id=$id")
    }
  }

  test("JPEG: byte stuffing and restart markers count as entropy data") {
    // splice FF 00 (stuffed literal) and FF D0 (RST0) into the entropy
    // run of a planted payload: both must scan as data, not terminate
    val good = Multimodal.buildJpegPayload(7L)
    val eb = 10 + 7 % 40
    val insertAt = good.length - 2 - eb / 2 // inside the entropy run
    val spliced = good.take(insertAt) ++
      Array(0xff.toByte, 0x00.toByte, 0xff.toByte, 0xd0.toByte) ++
      good.drop(insertAt)
    val f = Multimodal.decodeJpeg(7L, spliced)
    assert(f.format == "jpeg" && f.entropy_bytes == eb + 4)
  }

  test("JPEG: malformed payloads decode as unknown, never throw") {
    val good = Multimodal.buildJpegPayload(3L)
    val cases = Seq(
      Array[Byte](1, 2, 3),                    // not a JPEG
      good.take(30),                           // truncated mid-segment
      good.dropRight(2),                       // entropy run without EOI
      good.take(2) ++ Array(0xff.toByte, 0xd9.toByte), // EOI, no SOS
      // SOS spliced in before any SOF: geometry unknown → reject
      good.take(2) ++ good.drop(good.length - 2 - (10 + 3 % 40) - 14))
    cases.zipWithIndex.foreach { case (p, i) =>
      assert(Multimodal.decodeJpeg(i.toLong, p).format == "unknown", s"case $i")
    }
    // a BMP payload is a clean unknown for the JPEG decoder
    assert(Multimodal.decodeJpeg(0L, Multimodal.buildPayload(0L)).format == "unknown")
  }

  test("GIF LZW: encode/decode round-trips varied, constant, and table-filling streams") {
    val rnd = new scala.util.Random(42)
    val cases = Seq(
      Array.empty[Byte],
      Array[Byte](7),
      Array.fill(5000)(3.toByte),                       // long constant run
      Array.tabulate(7616)(i => ((i % 97 + i / 97) % 256).toByte), // fixture shape
      Array.tabulate(60000)(_ => (rnd.nextInt(256)).toByte)) // forces 4096 reset
    cases.zipWithIndex.foreach { case (data, i) =>
      val enc = Multimodal.lzwEncode(8, data)
      val dec = Multimodal.lzwDecode(8, enc, data.length + 1)
      assert(dec != null && java.util.Arrays.equals(dec, data), s"case $i")
    }
    // small code size too (4-color tables use mcs=2)
    val small = Array.tabulate(1000)(i => (i % 4).toByte)
    val encS = Multimodal.lzwEncode(2, small)
    assert(java.util.Arrays.equals(Multimodal.lzwDecode(2, encS, 1001), small))
  }

  test("GIF: planted payload decodes to the oracle arithmetic") {
    Seq(0L, 7L, 123L, 250L).foreach { id =>
      val f = Multimodal.decodeGif(id, Multimodal.buildGifPayload(id))
      val w = 16 + id % 97; val h = 16 + id % 53; val fill = id % 251
      assert(f.format == "gif" && f.width == w && f.height == h)
      assert(f.n_colors == 256 && f.bg_index == fill % 256)
      val isum = (0L until w * h).map(p => ((p % w) + (p / w) + fill) % 256).sum
      val rsum = (0L until w * h).map { p =>
        val i = ((p % w) + (p / w) + fill) % 256
        (7 * i) % 256 + (11 * i) % 256 + (13 * i) % 256
      }.sum
      assert(f.index_checksum == isum, s"id $id")
      assert(f.rgb_checksum == rsum, s"id $id")
    }
  }

  test("GIF: malformed payloads decode as unknown, never throw") {
    val good = Multimodal.buildGifPayload(5L)
    val cases = Seq(
      Array[Byte](1, 2, 3),              // not a GIF
      good.take(10),                     // truncated in the screen descriptor
      good.take(13 + 100),               // truncated inside the color table
      good.dropRight(2),                 // missing terminator+trailer
      { val c = good.clone(); c(10) = (c(10) & 0x7f).toByte; c }, // no GCT
      { // corrupt a byte inside the LZW stream → wrong pixel count or bad code
        val c = good.clone(); c(c.length - 10) = (c(c.length - 10) ^ 0x5a).toByte; c })
    cases.zipWithIndex.foreach { case (p, i) =>
      val f = Multimodal.decodeGif(i.toLong, p)
      // the corrupted-stream case may still decode to w*h pixels with a
      // different checksum — unknown OR a checksum mismatch both prove
      // the decoder read the real stream; assert it never throws and
      // the structural cases reject
      if (i < 5) assert(f.format == "unknown", s"case $i")
    }
    // a PNG payload is a clean unknown for the GIF decoder
    assert(Multimodal.decodeGif(0L, Multimodal.buildPngPayload(0L)).format == "unknown")
  }

  test("TIFF: both byte orders decode to the oracle arithmetic") {
    Seq(0L, 1L, 42L, 251L).foreach { id => // even = II, odd = MM
      val f = Multimodal.decodeTiff(id, Multimodal.buildTiffPayload(id))
      val w = 16 + id % 97; val h = 16 + id % 53; val fill = id % 251
      assert(f.format == "tiff", s"id $id")
      assert(f.byte_order == (if (id % 2 == 0) "II" else "MM"))
      assert(f.width == w && f.height == h && f.n_entries == 8)
      assert(f.compression == 1 && f.strip_bytes == 3 * w * h)
      assert(f.pixel_checksum == 3 * w * h * fill, s"id $id")
    }
  }

  test("TIFF: malformed payloads decode as unknown, never throw") {
    val good = Multimodal.buildTiffPayload(6L)
    val cases = Seq(
      Array[Byte](1, 2, 3),                 // not a TIFF
      good.take(6),                         // truncated header
      { val c = good.clone(); c(2) = 7; c }, // wrong magic
      good.take(good.length - 20),          // IFD truncated mid-entries
      { // strip offset pointed past the end: must reject, not overrun
        val c = Multimodal.buildTiffPayload(6L)
        // entry 273 value field sits in the IFD; easier: truncate pixels
        c.take(100) ++ c.drop(c.length - (2 + 8 * 12 + 4))
      })
    cases.zipWithIndex.foreach { case (p, i) =>
      assert(Multimodal.decodeTiff(i.toLong, p).format == "unknown", s"case $i")
    }
    // a GIF payload is a clean unknown for the TIFF decoder
    assert(Multimodal.decodeTiff(0L, Multimodal.buildGifPayload(0L)).format == "unknown")
  }

  test("MP4: both layouts and the largesize escape decode to the oracle arithmetic") {
    // 0/42 faststart+largesize-eligible(0,7|0), 1/13 capture layout,
    // 7 capture+largesize, 14 faststart+largesize
    Seq(0L, 1L, 7L, 13L, 14L, 42L, 251L).foreach { id =>
      val f = Multimodal.decodeMp4(id, Multimodal.buildMp4Payload(id))
      val w = 16 + id % 97; val h = 16 + id % 53; val fill = id % 251
      val ns = (64 + id % 129).toInt
      val sb = (0 until ns).map(i => 1 + (fill + i) % 97).sum
      assert(f.format == "mp4" && f.major_brand == "isom", s"id $id")
      assert(f.timescale == 600 && f.duration == 600 + id % 1234)
      assert(f.width == w && f.height == h, s"id $id geometry")
      assert(f.n_samples == ns && f.sample_bytes == sb, s"id $id stsz")
      assert(f.mdat_bytes == sb && f.mdat_checksum == sb * fill, s"id $id mdat")
      assert(f.n_boxes == 12, s"id $id boxes")
    }
  }

  test("MP4: malformed payloads decode as unknown, never throw") {
    val good = Multimodal.buildMp4Payload(6L)
    val cases = Seq(
      Array[Byte](1, 2, 3),            // not a box
      good.take(6),                    // truncated mid-header
      good.take(good.length - 5),      // final box overruns its size
      { val c = good.clone(); c(0) = 0x7f; c }, // ftyp size > file
      good ++ Array[Byte](0, 0, 0, 9), // trailing junk < one header
      { // nested box size past its parent: moov walk must reject
        val c = Multimodal.buildMp4Payload(6L)
        // moov starts after the 24-byte ftyp; corrupt mvhd's size
        c(24 + 8 + 3) = (c(24 + 8 + 3) | 0x70).toByte; c
      })
    cases.zipWithIndex.foreach { case (p, i) =>
      assert(Multimodal.decodeMp4(i.toLong, p).format == "unknown", s"case $i")
    }
    // sibling-format payloads are clean unknowns
    assert(Multimodal.decodeMp4(0L, Multimodal.buildTiffPayload(0L)).format == "unknown")
    assert(Multimodal.decodeMp4(0L, Multimodal.buildGifPayload(0L)).format == "unknown")
  }

  test("ZIP: comment and no-comment archives, stored and deflated members verify") {
    // 0: comment (0%5==0) + deflated slice; 3: no comment; 13: ne=4+0
    Seq(0L, 3L, 5L, 13L, 17L, 250L).foreach { id =>
      val f = Multimodal.decodeZip(id, Multimodal.buildZipPayload(id))
      val ne = (4 + id % 13).toInt; val fill = (id % 251).toInt
      val tot = (0 until ne).map(i => 1 + (fill + i) % 97).sum
      val nd = (0 until ne).count(i => (id + i) % 3 == 0)
      assert(f.format == "zip" && f.n_entries == ne, s"id $id")
      assert(f.total_bytes == tot, s"id $id sizes")
      assert(f.n_stored == ne - nd && f.n_deflated == nd, s"id $id methods")
      assert(f.comment_len == (if (id % 5 == 0) 1 + id % 7 else 0), s"id $id comment")
      assert(f.crc_ok == ne && f.sizes_ok == ne, s"id $id verify")
    }
  }

  test("ZIP: malformed payloads decode as unknown, never throw") {
    val good = Multimodal.buildZipPayload(9L)
    val cases = Seq(
      Array[Byte](0x50, 0x4b, 3, 4),          // local sig only, no EOCD
      good.take(good.length - 1),              // EOCD comment-length framing broken
      { val c = good.clone()                   // corrupt a CD entry signature
        val cdStart = (0 until 4).map(k => (c(c.length - 22 + 16 + k) & 0xffL) << (8 * k)).sum.toInt
        c(cdStart) = 0x00; c },
      { val c = good.clone()                   // CRC claim vs content mismatch
        val cdStart = (0 until 4).map(k => (c(c.length - 22 + 16 + k) & 0xffL) << (8 * k)).sum.toInt
        c(cdStart + 16) = (c(cdStart + 16) ^ 0x55).toByte; c },
      good.take(20))                           // shorter than an EOCD
    cases.zipWithIndex.foreach { case (p, i) =>
      val f = Multimodal.decodeZip(i.toLong, p)
      // case 3 keeps valid framing but breaks one CRC: row stays 'zip'
      // with crc_ok < n_entries; the rest are structural -> unknown
      if (i == 3) assert(f.format == "zip" && f.crc_ok == f.n_entries - 1, s"case $i")
      else assert(f.format == "unknown", s"case $i")
    }
    // sibling-format payloads are clean unknowns
    assert(Multimodal.decodeZip(0L, Multimodal.buildMp4Payload(0L)).format == "unknown")
    assert(Multimodal.decodeZip(0L, Multimodal.buildTiffPayload(0L)).format == "unknown")
  }

  test("TAR: files, directories, checksums and trailer padding decode to the plant") {
    // 0/5/10: extra trailer zero block; various member mixes
    Seq(0L, 1L, 5L, 7L, 10L, 250L).foreach { id =>
      val f = Multimodal.decodeTar(id, Multimodal.buildTarPayload(id))
      val ne = (3 + id % 11).toInt; val fill = (id % 251).toInt
      val dirs = (0 until ne).count(i => (id + i) % 4 == 0)
      val files = (0 until ne).filter(i => (id + i) % 4 != 0)
      val tot = files.map(i => 1 + (fill + i) % 97).sum
      val cc = files.map { i =>
        (0 until (1 + (fill + i) % 97)).map(j => (fill + 11 * i + j) % 251).sum
      }.sum
      assert(f.format == "tar" && f.n_members == ne, s"id $id")
      assert(f.n_files == ne - dirs && f.n_dirs == dirs, s"id $id types")
      assert(f.total_bytes == tot && f.content_checksum == cc, s"id $id content")
      assert(f.chksum_ok == ne, s"id $id checksums")
    }
  }

  test("TAR: malformed payloads decode as unknown; a flipped byte fails its checksum") {
    val good = Multimodal.buildTarPayload(3L)
    assert(Multimodal.decodeTar(0L, good.take(512)).format == "unknown") // no end blocks
    assert(Multimodal.decodeTar(0L, good.take(good.length - 1)).format == "unknown") // unaligned
    val badMagic = good.clone(); badMagic(257) = 'X'
    assert(Multimodal.decodeTar(0L, badMagic).format == "unknown")
    val badTrailer = good.clone(); badTrailer(badTrailer.length - 1) = 1
    assert(Multimodal.decodeTar(0L, badTrailer).format == "unknown")
    // flip a name byte: framing survives, that header's checksum fails
    val flipped = good.clone(); flipped(1) = (flipped(1) ^ 0x01).toByte
    val f = Multimodal.decodeTar(3L, flipped)
    assert(f.format == "tar" && f.chksum_ok == f.n_members - 1)
    // sibling-format payloads are clean unknowns
    assert(Multimodal.decodeTar(0L, Multimodal.buildZipPayload(0L)).format == "unknown")
    assert(Multimodal.decodeTar(0L, Multimodal.buildMp4Payload(0L)).format == "unknown")
  }

  test("Parquet: footer walk recovers the planted metadata and checksums") {
    for (id <- Seq(0L, 1L, 2L, 3L, 7L, 11L, 254L, 1000L)) {
      val f = Multimodal.decodeParquet(id, Multimodal.buildParquetPayload(id))
      val fill = (id % 251).toInt
      val nc = (2 + id % 3).toInt; val ng = (1 + id % 4).toInt
      val nr = (100 + id % 900).toInt
      assert(f.format == "parquet" && f.version == 1, s"id $id")
      assert(f.n_cols == nc && f.n_groups == ng && f.num_rows == nr, s"id $id")
      assert(f.n_chunks == ng * nc && f.values_sum == nr.toLong * nc, s"id $id")
      val sizes = for (g <- 0 until ng; c <- 0 until nc)
        yield (g * nc + c, 10 + (fill + 7 * g + 3 * c) % 200)
      assert(f.data_bytes == sizes.map(_._2).sum, s"id $id bytes")
      assert(f.codec_sum == ng.toLong * (0 until nc).map(c =>
        c % 3 match { case 0 => 0; case 1 => 1; case _ => 6 }).sum, s"id $id")
      val ck = sizes.map { case (k, sz) =>
        (0 until sz).map(j => (fill + 11 * k + j) % 251).sum.toLong }.sum
      assert(f.rows_ok == 1 && f.bounds_ok == 1 && f.data_checksum == ck, s"id $id")
    }
  }

  test("Parquet: malformed payloads decode as unknown") {
    val good = Multimodal.buildParquetPayload(5L)
    assert(Multimodal.decodeParquet(0L, good.take(8)).format == "unknown")
    val badHead = good.clone(); badHead(0) = 'X'
    assert(Multimodal.decodeParquet(0L, badHead).format == "unknown")
    val badTail = good.clone(); badTail(badTail.length - 1) = 'X'
    assert(Multimodal.decodeParquet(0L, badTail).format == "unknown")
    // footer length pointing past the file start
    val badLen = good.clone()
    badLen(badLen.length - 5) = 0x7f.toByte
    assert(Multimodal.decodeParquet(0L, badLen).format == "unknown")
    // truncated mid-footer: magic/length survive the cut, walk throws
    val cut = good.clone()
    val cutAt = good.length - 200
    val shifted = cut.take(cutAt) ++ cut.takeRight(8)
    assert(Multimodal.decodeParquet(0L, shifted).format == "unknown")
    // sibling-format payloads are clean unknowns
    assert(Multimodal.decodeParquet(0L, Multimodal.buildZipPayload(0L)).format == "unknown")
    assert(Multimodal.decodeParquet(0L, Multimodal.buildTarPayload(0L)).format == "unknown")
  }

  test("Avro: OCF walk recovers blocks, records, values and framing verdicts") {
    for (id <- Seq(0L, 1L, 4L, 9L, 250L, 999L)) {
      val f = Multimodal.decodeAvro(id, Multimodal.buildAvroPayload(id))
      val fill = (id % 251).toInt
      val nb = (1 + id % 5).toInt
      val recs = (0 until nb).map(b => 5 + (fill + b) % 20)
      val vsum = (0 until nb).flatMap(b =>
        (0 until recs(b)).map(i => (fill + 13 * b + i) % 1000)).map(_.toLong).sum
      assert(f.format == "avro" && f.n_meta == 2 && f.codec == "null", s"id $id")
      assert(f.schema_len == Multimodal.AvroSchemaJson.getBytes("UTF-8").length, s"id $id")
      assert(f.n_blocks == nb && f.n_records == recs.map(_.toLong).sum, s"id $id")
      assert(f.value_sum == vsum && f.sync_ok == 1 && f.bytes_ok == 1, s"id $id")
    }
  }

  test("Avro: malformed payloads decode as unknown; a flipped sync fails sync_ok") {
    val good = Multimodal.buildAvroPayload(7L)
    assert(Multimodal.decodeAvro(0L, good.take(10)).format == "unknown")
    val badMagic = good.clone(); badMagic(3) = 2
    assert(Multimodal.decodeAvro(0L, badMagic).format == "unknown")
    assert(Multimodal.decodeAvro(0L, good.dropRight(3)).format == "unknown")
    // flip one byte of the LAST block's trailing sync: framing
    // survives, sync_ok verdict drops to 0
    val flipped = good.clone()
    flipped(flipped.length - 1) = (flipped(flipped.length - 1) ^ 0x01).toByte
    val f = Multimodal.decodeAvro(7L, flipped)
    assert(f.format == "avro" && f.sync_ok == 0 && f.bytes_ok == 1)
    // sibling-format payloads are clean unknowns
    assert(Multimodal.decodeAvro(0L, Multimodal.buildParquetPayload(0L)).format == "unknown")
    assert(Multimodal.decodeAvro(0L, Multimodal.buildTarPayload(0L)).format == "unknown")
  }
  test("JPEG pixel tier: planted closed form, byte stuffing live, malformed tolerated") {
    for (id <- Seq(0L, 5L, 96L, 250L, 441L)) {
      val f = Multimodal.decodeJpegPixels(id, Multimodal.buildJpegPixelPayload(id))
      val w = 16 + (id % 97).toInt; val h = 16 + (id % 53).toInt
      val bw = (w + 7) / 8; val bh = (h + 7) / 8
      var sum = 0L; var mn = 256L; var mx = -1L
      for (b <- 0 until bw * bh) {
        val pix = Multimodal.jpegBlockPixel(id, b).toLong
        val cw = math.min(8, w - (b % bw) * 8); val ch = math.min(8, h - (b / bw) * 8)
        sum += pix * cw * ch; mn = math.min(mn, pix); mx = math.max(mx, pix)
      }
      assert(f == Multimodal.JpegPixelFeatures(id, "jpeg", w, h, bw.toLong * bh, sum, mn, mx))
    }
    // byte-stuffing path, deterministically: a one-block scan whose DC
    // code is category 11 (code 111111110) starts with a raw 0xFF scan
    // byte, so the stream carries FF 00 and the reader must unstuff it
    // (diff 1024, q=1 -> pixel round(1024/8)+128 = 256 clamps to 255)
    val so = new java.io.ByteArrayOutputStream()
    def sbe16(x: Int): Unit = { so.write((x >> 8) & 0xff); so.write(x & 0xff) }
    def smk(m: Int): Unit = { so.write(0xff); so.write(m) }
    smk(0xd8)
    smk(0xdb); sbe16(67); so.write(0); (0 until 64).foreach(_ => so.write(1))
    val sdc = Array(0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0)
    val sac = Array(1, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
    smk(0xc4); sbe16(2 + (1 + 16 + 12) + (1 + 16 + 1))
    so.write(0x00); sdc.foreach(so.write); (0 until 12).foreach(so.write)
    so.write(0x10); sac.foreach(so.write); so.write(0x00)
    smk(0xc0); sbe16(11); so.write(8); sbe16(8); sbe16(8); so.write(1)
    so.write(1); so.write(0x11); so.write(0)
    smk(0xda); sbe16(8); so.write(1); so.write(1); so.write(0x00)
    so.write(0); so.write(63); so.write(0)
    // bits: 111111110 (cat11) 10000000000 (1024) 0 (EOB) + pad ones
    so.write(0xff); so.write(0x00); so.write(0x40); so.write(0x07)
    smk(0xd9)
    val sf = Multimodal.decodeJpegPixels(9L, so.toByteArray)
    assert(sf == Multimodal.JpegPixelFeatures(9L, "jpeg", 8, 8, 1, 64L * 255, 255, 255))
    // malformed: truncation, garbage, and the 3-component metadata-tier
    // payload (out of the grayscale pixel tier) all yield unknown
    val good = Multimodal.buildJpegPixelPayload(7L)
    assert(Multimodal.decodeJpegPixels(7L, good.take(20)).format == "unknown")
    assert(Multimodal.decodeJpegPixels(7L, Array[Byte](1, 2, 3, 4)).format == "unknown")
    assert(Multimodal.decodeJpegPixels(7L, Multimodal.buildJpegPayload(7L)).format == "unknown")
  }

  test("JPEG pixel tier: AC coefficient path (run/size + EXTEND + IDCT) decodes exactly") {
    // hand-assembled one-block 8x8 grayscale JPEG: q=16 everywhere,
    // Annex-K DC table, a 2-symbol AC table {EOB, run0/size3}; scan =
    // DC cat0 (diff 0) + AC (0x03, value 111b=+7) + EOB -> one AC
    // coefficient 7*16=112 at zigzag index 1 (u=1, v=0)
    val out = new java.io.ByteArrayOutputStream()
    def be16(x: Int): Unit = { out.write((x >> 8) & 0xff); out.write(x & 0xff) }
    def marker(m: Int): Unit = { out.write(0xff); out.write(m) }
    marker(0xd8)
    marker(0xdb); be16(67); out.write(0); (0 until 64).foreach(_ => out.write(16))
    val dcBits = Array(0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0)
    val acBits = Array(0, 2, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
    marker(0xc4); be16(2 + (1 + 16 + 12) + (1 + 16 + 2))
    out.write(0x00); dcBits.foreach(out.write); (0 until 12).foreach(out.write)
    out.write(0x10); acBits.foreach(out.write); out.write(0x00); out.write(0x03)
    marker(0xc0); be16(11); out.write(8); be16(8); be16(8); out.write(1)
    out.write(1); out.write(0x11); out.write(0)
    marker(0xda); be16(8); out.write(1); out.write(1); out.write(0x00)
    out.write(0); out.write(63); out.write(0)
    out.write(0x1e); out.write(0x7f) // 00 | 01 111 | 00 + pad ones
    marker(0xd9)
    val f = Multimodal.decodeJpegPixels(42L, out.toByteArray)
    // independent expectation: f(x,y) = 0.25 * (1/sqrt2) * 112 * cos((2x+1)*pi/16)
    var expSum = 0L; var expMin = 256L; var expMax = -1L
    for (y <- 0 until 8; x <- 0 until 8) {
      val v0 = 0.25 * 0.7071067811865476 * 112.0 * math.cos((2 * x + 1) * math.Pi / 16)
      var v = math.round(v0 + 128.0)
      if (v < 0) v = 0; if (v > 255) v = 255
      expSum += v; expMin = math.min(expMin, v); expMax = math.max(expMax, v)
    }
    assert(f == Multimodal.JpegPixelFeatures(42L, "jpeg", 8, 8, 1, expSum, expMin, expMax))
    assert(expMax - expMin > 30, "AC coefficient must actually modulate pixels")
  }

}
