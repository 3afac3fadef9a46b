package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.multimodal.HeaderCodec

/** Hand-built byte fixtures for the REAL header parsers — every field
  * placed manually from the published layouts, independent of the
  * encoders (which are then round-trip-checked separately).
  */
class HeaderCodecSpec extends AnyFunSuite {

  private def le32(v: Int): Array[Byte] =
    Array(v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte)
  private def le16(v: Int): Array[Byte] = Array(v.toByte, (v >> 8).toByte)
  private def ascii(s: String): Array[Byte] = s.getBytes("US-ASCII")

  test("BMP: hand-built 3x2 24bpp header parses exact dims") {
    // rowSize = ((3*3+3)/4)*4 = 12; data = 24; file = 78
    val bmp = ascii("BM") ++ le32(78) ++ le32(0) ++ le32(54) ++
      le32(40) ++ le32(3) ++ le32(2) ++ le16(1) ++ le16(24) ++
      new Array[Byte](24 + 24) // rest of info header (24) + pixel data (24)
    assert(bmp.length == 78)
    assert(HeaderCodec.parseBmp(bmp).contains(HeaderCodec.ImageDims(3, 2)))
  }

  test("BMP: top-down (negative height) yields abs; garbage/truncated → None") {
    val topDown = ascii("BM") ++ le32(78) ++ le32(0) ++ le32(54) ++
      le32(40) ++ le32(5) ++ le32(-4) ++ le16(1) ++ le16(24) ++ new Array[Byte](48)
    assert(HeaderCodec.parseBmp(topDown).contains(HeaderCodec.ImageDims(5, 4)))
    assert(HeaderCodec.parseBmp(ascii("BM") ++ new Array[Byte](10)).isEmpty) // truncated
    assert(HeaderCodec.parseBmp(ascii("XX") ++ new Array[Byte](60)).isEmpty) // bad magic
    assert(HeaderCodec.parseBmp(null).isEmpty)
  }

  test("PPM/PGM: whitespace + '#' comments between tokens handled") {
    val p6 = ascii("P6\n# a comment\n13  7\n255\n") ++ new Array[Byte](13 * 7 * 3)
    assert(HeaderCodec.parsePpm(p6).contains(HeaderCodec.ImageDims(13, 7)))
    val p5 = ascii("P5 2 3 255 ") ++ new Array[Byte](6)
    assert(HeaderCodec.parsePpm(p5).contains(HeaderCodec.ImageDims(2, 3)))
    assert(HeaderCodec.parsePpm(ascii("P6\n# only a comment")).isEmpty)
  }

  test("WAV: hand-built PCM header → exact sample rate, channels, duration") {
    // 8000 Hz stereo 16-bit, 4000 frames → 16000 data bytes → 500 ms
    val data = new Array[Byte](16000)
    val wav = ascii("RIFF") ++ le32(36 + 16000) ++ ascii("WAVE") ++
      ascii("fmt ") ++ le32(16) ++ le16(1) ++ le16(2) ++ le32(8000) ++
      le32(8000 * 2 * 2) ++ le16(4) ++ le16(16) ++
      ascii("data") ++ le32(16000) ++ data
    assert(HeaderCodec.parseWav(wav)
      .contains(HeaderCodec.AudioInfo(8000, 2, 16, 500L)))
  }

  test("WAV: chunk walk skips odd-sized chunks with pad byte; truncated data tolerated") {
    // a 3-byte LIST chunk (odd → 1 pad byte) before fmt
    val wav = ascii("RIFF") ++ le32(0) ++ ascii("WAVE") ++
      ascii("LIST") ++ le32(3) ++ new Array[Byte](4) ++ // 3 data + 1 pad
      ascii("fmt ") ++ le32(16) ++ le16(1) ++ le16(1) ++ le32(16000) ++
      le32(16000 * 2) ++ le16(2) ++ le16(16) ++
      ascii("data") ++ le32(64000) ++ new Array[Byte](32000) // claims 2s, has 1s
    val a = HeaderCodec.parseWav(wav).get
    assert(a.sampleRate == 16000 && a.channels == 1)
    assert(a.durationMs == 1000L) // truncation-tolerant: actual bytes, not claimed
    assert(HeaderCodec.parseWav(ascii("RIFF") ++ new Array[Byte](8)).isEmpty)
  }

  private def be32(v: Int): Array[Byte] =
    Array((v >> 24).toByte, (v >> 16).toByte, (v >> 8).toByte, v.toByte)
  private def be16(v: Int): Array[Byte] = Array((v >> 8).toByte, v.toByte)

  test("PNG: hand-built IHDR (valid CRC) parses; corrupt CRC / bad chunk → None") {
    val sig = Array(0x89.toByte, 'P'.toByte, 'N'.toByte, 'G'.toByte,
      '\r'.toByte, '\n'.toByte, 0x1a.toByte, '\n'.toByte)
    val ihdrData = be32(640) ++ be32(480) ++ Array[Byte](8, 2, 0, 0, 0)
    val crc = new java.util.zip.CRC32
    crc.update(ascii("IHDR")); crc.update(ihdrData)
    val png = sig ++ be32(13) ++ ascii("IHDR") ++ ihdrData ++ be32(crc.getValue.toInt)
    assert(HeaderCodec.parsePng(png).contains(HeaderCodec.ImageDims(640, 480)))
    // flip one dim byte without recomputing the CRC → rejected
    val corrupt = png.clone(); corrupt(17) = 1
    assert(HeaderCodec.parsePng(corrupt).isEmpty)
    // first chunk not IHDR → rejected
    val notIhdr = sig ++ be32(13) ++ ascii("XHDR") ++ ihdrData ++ be32(0)
    assert(HeaderCodec.parsePng(notIhdr).isEmpty)
    assert(HeaderCodec.parsePng(sig).isEmpty) // truncated
    assert(HeaderCodec.parsePng(null).isEmpty)
  }

  test("GIF: hand-built logical screen descriptor; both versions; zero dims → None") {
    val gif89 = ascii("GIF89a") ++ le16(320) ++ le16(200) ++ new Array[Byte](3) ++
      Array(0x3b.toByte)
    assert(HeaderCodec.parseGif(gif89).contains(HeaderCodec.ImageDims(320, 200)))
    val gif87 = ascii("GIF87a") ++ le16(1) ++ le16(1) ++ new Array[Byte](3)
    assert(HeaderCodec.parseGif(gif87).contains(HeaderCodec.ImageDims(1, 1)))
    assert(HeaderCodec.parseGif(ascii("GIF89a") ++ le16(0) ++ le16(5) ++
      new Array[Byte](3)).isEmpty)
    assert(HeaderCodec.parseGif(ascii("GIF88a") ++ new Array[Byte](7)).isEmpty)
  }

  test("JPEG: marker walk skips APPn/DQT to SOF0; SOS-before-SOF and bad framing → None") {
    def seg(marker: Int, body: Array[Byte]): Array[Byte] =
      Array(0xff.toByte, marker.toByte) ++ be16(body.length + 2) ++ body
    val sof0 = seg(0xc0, Array[Byte](8) ++ be16(300) ++ be16(500) ++
      Array[Byte](3, 1, 0x22, 0, 2, 0x11, 0, 3, 0x11, 0))
    val jpeg = Array(0xff.toByte, 0xd8.toByte) ++
      seg(0xe0, ascii("JFIF") ++ new Array[Byte](9)) ++
      seg(0xdb, new Array[Byte](65)) ++ sof0 ++ Array(0xff.toByte, 0xd9.toByte)
    assert(HeaderCodec.parseJpeg(jpeg).contains(HeaderCodec.ImageDims(500, 300)))
    // progressive SOF2 also carries dims
    val sof2 = seg(0xc2, Array[Byte](8) ++ be16(40) ++ be16(60) ++
      Array[Byte](1, 1, 0x11, 0))
    assert(HeaderCodec.parseJpeg(Array(0xff.toByte, 0xd8.toByte) ++ sof2)
      .contains(HeaderCodec.ImageDims(60, 40)))
    // DHT (C4) must NOT be taken for a SOF
    val dhtOnly = Array(0xff.toByte, 0xd8.toByte) ++ seg(0xc4, new Array[Byte](17))
    assert(HeaderCodec.parseJpeg(dhtOnly).isEmpty)
    // SOS before any SOF → dims unknowable from the header
    val sosFirst = Array(0xff.toByte, 0xd8.toByte) ++ seg(0xda, new Array[Byte](10))
    assert(HeaderCodec.parseJpeg(sosFirst).isEmpty)
    // segment length running past EOF → None, never a read OOB
    val truncated = Array(0xff.toByte, 0xd8.toByte) ++
      Array(0xff.toByte, 0xe0.toByte) ++ be16(500)
    assert(HeaderCodec.parseJpeg(truncated).isEmpty)
    assert(HeaderCodec.parseJpeg(Array[Byte](0xff.toByte, 0xd8.toByte)).isEmpty)
    // truncated stream ending in 0xFF fill bytes: the fill-byte skip
    // advances past the outer bound check — must return None, never
    // read the segment length out of bounds (ADVICE r3)
    val ffPad = Array(0xff.toByte, 0xd8.toByte, 0xff.toByte, 0xff.toByte,
      0xff.toByte, 0xc0.toByte)
    assert(HeaderCodec.parseJpeg(ffPad).isEmpty)
    assert(HeaderCodec.parseJpeg(Array(0xff.toByte, 0xd8.toByte, 0xff.toByte,
      0xff.toByte, 0xff.toByte, 0xff.toByte, 0xff.toByte)).isEmpty)
  }

  test("WAV: short fmt chunk (size < 16) is rejected, not read past") {
    // a malformed 4-byte fmt chunk followed by a data chunk: without
    // the size>=16 guard the parser would read channels/rate/bits from
    // the NEXT chunk's bytes (ADVICE r3)
    val wav = ascii("RIFF") ++ le32(0) ++ ascii("WAVE") ++
      ascii("fmt ") ++ le32(4) ++ le16(1) ++ le16(1) ++
      ascii("data") ++ le32(8) ++ new Array[Byte](8) ++
      new Array[Byte](8) // padding so isWav's length>=44 holds
    assert(HeaderCodec.parseWav(wav).isEmpty)
  }

  test("PNG pixel decode: real zlib IDAT round-trips to the exact pixels") {
    for ((w, h, seed) <- Seq((1, 1, 3L), (5, 3, 7L), (16, 16, 42L))) {
      val img = HeaderCodec.decodePixels(HeaderCodec.pngBytes(w, h, seed)).get
      assert(img.width == w && img.height == h)
      assert(img.rgb.toSeq == HeaderCodec.pngNoisePixels(w, h, seed).toSeq)
    }
    // corrupt the IDAT chunk type → no image data → None (no garbage pixels)
    val png = HeaderCodec.pngBytes(4, 4, 9L)
    png(40) = (png(40) ^ 0x55).toByte
    assert(HeaderCodec.decodePixels(png).isEmpty)
  }

  test("PNG unfilter: hand-deflated Sub/Up/Average/Paeth scanlines decode exactly") {
    // 2x2 RGB, four rows of filters exercised across two images
    def deflate(raw: Array[Byte]): Array[Byte] = {
      val d = new java.util.zip.Deflater()
      d.setInput(raw); d.finish()
      val bos = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](256)
      while (!d.finished()) bos.write(buf, 0, d.deflate(buf))
      d.end(); bos.toByteArray
    }
    def pngWithIdat(w: Int, h: Int, idat: Array[Byte]): Array[Byte] = {
      // reuse the real encoder's container, swap the IDAT payload
      val out = new java.io.ByteArrayOutputStream()
      def be32(v: Int) = Array((v >> 24).toByte, (v >> 16).toByte, (v >> 8).toByte, v.toByte)
      def chunk(typ: String, data: Array[Byte]): Array[Byte] = {
        val crc = new java.util.zip.CRC32
        val t = typ.getBytes("US-ASCII")
        crc.update(t); crc.update(data)
        be32(data.length) ++ t ++ data ++ be32(crc.getValue.toInt)
      }
      out.write(Array(0x89.toByte, 'P'.toByte, 'N'.toByte, 'G'.toByte,
        '\r'.toByte, '\n'.toByte, 0x1a.toByte, '\n'.toByte))
      out.write(chunk("IHDR", be32(w) ++ be32(h) ++ Array[Byte](8, 2, 0, 0, 0)))
      out.write(chunk("IDAT", idat))
      out.write(chunk("IEND", Array.emptyByteArray))
      out.toByteArray
    }
    // image A: row0 filter 1 (Sub), row1 filter 2 (Up)
    val rawA = Array[Byte](
      1, 10, 20, 30, 1, 2, 3, // Sub: second pixel stores deltas vs left
      2, 3, 4, 5, 2, 3, 3)    // Up: deltas vs row above (per byte)
    val a = HeaderCodec.decodePixels(pngWithIdat(2, 2, deflate(rawA))).get
    // row0: (10,20,30),(11,22,33); row1 = cur + row0 bytes
    assert(a.rgb.toSeq == Seq[Byte](10, 20, 30, 11, 22, 33, 13, 24, 35, 13, 25, 36))
    // image B: row0 filter 3 (Average, up=0 so avg=left/2), row1 filter 4 (Paeth)
    val rawB = Array[Byte](
      3, 10, 20, 30, 6, 11, 16, // Average: v = cur + (left+0)/2 → (10,20,30),(11,21,31)
      4, 2, 2, 2, 1, 1, 1)      // Paeth row: predictor resolves per byte
    val b = HeaderCodec.decodePixels(pngWithIdat(2, 2, deflate(rawB))).get
    // row1 Paeth: x=0: p=up (left=0,ul=0 → pa=|up-0... predictor picks up) → 12,22,32
    //            x=1: left=12, up=11, ul=10 → p=13 → pa=1,pb=2,pc=3 → left → 13,23,33
    assert(b.rgb.slice(0, 6).toSeq == Seq[Byte](10, 20, 30, 11, 21, 31))
    assert(b.rgb.slice(6, 12).toSeq == Seq[Byte](12, 22, 32, 13, 23, 33))
  }

  test("BMP pixel decode: bottom-up BGR rows with padding → RGB; WAV PCM16 samples decode") {
    val bmp = HeaderCodec.bmpBytes(3, 2, 5L)
    val img = HeaderCodec.decodeBmpPixels(bmp).get
    assert(img.width == 3 && img.height == 2)
    // independent re-read: pixel (x, y) straight from the BMP bytes
    val rowSize = ((3 * 3 + 3) / 4) * 4
    for (y <- 0 until 2; x <- 0 until 3) {
      val src = 54 + (2 - 1 - y) * rowSize + x * 3
      val dst = (y * 3 + x) * 3
      assert(img.rgb(dst) == bmp(src + 2) && img.rgb(dst + 1) == bmp(src + 1) &&
        img.rgb(dst + 2) == bmp(src))
    }
    // hand-built WAV with known samples
    val samples = Seq[Short](0, 1000, -1000, 32767, -32768, 5)
    val data = samples.flatMap(s => Seq((s & 0xff).toByte, ((s >> 8) & 0xff).toByte)).toArray
    val wav = ascii("RIFF") ++ le32(36 + data.length) ++ ascii("WAVE") ++
      ascii("fmt ") ++ le32(16) ++ le16(1) ++ le16(1) ++ le32(8000) ++
      le32(16000) ++ le16(2) ++ le16(16) ++
      ascii("data") ++ le32(data.length) ++ data
    val (info, got) = HeaderCodec.decodeWavSamples(wav).get
    assert(info.sampleRate == 8000 && got.toSeq == samples)
    // content-derived audio feature: RMS/peak match hand math
    val f = graft.multimodal.Multimodal.MediaCodec.audioFeature(got)
    val rms = math.sqrt(samples.map(s => s.toDouble * s).sum / samples.length) / 32768.0
    assert(math.abs(f(0) - rms) < 1e-6)
    assert(f(1) == 1f && f(15) == 1f) // peak 32768/32768, real marker
  }

  test("encoder/parser roundtrip at edge dims/durations") {
    assert(HeaderCodec.parseBmp(HeaderCodec.bmpBytes(1, 1, 7L))
      .contains(HeaderCodec.ImageDims(1, 1)))
    assert(HeaderCodec.parseBmp(HeaderCodec.bmpBytes(640, 480, 7L))
      .contains(HeaderCodec.ImageDims(640, 480)))
    val a = HeaderCodec.parseWav(HeaderCodec.wavBytes(44100, 250, 2, 7L)).get
    assert(a.sampleRate == 44100 && a.channels == 2 && a.durationMs == 250L)
    // 0 ms → empty data chunk, still parseable, duration 0
    assert(HeaderCodec.parseWav(HeaderCodec.wavBytes(8000, 0, 1, 7L)).get.durationMs == 0L)
    assert(HeaderCodec.parsePng(HeaderCodec.pngBytes(1, 1, 7L))
      .contains(HeaderCodec.ImageDims(1, 1)))
    assert(HeaderCodec.parsePng(HeaderCodec.pngBytes(1920, 1080, 7L))
      .contains(HeaderCodec.ImageDims(1920, 1080)))
    assert(HeaderCodec.parseGif(HeaderCodec.gifBytes(65535, 1))
      .contains(HeaderCodec.ImageDims(65535, 1)))
    assert(HeaderCodec.parseJpeg(HeaderCodec.jpegBytes(1, 65535, 7L))
      .contains(HeaderCodec.ImageDims(1, 65535)))
    // parsers are mutually exclusive on each other's output
    val png = HeaderCodec.pngBytes(2, 2, 7L)
    assert(HeaderCodec.parseBmp(png).isEmpty && HeaderCodec.parseJpeg(png).isEmpty &&
      HeaderCodec.parseGif(png).isEmpty)
  }

  test("JPEG baseline: uniform-color image round-trips EXACTLY (DC-only blocks)") {
    import graft.multimodal.JpegCodec
    for ((r, g, b) <- Seq((0, 0, 0), (255, 255, 255), (128, 64, 200), (17, 230, 99))) {
      val w = 20
      val h = 12
      val rgb = Array.tabulate(w * h * 3) { i =>
        (i % 3 match { case 0 => r; case 1 => g; case _ => b }).toByte
      }
      val enc = JpegCodec.encodeBaseline(w, h, rgb)
      val dec = HeaderCodec.decodePixels(enc).get
      assert(dec.width == w && dec.height == h)
      // the decoded image is exactly uniform; its color is the source's
      // up to the reader's fixed-point YCbCr→RGB rounding (±1 level)
      val first = dec.rgb.take(3).toSeq
      assert(dec.rgb.grouped(3).forall(_.toSeq == first),
        s"uniform ($r,$g,$b) decoded non-uniform: ${dec.rgb.take(12).toSeq}")
      assert(first.zip(Seq(r, g, b)).forall { case (d, s) => math.abs((d & 0xff) - s) <= 1 },
        s"uniform ($r,$g,$b) decoded as ${first.map(_ & 0xff)}")
    }
  }

  test("JPEG baseline: noise pixels round-trip within flat-quant rounding tolerance") {
    import graft.multimodal.JpegCodec
    for ((w, h) <- Seq((8, 8), (17, 9), (33, 21))) {
      val rgb = HeaderCodec.pngNoisePixels(w, h, 42L + w)
      val enc = JpegCodec.encodeBaseline(w, h, rgb)
      val dec = HeaderCodec.decodePixels(enc).get
      assert(dec.width == w && dec.height == h)
      val maxDiff = rgb.indices.map(i =>
        math.abs((rgb(i) & 0xff) - (dec.rgb(i) & 0xff))).max
      // flat quant: the only loss is coefficient rounding (±0.5 × 64
      // basis functions) and the YCbCr float transform
      assert(maxDiff <= 8, s"${w}x$h max pixel diff $maxDiff")
      // dims via the plain header parser agree (marker interop)
      assert(HeaderCodec.parseJpeg(enc).contains(HeaderCodec.ImageDims(w, h)))
    }
  }

  test("JPEG baseline decoder declines out-of-scope streams, never throws") {
    import graft.multimodal.JpegCodec
    // legacy scanless synthetic JPEG (2x2 subsampling, no SOS)
    assert(HeaderCodec.decodePixels(HeaderCodec.jpegBytes(16, 16, 7L)).isEmpty)
    val enc = JpegCodec.encodeBaseline(16, 16, HeaderCodec.pngNoisePixels(16, 16, 7L))
    // truncated real stream: never throws, and never yields pixels (the
    // reader only warns on a short scan and fills the rest with gray)
    (1 until enc.length by 37).foreach { cut =>
      assert(HeaderCodec.decodePixels(enc.take(cut)).isEmpty, s"cut at $cut")
    }
    assert(HeaderCodec.decodePixels(Array[Byte](0x12, 0x34)).isEmpty)
    assert(HeaderCodec.decodePixels(null).isEmpty)
  }

  test("decodePixels: PNG/GIF/JPEG dims over the 64 MB cap decline without allocating") {
    import graft.multimodal.{GifCodec, JpegCodec}
    // 4730 x 4730 x 3 bytes is just over 64 MiB; 4729 x 4729 x 3 is under
    val side = 4730
    assert(side.toLong * side * 3 > (64L << 20) && (side - 1).toLong * (side - 1) * 3 <= (64L << 20))
    def be16(b: Array[Byte], i: Int, v: Int): Unit = { b(i) = (v >> 8).toByte; b(i + 1) = v.toByte }
    def le16(b: Array[Byte], i: Int, v: Int): Unit = { b(i) = v.toByte; b(i + 1) = (v >> 8).toByte }
    def be32(b: Array[Byte], i: Int, v: Int): Unit = { be16(b, i, v >> 16); be16(b, i + 2, v) }
    val png = HeaderCodec.pngBytes(4, 4, 1L)
    val gif = GifCodec.gifPixelBytes(4, 4, 1L)
    val jpeg = JpegCodec.encodeBaseline(16, 16, HeaderCodec.pngNoisePixels(16, 16, 1L))
    // the valid originals decode (and load each reader's classes)
    Seq(png, gif, jpeg).foreach(b => assert(HeaderCodec.decodePixels(b).isDefined))
    // PNG: IHDR dims, CRC recomputed so the header stays valid
    be32(png, 16, side); be32(png, 20, side)
    val crc = new java.util.zip.CRC32
    crc.update(png, 12, 4 + 13)
    be32(png, 29, crc.getValue.toInt)
    // GIF: logical screen and image descriptor dims
    Seq(6, 8, 13 + 256 * 3 + 5, 13 + 256 * 3 + 7).foreach(le16(gif, _, side))
    // JPEG: SOF0 height and width
    val sof = jpeg.indices.find(i => jpeg(i) == 0xff.toByte && jpeg(i + 1) == 0xc0.toByte).get
    be16(jpeg, sof + 5, side); be16(jpeg, sof + 7, side)
    val dims = HeaderCodec.ImageDims(side, side)
    assert(HeaderCodec.parsePng(png).contains(dims) && HeaderCodec.parseGif(gif).contains(dims) &&
      HeaderCodec.parseJpeg(jpeg).contains(dims))
    val mx = java.lang.management.ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]
    val tid = Thread.currentThread.getId
    for ((name, b) <- Seq("png" -> png, "gif" -> gif, "jpeg" -> jpeg)) {
      val before = mx.getThreadAllocatedBytes(tid)
      assert(HeaderCodec.decodePixels(b).isEmpty, name)
      val allocated = mx.getThreadAllocatedBytes(tid) - before
      // a decode would allocate at least the 22 MB of one byte a pixel
      assert(allocated < (8L << 20), s"$name allocated $allocated bytes")
    }
  }
}
