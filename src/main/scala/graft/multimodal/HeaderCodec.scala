package graft.multimodal

/** Header parsers for the media containers, plus pixel and sample
  * decoding — byte arithmetic over the published container layouts:
  *
  *   - BMP: BITMAPFILEHEADER ("BM", 14 bytes) + BITMAPINFOHEADER
  *     (width int32 LE at offset 18, height int32 LE at offset 22;
  *     negative height = top-down rows).
  *   - PPM (binary P6): ASCII magic, then whitespace-separated width,
  *     height, maxval tokens with '#' comments allowed between them.
  *   - WAV: RIFF container ("RIFF" <size> "WAVE"), then a chunk walk —
  *     "fmt " carries channels (u16 LE @ +2), sample rate (u32 LE @ +4)
  *     and bits/sample (u16 LE @ +14); "data"'s size with those gives
  *     duration_ms = dataBytes · 1000 / (rate · channels · bits/8).
  *   - PNG: 8-byte signature + IHDR chunk (width/height u32 BE at
  *     offsets 16/20), IHDR CRC verified with java.util.zip.CRC32.
  *   - GIF: "GIF87a"/"GIF89a" + logical screen dims (u16 LE @ 6/8).
  *   - JPEG: marker walk from SOI to the first SOFn segment (height/
  *     width u16 BE at +3/+5 in the segment body). Dimension
  *     extraction needs no entropy decoding — SOF precedes the scan.
  *
  * BMP pixels and WAV samples are decoded here by hand, because the
  * `multimodal_features_raw` SQL oracle mirrors exactly these readers;
  * PNG, GIF and JPEG pixels come from the JDK's `javax.imageio`
  * readers through the same [[decodePixels]] entry point. The
  * reference pipeline treats media as opaque payloads (data_manager.py
  * stores text only), so this is beyond-reference capability. All
  * parsers are total: malformed or truncated input returns None, never
  * throws.
  */
object HeaderCodec extends Serializable {

  final case class ImageDims(width: Int, height: Int)
  final case class AudioInfo(sampleRate: Int, channels: Int, bitsPerSample: Int,
      durationMs: Long)

  @inline private def u8(b: Array[Byte], i: Int): Int = b(i) & 0xff
  @inline private def u16le(b: Array[Byte], i: Int): Int =
    u8(b, i) | (u8(b, i + 1) << 8)
  @inline private def i32le(b: Array[Byte], i: Int): Int =
    u8(b, i) | (u8(b, i + 1) << 8) | (u8(b, i + 2) << 16) | (u8(b, i + 3) << 24)
  @inline private def u32le(b: Array[Byte], i: Int): Long = i32le(b, i) & 0xffffffffL

  def isBmp(b: Array[Byte]): Boolean =
    b != null && b.length >= 54 && b(0) == 'B' && b(1) == 'M'

  /** BMP dims from BITMAPINFOHEADER (requires the standard 40-byte
    * info header or any of its extended successors).
    */
  def parseBmp(b: Array[Byte]): Option[ImageDims] = {
    if (!isBmp(b)) return None
    val infoSize = i32le(b, 14)
    if (infoSize < 40) return None // BITMAPCOREHEADER (16-bit dims) not emitted since Win2.x
    val w = i32le(b, 18)
    val h = i32le(b, 22) // may be negative: top-down row order
    if (w <= 0 || h == 0 || h == Int.MinValue) None
    else Some(ImageDims(w, math.abs(h)))
  }

  def isPpm(b: Array[Byte]): Boolean =
    b != null && b.length >= 2 && b(0) == 'P' && (b(1) == '6' || b(1) == '5')

  /** PPM/PGM (P6/P5 binary) dims: ASCII tokens after the magic,
    * skipping '#' comment lines.
    */
  def parsePpm(b: Array[Byte]): Option[ImageDims] = {
    if (!isPpm(b)) return None
    var i = 2
    def skipWsAndComments(): Unit = {
      var go = true
      while (go && i < b.length) {
        val c = b(i)
        if (c == ' ' || c == '\t' || c == '\n' || c == '\r') i += 1
        else if (c == '#') { while (i < b.length && b(i) != '\n') i += 1 }
        else go = false
      }
    }
    def token(): Option[Int] = {
      skipWsAndComments()
      var v = 0L
      var any = false
      while (i < b.length && b(i) >= '0' && b(i) <= '9') {
        v = v * 10 + (b(i) - '0'); any = true; i += 1
        if (v > Int.MaxValue) return None
      }
      if (any) Some(v.toInt) else None
    }
    for { w <- token(); h <- token() if w > 0 && h > 0 } yield ImageDims(w, h)
  }

  @inline private def u16be(b: Array[Byte], i: Int): Int =
    (u8(b, i) << 8) | u8(b, i + 1)
  @inline private def i32be(b: Array[Byte], i: Int): Int =
    (u8(b, i) << 24) | (u8(b, i + 1) << 16) | (u8(b, i + 2) << 8) | u8(b, i + 3)

  private val pngSig =
    Array[Byte](0x89.toByte, 'P', 'N', 'G', '\r', '\n', 0x1a, '\n')

  def isPng(b: Array[Byte]): Boolean =
    b != null && b.length >= 33 && pngSig.indices.forall(i => b(i) == pngSig(i))

  /** PNG dims from the IHDR chunk (must be first per spec: length 13,
    * type "IHDR", width/height u32 BE). The chunk CRC is verified —
    * java.util.zip.CRC32 over type+data — so corrupt headers fall
    * through to None instead of yielding garbage dims.
    */
  def parsePng(b: Array[Byte]): Option[ImageDims] = {
    if (!isPng(b)) return None
    if (i32be(b, 8) != 13) return None // IHDR data length
    if (!(b(12) == 'I' && b(13) == 'H' && b(14) == 'D' && b(15) == 'R')) return None
    val crc = new java.util.zip.CRC32
    crc.update(b, 12, 4 + 13)
    if (crc.getValue != (i32be(b, 29) & 0xffffffffL)) return None
    val w = i32be(b, 16)
    val h = i32be(b, 20)
    if (w <= 0 || h <= 0) None else Some(ImageDims(w, h))
  }

  final case class RgbImage(width: Int, height: Int, rgb: Array[Byte])

  /** Decoded pixels may take at most this many RGB bytes (w·h·3). */
  private val maxPixelBytes = 64L * 1024 * 1024

  /** Pixels of any supported image container, as RGB bytes. BMP goes
    * through [[decodeBmpPixels]] (the SQL oracle mirrors it); PNG, GIF
    * and JPEG, chosen by magic number only, go through the JDK's
    * `javax.imageio` reader for that format, fed from memory (no cache
    * file). The one size cap is checked against the header dims before
    * any pixel is read. A reader that throws or warns yields None: on
    * a truncated JPEG, ImageIO warns and fills the rest with gray.
    * Total, never throws.
    */
  def decodePixels(b: Array[Byte]): Option[RgbImage] =
    decodeBmpPixels(b).orElse {
      if (isPng(b)) readImage(b, "png")
      else if (isGif(b)) readImage(b, "gif")
      else if (isJpeg(b)) readImage(b, "jpeg")
      else None
    }

  private def readImage(b: Array[Byte], format: String): Option[RgbImage] = {
    val reader = javax.imageio.ImageIO.getImageReadersByFormatName(format).next()
    try {
      var warned = false
      reader.addIIOReadWarningListener((_, _) => warned = true)
      reader.setInput(new javax.imageio.stream.MemoryCacheImageInputStream(
        new java.io.ByteArrayInputStream(b)), true, true)
      val w = reader.getWidth(0)
      val h = reader.getHeight(0)
      if (w <= 0 || h <= 0 || w.toLong * h * 3 > maxPixelBytes) return None
      val img = reader.read(0)
      if (warned) return None
      val argb = img.getRGB(0, 0, w, h, null, 0, w)
      val out = new Array[Byte](w * h * 3)
      var i = 0
      while (i < argb.length) {
        out(i * 3) = (argb(i) >> 16).toByte
        out(i * 3 + 1) = (argb(i) >> 8).toByte
        out(i * 3 + 2) = argb(i).toByte
        i += 1
      }
      Some(RgbImage(w, h, out))
    } catch { case scala.util.control.NonFatal(_) => None }
    finally reader.dispose()
  }

  /** REAL BMP pixel decode: uncompressed 24-bpp, BITMAPINFOHEADER,
    * rows 4-byte padded, bottom-up (or top-down when height < 0).
    * Returns RGB bytes (BMP stores BGR — swapped here). Total.
    */
  def decodeBmpPixels(b: Array[Byte]): Option[RgbImage] = {
    val dims = parseBmp(b).getOrElse(return None)
    if (u16le(b, 28) != 24 || i32le(b, 30) != 0) return None // bpp / BI_RGB only
    val w = dims.width
    val h = dims.height
    if (w.toLong * h * 3 > maxPixelBytes) return None
    val topDown = i32le(b, 22) < 0
    val dataOff = u32le(b, 10)
    val rowSize = ((w * 3 + 3) / 4) * 4
    if (dataOff < 54 || dataOff + rowSize.toLong * h > b.length) return None
    val out = new Array[Byte](w * h * 3)
    var y = 0
    while (y < h) {
      val srcRow = dataOff.toInt + (if (topDown) y else h - 1 - y) * rowSize
      var x = 0
      while (x < w) {
        out((y * w + x) * 3) = b(srcRow + x * 3 + 2)     // R (from BGR)
        out((y * w + x) * 3 + 1) = b(srcRow + x * 3 + 1) // G
        out((y * w + x) * 3 + 2) = b(srcRow + x * 3)     // B
        x += 1
      }
      y += 1
    }
    Some(RgbImage(w, h, out))
  }

  /** REAL WAV sample decode: PCM (format 1), 16-bit, any channel
    * count — returns interleaved samples from the data chunk. Total.
    */
  def decodeWavSamples(b: Array[Byte]): Option[(AudioInfo, Array[Short])] = {
    val info = parseWav(b).getOrElse(return None)
    if (info.bitsPerSample != 16) return None
    var i = 12
    var fmtOk = false
    var data: Option[(Int, Int)] = None // (offset, len)
    while (i + 8 <= b.length && (!fmtOk || data.isEmpty)) {
      val id = new String(b, i, 4, java.nio.charset.StandardCharsets.US_ASCII)
      val size = u32le(b, i + 4)
      if (id == "fmt " && size >= 16 && i + 8 + 16 <= b.length)
        fmtOk = u16le(b, i + 8) == 1 // PCM only
      else if (id == "data")
        data = Some((i + 8, math.min(size, (b.length - i - 8).toLong).toInt))
      i += 8 + size.toInt + (size.toInt & 1)
      if (size > Int.MaxValue - 16 || i < 0) return None
    }
    if (!fmtOk) return None
    data.map { case (off, len) =>
      val n = len / 2
      val samples = new Array[Short](n)
      var j = 0
      while (j < n) {
        samples(j) = (u8(b, off + j * 2) | (b(off + j * 2 + 1) << 8)).toShort
        j += 1
      }
      (info, samples)
    }
  }

  def isGif(b: Array[Byte]): Boolean =
    b != null && b.length >= 13 &&
      b(0) == 'G' && b(1) == 'I' && b(2) == 'F' && b(3) == '8' &&
      (b(4) == '7' || b(4) == '9') && b(5) == 'a'

  /** GIF logical-screen dims (u16 LE at offsets 6/8, both versions). */
  def parseGif(b: Array[Byte]): Option[ImageDims] = {
    if (!isGif(b)) return None
    val w = u16le(b, 6)
    val h = u16le(b, 8)
    if (w <= 0 || h <= 0) None else Some(ImageDims(w, h))
  }

  def isJpeg(b: Array[Byte]): Boolean =
    b != null && b.length >= 4 &&
      b(0) == 0xff.toByte && b(1) == 0xd8.toByte && b(2) == 0xff.toByte

  /** JPEG dims via a real marker walk to the first SOFn segment
    * (0xC0-0xCF except DHT/JPG/DAC): precision u8, then height and
    * width u16 BE. Entropy-coded data never starts before SOS, so the
    * walk sees only well-framed segments; stops at SOS/EOI or any
    * malformed length.
    */
  def parseJpeg(b: Array[Byte]): Option[ImageDims] = {
    if (!isJpeg(b)) return None
    var i = 2
    while (i + 4 <= b.length) {
      if (b(i) != 0xff.toByte) return None // lost framing
      var m = u8(b, i + 1)
      while (m == 0xff && i + 2 < b.length) { i += 1; m = u8(b, i + 1) } // fill bytes
      // the fill-byte skip advances i without re-checking the outer
      // bound; a truncated stream ending in 0xFF padding would
      // otherwise read the segment length out of bounds (ADVICE r3)
      if (i + 4 > b.length) return None
      if (m == 0xd8 || (m >= 0xd0 && m <= 0xd7) || m == 0x01) { i += 2 } // standalone
      else if (m == 0xd9 || m == 0xda) return None // EOI / SOS before any SOF
      else {
        val len = u16be(b, i + 2)
        if (len < 2 || i + 2 + len > b.length) return None
        val isSof = m >= 0xc0 && m <= 0xcf && m != 0xc4 && m != 0xc8 && m != 0xcc
        if (isSof) {
          if (len < 7) return None
          val h = u16be(b, i + 5)
          val w = u16be(b, i + 7)
          // h == 0 is legal pre-DNL but unresolvable from the header
          return if (w <= 0 || h <= 0) None else Some(ImageDims(w, h))
        }
        i += 2 + len
      }
    }
    None
  }

  def isWav(b: Array[Byte]): Boolean =
    b != null && b.length >= 44 &&
      b(0) == 'R' && b(1) == 'I' && b(2) == 'F' && b(3) == 'F' &&
      b(8) == 'W' && b(9) == 'A' && b(10) == 'V' && b(11) == 'E'

  /** WAV sample rate / channels / duration via a real RIFF chunk walk
    * (chunks are word-aligned: odd sizes carry a pad byte).
    */
  def parseWav(b: Array[Byte]): Option[AudioInfo] = {
    if (!isWav(b)) return None
    var i = 12
    var rate = 0
    var channels = 0
    var bits = 0
    var dataLen = -1L
    while (i + 8 <= b.length && (rate == 0 || dataLen < 0)) {
      val id = new String(b, i, 4, java.nio.charset.StandardCharsets.US_ASCII)
      val size = u32le(b, i + 4)
      if (id == "fmt " && size >= 16 && i + 8 + 16 <= b.length) {
        channels = u16le(b, i + 10)
        rate = i32le(b, i + 12)
        bits = u16le(b, i + 22)
      } else if (id == "data") {
        dataLen = math.min(size, (b.length - i - 8).toLong) // tolerate truncation
      }
      i += 8 + size.toInt + (size.toInt & 1)
      if (size > Int.MaxValue - 16 || i < 0) return None // corrupt size
    }
    if (rate <= 0 || channels <= 0 || bits <= 0 || dataLen < 0) None
    else {
      val byteRate = rate.toLong * channels * (bits / 8)
      if (byteRate <= 0) None
      else Some(AudioInfo(rate, channels, bits, dataLen * 1000L / byteRate))
    }
  }

  // ---- deterministic encoders for the synthetic media table ----
  // (real bytes, so the parsers above decode REAL headers in tests)

  /** Minimal 24-bit uncompressed BMP with deterministic pixel noise. */
  def bmpBytes(w: Int, h: Int, seed: Long): Array[Byte] = {
    require(w > 0 && h > 0)
    val rowSize = ((w * 3 + 3) / 4) * 4
    val dataSize = rowSize * h
    val out = new Array[Byte](54 + dataSize)
    def put16(i: Int, v: Int): Unit = { out(i) = v.toByte; out(i + 1) = (v >> 8).toByte }
    def put32(i: Int, v: Int): Unit = {
      out(i) = v.toByte; out(i + 1) = (v >> 8).toByte
      out(i + 2) = (v >> 16).toByte; out(i + 3) = (v >> 24).toByte
    }
    out(0) = 'B'; out(1) = 'M'
    put32(2, 54 + dataSize) // file size
    put32(10, 54)           // pixel data offset
    put32(14, 40)           // BITMAPINFOHEADER size
    put32(18, w); put32(22, h)
    put16(26, 1)            // planes
    put16(28, 24)           // bpp
    put32(34, dataSize)
    var x = graft.util.Hash.mix(seed)
    var i = 54
    while (i < out.length) {
      if ((i - 54) % 8 == 0) x = graft.util.Hash.mix(x)
      out(i) = (x >>> (((i - 54) % 8) * 8)).toByte
      i += 1
    }
    out
  }

  /** Encode RGB pixels as a real 24-bpp BMP (BGR, bottom-up, 4-byte
    * row padding) — the exact container [[decodeBmpPixels]] reads
    * back, used by the real image resize to emit lossless output.
    */
  def bmpBytesFromRgb(img: RgbImage): Array[Byte] = {
    val w = img.width
    val h = img.height
    require(w > 0 && h > 0 && img.rgb.length == w * h * 3)
    val rowSize = ((w * 3 + 3) / 4) * 4
    val out = bmpBytes(w, h, 0L) // header layout; pixels overwritten below
    var y = 0
    while (y < h) {
      val dstRow = 54 + (h - 1 - y) * rowSize
      var x = 0
      while (x < w) {
        out(dstRow + x * 3) = img.rgb((y * w + x) * 3 + 2)     // B
        out(dstRow + x * 3 + 1) = img.rgb((y * w + x) * 3 + 1) // G
        out(dstRow + x * 3 + 2) = img.rgb((y * w + x) * 3)     // R
        x += 1
      }
      // zero the pad bytes the noise fill left behind
      var p = 54 + (h - 1 - y) * rowSize + w * 3
      while (p < dstRow + rowSize) { out(p) = 0; p += 1 }
      y += 1
    }
    out
  }

  /** Deterministic RGB pixel noise for the synthetic PNG — public so
    * tests and the feature extractor can regenerate the EXPECTED
    * pixels and assert the decode is content-derived.
    */
  def pngNoisePixels(w: Int, h: Int, seed: Long): Array[Byte] = {
    val out = new Array[Byte](w * h * 3)
    var x = graft.util.Hash.mix(seed + 7)
    var i = 0
    while (i < out.length) {
      if (i % 8 == 0) x = graft.util.Hash.mix(x)
      out(i) = (x >>> ((i % 8) * 8)).toByte
      i += 1
    }
    out
  }

  /** REAL PNG: signature + IHDR (valid CRC) + one IDAT holding a
    * GENUINE zlib stream (JDK Deflater over filter-0 scanlines of
    * [[pngNoisePixels]]) + IEND. [[decodePixels]] round-trips it to
    * the exact pixel bytes.
    */
  def pngBytes(w: Int, h: Int, seed: Long): Array[Byte] = {
    require(w > 0 && h > 0)
    val px = pngNoisePixels(w, h, seed)
    val stride = w * 3
    val raw = new Array[Byte]((stride + 1) * h)
    var y = 0
    while (y < h) {
      // filter byte 0 (None) per row; the decoder handles all 5
      // filter types (hand-built fixtures in HeaderCodecSpec)
      System.arraycopy(px, y * stride, raw, y * (stride + 1) + 1, stride)
      y += 1
    }
    val defl = new java.util.zip.Deflater(java.util.zip.Deflater.BEST_SPEED)
    val bos = new java.io.ByteArrayOutputStream()
    try {
      defl.setInput(raw)
      defl.finish()
      val buf = new Array[Byte](8192)
      while (!defl.finished()) {
        val n = defl.deflate(buf)
        bos.write(buf, 0, n)
      }
    } finally defl.end()
    val idat = bos.toByteArray
    val idatLen = idat.length
    val out = new Array[Byte](8 + 25 + (12 + idatLen) + 12)
    def put32be(i: Int, v: Int): Unit = {
      out(i) = (v >> 24).toByte; out(i + 1) = (v >> 16).toByte
      out(i + 2) = (v >> 8).toByte; out(i + 3) = v.toByte
    }
    def putAscii(i: Int, s: String): Unit =
      s.indices.foreach(j => out(i + j) = s(j).toByte)
    def putCrc(typeOff: Int, dataLen: Int): Unit = {
      val crc = new java.util.zip.CRC32
      crc.update(out, typeOff, 4 + dataLen)
      put32be(typeOff + 4 + dataLen, crc.getValue.toInt)
    }
    pngSig.indices.foreach(i => out(i) = pngSig(i))
    put32be(8, 13); putAscii(12, "IHDR")
    put32be(16, w); put32be(20, h)
    out(24) = 8 // bit depth
    out(25) = 2 // truecolor
    // compression/filter/interlace = 0
    putCrc(12, 13)
    val idatOff = 33
    put32be(idatOff, idatLen); putAscii(idatOff + 4, "IDAT")
    System.arraycopy(idat, 0, out, idatOff + 8, idatLen)
    putCrc(idatOff + 4, idatLen)
    val iendOff = idatOff + 12 + idatLen
    put32be(iendOff, 0); putAscii(iendOff + 4, "IEND"); putCrc(iendOff + 4, 0)
    out
  }

  /** Minimal GIF89a: header + logical screen descriptor + trailer
    * (no color table, no image data — a structurally-valid empty GIF).
    */
  def gifBytes(w: Int, h: Int): Array[Byte] = {
    require(w > 0 && h > 0)
    val out = new Array[Byte](14)
    "GIF89a".indices.foreach(i => out(i) = "GIF89a"(i).toByte)
    out(6) = w.toByte; out(7) = (w >> 8).toByte
    out(8) = h.toByte; out(9) = (h >> 8).toByte
    out(13) = 0x3b // trailer
    out
  }

  /** Structurally-real JPEG: SOI + JFIF APP0 + DQT (noise table) +
    * SOF0 with the true dims + EOI. No entropy-coded scan (that needs
    * a real encoder) — the marker framing the parser walks is real.
    */
  def jpegBytes(w: Int, h: Int, seed: Long): Array[Byte] = {
    require(w > 0 && h > 0 && w <= 0xffff && h <= 0xffff)
    val out = new Array[Byte](2 + 18 + 69 + 19 + 2)
    var p = 0
    def put(v: Int): Unit = { out(p) = v.toByte; p += 1 }
    def put16(v: Int): Unit = { put(v >> 8); put(v) }
    put(0xff); put(0xd8) // SOI
    put(0xff); put(0xe0); put16(16) // APP0
    "JFIF".foreach(c => put(c))
    put(0); put(1); put(1) // version 1.1
    put(0); put16(1); put16(1) // aspect-ratio units, 1:1
    put(0); put(0) // no thumbnail
    put(0xff); put(0xdb); put16(67); put(0) // DQT, table 0, 8-bit
    var x = graft.util.Hash.mix(seed + 13)
    (0 until 64).foreach { i =>
      if (i % 8 == 0) x = graft.util.Hash.mix(x)
      put(1 + ((x >>> ((i % 8) * 8)).toInt & 0x7f))
    }
    put(0xff); put(0xc0); put16(17); put(8) // SOF0, 8-bit precision
    put16(h); put16(w)
    put(3) // YCbCr
    put(1); put(0x22); put(0) // Y  2x2, qtable 0
    put(2); put(0x11); put(0) // Cb 1x1
    put(3); put(0x11); put(0) // Cr 1x1
    put(0xff); put(0xd9) // EOI
    assert(p == out.length)
    out
  }

  /** Minimal PCM WAV (fmt + data chunks) with deterministic samples. */
  def wavBytes(sampleRate: Int, durationMs: Int, channels: Int, seed: Long): Array[Byte] = {
    require(sampleRate > 0 && durationMs >= 0 && channels > 0)
    val bits = 16
    val nFrames = (sampleRate.toLong * durationMs / 1000L).toInt
    val dataSize = nFrames * channels * (bits / 8)
    val out = new Array[Byte](44 + dataSize)
    def putAscii(i: Int, s: String): Unit = s.indices.foreach(j => out(i + j) = s(j).toByte)
    def put16(i: Int, v: Int): Unit = { out(i) = v.toByte; out(i + 1) = (v >> 8).toByte }
    def put32(i: Int, v: Int): Unit = {
      out(i) = v.toByte; out(i + 1) = (v >> 8).toByte
      out(i + 2) = (v >> 16).toByte; out(i + 3) = (v >> 24).toByte
    }
    putAscii(0, "RIFF"); put32(4, 36 + dataSize); putAscii(8, "WAVE")
    putAscii(12, "fmt "); put32(16, 16)
    put16(20, 1) // PCM
    put16(22, channels)
    put32(24, sampleRate)
    put32(28, sampleRate * channels * (bits / 8)) // byte rate
    put16(32, channels * (bits / 8))              // block align
    put16(34, bits)
    putAscii(36, "data"); put32(40, dataSize)
    var x = graft.util.Hash.mix(seed)
    var i = 44
    while (i < out.length) {
      if ((i - 44) % 8 == 0) x = graft.util.Hash.mix(x)
      out(i) = (x >>> (((i - 44) % 8) * 8)).toByte
      i += 1
    }
    out
  }
}
