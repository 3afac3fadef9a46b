package graft.multimodal

/** REAL video container support — MJPEG-in-AVI: a RIFF chunk-walk
  * parser (avih header → dims, frame count, frame period; LIST movi →
  * frames) over Motion-JPEG frames, the first of which decodes through
  * [[HeaderCodec.decodePixels]] (the JDK's JPEG reader). With it,
  * every synthetic media kind (image BMP/PNG/GIF/JPEG, audio WAV,
  * video AVI) decodes to content-derived features. Format layout per
  * the public RIFF/AVI specification (Microsoft Video for Windows,
  * 1992); the writer emits ONE canonical layout (fixed header offsets
  * — avih data at byte 32, frames from byte 224) so byte-level oracles
  * can re-read the fields, while the PARSER does a genuine bounded
  * chunk walk and accepts any conforming single-video-stream file.
  * All entry points are total: malformed/truncated bytes → None.
  */
object AviCodec extends Serializable {

  final case class AviMeta(width: Int, height: Int, nFrames: Int,
      usPerFrame: Long) {
    def durationMs: Long = usPerFrame * nFrames / 1000L
  }

  @inline private def u32le(b: Array[Byte], i: Int): Long =
    ((b(i) & 0xffL)) | ((b(i + 1) & 0xffL) << 8) |
      ((b(i + 2) & 0xffL) << 16) | ((b(i + 3) & 0xffL) << 24)

  @inline private def fourcc(b: Array[Byte], i: Int, s: String): Boolean =
    i + 4 <= b.length && b(i) == s(0).toByte && b(i + 1) == s(1).toByte &&
      b(i + 2) == s(2).toByte && b(i + 3) == s(3).toByte

  def isAvi(b: Array[Byte]): Boolean =
    b != null && b.length >= 12 && fourcc(b, 0, "RIFF") && fourcc(b, 8, "AVI ")

  /** Header meta via a real chunk walk: top-level chunks after "AVI ",
    * the "hdrl" LIST is entered, its "avih" chunk read. Total.
    */
  def parseAvi(b: Array[Byte]): Option[AviMeta] = {
    if (!isAvi(b)) return None
    // LONG cursors (ADVICE r5, medium): a chunk size near Int.MaxValue
    // passes the size guard, and an Int advance `p += 8 + size + pad`
    // wraps negative — the loop guard still holds and u32le throws
    // AIOOBE on a ~20-byte adversarial payload, violating the total
    // "malformed → None" contract. Long arithmetic cannot wrap here
    // (12 + bounded size terms), so an oversized advance simply exits.
    var p = 12L
    while (p + 8 <= b.length) {
      val pi = p.toInt // p + 8 <= length <= Int.MaxValue
      val size = u32le(b, pi + 4)
      if (size < 0 || size > Int.MaxValue - 8) return None
      if (fourcc(b, pi, "LIST") && fourcc(b, pi + 8, "hdrl")) {
        // walk inside hdrl for avih
        var q = p + 12
        val end = math.min(b.length.toLong, p + 8 + size)
        while (q + 8 <= end) {
          val qi = q.toInt
          val csz = u32le(b, qi + 4)
          if (csz < 0 || csz > Int.MaxValue - 8) return None
          if (fourcc(b, qi, "avih") && csz >= 40 && q + 8 + 40 <= b.length) {
            val usPerFrame = u32le(b, qi + 8)
            val nFrames = u32le(b, qi + 24)
            val w = u32le(b, qi + 40)
            val h = u32le(b, qi + 44)
            return if (w <= 0 || h <= 0 || w > 0xffff || h > 0xffff ||
              nFrames < 0 || nFrames > Int.MaxValue || usPerFrame < 0) None
            else Some(AviMeta(w.toInt, h.toInt, nFrames.toInt, usPerFrame))
          }
          q += 8 + csz + (csz & 1)
        }
        return None // hdrl without avih
      }
      p += 8 + size + (size & 1)
    }
    None
  }

  /** First video frame ("00dc" chunk inside LIST movi) decoded through
    * [[HeaderCodec.decodePixels]]. Total.
    */
  def firstFramePixels(b: Array[Byte]): Option[HeaderCodec.RgbImage] = {
    if (!isAvi(b)) return None
    var p = 12L // Long cursors — see parseAvi
    while (p + 8 <= b.length) {
      val pi = p.toInt
      val size = u32le(b, pi + 4)
      if (size < 0 || size > Int.MaxValue - 8) return None
      if (fourcc(b, pi, "LIST") && fourcc(b, pi + 8, "movi")) {
        var q = p + 12
        val end = math.min(b.length.toLong, p + 8 + size)
        while (q + 8 <= end) {
          val qi = q.toInt
          val csz = u32le(b, qi + 4)
          if (csz < 0 || csz > Int.MaxValue - 8) return None
          if (fourcc(b, qi, "00dc")) {
            if (q + 8 + csz > end) return None
            val frame = java.util.Arrays.copyOfRange(b, qi + 8, qi + 8 + csz.toInt)
            return HeaderCodec.decodePixels(frame)
          }
          q += 8 + csz + (csz & 1)
        }
        return None
      }
      p += 8 + size + (size & 1)
    }
    None
  }

  /** Canonical MJPEG AVI: RIFF(AVI(LIST hdrl(avih, LIST strl(strh vids
    * MJPG, strf BITMAPINFO)), LIST movi(00dc JPEG ...))). Frames are
    * REAL baseline JPEGs from [[JpegCodec.jpegScanBytes]], one per
    * frame index with a derived seed. Fixed offsets (for byte-level
    * oracles over THIS writer): usPerFrame @32, nFrames @48, width
    * @64, height @68 (all u32 LE); first frame chunk at 224.
    */
  def aviMjpegBytes(w: Int, h: Int, nFrames: Int, fps: Int, seed: Long): Array[Byte] = {
    require(w > 0 && h > 0 && w <= 0xffff && h <= 0xffff && nFrames > 0 && fps > 0)
    val usPerFrame = 1000000L / fps
    val frames = (0 until nFrames).map(k =>
      JpegCodec.jpegScanBytes(w, h, seed * 131L + k))
    val moviContent = frames.map(f => 8 + f.length + (f.length & 1)).sum
    val moviSize = 4 + moviContent
    val total = 224 + moviContent
    val out = new Array[Byte](total)
    var p = 0
    def putStr(s: String): Unit = { s.foreach(c => { out(p) = c.toByte; p += 1 }) }
    def put32(v: Long): Unit = {
      out(p) = v.toByte; out(p + 1) = (v >> 8).toByte
      out(p + 2) = (v >> 16).toByte; out(p + 3) = (v >> 24).toByte
      p += 4
    }
    def put16(v: Int): Unit = { out(p) = v.toByte; out(p + 1) = (v >> 8).toByte; p += 2 }
    putStr("RIFF"); put32(total - 8L); putStr("AVI ")
    putStr("LIST"); put32(192L); putStr("hdrl")
    putStr("avih"); put32(56L)
    put32(usPerFrame)           // dwMicroSecPerFrame @32
    put32(0L); put32(0L); put32(0L) // maxBytesPerSec, padding, flags
    put32(nFrames.toLong)       // dwTotalFrames @48
    put32(0L); put32(1L); put32(0L) // initialFrames, streams, bufSize
    put32(w.toLong)             // dwWidth @64
    put32(h.toLong)             // dwHeight @68
    put32(0L); put32(0L); put32(0L); put32(0L) // reserved
    putStr("LIST"); put32(116L); putStr("strl")
    putStr("strh"); put32(56L)
    putStr("vids"); putStr("MJPG")
    put32(0L)                   // flags
    put16(0); put16(0)          // priority, language
    put32(0L)                   // initialFrames
    put32(1L)                   // dwScale
    put32(fps.toLong)           // dwRate (rate/scale = fps)
    put32(0L)                   // dwStart
    put32(nFrames.toLong)       // dwLength
    put32(0L); put32(0L); put32(0L) // bufSize, quality, sampleSize
    put16(0); put16(0); put16(w); put16(h) // rcFrame
    putStr("strf"); put32(40L)
    put32(40L)                  // biSize
    put32(w.toLong); put32(h.toLong)
    put16(1); put16(24)         // planes, bitcount
    putStr("MJPG")              // biCompression
    put32(w.toLong * h * 3)     // biSizeImage
    put32(0L); put32(0L); put32(0L); put32(0L) // resolution, clr
    putStr("LIST"); put32(moviSize.toLong); putStr("movi")
    assert(p == 224, s"movi frames must start at 224, at $p")
    frames.foreach { f =>
      putStr("00dc"); put32(f.length.toLong)
      System.arraycopy(f, 0, out, p, f.length)
      p += f.length
      if ((f.length & 1) == 1) { out(p) = 0; p += 1 } // RIFF word align
    }
    assert(p == total)
    out
  }
}
