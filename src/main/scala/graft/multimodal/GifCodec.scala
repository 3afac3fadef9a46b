package graft.multimodal

/** GIF89a encoder for the synthetic media table: a genuine LZW
  * compressor (variable code width 3–12 bits, LSB-first bit packing,
  * clear-code dictionary resets at 4096 entries, 255-byte sub-block
  * framing) and the container around it (logical screen descriptor,
  * global color table, image descriptor). Decoding is
  * [[HeaderCodec.decodePixels]], through the JDK's GIF reader. Format
  * layout per the public GIF89a specification (CompuServe, 1990).
  *
  * The encoder emits codes in the classic compress/ppmtogif order —
  * write the prefix code at the CURRENT width, then grow the width
  * when the next free slot would no longer fit ((1 &lt;&lt; codeSize)),
  * then insert the new dictionary entry — which is exactly the
  * transition order a standard decoder mirrors (insert, then grow
  * when `next` reaches the width limit). Both sides reset through the
  * clear code when the table fills at 4096.
  */
object GifCodec extends Serializable {

  /** Fixed 256-entry palette — a pure function of the index (odd
    * multipliers are bijections mod 256, so the three channels spread
    * independently), shared by the encoder and tests.
    */
  @inline def paletteR(i: Int): Int = i & 0xff
  @inline def paletteG(i: Int): Int = (i * 73) & 0xff
  @inline def paletteB(i: Int): Int = (i * 151 + 31) & 0xff

  /** Deterministic index noise for the synthetic GIF — public so tests
    * can regenerate the EXPECTED pixels and assert the decode is
    * content-derived (same mix-chain pattern as
    * [[HeaderCodec.pngNoisePixels]]).
    */
  def gifIndexPixels(w: Int, h: Int, seed: Long): Array[Byte] = {
    val out = new Array[Byte](w * h)
    var x = graft.util.Hash.mix(seed + 19)
    var i = 0
    while (i < out.length) {
      if (i % 8 == 0) x = graft.util.Hash.mix(x)
      out(i) = (x >>> ((i % 8) * 8)).toByte
      i += 1
    }
    out
  }

  // ---- LZW bit streams (GIF is LSB-first within bytes) ----

  private final class BitWriter {
    private val out = new java.io.ByteArrayOutputStream()
    private var cur = 0
    private var nBits = 0
    def write(code: Int, width: Int): Unit = {
      cur |= code << nBits
      nBits += width
      while (nBits >= 8) { out.write(cur & 0xff); cur >>>= 8; nBits -= 8 }
    }
    def finish(): Array[Byte] = {
      if (nBits > 0) { out.write(cur & 0xff); cur = 0; nBits = 0 }
      out.toByteArray
    }
  }

  /** LZW-compress a pixel-index stream (GIF variant). */
  def lzwEncode(indices: Array[Byte], minCodeSize: Int): Array[Byte] = {
    require(minCodeSize >= 2 && minCodeSize <= 8)
    val clear = 1 << minCodeSize
    val eoi = clear + 1
    val bw = new BitWriter
    var codeSize = minCodeSize + 1
    var next = eoi + 1
    // dictionary key = (prefix code << 8) | suffix byte
    val table = new java.util.HashMap[Integer, Integer]()
    bw.write(clear, codeSize)
    if (indices.isEmpty) { bw.write(eoi, codeSize); return bw.finish() }
    var prefix = indices(0) & 0xff
    var i = 1
    while (i < indices.length) {
      val c = indices(i) & 0xff
      val key = (prefix << 8) | c
      val hit = table.get(key)
      if (hit != null) prefix = hit.intValue
      else {
        bw.write(prefix, codeSize)
        // grow AFTER the write, BEFORE the insert (compress order; the
        // decoder's insert-then-grow sees the same width per code)
        if (next == (1 << codeSize) && codeSize < 12) codeSize += 1
        if (next < 4096) { table.put(key, next); next += 1 }
        else { // table full: reset through a clear code
          bw.write(clear, codeSize)
          codeSize = minCodeSize + 1
          next = eoi + 1
          table.clear()
        }
        prefix = c
      }
      i += 1
    }
    bw.write(prefix, codeSize)
    bw.write(eoi, codeSize)
    bw.finish()
  }

  /** Full GIF89a with a 256-entry global color table and a REAL
    * LZW-compressed image of [[gifIndexPixels]] noise —
    * [[HeaderCodec.decodePixels]] round-trips it to the exact
    * palette-mapped RGB.
    */
  def gifPixelBytes(w: Int, h: Int, seed: Long): Array[Byte] = {
    require(w > 0 && h > 0 && w <= 0xffff && h <= 0xffff)
    val indices = gifIndexPixels(w, h, seed)
    val lzw = lzwEncode(indices, 8)
    val out = new java.io.ByteArrayOutputStream(13 + 768 + 10 + 1 + lzw.length + lzw.length / 255 + 3)
    def w16(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
    "GIF89a".foreach(c => out.write(c))
    w16(w); w16(h)
    out.write(0xf7) // GCT present, color resolution 8, GCT size 2^8
    out.write(0)    // background color index
    out.write(0)    // pixel aspect ratio
    var i = 0
    while (i < 256) {
      out.write(paletteR(i)); out.write(paletteG(i)); out.write(paletteB(i))
      i += 1
    }
    out.write(0x2c) // image descriptor
    w16(0); w16(0); w16(w); w16(h)
    out.write(0)    // no local color table, not interlaced
    out.write(8)    // LZW min code size
    var off = 0
    while (off < lzw.length) { // 255-byte sub-blocks
      val n = math.min(255, lzw.length - off)
      out.write(n)
      out.write(lzw, off, n)
      off += n
    }
    out.write(0)    // block terminator
    out.write(0x3b) // trailer
    out.toByteArray
  }
}
