package graft

import graft.multimodal.{GifCodec, HeaderCodec}

/** Test-scope GIF89a container around an arbitrary LZW payload: a
  * global color table of 2^minCode entries from [[GifCodec]]'s palette
  * (`paletteR` is the identity on indices, so a decode's R channel reads
  * the index stream back), one w×h image descriptor, the payload in
  * 255-byte sub-blocks.
  */
object GifFixtures {

  def gifOf(lzw: Array[Byte], minCode: Int, w: Int, h: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def w16(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
    "GIF89a".foreach(c => out.write(c))
    w16(w); w16(h)
    out.write(0xf0 | (minCode - 1)) // GCT of 2^minCode entries
    out.write(0); out.write(0)
    (0 until (1 << minCode)).foreach { i =>
      out.write(GifCodec.paletteR(i)); out.write(GifCodec.paletteG(i))
      out.write(GifCodec.paletteB(i))
    }
    out.write(0x2c)
    w16(0); w16(0); w16(w); w16(h)
    out.write(0) // no local color table, not interlaced
    out.write(minCode)
    lzw.grouped(255).foreach { blk => out.write(blk.length); out.write(blk) }
    out.write(0)
    out.write(0x3b)
    out.toByteArray
  }

  /** What [[GifCodec.lzwEncode]] must emit for an empty index stream:
    * the clear code, then end-of-information, at minCode + 1 bits each.
    */
  def emptyLzw(minCode: Int): Seq[Byte] = {
    val v = (1 << minCode) | (((1 << minCode) + 1) << (minCode + 1))
    (0 until (2 * (minCode + 1) + 7) / 8).map(k => (v >> (8 * k)).toByte)
  }

  /** LZW-encode `idx`, wrap it with [[gifOf]] as one row, decode it and
    * read the indices back from R (None when the decode declines).
    */
  def roundTrip(idx: Array[Byte], minCode: Int): Option[Seq[Byte]] =
    HeaderCodec.decodePixels(gifOf(GifCodec.lzwEncode(idx, minCode), minCode, idx.length, 1))
      .map(img => img.rgb.indices.by(3).map(img.rgb(_)))
}
