package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.multimodal.{AviCodec, HeaderCodec, JpegCodec}

class AviCodecSpec extends AnyFunSuite {

  test("MJPEG AVI round-trips header meta and first-frame pixels") {
    for ((w, h, n, fps, seed) <- Seq((16, 12, 5, 5, 3L), (8, 8, 2, 2, 4L),
      (32, 24, 15, 5, 5L))) {
      val bytes = AviCodec.aviMjpegBytes(w, h, n, fps, seed)
      val meta = AviCodec.parseAvi(bytes).get
      assert(meta.width == w && meta.height == h && meta.nFrames == n)
      assert(meta.usPerFrame == 1000000L / fps)
      assert(meta.durationMs == (1000000L / fps) * n / 1000L)
      // first frame decodes through HeaderCodec.decodePixels to the
      // exact pixels of the standalone frame-0 encode
      val frame = AviCodec.firstFramePixels(bytes).get
      assert(frame.width == w && frame.height == h)
      val standalone = HeaderCodec.decodePixels(
        JpegCodec.jpegScanBytes(w, h, seed * 131L)).get
      assert(frame.rgb.toSeq == standalone.rgb.toSeq)
    }
  }

  test("fixed canonical offsets hold (the byte-level oracle contract)") {
    val bytes = AviCodec.aviMjpegBytes(20, 10, 6, 2, 9L)
    def le32(o: Int) = (bytes(o) & 0xffL) | ((bytes(o + 1) & 0xffL) << 8) |
      ((bytes(o + 2) & 0xffL) << 16) | ((bytes(o + 3) & 0xffL) << 24)
    assert(le32(32) == 500000L) // usPerFrame
    assert(le32(48) == 6L)      // nFrames
    assert(le32(64) == 20L && le32(68) == 10L)
    assert(new String(bytes, 224, 4, "US-ASCII") == "00dc")
  }

  test("declines foreign and malformed bytes without throwing") {
    assert(AviCodec.parseAvi(HeaderCodec.wavBytes(8000, 10, 1, 1L)).isEmpty)
    assert(AviCodec.parseAvi(Array.fill[Byte](64)(0x41)).isEmpty)
    assert(AviCodec.firstFramePixels(null).isEmpty)
    val good = AviCodec.aviMjpegBytes(12, 12, 3, 2, 7L)
    (0 until good.length by 5).foreach { k =>
      AviCodec.parseAvi(good.take(k)) // total under truncation
      AviCodec.firstFramePixels(good.take(k))
    }
    (0 until good.length by 3).foreach { i =>
      val bad = good.clone(); bad(i) = (bad(i) ^ 0x5a).toByte
      AviCodec.parseAvi(bad)
      AviCodec.firstFramePixels(bad)
    }
  }

  test("chunk size near Int.MaxValue cannot wrap the cursor (ADVICE r5)") {
    // 20-byte adversarial payload: valid RIFF/AVI magic, one top-level
    // chunk whose size (Int.MaxValue - 16) passes the size guard but
    // whose Int advance would wrap p negative — the old cursor then
    // passed the loop guard and u32le threw AIOOBE
    def le32(v: Long): Array[Byte] =
      Array(v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte)
    val evil = "RIFF".getBytes ++ le32(0xffffffffL) ++ "AVI ".getBytes ++
      "LIST".getBytes ++ le32(Int.MaxValue - 16L)
    assert(AviCodec.parseAvi(evil).isEmpty)
    assert(AviCodec.firstFramePixels(evil).isEmpty)
    // same inside an hdrl/movi LIST: inner chunk with a huge size
    val evilInner = "RIFF".getBytes ++ le32(0xffffffffL) ++ "AVI ".getBytes ++
      "LIST".getBytes ++ le32(0x7fffff00L) ++ "hdrl".getBytes ++
      "avih".getBytes ++ le32(Int.MaxValue - 16L)
    assert(AviCodec.parseAvi(evilInner).isEmpty)
    val evilMovi = "RIFF".getBytes ++ le32(0xffffffffL) ++ "AVI ".getBytes ++
      "LIST".getBytes ++ le32(0x7fffff00L) ++ "movi".getBytes ++
      "00xx".getBytes ++ le32(Int.MaxValue - 16L)
    assert(AviCodec.firstFramePixels(evilMovi).isEmpty)
  }
}
