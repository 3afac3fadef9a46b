package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.multimodal.{GifCodec, HeaderCodec}

class GifCodecSpec extends AnyFunSuite {

  test("LZW round-trips index streams (incl. width growth and 4096 dict reset)") {
    // an empty stream is a GIF of no pixels: check the encoder's codes
    assert(GifCodec.lzwEncode(Array.emptyByteArray, 8).toSeq == GifFixtures.emptyLzw(8))
    for ((n, seed) <- Seq((1, 2L), (7, 3L), (255, 4L), (300, 5L),
      (4096, 6L), (10000, 7L), (20000, 8L))) {
      val idx = GifCodec.gifIndexPixels(n, 1, seed)
      assert(GifFixtures.roundTrip(idx, 8).contains(idx.toSeq), s"round-trip failed at n=$n")
    }
    // low-entropy stream (long runs) exercises deep dictionary chains
    val runs = Array.tabulate(8000)(i => ((i / 97) % 5).toByte)
    val enc = GifCodec.lzwEncode(runs, 8)
    assert(enc.length < runs.length / 2) // actually compresses
    assert(GifFixtures.roundTrip(runs, 8).contains(runs.toSeq))
    // small min-code-size path (3-bit palette)
    val small = Array.tabulate(500)(i => (i % 8).toByte)
    assert(GifFixtures.roundTrip(small, 3).contains(small.toSeq))
  }

  test("decodes a known third-party minimal GIF (1x1 white, spec-style bytes)") {
    // canonical smallest GIF89a: 2-entry GCT (white, black), one white
    // pixel, LZW data 0x44 0x01 (clear, 0, eoi at 3-bit codes)
    val bytes = Array(
      0x47, 0x49, 0x46, 0x38, 0x39, 0x61, // GIF89a
      0x01, 0x00, 0x01, 0x00, 0x80, 0x00, 0x00, // LSD 1x1, GCT size 2
      0xff, 0xff, 0xff, 0x00, 0x00, 0x00, // GCT
      0x2c, 0x00, 0x00, 0x00, 0x00, 0x01, 0x00, 0x01, 0x00, 0x00, // image desc
      0x02, 0x02, 0x44, 0x01, 0x00, // minCodeSize 2, sub-block, terminator
      0x3b).map(_.toByte)
    val img = HeaderCodec.decodePixels(bytes).get
    assert(img.width == 1 && img.height == 1)
    assert(img.rgb.toSeq == Seq(0xff.toByte, 0xff.toByte, 0xff.toByte))
  }

  test("gifPixelBytes round-trips to the exact palette-mapped noise pixels") {
    for ((w, h, seed) <- Seq((1, 1, 11L), (5, 3, 12L), (64, 64, 13L), (80, 80, 14L))) {
      val bytes = GifCodec.gifPixelBytes(w, h, seed)
      // header dims parse like any other GIF
      assert(HeaderCodec.parseGif(bytes).contains(HeaderCodec.ImageDims(w, h)))
      val img = HeaderCodec.decodePixels(bytes).get
      assert(img.width == w && img.height == h)
      val idx = GifCodec.gifIndexPixels(w, h, seed)
      val expected = new Array[Byte](w * h * 3)
      idx.indices.foreach { i =>
        val ci = idx(i) & 0xff
        expected(i * 3) = GifCodec.paletteR(ci).toByte
        expected(i * 3 + 1) = GifCodec.paletteG(ci).toByte
        expected(i * 3 + 2) = GifCodec.paletteB(ci).toByte
      }
      assert(img.rgb.toSeq == expected.toSeq, s"pixels differ at ${w}x$h")
    }
  }

  test("declines out-of-scope and malformed streams without throwing") {
    val good = GifCodec.gifPixelBytes(16, 16, 42L)
    // every truncation prefix: total, never throws
    (0 until good.length by 7).foreach { n =>
      HeaderCodec.decodePixels(good.take(n)) // must not throw
    }
    (0 until good.length).foreach { i => // single-byte corruption fuzz
      val bad = good.clone(); bad(i) = (bad(i) ^ 0x5a).toByte
      HeaderCodec.decodePixels(bad) // must not throw
    }
    // an interlaced GIF decodes: the stream's k-th row is the k-th row
    // of the GIF interlace order (every 8th from 0, every 8th from 4,
    // every 4th from 2, every 2nd from 1)
    for ((w, h, seed) <- Seq((16, 16, 42L), (5, 11, 43L), (64, 37, 44L))) {
      val plain = GifCodec.gifPixelBytes(w, h, seed)
      val inter = plain.clone()
      val descOff = 13 + 256 * 3
      assert(inter(descOff) == 0x2c)
      inter(descOff + 9) = 0x40.toByte
      val rows = HeaderCodec.decodePixels(plain).get.rgb.grouped(w * 3).map(_.toSeq).toSeq
      val got = HeaderCodec.decodePixels(inter).get.rgb.grouped(w * 3).map(_.toSeq).toSeq
      val order = (0 until h by 8) ++ (4 until h by 8) ++ (2 until h by 4) ++ (1 until h by 2)
      assert(order.map(got) == rows, s"interlace permutation at ${w}x$h")
    }
    // the legacy header-only GIF (no image data) declines but parses dims
    val empty = HeaderCodec.gifBytes(320, 200)
    assert(HeaderCodec.decodePixels(empty).isEmpty)
    assert(HeaderCodec.parseGif(empty).contains(HeaderCodec.ImageDims(320, 200)))
    // corrupt LZW (codes beyond the table): total
    HeaderCodec.decodePixels(GifFixtures.gifOf(Array[Byte](-1, -1, -1), 8, 10, 1))
  }
}
