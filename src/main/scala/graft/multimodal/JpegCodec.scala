package graft.multimodal

import scala.collection.mutable.ArrayBuffer

/** Baseline JPEG (ITU T.81) encoder for the synthetic media table:
  * the JPEG rows and the MJPEG-in-AVI frames carry a REAL entropy-coded
  * scan, which [[HeaderCodec.decodePixels]] decodes back to pixels
  * through the JDK's JPEG reader.
  *
  * Scope: baseline sequential DCT, 8-bit, 3-component YCbCr, NO chroma
  * subsampling (1x1x1), no restart markers, standard Annex K Huffman
  * tables. The reference treats media as opaque blobs, so this is
  * beyond-reference polish; the Spark-side contract (batched
  * mapPartitions, schema, null-safety) is unchanged.
  */
object JpegCodec extends Serializable {

  // ---- constants (ITU T.81 Annex K — public standard tables) ----

  private val zigzag: Array[Int] = Array(
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63)

  private val dcLumBits = Array(0, 0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0)
  private val dcLumVals = (0 to 11).toArray
  private val dcChrBits = Array(0, 0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0)
  private val dcChrVals = (0 to 11).toArray
  private val acLumBits = Array(0, 0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7d)
  private val acLumVals: Array[Int] = Array(
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41, 0x06,
    0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xa1, 0x08,
    0x23, 0x42, 0xb1, 0xc1, 0x15, 0x52, 0xd1, 0xf0, 0x24, 0x33, 0x62, 0x72,
    0x82, 0x09, 0x0a, 0x16, 0x17, 0x18, 0x19, 0x1a, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2a, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3a, 0x43, 0x44, 0x45,
    0x46, 0x47, 0x48, 0x49, 0x4a, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5a, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6a, 0x73, 0x74, 0x75,
    0x76, 0x77, 0x78, 0x79, 0x7a, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8a, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9a, 0xa2, 0xa3,
    0xa4, 0xa5, 0xa6, 0xa7, 0xa8, 0xa9, 0xaa, 0xb2, 0xb3, 0xb4, 0xb5, 0xb6,
    0xb7, 0xb8, 0xb9, 0xba, 0xc2, 0xc3, 0xc4, 0xc5, 0xc6, 0xc7, 0xc8, 0xc9,
    0xca, 0xd2, 0xd3, 0xd4, 0xd5, 0xd6, 0xd7, 0xd8, 0xd9, 0xda, 0xe1, 0xe2,
    0xe3, 0xe4, 0xe5, 0xe6, 0xe7, 0xe8, 0xe9, 0xea, 0xf1, 0xf2, 0xf3, 0xf4,
    0xf5, 0xf6, 0xf7, 0xf8, 0xf9, 0xfa)
  private val acChrBits = Array(0, 0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77)
  private val acChrVals: Array[Int] = Array(
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12, 0x41,
    0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
    0xa1, 0xb1, 0xc1, 0x09, 0x23, 0x33, 0x52, 0xf0, 0x15, 0x62, 0x72, 0xd1,
    0x0a, 0x16, 0x24, 0x34, 0xe1, 0x25, 0xf1, 0x17, 0x18, 0x19, 0x1a, 0x26,
    0x27, 0x28, 0x29, 0x2a, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3a, 0x43, 0x44,
    0x45, 0x46, 0x47, 0x48, 0x49, 0x4a, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
    0x59, 0x5a, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6a, 0x73, 0x74,
    0x75, 0x76, 0x77, 0x78, 0x79, 0x7a, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
    0x88, 0x89, 0x8a, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9a,
    0xa2, 0xa3, 0xa4, 0xa5, 0xa6, 0xa7, 0xa8, 0xa9, 0xaa, 0xb2, 0xb3, 0xb4,
    0xb5, 0xb6, 0xb7, 0xb8, 0xb9, 0xba, 0xc2, 0xc3, 0xc4, 0xc5, 0xc6, 0xc7,
    0xc8, 0xc9, 0xca, 0xd2, 0xd3, 0xd4, 0xd5, 0xd6, 0xd7, 0xd8, 0xd9, 0xda,
    0xe2, 0xe3, 0xe4, 0xe5, 0xe6, 0xe7, 0xe8, 0xe9, 0xea, 0xf2, 0xf3, 0xf4,
    0xf5, 0xf6, 0xf7, 0xf8, 0xf9, 0xfa)

  /** Near-lossless quant table (all 1s): round-trip error is only the
    * DCT and color-transform rounding, so specs can assert a tight
    * tolerance.
    */
  val flatQuant: Array[Int] = Array.fill(64)(1)

  // ---- Huffman code construction (canonical, T.81 C.2) ----

  /** (codeLengthPerSymbol, codePerSymbol) keyed by symbol value. */
  private final class HuffTable(bits: Array[Int], vals: Array[Int]) {
    val size = new Array[Int](256)
    val code = new Array[Int](256)
    locally {
      var c = 0
      var k = 0
      var l = 1
      while (l <= 16) {
        var i = 0
        while (i < bits(l)) {
          size(vals(k)) = l
          code(vals(k)) = c
          c += 1
          k += 1
          i += 1
        }
        c <<= 1
        l += 1
      }
    }
  }

  private val dcLum = new HuffTable(dcLumBits, dcLumVals)
  private val dcChr = new HuffTable(dcChrBits, dcChrVals)
  private val acLum = new HuffTable(acLumBits, acLumVals)
  private val acChr = new HuffTable(acChrBits, acChrVals)

  // ---- bit output with 0xFF byte stuffing ----

  private final class BitWriter(out: ArrayBuffer[Byte]) {
    private var acc = 0
    private var nbits = 0
    def put(code: Int, len: Int): Unit = {
      var i = len - 1
      while (i >= 0) {
        acc = (acc << 1) | ((code >> i) & 1)
        nbits += 1
        if (nbits == 8) {
          out += acc.toByte
          if (acc == 0xff) out += 0x00.toByte
          acc = 0; nbits = 0
        }
        i -= 1
      }
    }
    /** pad with 1-bits to a byte boundary (T.81 F.1.2.3) */
    def flush(): Unit = if (nbits > 0) put(0xff, 8 - nbits)
  }

  @inline private def bitLen(v: Int): Int = 32 - Integer.numberOfLeadingZeros(math.abs(v))

  // ---- DCT (double, separable basis — 8x8 only) ----

  private val cosT: Array[Double] = {
    val t = new Array[Double](64)
    var x = 0
    while (x < 8) {
      var u = 0
      while (u < 8) {
        t(x * 8 + u) = math.cos((2 * x + 1) * u * math.Pi / 16.0)
        u += 1
      }
      x += 1
    }
    t
  }
  @inline private def cc(u: Int): Double = if (u == 0) 1.0 / math.sqrt(2.0) else 1.0

  private def fdct(in: Array[Double], out: Array[Double]): Unit = {
    var v = 0
    while (v < 8) {
      var u = 0
      while (u < 8) {
        var s = 0.0
        var y = 0
        while (y < 8) {
          var x = 0
          while (x < 8) {
            s += in(y * 8 + x) * cosT(x * 8 + u) * cosT(y * 8 + v)
            x += 1
          }
          y += 1
        }
        out(v * 8 + u) = 0.25 * cc(u) * cc(v) * s
        u += 1
      }
      v += 1
    }
  }

  // ---- encoder ----

  /** Encode interleaved RGB (w*h*3) as baseline JPEG: YCbCr 1x1x1,
    * given luma/chroma quant tables, standard Huffman tables.
    */
  def encodeBaseline(
      w: Int, h: Int, rgb: Array[Byte],
      qLum: Array[Int] = flatQuant, qChr: Array[Int] = flatQuant): Array[Byte] = {
    require(w > 0 && h > 0 && rgb.length == w * h * 3)
    val out = new ArrayBuffer[Byte](1024)
    def put(v: Int): Unit = out += v.toByte
    def put16(v: Int): Unit = { put(v >> 8); put(v) }
    def marker(m: Int): Unit = { put(0xff); put(m) }
    marker(0xd8) // SOI
    marker(0xe0); put16(16); "JFIF".foreach(c => put(c)) // APP0
    put(0); put(1); put(1); put(0); put16(1); put16(1); put(0); put(0)
    def dqt(id: Int, q: Array[Int]): Unit = {
      marker(0xdb); put16(67); put(id)
      (0 until 64).foreach(i => put(q(zigzag(i))))
    }
    dqt(0, qLum); dqt(1, qChr)
    marker(0xc0); put16(17); put(8) // SOF0
    put16(h); put16(w); put(3)
    put(1); put(0x11); put(0) // Y  1x1 q0
    put(2); put(0x11); put(1) // Cb 1x1 q1
    put(3); put(0x11); put(1) // Cr 1x1 q1
    def dht(cls: Int, id: Int, bits: Array[Int], vals: Array[Int]): Unit = {
      marker(0xc4); put16(2 + 1 + 16 + vals.length); put((cls << 4) | id)
      (1 to 16).foreach(l => put(bits(l)))
      vals.foreach(put)
    }
    dht(0, 0, dcLumBits, dcLumVals); dht(1, 0, acLumBits, acLumVals)
    dht(0, 1, dcChrBits, dcChrVals); dht(1, 1, acChrBits, acChrVals)
    marker(0xda); put16(12); put(3) // SOS
    put(1); put(0x00); put(2); put(0x11); put(3); put(0x11)
    put(0); put(63); put(0) // spectral selection (baseline fixed)

    // color transform to per-component planes, level-shifted
    val n = w * h
    val planes = Array.ofDim[Double](3, n)
    var i = 0
    while (i < n) {
      val r = rgb(i * 3) & 0xff
      val g = rgb(i * 3 + 1) & 0xff
      val b = rgb(i * 3 + 2) & 0xff
      planes(0)(i) = 0.299 * r + 0.587 * g + 0.114 * b - 128.0
      planes(1)(i) = -0.168736 * r - 0.331264 * g + 0.5 * b
      planes(2)(i) = 0.5 * r - 0.418688 * g - 0.081312 * b
      i += 1
    }
    val bw = new BitWriter(out)
    val blk = new Array[Double](64)
    val coef = new Array[Double](64)
    val quantd = new Array[Int](64)
    val prevDc = new Array[Int](3)
    val bx = (w + 7) / 8
    val by = (h + 7) / 8
    var myy = 0
    while (myy < by) {
      var mxx = 0
      while (mxx < bx) {
        var c = 0
        while (c < 3) {
          val q = if (c == 0) qLum else qChr
          val dcT = if (c == 0) dcLum else dcChr
          val acT = if (c == 0) acLum else acChr
          // fill 8x8 with edge replication
          var yy = 0
          while (yy < 8) {
            var xx = 0
            while (xx < 8) {
              val sy = math.min(h - 1, myy * 8 + yy)
              val sx = math.min(w - 1, mxx * 8 + xx)
              blk(yy * 8 + xx) = planes(c)(sy * w + sx)
              xx += 1
            }
            yy += 1
          }
          fdct(blk, coef)
          var k = 0
          while (k < 64) {
            quantd(k) = math.round(coef(zigzag(k)) / q(zigzag(k))).toInt
            k += 1
          }
          // DC differential
          val diff = quantd(0) - prevDc(c)
          prevDc(c) = quantd(0)
          val s = bitLen(diff)
          bw.put(dcT.code(s), dcT.size(s))
          if (s > 0) bw.put(if (diff < 0) diff + (1 << s) - 1 else diff, s)
          // AC run-length
          var run = 0
          k = 1
          while (k < 64) {
            val v = quantd(k)
            if (v == 0) run += 1
            else {
              while (run > 15) { bw.put(acT.code(0xf0), acT.size(0xf0)); run -= 16 }
              val sz = bitLen(v)
              val sym = (run << 4) | sz
              bw.put(acT.code(sym), acT.size(sym))
              bw.put(if (v < 0) v + (1 << sz) - 1 else v, sz)
              run = 0
            }
            k += 1
          }
          if (run > 0) bw.put(acT.code(0x00), acT.size(0x00)) // EOB
          c += 1
        }
        mxx += 1
      }
      myy += 1
    }
    bw.flush()
    marker(0xd9) // EOI
    out.toArray
  }

  /** Deterministic REAL-scan synthetic JPEG (noise pixels, flat quant
    * = near-lossless) for [[Multimodal.synthMedia]].
    */
  def jpegScanBytes(w: Int, h: Int, seed: Long): Array[Byte] =
    encodeBaseline(w, h, HeaderCodec.pngNoisePixels(w, h, seed))
}
