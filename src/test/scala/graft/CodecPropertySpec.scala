package graft

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

import graft.multimodal.{GifCodec, HeaderCodec, Multimodal}

/** Property-based coverage for the pure codec kernels (raw scalacheck
  * — arbitrary inputs, not just the deterministic fixtures): the LZW
  * encoder's output, wrapped as a GIF, must decode back to ANY index
  * stream at ANY legal code size, the GIF decode must be total on
  * garbage, and the box resampler must preserve dims, value bounds and
  * uniform fills for ANY geometry.
  */
class CodecPropertySpec extends AnyFunSuite {

  private def check(name: String, count: Int)(p: Prop): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default
        .withMinSuccessfulTests(count)
        .withInitialSeed(org.scalacheck.rng.Seed(42L)), p)
    assert(res.passed, s"$name: $res")
  }

  test("property: LZW round-trips arbitrary index streams at arbitrary code sizes") {
    val gen = for {
      minCode <- Gen.choose(2, 8)
      n <- Gen.choose(0, 3000)
      mode <- Gen.oneOf(0, 1, 2) // raw noise / heavy runs / mixed
      bytes <- Gen.listOfN(n, Gen.choose(0, (1 << minCode) - 1))
    } yield (minCode, mode, bytes)
    check("lzw-roundtrip", 60)(Prop.forAll(gen) { case (minCode, mode, raw) =>
      val idx = mode match {
        case 0 => raw.map(_.toByte).toArray
        case 1 => raw.map(v => (v % 3).toByte).toArray // runs → deep chains
        case _ => raw.zipWithIndex.map { case (v, i) =>
          (if (i % 7 == 0) v else i % (1 << minCode)).toByte }.toArray
      }
      if (idx.isEmpty) GifCodec.lzwEncode(idx, minCode).toSeq == GifFixtures.emptyLzw(minCode)
      else GifFixtures.roundTrip(idx, minCode).contains(idx.toSeq)
    })
  }

  test("property: lzwDecode is total on arbitrary garbage bytes") {
    val gen = for {
      minCode <- Gen.choose(2, 8)
      n <- Gen.choose(0, 400)
      bytes <- Gen.listOfN(n, Gen.choose(-128, 127))
      nPix <- Gen.choose(0, 500)
    } yield (minCode, bytes.map(_.toByte).toArray, nPix)
    check("lzw-total", 80)(Prop.forAll(gen) { case (minCode, bytes, nPix) =>
      // garbage as the LZW payload of a 1-row GIF
      HeaderCodec.decodePixels(GifFixtures.gifOf(bytes, minCode, nPix, 1)) // must never throw
      true
    })
  }

  test("property: box resample preserves dims, bounds, and uniform fills") {
    val gen = for {
      sw <- Gen.choose(1, 40); sh <- Gen.choose(1, 40)
      tw <- Gen.choose(1, 60); th <- Gen.choose(1, 60)
      fill <- Gen.choose(0, 255)
      uniform <- Gen.oneOf(true, false)
      px <- Gen.listOfN(sw * sh * 3, Gen.choose(0, 255))
    } yield (sw, sh, tw, th, fill, uniform, px)
    check("resample", 60)(Prop.forAll(gen) {
      case (sw, sh, tw, th, fill, uniform, px) =>
        val rgb =
          if (uniform) Array.fill(sw * sh * 3)(fill.toByte)
          else px.map(_.toByte).toArray
        val out = Multimodal.MediaCodec.resampleBox(
          HeaderCodec.RgbImage(sw, sh, rgb), tw, th)
        val mn = rgb.map(_ & 0xff).min
        val mx = rgb.map(_ & 0xff).max
        out.width == tw && out.height == th && out.rgb.length == tw * th * 3 &&
          (!uniform || out.rgb.forall(_ == fill.toByte)) &&
          out.rgb.forall(b => (b & 0xff) >= mn && (b & 0xff) <= mx)
    })
  }
}
