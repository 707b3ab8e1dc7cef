package graft.multimodal

import org.scalatest.funsuite.AnyFunSuite

import graft.multimodal.Multimodal.Bmp

/** The real BMP codec (q196) pinned Spark-free: spec-compliant headers,
  * exact pixel round-trip through the padded bottom-up layout and loud
  * failure on malformed bytes, and the resample rule against a direct
  * reference (RasterSpec pins it for every raster codec). (The
  * cross-engine feature equality is the q196 oracle; this spec pins the
  * byte-level layer the oracle can't see.) */
class BmpCodecSpec extends AnyFunSuite {

  test("encode emits spec-compliant headers; decode round-trips every pixel") {
    // widths 1..13 x heights 1..9 all occur across these ids, including
    // every row-padding residue (3w % 4 = 0,1,2,3)
    (1L to 120L).foreach { id =>
      val bytes = Bmp.encode(id)
      assert(bytes(0) == 'B' && bytes(1) == 'M')
      val img = Bmp.decode(bytes)
      assert(img.w == Bmp.width(id) && img.h == Bmp.height(id))
      for (y <- 0 until img.h; x <- 0 until img.w) {
        val (r, g, b) = img.rgb(x, y)
        assert((r, g, b) == (Bmp.r(id, x, y), Bmp.g(id, x, y), Bmp.b(id, x, y)),
          s"id=$id pixel ($x,$y)")
      }
    }
  }

  test("malformed bytes fail loudly, never garbage-out") {
    val good = Bmp.encode(7L)
    intercept[IllegalArgumentException](Bmp.decode(good.take(40)))          // truncated
    intercept[IllegalArgumentException](Bmp.decode("XX".getBytes ++ good.drop(2))) // magic
    val wrongSize = good.clone(); wrongSize(2) = (wrongSize(2) + 1).toByte
    intercept[IllegalArgumentException](Bmp.decode(wrongSize))              // size field
    val badBpp = good.clone(); badBpp(28) = 8
    intercept[IllegalArgumentException](Bmp.decode(badBpp))                 // bpp
  }

  test("nearest-neighbor resample matches a direct reference") {
    (1L to 40L).foreach { id =>
      val img = Bmp.decode(Bmp.encode(id))
      val want = (for (yo <- 0 until 6; xo <- 0 until 8) yield {
        val sx = xo * img.w / 8
        val sy = yo * img.h / 6
        (Bmp.r(id, sx, sy) + Bmp.g(id, sx, sy) + Bmp.b(id, sx, sy)).toLong
      }).sum
      assert(img.resampleSum(8, 6) == want, s"id=$id")
    }
  }

  test("WAV round-trips every sample; the chunk walk skips the decoy chunk") {
    val Wav = Multimodal.Wav
    // even ids carry the decoy LIST chunk, odd ids don't — both layouts
    // must parse to identical sample streams
    (1L to 120L).foreach { id =>
      val wav = Wav.decode(Wav.encode(id))
      assert(wav.sampleRate == Wav.sampleRate)
      assert(wav.samples.length == Wav.nSamples(id), s"id=$id")
      wav.samples.zipWithIndex.foreach { case (s, i) =>
        assert(s == Wav.sample(id, i), s"id=$id sample $i")
      }
    }
    // negative samples must survive the i16 sign round-trip
    assert((1L to 120L).exists(id =>
      Wav.decode(Wav.encode(id)).samples.exists(_ < 0)))
  }

  test("malformed WAV bytes fail loudly") {
    val Wav = Multimodal.Wav
    val good = Wav.encode(3L)
    intercept[IllegalArgumentException](Wav.decode(good.take(20)))
    intercept[IllegalArgumentException](Wav.decode("JUNK".getBytes ++ good.drop(4)))
    val badBits = good.clone(); badBits(34) = 8   // bits-per-sample field
    intercept[IllegalArgumentException](Wav.decode(badBits))
  }
}
