package graft.multimodal

import org.scalatest.funsuite.AnyFunSuite

import graft.multimodal.Multimodal.Png

/** The real PNG codec (q198) pinned Spark-free. Beyond the BmpCodecSpec
  * pattern (round-trip + loud failure), the decoder is checked against an
  * INDEPENDENT implementation — `javax.imageio`'s JDK PNG reader — pixel
  * for pixel, so an encoder/decoder bug pair that cancels in the
  * round-trip cannot hide. */
class PngCodecSpec extends AnyFunSuite {

  // ids ≡ 1 (mod 3) as in the entry: covers both IDAT layouts (split on
  // id % 4 = 1), decoy-chunk presence (even ids), and all five filter
  // types (heights up to 11 with filter (y + id) % 5)
  private val ids: Seq[Long] = (1L to 360L).filter(_ % 3 == 1)

  test("encode round-trips every pixel through filters + zlib + chunk walk") {
    ids.foreach { id =>
      val img = Png.decode(Png.encode(id))
      assert(img.w == Png.width(id) && img.h == Png.height(id), s"id=$id dims")
      for (y <- 0 until img.h; x <- 0 until img.w) {
        val Bmp = Multimodal.Bmp
        assert(img.rgb(x, y) == (Bmp.r(id, x, y), Bmp.g(id, x, y), Bmp.b(id, x, y)),
          s"id=$id pixel ($x,$y)")
      }
    }
  }

  test("decoder agrees with javax.imageio (independent JDK PNG reader)") {
    ids.take(60).foreach { id =>
      val bytes = Png.encode(id)
      val ours = Png.decode(bytes)
      val ref = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      assert(ref != null, s"id=$id: imageio could not parse our encoding")
      assert(ref.getWidth == ours.w && ref.getHeight == ours.h, s"id=$id dims")
      for (y <- 0 until ours.h; x <- 0 until ours.w) {
        val p = ref.getRGB(x, y)
        val want = ((p >> 16) & 0xff, (p >> 8) & 0xff, p & 0xff)
        assert(ours.rgb(x, y) == want, s"id=$id pixel ($x,$y)")
      }
    }
  }

  test("malformed bytes fail loudly, never garbage-out") {
    val good = Png.encode(13L)   // split-IDAT layout
    intercept[IllegalArgumentException](Png.decode(good.take(20)))            // truncated
    intercept[IllegalArgumentException](Png.decode("XXXX".getBytes ++ good.drop(4))) // magic
    val badCrc = good.clone(); badCrc(badCrc.length - 5) = (badCrc(badCrc.length - 5) + 1).toByte
    intercept[IllegalArgumentException](Png.decode(badCrc))                   // IEND CRC
    // corrupt a byte inside the first IDAT payload: CRC must catch it
    val idatOff = {
      var off = 8
      while (new String(good, off + 4, 4, "US-ASCII") != "IDAT")
        off += 12 + (((good(off) & 0xff) << 24) | ((good(off + 1) & 0xff) << 16) |
          ((good(off + 2) & 0xff) << 8) | (good(off + 3) & 0xff))
      off
    }
    val badIdat = good.clone(); badIdat(idatOff + 8) = (badIdat(idatOff + 8) ^ 0x7f).toByte
    intercept[IllegalArgumentException](Png.decode(badIdat))
  }

  test("resample matches a direct reference") {
    ids.take(40).foreach { id =>
      val Bmp = Multimodal.Bmp
      val img = Png.decode(Png.encode(id))
      val want = (for (yo <- 0 until 6; xo <- 0 until 8) yield {
        val sx = xo * img.w / 8
        val sy = yo * img.h / 6
        (Bmp.r(id, sx, sy) + Bmp.g(id, sx, sy) + Bmp.b(id, sx, sy)).toLong
      }).sum
      assert(img.resampleSum(8, 6) == want, s"id=$id")
    }
  }
}
