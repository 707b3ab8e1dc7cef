package graft.multimodal

import javax.imageio.ImageIO

import org.scalatest.funsuite.AnyFunSuite

import graft.multimodal.Multimodal.Bmp
import graft.multimodal.Tiff

/** The TIFF codec (q214) pinned Spark-free: pixel-exact round-trip over
  * both byte orders and both strip layouts, an INDEPENDENT
  * `javax.imageio` TIFF decode of our encoder's bytes (JDK 9+ ships a
  * TIFF reader — a cancelling encoder/decoder bug pair cannot hide),
  * the left-justified big-endian inline-SHORT trap, and loud malformed
  * failure. */
class TiffCodecSpec extends AnyFunSuite {

  test("encode/decode round-trips every pixel across II/MM and strip layouts") {
    // ids 0..271 cover all (w, h) classes (periods 17, 8), both byte
    // orders (id parity) and both strip layouts (id % 4)
    (0L to 271L).foreach { id =>
      val img = Tiff.decode(Tiff.encode(id))
      assert(img.w == Tiff.width(id) && img.h == Tiff.height(id), s"id=$id dims")
      for (y <- 0 until img.h; x <- 0 until img.w) {
        assert(img.rgb(x, y) == (Bmp.r(id, x, y), Bmp.g(id, x, y), Bmp.b(id, x, y)),
          s"id=$id pixel ($x,$y)")
      }
    }
  }

  test("javax.imageio's independent TIFF reader agrees pixel-for-pixel") {
    (0L to 100L).foreach { id =>
      val bytes = Tiff.encode(id)
      val jdk = ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      assert(jdk != null, s"id=$id: imageio could not read our TIFF")
      assert(jdk.getWidth == Tiff.width(id) && jdk.getHeight == Tiff.height(id), s"id=$id")
      val ours = Tiff.decode(bytes)
      for (y <- 0 until jdk.getHeight; x <- 0 until jdk.getWidth) {
        val p = jdk.getRGB(x, y)
        val want = ((p >> 16) & 0xff, (p >> 8) & 0xff, p & 0xff)
        assert(ours.rgb(x, y) == want, s"id=$id pixel ($x,$y)")
      }
    }
  }

  test("big-endian inline SHORTs are left-justified (the classic trap)") {
    // id 2 is big-endian single-strip; width lives inline as a SHORT.
    val bytes = Tiff.encode(2L)
    assert(bytes(0) == 'M' && bytes(1) == 'M')
    // first IFD entry (tag 256 ImageWidth) value field: bytes 8+2+8..
    val vo = 8 + 2 + 8
    val short = ((bytes(vo) & 0xff) << 8) | (bytes(vo + 1) & 0xff)
    assert(short == Tiff.width(2L), "inline SHORT must occupy the FIRST two bytes")
    assert(bytes(vo + 2) == 0 && bytes(vo + 3) == 0)
  }

  test("malformed bytes fail loudly") {
    val good = Tiff.encode(5L)
    intercept[IllegalArgumentException](Tiff.decode(good.take(6)))
    intercept[IllegalArgumentException](Tiff.decode("XX".getBytes ++ good.drop(2)))
    val badMagic = good.clone()
    badMagic(2) = 0; badMagic(3) = 43
    intercept[IllegalArgumentException](Tiff.decode(badMagic))
    // compression field lies: entry for tag 259 says LZW
    val ifd = 8
    val compVo = (0 until 10).map(i => ifd + 2 + 12 * i)
      .find { e => (((good(e) & 0xff) << 8) | (good(e + 1) & 0xff)) == 259 ||
                   (((good(e + 1) & 0xff) << 8) | (good(e) & 0xff)) == 259 }.get + 8
    val lzw = good.clone(); lzw(compVo) = 5; lzw(compVo + 1) = 0
    intercept[IllegalArgumentException](Tiff.decode(lzw))
    // truncated pixel strip
    intercept[IllegalArgumentException](Tiff.decode(good.dropRight(3)))
  }
}
