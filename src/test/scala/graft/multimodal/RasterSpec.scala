package graft.multimodal

import org.scalatest.funsuite.AnyFunSuite

import graft.multimodal.Multimodal.{Bmp, Gif, Png}
import graft.multimodal.Video.Avi

/** The one raster reference, Spark-free: every lossless raster codec
  * decodes to a [[Raster]], and that raster's `lumSum` and
  * `resampleSum(8, 6)` must equal the same sums taken straight from the
  * generative channel formulas — no decoder on the reference side. (The
  * cross-engine check is each entry's [[Raster.sql]] oracle.) */
class RasterSpec extends AnyFunSuite {

  /** A decoded raster plus what it must be: generative dims and the
    * generative r + g + b at (x, y). */
  private case class Want(img: Raster, w: Int, h: Int, lum: (Int, Int) => Int)

  private def bmpLum(id: Long)(x: Int, y: Int): Int =
    Bmp.r(id, x, y) + Bmp.g(id, x, y) + Bmp.b(id, x, y)

  private val codecs: Seq[(String, Long => Seq[Want])] = Seq(
    "BMP" -> (id => Seq(Want(Bmp.decode(Bmp.encode(id)), Bmp.width(id), Bmp.height(id), bmpLum(id)))),
    "PNG" -> (id => Seq(Want(Png.decode(Png.encode(id)), Png.width(id), Png.height(id), bmpLum(id)))),
    // ids % 5 == 0 take the quantized-palette branch of rgbAt
    "GIF" -> (id => Seq(Want(Gif.decode(Gif.encode(id)), Gif.width(id), Gif.height(id),
      (x, y) => { val (r, g, b) = Gif.rgbAt(id, x, y); r + g + b }))),
    // even ids are big-endian ("MM"), odd ids little-endian ("II")
    "TIFF" -> (id => Seq(Want(Tiff.decode(Tiff.encode(id)), Tiff.width(id), Tiff.height(id), bmpLum(id)))),
    "AVI" -> { id =>
      val v = Avi.decode(Avi.encode(id))
      v.frames.indices.map(f => Want(v.frames(f), Avi.width(id), Avi.height(id),
        (x, y) => Avi.r(id, f, x, y) + Avi.g(id, f, x, y) + Avi.b(id, f, x, y)))
    })

  private val ids = 1L to 200L

  test("every raster codec: lumSum and resampleSum(8, 6) match the formulas") {
    for ((codec, decode) <- codecs; id <- ids; (want, f) <- decode(id).zipWithIndex) {
      val at = s"$codec id=$id frame=$f"
      assert((want.img.w, want.img.h) == (want.w, want.h), s"$at dims")
      val lum = (for (y <- 0 until want.h; x <- 0 until want.w) yield want.lum(x, y).toLong).sum
      val rs = (for (yo <- 0 until 6; xo <- 0 until 8)
        yield want.lum(xo * want.w / 8, yo * want.h / 6).toLong).sum
      assert(want.img.lumSum == lum, s"$at lumSum")
      assert(want.img.resampleSum(8, 6) == rs, s"$at resampleSum")
    }
    // both TIFF byte orders are in the table
    assert(ids.map(id => Tiff.encode(id)(0).toChar).toSet == Set('I', 'M'))
  }
}
