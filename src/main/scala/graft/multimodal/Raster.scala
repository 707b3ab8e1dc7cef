package graft.multimodal

/** A decoded 24-bit raster: header-derived dims plus an (r, g, b)
  * accessor with y = 0 at the TOP, whatever row order and padding the
  * container stores. The two features every raster entry projects — the
  * full-image luminance sum and the nearest-neighbor resample — are
  * defined once, here, and [[Raster.sql]] is the one oracle that states
  * them arithmetically. */
trait Raster {
  def w: Int
  def h: Int
  def rgb(x: Int, y: Int): (Int, Int, Int)

  /** Σ (r + g + b) over every pixel. */
  def lumSum: Long = {
    var sum = 0L
    for (y <- 0 until h; x <- 0 until w) {
      val (r, g, b) = rgb(x, y)
      sum += r + g + b
    }
    sum
  }

  /** Nearest-neighbor resample to outW x outH, summed as r + g + b:
    * source pixel (x*w / outW, y*h / outH), integer floor — the same
    * rule the oracle states arithmetically. */
  def resampleSum(outW: Int, outH: Int): Long = {
    var sum = 0L
    for (yo <- 0 until outH; xo <- 0 until outW) {
      val (r, g, b) = rgb(xo * w / outW, yo * h / outH)
      sum += r + g + b
    }
    sum
  }
}

object Raster {

  /** Packed top-down RGB, 3 bytes per pixel (PNG, GIF, TIFF). */
  final case class Packed(w: Int, h: Int, pix: Array[Byte]) extends Raster {
    def rgb(x: Int, y: Int): (Int, Int, Int) = {
      val o = 3 * (y * w + x)
      (pix(o) & 0xff, pix(o + 1) & 0xff, pix(o + 2) & 0xff)
    }
  }

  /** Bottom-up BGR rows padded to `rowSize` bytes, starting at `offset`
    * in `bytes` (BMP, AVI 'DIB ' frames): the accessor hides the row
    * order and the padding. */
  final case class BottomUp(w: Int, h: Int, bytes: Array[Byte], offset: Int,
                            rowSize: Int) extends Raster {
    def rgb(x: Int, y: Int): (Int, Int, Int) = {
      val o = offset + (h - 1 - y) * rowSize + 3 * x
      (bytes(o + 2) & 0xff, bytes(o + 1) & 0xff, bytes(o) & 0xff)
    }
  }

  /** The shared generative channel sum [[Multimodal.Bmp.r]] +
    * [[Multimodal.Bmp.g]] + [[Multimodal.Bmp.b]] as SQL over (x, y). */
  def lumSql(x: String, y: String): String =
    s"(doc_id*31 + ($x)*7 + ($y)*13) % 256 + (doc_id*17 + ($x)*11 + ($y)*5) % 256 + " +
      s"(doc_id*23 + ($x)*3 + ($y)*19) % 256"

  /** The raster oracle: for every image doc (`doc_id % 3 = 1`) of dims
    * 1 + id % wMod x 1 + id % hMod, the [[Raster.lumSum]] and
    * [[Raster.resampleSum]]`(8, 6)` a decoder must return, recomputed
    * from the pixel formula `lum` alone. Its `spark.sql` twin is bridged
    * (`UNNEST(range(n))` → `explode(sequence(0, n-1))`, `//` → `div`). */
  def sql(wMod: Int, hMod: Int, lum: (String, String) => String = lumSql): String =
    s"""WITH img AS (SELECT doc_id, CAST(1 + doc_id % $wMod AS INT) AS w,
      |                    CAST(1 + doc_id % $hMod AS INT) AS h
      |             FROM documents WHERE doc_id % 3 = 1),
      |xs AS (SELECT UNNEST(range($wMod)) AS x), ys AS (SELECT UNNEST(range($hMod)) AS y),
      |lum AS (SELECT doc_id, CAST(SUM(${lum("x", "y")}) AS BIGINT) AS lum_sum
      |        FROM img, xs, ys WHERE x < w AND y < h GROUP BY 1),
      |xo AS (SELECT UNNEST(range(8)) AS xo), yo AS (SELECT UNNEST(range(6)) AS yo),
      |rs AS (SELECT doc_id, CAST(SUM(${lum(s"(xo*w) // 8", s"(yo*h) // 6")}) AS BIGINT) AS rs_sum
      |       FROM img, xo, yo GROUP BY 1)
      |SELECT i.doc_id, i.w, i.h, l.lum_sum, r.rs_sum
      |FROM img i JOIN lum l ON l.doc_id = i.doc_id JOIN rs r ON r.doc_id = i.doc_id
      |ORDER BY i.doc_id""".stripMargin
}

/** The feature row of every lossless raster entry (q196, q198, q201,
  * q214). */
case class RasterFeature(doc_id: Long, w: Int, h: Int, lum_sum: Long, rs_sum: Long)

object RasterFeature {
  def of(id: Long, img: Raster): RasterFeature =
    RasterFeature(id, img.w, img.h, img.lumSum, img.resampleSum(8, 6))
}
