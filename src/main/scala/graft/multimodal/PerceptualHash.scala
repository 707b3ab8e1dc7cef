package graft.multimodal

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.queries.Entry
import graft.multimodal.Multimodal.Bmp

/** Perceptual image dedup via difference hash (SURVEY.md Q209) — the
  * image-side near-dup screen every multimodal training corpus runs
  * (re-encodes, thumbnails and crops of one image must collapse to one
  * training example; exact byte hashing misses all of them). dHash is
  * the standard public algorithm (64-bit: resample to 9x8 luminance,
  * threshold each horizontally-adjacent pair): robust to re-encoding
  * and resolution because the resample normalizes both, cheap enough to
  * run at corpus scale, and groupable — dedup is then a plain hash
  * groupBy, the Q60 posture applied to pixels.
  *
  * Proof shape: image payloads are REAL BMP bytes (the Q196 codec), but
  * fabricated from a GROUP key (p = doc_id - doc_id%12 + 1, so runs of
  * up to four image docs carry identical pixels — the corpus genuinely
  * contains duplicates for the op to find); the decode → 9x8 resample →
  * 64 threshold bits pipeline runs on decoded bytes, and the DuckDB
  * oracle recomputes the hash ARITHMETICALLY from the generative pixel
  * formulas (the hash rides as two exact 32-bit halves so the SQL stays
  * inside BIGINT), plus each hash's bucket size — hash equality proves
  * decoder, resample rule and thresholding bit-for-bit, and the bucket
  * counts prove the dedup grouping. DHashSpec pins the perceptual
  * property the oracle can't see: single-pixel perturbations move the
  * hash at most a few bits (Hamming), while distinct images differ.
  *
  * Scale posture: decode + hash are map-only per row; the dedup group
  * is ONE shuffle on the 8-byte hash key (count via a window over the
  * hash partition) — at 100 TB this is the cheapest possible corpus
  * pass, and the hash groupBy inherits every skew/AQE remedy the
  * engine's other key-group ops use.
  */
object PerceptualHash {

  /** The pixel-source key: runs of image docs share payloads so the
    * corpus contains real duplicate groups. */
  def sourceKey(id: Long): Long = id - id % 12 + 1

  /** 64-bit dHash over a decoded image: 9x8 nearest-neighbor luminance
    * resample (the Q196 rule), bit (x, y) set iff lum(x+1, y) >
    * lum(x, y); returned as (hi, lo) 32-bit halves (bit index
    * y*8 + x: y 0-3 -> lo, y 4-7 -> hi) so the SQL oracle can fold the
    * same integers without BIGINT overflow. One kernel for the image
    * entry and the q291 video-clip composition (each sampled AVI frame
    * is a [[Raster]] too). */
  def dhash(img: Raster): (Long, Long) = {
    val l = Array.tabulate(8, 9) { (y, x) =>
      val (r, g, b) = img.rgb(x * img.w / 9, y * img.h / 8)
      r + g + b
    }
    var hi = 0L; var lo = 0L
    for (y <- 0 until 8; x <- 0 until 8) {
      if (l(y)(x + 1) > l(y)(x)) {
        if (y < 4) lo |= 1L << (y * 8 + x)
        else hi |= 1L << ((y - 4) * 8 + x)
      }
    }
    (hi, lo)
  }

  case class DHashRow(doc_id: Long, dh_hi: Long, dh_lo: Long)

  def hashRow(id: Long, bytes: Array[Byte]): DHashRow = {
    val (hi, lo) = dhash(Bmp.decode(bytes))
    DHashRow(id, hi, lo)
  }

  /** q209's oracle: the dHash recomputed arithmetically — resampled
    * luminance from the generative channel formulas under the GROUP key
    * p, threshold bits folded into the two 32-bit halves, bucket sizes
    * from a window over the hash. */
  private def dhashSql: String = {
    def lum(x: String, y: String) =
      s"(p*31 + ($x)*7 + ($y)*13) % 256 + (p*17 + ($x)*11 + ($y)*5) % 256 + " +
        s"(p*23 + ($x)*3 + ($y)*19) % 256"
    s"""WITH img AS (SELECT doc_id, doc_id - doc_id % 12 + 1 AS p
      |             FROM documents WHERE doc_id % 3 = 1),
      |dim AS (SELECT doc_id, p, CAST(1 + p % 13 AS INT) AS w,
      |               CAST(1 + p % 9 AS INT) AS h FROM img),
      |xs AS (SELECT UNNEST(range(9)) AS x), ys AS (SELECT UNNEST(range(8)) AS y),
      |l AS (SELECT doc_id, x, y, ${lum(s"(x*w) // 9", s"(y*h) // 8")} AS v
      |      FROM dim, xs, ys),
      |bits AS (SELECT a.doc_id, a.x, a.y,
      |           CASE WHEN b.v > a.v THEN 1 ELSE 0 END AS bit
      |         FROM l a JOIN l b ON b.doc_id = a.doc_id AND b.y = a.y
      |                          AND b.x = a.x + 1
      |         WHERE a.x < 8),
      |h AS (SELECT doc_id,
      |        CAST(SUM(CASE WHEN y >= 4 THEN bit * CAST(POWER(2, (y - 4) * 8 + x) AS BIGINT) ELSE 0 END) AS BIGINT) AS dh_hi,
      |        CAST(SUM(CASE WHEN y < 4 THEN bit * CAST(POWER(2, y * 8 + x) AS BIGINT) ELSE 0 END) AS BIGINT) AS dh_lo
      |      FROM bits GROUP BY doc_id)
      |SELECT doc_id, dh_hi, dh_lo,
      |  CAST(COUNT(*) OVER (PARTITION BY dh_hi, dh_lo) AS BIGINT) AS bucket_n
      |FROM h ORDER BY doc_id""".stripMargin
  }

  val entries: Seq[Entry] = Seq(
    // Perceptual dedup (see [[dhash]]): real BMP decode -> 9x8 resample
    // -> 64 threshold bits -> ONE hash-keyed window for bucket sizes.
    // The oracle recomputes hash AND buckets from the formulas, so a
    // wrong bit anywhere collapses the groups and fails the hash check.
    Entry("q209_image_dhash_dedup", dhashSql) { (s, d) =>
      Multimodal.decoded(s, d, 1)(id => Bmp.encode(sourceKey(id)))(hashRow)
        .withColumn("bucket_n",
          count(lit(1)).over(Window.partitionBy(col("dh_hi"), col("dh_lo"))))
        .select(col("doc_id"), col("dh_hi"), col("dh_lo"), col("bucket_n"))
        .orderBy(col("doc_id"))
    }
  )
}
