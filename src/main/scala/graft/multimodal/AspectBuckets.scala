package graft.multimodal

import org.apache.spark.sql.functions._

import graft.queries.Entry
import graft.multimodal.Multimodal.Bmp

/** Aspect-ratio bucketing for image batching (SURVEY.md Q210) — the
  * batch-planning step image-model training pipelines run after decode
  * (public technique: the SDXL / NovelAI "aspect bucketing" recipe):
  * images batch efficiently only with same-shaped peers, so each image
  * is assigned to the nearest of a small fixed set of aspect buckets
  * and the loader plans ceil(n/batch) batches per bucket. The engine-
  * side work is (1) the assignment — EXACT integer arithmetic, no
  * floating ratios: bucket argmin of |w/h − bn/bd| compared via cross
  * multiplication with the common scale lcm(bd)=144, ties to the
  * earlier bucket in the list — and (2) one tiny groupBy(bucket) for
  * the plan.
  *
  * Proof shape: dims come from REAL decoded BMP payloads (the Q196
  * codec — the entry proves the op runs on decode output, not metadata
  * trusted from elsewhere), and the DuckDB oracle recomputes the
  * assignment from the generative dim formulas with the SAME integer
  * comparisons, then aggregates — hash equality proves the argmin, the
  * tie rule, and the batch plan. AspectBucketSpec pins the assignment
  * against a direct rational-arithmetic reference and the tie ordering.
  *
  * Scale posture: decode + assignment are one per-payload function
  * ([[assignRow]]) run by `Dataset.map` through [[Multimodal.decoded]] —
  * map-only, like every codec entry, so a native decoder swap covers
  * this entry too (one with per-partition state would bring its own
  * `mapPartitions` at its call site); the plan groupBy touches 5 bucket
  * rows — O(corpus) scan, O(1) shuffle payload. At 100 TB the bytes
  * arrive in the binary column; everything else holds.
  */
object AspectBuckets {

  /** (label, bn, bd) in priority order; lcm of denominators = 144. */
  val buckets: Seq[(String, Int, Int)] =
    Seq(("1:1", 1, 1), ("4:3", 4, 3), ("3:4", 3, 4), ("16:9", 16, 9), ("9:16", 9, 16))

  val batchSize = 32

  /** Scaled distance of (w, h) to bucket (bn, bd): |w·bd − bn·h| · 144/bd
    * — |w/h − bn/bd| times the constant h·144, so argmin is preserved
    * and every comparison stays in exact integers. */
  def scaledErr(w: Int, h: Int, bn: Int, bd: Int): Long =
    math.abs(w.toLong * bd - bn.toLong * h) * (144 / bd)

  /** First bucket (list order) achieving the minimal scaled error. */
  def assign(w: Int, h: Int): String = {
    val errs = buckets.map { case (label, bn, bd) => (label, scaledErr(w, h, bn, bd)) }
    val min = errs.map(_._2).min
    errs.find(_._2 == min).get._1
  }

  case class BucketRow(doc_id: Long, bucket: String)

  def assignRow(id: Long, bytes: Array[Byte]): BucketRow = {
    val img = Bmp.decode(bytes)
    BucketRow(id, assign(img.w, img.h))
  }

  /** q210's oracle: the same scaled-error argmin as SQL — the ordered
    * CASE encodes "first minimal bucket wins" exactly. */
  private def bucketSql: String = {
    def err(bn: Int, bd: Int) = s"(ABS(w*$bd - $bn*h) * ${144 / bd})"
    val (e1, e43, e34, e169, e916) =
      (err(1, 1), err(4, 3), err(3, 4), err(16, 9), err(9, 16))
    s"""WITH dim AS (SELECT doc_id, CAST(1 + doc_id % 13 AS INT) AS w,
      |                    CAST(1 + doc_id % 9 AS INT) AS h
      |             FROM documents WHERE doc_id % 3 = 1),
      |a AS (SELECT doc_id, CASE
      |        WHEN $e1 <= $e43 AND $e1 <= $e34 AND $e1 <= $e169 AND $e1 <= $e916 THEN '1:1'
      |        WHEN $e43 <= $e34 AND $e43 <= $e169 AND $e43 <= $e916 THEN '4:3'
      |        WHEN $e34 <= $e169 AND $e34 <= $e916 THEN '3:4'
      |        WHEN $e169 <= $e916 THEN '16:9'
      |        ELSE '9:16' END AS bucket
      |      FROM dim)
      |SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_images,
      |  CAST((COUNT(*) + ${batchSize - 1}) // $batchSize AS BIGINT) AS n_batches
      |FROM a GROUP BY bucket ORDER BY bucket""".stripMargin
  }

  val entries: Seq[Entry] = Seq(
    // Aspect bucketing (see [[assign]]): real BMP decode -> exact-integer
    // nearest-bucket assignment -> the 5-row batch plan. The oracle
    // recomputes assignment AND plan from the dim formulas, so a wrong
    // argmin or tie anywhere shifts a bucket count and fails the hash.
    Entry("q210_aspect_buckets", bucketSql) { (s, d) =>
      Multimodal.decoded(s, d, 1)(Bmp.encode)(assignRow)
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_images"))
        // integer ceil-division: Column./ is double division, so floor it
        // (exact below 2^52 — counts are nowhere near)
        .select(col("bucket"), col("n_images"),
          floor((col("n_images") + (batchSize - 1)) / batchSize).cast("bigint").as("n_batches"))
        .orderBy(col("bucket"))
    }
  )
}
