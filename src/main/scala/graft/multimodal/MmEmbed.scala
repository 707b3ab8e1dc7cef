package graft.multimodal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Staging
import graft.queries.Entry
import graft.vector.Vectors

/** The multimodal → similarity-search bridge (SURVEY.md north-star
  * composition "similarity search" × "multimodal columns"): image and
  * audio payloads are decoded through the REAL codec path
  * ([[Multimodal.Bmp]] / [[Multimodal.Wav]] — header validation, padded
  * bottom-up row walk, RIFF chunk walk) and the DECODED content is
  * feature-encoded into the embeddings schema `(vec_id, modality,
  * embedding: array<double>[8])`, one unified space both modalities
  * share, so every ANN entry point (exact top-k, staged IVF probe) can
  * serve cross-modal queries unchanged.
  *
  * Proof shape (the q196 posture): payloads are fabricated
  * deterministically from doc_id, the Spark side embeds what the decoder
  * RETURNS, and the oracle recomputes the expected embedding from the
  * generative formulas alone — hash equality of the top-k result proves
  * decode ∘ encode == id THROUGH the feature encoder, not just on header
  * fields. The 8 features are integer-derived (sums, counts, maxima over
  * decoded pixels/samples; the one division is by 1024, a power of two),
  * so both engines hold bit-identical doubles before the cosine.
  *
  * Feature map — magnitudes deliberately comparable across modalities so
  * cross-modal cosine is non-degenerate:
  *  - image (BMP, w=1+id%13, h=1+id%9): e0..e2 = per-channel sums;
  *    e3..e6 = luminance sums over the 2×2 spatial grid
  *    (quadrant = (2x div w)*2 + (2y div h)); e7 = w*h*128.
  *  - audio (WAV, n=16+id%50): e0..e3 = Σ|s| over 4 equal time segments
  *    (segment = 4i div n); e4 = Σs²/1024; e5 = strict zero
  *    crossings × 1000; e6 = n × 1000; e7 = max|s| × 10.
  *
  * Scale posture: the embed stage is map-only — [[embedImage]] and
  * [[embedAudio]] are per-payload functions run by `Dataset.map` through
  * [[Multimodal.decoded]] (at 100 TB the bytes arrive in the binary
  * column and the fabrication seam disappears; a real CLIP/CLAP session
  * with per-partition state would bring its own `mapPartitions` at its
  * call site); exact top-k rides the bounded TopK aggregator (shuffle
  * carries ≤ partitions × queries × k pairs); the staged IVF variant
  * reads ingest-time artifacts (centroids + cell labels keyed on the
  * source table's fingerprint, the VectorIndex posture) so the query pays
  * one label join + the probed cells, never training.
  */
object MmEmbed {

  case class MmVec(vec_id: Long, modality: String, embedding: Seq[Double])

  /** Stand-in for a real embedding model (CLIP-style) on a decoded
    * image — swap the feature arithmetic for a real model call; the Spark
    * plumbing (one typed map, unified output schema) stays identical. */
  def embedImage(id: Long, bytes: Array[Byte]): MmVec = {
    val img = Multimodal.Bmp.decode(bytes)
    var sr = 0L; var sg = 0L; var sb = 0L
    val quad = new Array[Long](4)
    var y = 0
    while (y < img.h) {
      var x = 0
      while (x < img.w) {
        val (r, g, b) = img.rgb(x, y)
        sr += r; sg += g; sb += b
        quad((2 * x / img.w) * 2 + (2 * y / img.h)) += (r + g + b).toLong
        x += 1
      }
      y += 1
    }
    MmVec(id, "image", Seq(sr.toDouble, sg.toDouble, sb.toDouble,
      quad(0).toDouble, quad(1).toDouble, quad(2).toDouble, quad(3).toDouble,
      (img.w.toLong * img.h * 128).toDouble))
  }

  /** The audio face of the same stand-in (CLAP-style), into the same
    * 8-dim space. */
  def embedAudio(id: Long, bytes: Array[Byte]): MmVec = {
    val wav = Multimodal.Wav.decode(bytes)
    val n = wav.samples.length
    val seg = new Array[Long](4)
    var energy = 0L; var cross = 0L; var maxAbs = 0L
    var i = 0
    while (i < n) {
      val s = wav.samples(i)
      seg(4 * i / n) += math.abs(s).toLong
      energy += s.toLong * s
      if (i >= 1 && s.toLong * wav.samples(i - 1) < 0) cross += 1
      if (math.abs(s).toLong > maxAbs) maxAbs = math.abs(s).toLong
      i += 1
    }
    MmVec(id, "audio", Seq(seg(0).toDouble, seg(1).toDouble,
      seg(2).toDouble, seg(3).toDouble, energy.toDouble / 1024.0,
      cross * 1000.0, n * 1000.0, maxAbs * 10.0))
  }

  /** The unified media-embedding view: every image/audio doc decoded and
    * feature-encoded into one `(vec_id, modality, embedding)` space. */
  def mediaEmbeddings(s: SparkSession, d: String): DataFrame =
    Multimodal.decoded(s, d, 1)(Multimodal.Bmp.encode)(embedImage)
      .union(Multimodal.decoded(s, d, 2)(Multimodal.Wav.encode)(embedAudio))

  /** The media-embedding TABLE as an ingest-time artifact (the TokenIndex
    * argument — ES analyzes text at WRITE time, queries never re-analyze;
    * an embedding model encodes a payload once, when it lands): staged
    * parquet keyed on the documents table's fingerprint. Every query-side
    * consumer reads this; the decode+encode pass runs once per corpus. */
  def stagedMediaEmbeddings(s: SparkSession, d: String): DataFrame =
    Staging.staged(s, d, "documents", "mmembed")(mediaEmbeddings(s, d))

  /** Staged IVF artifacts over the media-embedding space (the
    * VectorIndex posture, keyed on the documents table's fingerprint):
    * centroids + multi-probe cell labels are ingest-time work, so the
    * bench entry measures the probe + scan, never training. */
  def mmIvf(s: SparkSession, d: String): (Array[Array[Double]], DataFrame) = {
    val cents = {
      val df = Staging.staged(s, d, "documents", "mmivfcents") {
        import s.implicits._
        Vectors.trainCoarseQuantizer(stagedMediaEmbeddings(s, d), nlist = 8)
          .zipWithIndex.map { case (cv, i) => (i, cv.toSeq) }.toSeq
          .toDF("cell", "cv")
      }
      df.collect().map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
        .sortBy(_._1).map(_._2)
    }
    val cells = Staging.staged(s, d, "documents", "mmivfcells") {
      Vectors.cellAssignmentsWith(stagedMediaEmbeddings(s, d), cents)
    }
    (cents, cells)
  }

  /** Build the staged artifacts eagerly (Bench's untimed ingest phase). */
  def ensure(s: SparkSession, d: String): Unit = { mmIvf(s, d); () }

  private val QueryIds = Seq(1, 2, 4)   // 1, 4 image; 2 audio — cross-modal

  /** The shared oracle text (the twin is bridged, like [[Raster.sql]]'s).
    * Feature terms mirror [[embedImage]]/[[embedAudio]] verbatim; the
    * cosine tail mirrors [[Vectors.topK]]'s exact arithmetic —
    * left-associated dot, norm = sqrt(self-dot), cos = dot / (nrm * qnrm),
    * ROUND 6. */
  private def topkSql: String = {
    def dotOf(a: String, b: String) =
      (0 until 8).map(i => s"$a.e$i*$b.q$i").mkString(" + ")
    s"""WITH img AS (SELECT doc_id, CAST(1 + doc_id % 13 AS INT) AS w,
      |                    CAST(1 + doc_id % 9 AS INT) AS h
      |             FROM documents WHERE doc_id % 3 = 1),
      |xs AS (SELECT UNNEST(range(13)) AS x), ys AS (SELECT UNNEST(range(9)) AS y),
      |px AS (SELECT doc_id, w, h, x, y,
      |         (doc_id*31 + x*7 + y*13) % 256 AS r,
      |         (doc_id*17 + x*11 + y*5) % 256 AS g,
      |         (doc_id*23 + x*3 + y*19) % 256 AS b
      |       FROM img, xs, ys WHERE x < w AND y < h),
      |ie AS (SELECT doc_id,
      |         CAST(SUM(r) AS DOUBLE) AS e0, CAST(SUM(g) AS DOUBLE) AS e1,
      |         CAST(SUM(b) AS DOUBLE) AS e2,
      |         CAST(SUM(CASE WHEN ((2*x) // w)*2 + ((2*y) // h) = 0 THEN r+g+b ELSE 0 END) AS DOUBLE) AS e3,
      |         CAST(SUM(CASE WHEN ((2*x) // w)*2 + ((2*y) // h) = 1 THEN r+g+b ELSE 0 END) AS DOUBLE) AS e4,
      |         CAST(SUM(CASE WHEN ((2*x) // w)*2 + ((2*y) // h) = 2 THEN r+g+b ELSE 0 END) AS DOUBLE) AS e5,
      |         CAST(SUM(CASE WHEN ((2*x) // w)*2 + ((2*y) // h) = 3 THEN r+g+b ELSE 0 END) AS DOUBLE) AS e6,
      |         CAST(w*h*128 AS DOUBLE) AS e7
      |       FROM px GROUP BY doc_id, w, h),
      |au AS (SELECT doc_id, CAST(16 + doc_id % 50 AS INT) AS n
      |       FROM documents WHERE doc_id % 3 = 2),
      |iser AS (SELECT UNNEST(range(66)) AS i),
      |sm AS (SELECT doc_id, n, i, (doc_id*37 + i*101) % 4001 - 2000 AS s
      |       FROM au, iser WHERE i < n),
      |ae AS (SELECT doc_id,
      |         CAST(SUM(CASE WHEN (4*i) // n = 0 THEN ABS(s) ELSE 0 END) AS DOUBLE) AS e0,
      |         CAST(SUM(CASE WHEN (4*i) // n = 1 THEN ABS(s) ELSE 0 END) AS DOUBLE) AS e1,
      |         CAST(SUM(CASE WHEN (4*i) // n = 2 THEN ABS(s) ELSE 0 END) AS DOUBLE) AS e2,
      |         CAST(SUM(CASE WHEN (4*i) // n = 3 THEN ABS(s) ELSE 0 END) AS DOUBLE) AS e3,
      |         SUM(s*s) / 1024.0e0 AS e4,
      |         CAST(SUM(CASE WHEN i >= 1 AND s * ((doc_id*37 + (i-1)*101) % 4001 - 2000) < 0
      |                       THEN 1 ELSE 0 END) * 1000 AS DOUBLE) AS e5,
      |         CAST(n*1000 AS DOUBLE) AS e6,
      |         CAST(MAX(ABS(s))*10 AS DOUBLE) AS e7
      |       FROM sm GROUP BY doc_id, n),
      |e AS (SELECT doc_id AS vec_id, e0, e1, e2, e3, e4, e5, e6, e7,
      |        sqrt(e0*e0 + e1*e1 + e2*e2 + e3*e3 + e4*e4 + e5*e5 + e6*e6 + e7*e7) AS nrm
      |      FROM (SELECT * FROM ie UNION ALL SELECT * FROM ae)),
      |q AS (SELECT vec_id AS q_id, e0 AS q0, e1 AS q1, e2 AS q2, e3 AS q3,
      |             e4 AS q4, e5 AS q5, e6 AS q6, e7 AS q7, nrm AS qnrm
      |      FROM e WHERE vec_id IN (${QueryIds.mkString(", ")})),
      |c AS (SELECT q_id, vec_id,
      |        ROUND((${dotOf("e", "q")}) / (e.nrm * q.qnrm), 6) AS cos_r
      |      FROM e, q WHERE vec_id <> q_id),
      |r AS (SELECT q_id, vec_id, cos_r,
      |        row_number() OVER (PARTITION BY q_id ORDER BY cos_r DESC, vec_id) AS rn
      |      FROM c)
      |SELECT q_id, vec_id, cos_r, CAST(rn AS INT) AS rn FROM r WHERE rn <= 5
      |ORDER BY q_id, rn""".stripMargin
  }

  val entries: Seq[Entry] = Seq(

    // Cross-modal exact top-k over the decode-derived embedding space —
    // the declared, hash-checked face of the bridge (the q62 shape on the
    // q196/q197 proof pattern): the oracle recomputes every embedding
    // from the generative media formulas and replays the exact cosine
    // arithmetic, so a hash match proves decoder, feature encoder, and
    // top-k all at once. Queries 1/4 are images, 2 is audio; neighbors
    // may come from either modality (one embedding space by design).
    Entry("q269_mm_embed_topk", topkSql) { (s, d) =>
      Vectors.topK(stagedMediaEmbeddings(s, d), QueryIds, 5)
    },

    // The scale path: the same queries against the STAGED media IVF
    // (ingest-time centroids + cell labels — the q62_ann_ivf_pq posture);
    // the measured query is probe + labeled-cell scan + re-rank. Cell
    // geometry is k-means-derived => engine-specific => bench-only;
    // AnnRecallSpec pins recall vs the exact top-k and the
    // all-cells == exact identity.
    Entry.benchOnly("q270_mm_ann_ivf_staged") { (s, d) =>
      Vectors.annIvfStaged(stagedMediaEmbeddings(s, d), QueryIds, 5,
        nprobe = 3, coarse = mmIvf(s, d))
    }
  )
}
