package graft.multimodal

import org.apache.spark.sql.functions._

import graft.queries.Entry

/** REAL video container decode + frame sampling (SURVEY.md Q202) — the
  * video modality joins BMP/WAV/PNG/GIF/JPEG as a real byte-level format:
  * RIFF AVI carrying uncompressed 24 bpp BI_RGB ('DIB ') frames, the one
  * video container expressible with no external library (the RIFF grammar
  * is Q197's, the frame payload is Q196's pixel walk). The
  * training-pipeline op this makes real is FRAME SAMPLING (Q80's
  * `n_sampled` arithmetic stub): uniformly pick ≤4 of the stream's frames
  * and feature-extract only those — the decode-k-frames-of-N shape every
  * video training pipeline runs.
  *
  * Same proof shape as Q196-Q201: payloads are fabricated per video doc
  * from doc_id (frames add a third generative axis `f` to the Q196 pixel
  * formulas), round-tripped through an actual parser — RIFF walk with a
  * JUNK alignment decoy on even ids (real AVIs carry JUNK padding; a
  * fixed-offset reader breaks), `hdrl` header LIST (avih + strl/strh/strf
  * all validated: 'vids' stream, 'DIB ' handler, 24 bpp BI_RGB), `movi`
  * frame walk ('00db' chunks, count checked against avih), an idx1 index
  * appended on ids%4==1 the walk must not mistake for frames — and the
  * DuckDB oracle recomputes every feature (dims, frame count, sampled
  * luminance) from the generative formulas alone, so hash equality proves
  * decoder == encoder⁻¹ INCLUDING the sampling rule. Each decoded frame
  * is a [[Raster]] over the file's own bytes (no copy), so the q202
  * luminance and the q291 dHash are the raster-wide kernels.
  *
  * The codecs here ([[aviFeature]], [[clipHash]]) are per-payload
  * functions run by `Dataset.map` through [[Multimodal.decoded]]: map-only,
  * no shuffle before the output sort; at 100 TB the bytes arrive in the
  * binary column and everything else is unchanged. A native video binding
  * with per-partition state would bring its own `mapPartitions` at its
  * call site.
  *
  * Reference scope note: the reference (hbase-observer-es) syncs opaque
  * cell bytes (`Observer.java:79-96` Bytes.toString) and has no media
  * path; this entry is north-star surface (BASELINE.json multimodal), not
  * L1.
  */
object Video {

  /** RIFF AVI, 24 bpp BI_RGB 'DIB ' frames, bottom-up padded rows. */
  object Avi {
    def width(id: Long): Int = (1 + id % 11).toInt
    def height(id: Long): Int = (1 + id % 7).toInt
    def nFrames(id: Long): Int = (2 + id % 9).toInt
    val maxSampled = 4

    /** Channel formulas shared (as SQL) with the oracle: the Q196 linear
      * congruences with a frame term. */
    def r(id: Long, f: Int, x: Int, y: Int): Int = ((id * 31 + f * 29 + x * 7 + y * 13) % 256).toInt
    def g(id: Long, f: Int, x: Int, y: Int): Int = ((id * 17 + f * 23 + x * 11 + y * 5) % 256).toInt
    def b(id: Long, f: Int, x: Int, y: Int): Int = ((id * 23 + f * 41 + x * 3 + y * 19) % 256).toInt

    /** Uniform frame sampling: k = min(4, n) frames at j*n/k (integer
      * floor, j = 0..k-1) — the nearest-neighbor rule Q196's resample
      * uses, applied on the time axis, stated identically in the oracle. */
    def sampledFrames(n: Int): Seq[Int] = {
      val k = math.min(maxSampled, n)
      (0 until k).map(j => j * n / k)
    }

    import ByteIo.{putLE, putTag}

    def rowSize(w: Int): Int = ByteIo.rowSize24(w)

    /** Spec-compliant AVI encode. Layout: RIFF('AVI ') > LIST(hdrl)[avih,
      * LIST(strl)[strh, strf]] > JUNK decoy (even ids) > LIST(movi)['00db'
      * per frame] > idx1 (ids%4==1). Frame payload rows are bottom-up,
      * BGR, padded to 4 bytes — exactly Q196's pixel layout. */
    def encode(id: Long): Array[Byte] = {
      val (w, h, nf) = (width(id), height(id), nFrames(id))
      val rs = rowSize(w)
      val frameSize = rs * h
      val junk = if (id % 2 == 0) 8 + 12 else 0          // decoy the walk must skip
      val hdrlSize = 4 + (8 + 56) + (8 + 4 + (8 + 56) + (8 + 40))
      val moviSize = 4 + nf * (8 + frameSize)
      val idx1 = if (id % 4 == 1) 8 + 16 * nf else 0
      val total = 12 + (8 + hdrlSize) + junk + (8 + moviSize) + idx1
      val a = new Array[Byte](total)
      var off = 0
      putTag(a, 0, "RIFF"); putLE(a, 4, total - 8, 4); putTag(a, 8, "AVI ")
      off = 12
      // LIST hdrl
      putTag(a, off, "LIST"); putLE(a, off + 4, hdrlSize, 4); putTag(a, off + 8, "hdrl")
      off += 12
      putTag(a, off, "avih"); putLE(a, off + 4, 56, 4)
      putLE(a, off + 8, 100000, 4)           // usec per frame (10 fps)
      putLE(a, off + 12, 0, 4)               // max bytes/sec
      putLE(a, off + 16, 0, 4)               // padding granularity
      putLE(a, off + 20, if (id % 4 == 1) 0x10 else 0, 4) // AVIF_HASINDEX
      putLE(a, off + 24, nf, 4)              // total frames
      putLE(a, off + 28, 0, 4)               // initial frames
      putLE(a, off + 32, 1, 4)               // streams
      putLE(a, off + 36, frameSize, 4)       // suggested buffer size
      putLE(a, off + 40, w, 4); putLE(a, off + 44, h, 4)
      off += 8 + 56                          // reserved[4] stays zero
      // LIST strl
      putTag(a, off, "LIST"); putLE(a, off + 4, 4 + 64 + 48, 4); putTag(a, off + 8, "strl")
      off += 12
      putTag(a, off, "strh"); putLE(a, off + 4, 56, 4)
      putTag(a, off + 8, "vids"); putTag(a, off + 12, "DIB ")
      putLE(a, off + 16, 0, 4)               // flags
      putLE(a, off + 20, 0, 2); putLE(a, off + 22, 0, 2) // priority, language
      putLE(a, off + 24, 0, 4)               // initial frames
      putLE(a, off + 28, 1, 4); putLE(a, off + 32, 10, 4) // scale, rate
      putLE(a, off + 36, 0, 4)               // start
      putLE(a, off + 40, nf, 4)              // length (frames)
      putLE(a, off + 44, frameSize, 4)       // suggested buffer size
      putLE(a, off + 48, 0, 4); putLE(a, off + 52, 0, 4)  // quality, sample size
      putLE(a, off + 56, 0, 2); putLE(a, off + 58, 0, 2)  // rcFrame l, t
      putLE(a, off + 60, w, 2); putLE(a, off + 62, h, 2)  // rcFrame r, b
      off += 8 + 56
      putTag(a, off, "strf"); putLE(a, off + 4, 40, 4)
      putLE(a, off + 8, 40, 4)               // BITMAPINFOHEADER size
      putLE(a, off + 12, w, 4); putLE(a, off + 16, h, 4)
      putLE(a, off + 20, 1, 2); putLE(a, off + 22, 24, 2) // planes, bpp
      putLE(a, off + 24, 0, 4)               // BI_RGB
      putLE(a, off + 28, frameSize, 4)
      off += 8 + 40                          // ppm/clr fields stay zero
      if (junk > 0) {                        // alignment decoy
        putTag(a, off, "JUNK"); putLE(a, off + 4, 12, 4); off += 8 + 12
      }
      // LIST movi
      val moviStart = off
      putTag(a, off, "LIST"); putLE(a, off + 4, moviSize, 4); putTag(a, off + 8, "movi")
      off += 12
      val frameOffsets = new Array[Int](nf)
      for (f <- 0 until nf) {
        frameOffsets(f) = off - (moviStart + 8)   // idx1 offsets: relative to 'movi' tag
        putTag(a, off, "00db"); putLE(a, off + 4, frameSize, 4)
        for (y <- 0 until h; x <- 0 until w) {
          val p = off + 8 + (h - 1 - y) * rs + 3 * x
          a(p) = b(id, f, x, y).toByte
          a(p + 1) = g(id, f, x, y).toByte
          a(p + 2) = r(id, f, x, y).toByte
        }
        off += 8 + frameSize
      }
      if (idx1 > 0) {
        putTag(a, off, "idx1"); putLE(a, off + 4, 16 * nf, 4)
        for (f <- 0 until nf) {
          putTag(a, off + 8 + 16 * f, "00db")
          putLE(a, off + 12 + 16 * f, 0x10, 4)            // AVIIF_KEYFRAME
          putLE(a, off + 16 + 16 * f, frameOffsets(f), 4)
          putLE(a, off + 20 + 16 * f, frameSize, 4)
        }
        off += idx1
      }
      require(off == total, s"encoder layout bug: wrote $off of $total")
      a
    }

    import ByteIo.{getLE, tag}

    /** Each frame is Q196's raster layout (bottom-up padded BGR) in place
      * inside the file's bytes. */
    final case class DecodedAvi(w: Int, h: Int, frames: IndexedSeq[Raster.BottomUp])

    /** Parse a 'vids'/'DIB ' single-stream AVI; every header field the
      * format requires is validated, unknown chunks (JUNK, idx1) are
      * skipped by the generic RIFF walk, and the movi frame count is
      * checked against avih — malformed bytes fail loudly. */
    def decode(bytes: Array[Byte]): DecodedAvi = {
      require(bytes.length >= 12 && tag(bytes, 0) == "RIFF" && tag(bytes, 8) == "AVI ",
        "not a RIFF/AVI file")
      require(getLE(bytes, 4, 4) == bytes.length - 8, "RIFF size field mismatch")
      var w = -1; var h = -1; var nf = -1
      var frames = Vector.empty[Raster.BottomUp]

      def parseHdrl(start: Int, end: Int): Unit = {
        var off = start
        require(tag(bytes, off) == "avih" && getLE(bytes, off + 4, 4) == 56, "missing avih")
        require(getLE(bytes, off + 32, 4) == 1, "not a single-stream AVI")
        nf = getLE(bytes, off + 24, 4)
        w = getLE(bytes, off + 40, 4); h = getLE(bytes, off + 44, 4)
        off += 8 + 56
        var sawStrl = false
        while (off + 8 <= end) {
          val (t, sz) = (tag(bytes, off), getLE(bytes, off + 4, 4))
          if (t == "LIST" && tag(bytes, off + 8) == "strl") {
            sawStrl = true
            var so = off + 12
            require(tag(bytes, so) == "strh" && getLE(bytes, so + 4, 4) == 56, "missing strh")
            require(tag(bytes, so + 8) == "vids", "not a video stream")
            require(tag(bytes, so + 12) == "DIB ", "not an uncompressed DIB stream")
            require(getLE(bytes, so + 40, 4) == nf, "strh length != avih frame count")
            so += 8 + 56
            require(tag(bytes, so) == "strf" && getLE(bytes, so + 4, 4) == 40, "missing strf")
            require(getLE(bytes, so + 8, 4) == 40, "bad BITMAPINFOHEADER size")
            require(getLE(bytes, so + 12, 4) == w && getLE(bytes, so + 16, 4) == h,
              "strf dims disagree with avih")
            require(getLE(bytes, so + 22, 2) == 24, "not 24 bpp")
            require(getLE(bytes, so + 24, 4) == 0, "not BI_RGB")
          }
          off += 8 + sz + (sz & 1)
        }
        require(sawStrl, "no strl LIST")
      }

      def parseMovi(start: Int, end: Int): Unit = {
        val rs = rowSize(w)
        var off = start
        while (off + 8 <= end) {
          val (t, sz) = (tag(bytes, off), getLE(bytes, off + 4, 4))
          require(off + 8 + sz <= end, "truncated movi chunk")
          if (t == "00db" || t == "00dc") {
            require(sz == rs * h, s"frame size $sz != ${rs * h}")
            frames :+= Raster.BottomUp(w, h, bytes, off + 8, rs)
          }
          off += 8 + sz + (sz & 1)
        }
      }

      var off = 12
      while (off + 8 <= bytes.length) {
        val (t, sz) = (tag(bytes, off), getLE(bytes, off + 4, 4))
        require(off + 8 + sz <= bytes.length, "truncated chunk")
        if (t == "LIST") {
          tag(bytes, off + 8) match {
            case "hdrl" => parseHdrl(off + 12, off + 8 + sz)
            case "movi" =>
              require(nf >= 0, "movi before hdrl")
              parseMovi(off + 12, off + 8 + sz)
            case _ => ()                       // unknown LIST: skip
          }
        }                                      // JUNK / idx1 / other: skip
        off += 8 + sz + (sz & 1)
      }
      require(w > 0 && h > 0, "no hdrl LIST")
      require(frames.size == nf, s"movi holds ${frames.size} frames, avih says $nf")
      DecodedAvi(w, h, frames)
    }
  }

  case class AviFeature(doc_id: Long, w: Int, h: Int, n_frames: Int,
                        n_sampled: Int, slum_sum: Long)

  /** q202: decode, uniformly sample (see [[Avi.sampledFrames]]) and sum
    * the sampled frames' luminance. */
  def aviFeature(id: Long, bytes: Array[Byte]): AviFeature = {
    val v = Avi.decode(bytes)
    val sampled = Avi.sampledFrames(v.frames.size)
    AviFeature(id, v.w, v.h, v.frames.size, sampled.size,
      sampled.map(f => v.frames(f).lumSum).sum)
  }

  /** q291: decode, sample (the q202 rule), dHash each sampled frame
    * (the q209 kernel) — the clip fingerprint is the ORDERED (hi, lo)
    * vector, 2 longs per sampled frame. */
  def clipHash(id: Long, bytes: Array[Byte]): ClipHashRow = {
    val v = Avi.decode(bytes)
    val fp = Avi.sampledFrames(v.frames.size).flatMap { f =>
      val (hi, lo) = PerceptualHash.dhash(v.frames(f))
      Seq(hi, lo)
    }
    ClipHashRow(id, fp, v.frames.size)
  }

  case class ClipHashRow(doc_id: Long, fp: Seq[Long], n_frames: Int)

  /** q291's duplicate-planting key: within each 12-run the video docs
    * (doc_id % 3 == 2 → residues 2, 5, 8, 11) share one clip payload —
    * the q209 sourceKey pattern lifted to clips, so the corpus contains
    * real duplicate-clip groups of up to four. */
  def clipKey(id: Long): Long = id - id % 12 + 2

  /** q202's oracle, bridged like the Q196-Q201 oracles; the
    * channel terms mirror [[Avi.r]]/[[Avi.g]]/[[Avi.b]] verbatim and the
    * sampled-frame rule mirrors [[Avi.sampledFrames]]. */
  private def aviSql: String = {
    def lum(f: String, x: String, y: String) =
      s"(doc_id*31 + ($f)*29 + ($x)*7 + ($y)*13) % 256 + " +
        s"(doc_id*17 + ($f)*23 + ($x)*11 + ($y)*5) % 256 + " +
        s"(doc_id*23 + ($f)*41 + ($x)*3 + ($y)*19) % 256"
    s"""WITH vid AS (SELECT doc_id, CAST(1 + doc_id % 11 AS INT) AS w,
      |                    CAST(1 + doc_id % 7 AS INT) AS h,
      |                    CAST(2 + doc_id % 9 AS INT) AS nf,
      |                    CAST(LEAST(4, 2 + doc_id % 9) AS INT) AS k
      |             FROM documents WHERE doc_id % 3 = 2),
      |js AS (SELECT UNNEST(range(4)) AS j), xs AS (SELECT UNNEST(range(11)) AS x), ys AS (SELECT UNNEST(range(7)) AS y),
      |sl AS (SELECT doc_id,
      |         CAST(SUM(${lum(s"(j*nf) // k", "x", "y")}) AS BIGINT) AS slum_sum
      |       FROM vid, js, xs, ys WHERE j < k AND x < w AND y < h GROUP BY 1)
      |SELECT v.doc_id, v.w, v.h, v.nf AS n_frames, v.k AS n_sampled, s.slum_sum
      |FROM vid v JOIN sl s ON s.doc_id = v.doc_id
      |ORDER BY v.doc_id""".stripMargin
  }

  val entries: Seq[Entry] = Seq(
    // REAL video decode + frame sampling (see [[Avi]]): fabricate
    // spec-compliant AVI bytes per video doc, round-trip through an
    // actual RIFF/hdrl/movi parser, uniformly sample <=4 frames, and let
    // the oracle recompute dims/frame-count/sampled-luminance from the
    // generative formulas — hash equality proves decoder == encoder⁻¹
    // including the sampling rule. Map-only, no shuffle before the
    // output sort; at 100 TB the bytes arrive in the binary column and
    // everything else is unchanged.
    Entry("q202_avi_frame_sample", aviSql) { (s, d) =>
      Multimodal.decoded(s, d, 2)(Avi.encode)(aviFeature).orderBy(col("doc_id"))
    },

    // Video perceptual dedup (SURVEY Q291; VERDICT r19 #4) — the q209 ∘
    // q202 composition a video corpus actually runs: re-encodes and
    // container variants of one clip must collapse to one training
    // example. Decode each clip (the q202 RIFF walk), uniformly sample
    // <= 4 frames (the q202 time-axis rule), dHash each sampled frame
    // (the q209 kernel: [[PerceptualHash.dhash]] over each frame's
    // [[Raster]]), and bucket clips by the ORDERED
    // frame-hash vector — dedup is then a plain group on the
    // fingerprint, the q60 posture applied to clips. Payloads are
    // fabricated from [[clipKey]] so the corpus genuinely contains
    // duplicate-clip groups for the op to find.
    // Bench-only: the fingerprint is a per-frame 64-bit threshold-bit
    // fold with no reasonable DuckDB replay at the CLIP level;
    // VideoDHashSpec recomputes every fingerprint ARITHMETICALLY from
    // the generative channel formulas (no codec, no decode — the
    // independent-formulation discipline) and pins the duplicate
    // grouping against the clipKey structure plus distinct-clip
    // separation.
    // The DECLARED fp column is the comma-joined decimal encoding of the
    // ordered frame-hash vector — an INJECTIVE scalar (equal strings <=>
    // equal vectors), so grouping semantics are unchanged while the
    // driver's flat-column harness can read the row (r20: the array
    // column crashed pandas sort_values; every other entry dumps flat
    // scalars).
    // Scale posture: decode + sample + hash are map-only per row; the
    // dedup group is ONE shuffle on the compact fingerprint key (8-64
    // bytes per clip regardless of clip size) — at 100 TB the bytes
    // arrive in the binary column, sampling bounds per-clip work, and
    // the group inherits the engine's skew/AQE remedies.
    Entry.benchOnly("q291_video_dhash_dedup") { (s, d) =>
      Multimodal.decoded(s, d, 2)(id => Avi.encode(clipKey(id)))(clipHash)
        .withColumn("fp",
          array_join(transform(col("fp"), _.cast("string")), ","))
        .withColumn("bucket_n", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("fp"))))
        .select(col("doc_id"), col("fp"), col("n_frames"), col("bucket_n"))
        .orderBy(col("doc_id"))
    }
  )
}
