package graft.multimodal

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.queries.Entry

/** Multimodal-column plumbing — SURVEY.md Q65 + the training-pipeline
  * decode/feature-extract path.
  *
  * Media payloads are opaque `binary` columns inside a typed struct
  * `mm(kind, text, bytes, vec)`; modality dispatch is plain `CASE WHEN`
  * so Catalyst prunes/pushes around it. A codec is a per-payload
  * function run by `Dataset.map` — [[decoded]] is the one fabricate →
  * decode path every media entry shares; a binding with per-partition
  * state (a JNI or ONNX session) would bring its own `mapPartitions` at
  * its call site. [[Bmp]] is a REAL BI_RGB BMP encoder/decoder (q196 —
  * pure byte arithmetic, full header validation, padded bottom-up row
  * walk, nearest-neighbor resample; oracle-checked as encoder⁻¹); [[Wav]]
  * (q197), [[Png]] (q198), [[Gif]] (q201) and [[Jpeg]] (q199 — JDK
  * `javax.imageio`) are real too, and every lossless raster decodes to
  * one [[Raster]]. [[FakeCodec]] remains, clearly marked, only for
  * formats whose bindings this container genuinely lacks — with G.711
  * (q208/q213) and FLAC (q282) real, that is video codecs and
  * MP3/AAC-class transform audio (MDCT + Huffman + psychoacoustics;
  * final disposition, SURVEY Q282) — deriving "features" from byte
  * lengths only.
  */
object Multimodal {

  private def T(s: SparkSession, dir: String, n: String): DataFrame = Tables(s, dir, n)

  /** The multimodal view: documents joined with their embeddings, payload
    * as binary, modality assigned deterministically by id. */
  def mmView(s: SparkSession, d: String): DataFrame = {
    val docs = T(s, d, "documents")
    val emb = T(s, d, "embeddings")
    docs.join(emb, col("vec_id") === col("doc_id"), "left")
      .select(col("doc_id"),
        struct(
          when(col("doc_id") % 3 === 0, "text")
            .when(col("doc_id") % 3 === 1, "image")
            .otherwise("audio").as("kind"),
          when(col("doc_id") % 3 === 0, col("text")).as("text"),
          when(col("doc_id") % 3 =!= 0, encode(col("text"), "UTF-8")).as("bytes"),
          col("embedding").as("vec")).as("mm"))
  }

  case class MmRow(doc_id: Long, kind: String, n_bytes: Int)
  case class MmFeature(doc_id: Long, kind: String, n_bytes: Int,
                       width: Int, height: Int, n_frames: Int)

  case class MmTransformed(doc_id: Long, kind: String,
                           out_w: Int, out_h: Int, n_sampled: Int)

  /** The one decode path of every media entry: each `doc_id % 3 =
    * residue` document gets a payload fabricated by `enc` (the fixture
    * corpus carries no media bytes; at 100 TB they arrive in the binary
    * column instead) and decoded by `dec` in one typed `Dataset.map` —
    * map-only, no shuffle. */
  def decoded[P, F <: Product : TypeTag](s: SparkSession, d: String, residue: Int)(
      enc: Long => P)(dec: (Long, P) => F): DataFrame = {
    import s.implicits._
    T(s, d, "documents").filter(col("doc_id") % 3 === residue)
      .select(col("doc_id")).as[Long]
      .map(id => dec(id, enc(id)))
      .toDF()
  }

  /** Stand-in for a real decoder binding (libjpeg/ffmpeg/JNI). The
    * arithmetic is a DETERMINISTIC FAKE of decode/resize/frame-sample —
    * swap the bodies for the real codec calls; the Spark plumbing stays
    * identical. */
  object FakeCodec {
    def decode(r: MmRow): MmFeature = {
      val width = 1 + r.n_bytes % 64
      val height = 1 + r.n_bytes % 48
      val frames = if (r.kind == "audio") 1 + r.n_bytes % 30 else 1
      MmFeature(r.doc_id, r.kind, r.n_bytes, width, height, frames)
    }

    /** Aspect-preserving fit into maxW x maxH (integer floor scaling),
      * plus uniform frame sampling down to at most maxFrames. */
    def transform(f: MmFeature, maxW: Int, maxH: Int, maxFrames: Int): MmTransformed = {
      val (outW, outH) =
        if (f.width <= maxW && f.height <= maxH) (f.width, f.height)
        else if (maxW.toLong * f.height <= maxH.toLong * f.width)
          (maxW, math.max(1, (f.height.toLong * maxW / f.width).toInt))
        else
          (math.max(1, (f.width.toLong * maxH / f.height).toInt), maxH)
      MmTransformed(f.doc_id, f.kind, outW, outH, math.min(maxFrames, f.n_frames))
    }
  }

  /** A REAL image codec for the one raster format that needs no external
    * library: BI_RGB (uncompressed, 24 bpp, bottom-up) Windows BMP — pure
    * byte arithmetic, so the decode path stops being a stub for this
    * format ([[FakeCodec]] remains, documented, only for the lib-bound
    * formats).
    *
    * The fixture corpus carries no media bytes, so payloads are FABRICATED
    * deterministically from doc_id (the q87-q89 derived-coordinate
    * pattern applied to pixels): width 1+id%13, height 1+id%9, channel
    * values linear-congruential in (id, x, y) mod 256. The entry then
    * round-trips REAL bytes — encode to a spec-compliant file, re-parse
    * the header (magic, pixel offset, dimensions, bpp, compression),
    * walk the padded bottom-up rows, nearest-neighbor resample — and the
    * DuckDB oracle recomputes the expected features from the generative
    * formula alone. Hash equality therefore proves the decoder is a
    * faithful inverse of the encoder over every doc, which is the
    * strongest codec-correctness statement available without media libs. */
  object Bmp {
    def width(id: Long): Int = (1 + id % 13).toInt
    def height(id: Long): Int = (1 + id % 9).toInt

    /** Channel formula shared (as SQL) with the oracle. */
    def r(id: Long, x: Int, y: Int): Int = ((id * 31 + x * 7 + y * 13) % 256).toInt
    def g(id: Long, x: Int, y: Int): Int = ((id * 17 + x * 11 + y * 5) % 256).toInt
    def b(id: Long, x: Int, y: Int): Int = ((id * 23 + x * 3 + y * 19) % 256).toInt

    import ByteIo.putLE

    /** Spec-compliant BI_RGB encode: 14-byte file header + 40-byte
      * BITMAPINFOHEADER + bottom-up rows padded to 4 bytes, pixels BGR. */
    def encode(id: Long): Array[Byte] = {
      val (w, h) = (width(id), height(id))
      val rowSize = ByteIo.rowSize24(w)
      val bytes = new Array[Byte](54 + rowSize * h)
      bytes(0) = 'B'; bytes(1) = 'M'
      putLE(bytes, 2, bytes.length, 4)   // file size
      putLE(bytes, 10, 54, 4)            // pixel-data offset
      putLE(bytes, 14, 40, 4)            // BITMAPINFOHEADER size
      putLE(bytes, 18, w, 4)
      putLE(bytes, 22, h, 4)             // positive => bottom-up
      putLE(bytes, 26, 1, 2)             // planes
      putLE(bytes, 28, 24, 2)            // bpp
      putLE(bytes, 30, 0, 4)             // BI_RGB (uncompressed)
      putLE(bytes, 34, rowSize * h, 4)   // image size
      for (y <- 0 until h; x <- 0 until w) {
        val off = 54 + (h - 1 - y) * rowSize + 3 * x
        bytes(off) = b(id, x, y).toByte
        bytes(off + 1) = g(id, x, y).toByte
        bytes(off + 2) = r(id, x, y).toByte
      }
      bytes
    }

    import ByteIo.getLE

    /** Parse a BI_RGB 24bpp BMP; every header field the format requires is
      * actually validated, so malformed bytes fail loudly, not garbage-out. */
    def decode(bytes: Array[Byte]): Raster.BottomUp = {
      require(bytes.length >= 54 && bytes(0) == 'B' && bytes(1) == 'M', "not a BMP")
      require(getLE(bytes, 2, 4) == bytes.length, "file-size field mismatch")
      val offset = getLE(bytes, 10, 4)
      val w = getLE(bytes, 18, 4)
      val h = getLE(bytes, 22, 4)
      require(getLE(bytes, 28, 2) == 24, "not 24 bpp")
      require(getLE(bytes, 30, 4) == 0, "not BI_RGB")
      val rowSize = ByteIo.rowSize24(w)
      require(offset + rowSize * h <= bytes.length, "truncated pixel data")
      Raster.BottomUp(w, h, bytes, offset, rowSize)
    }
  }

  /** The audio twin of [[Bmp]]: RIFF/WAVE PCM (16-bit mono) — the one
    * audio container needing no external library. Same proof shape as
    * q196: deterministic samples fabricated from doc_id, encoded to a
    * spec-compliant file (with a decoy LIST chunk on even ids so the
    * decoder's chunk WALK is exercised, not just fixed offsets), then
    * re-parsed and feature-extracted; the oracle recomputes features from
    * the generative formula, so hash equality proves decoder == encoder⁻¹. */
  object Wav {
    val sampleRate = 8000

    def nSamples(id: Long): Int = (16 + id % 50).toInt
    /** Sample formula shared (as SQL) with the oracle: range ±2000. */
    def sample(id: Long, i: Int): Int = ((id * 37 + i * 101) % 4001).toInt - 2000

    import ByteIo.{putLE, putTag}

    def encode(id: Long): Array[Byte] =
      encodePcm(Array.tabulate(nSamples(id))(i => sample(id, i)), withDecoy = id % 2 == 0)

    /** The container layer alone: any i16 sample stream to a
      * spec-compliant PCM file (q204's tone corpus reuses it). */
    def encodePcm(samples: Array[Int], withDecoy: Boolean): Array[Byte] = {
      val n = samples.length
      val decoy = if (withDecoy) 12 else 0     // LIST chunk: header + 4 bytes
      val dataSize = 2 * n
      val bytes = new Array[Byte](44 + decoy + dataSize)
      putTag(bytes, 0, "RIFF"); putLE(bytes, 4, bytes.length - 8, 4)
      putTag(bytes, 8, "WAVE")
      putTag(bytes, 12, "fmt "); putLE(bytes, 16, 16, 4)
      putLE(bytes, 20, 1, 2)                   // PCM
      putLE(bytes, 22, 1, 2)                   // mono
      putLE(bytes, 24, sampleRate, 4)
      putLE(bytes, 28, sampleRate * 2, 4)      // byte rate
      putLE(bytes, 32, 2, 2)                   // block align
      putLE(bytes, 34, 16, 2)                  // bits per sample
      var off = 36
      if (decoy > 0) {                          // chunk the walk must skip
        putTag(bytes, off, "LIST"); putLE(bytes, off + 4, 4, 4)
        putTag(bytes, off + 8, "INFO"); off += 12
      }
      putTag(bytes, off, "data"); putLE(bytes, off + 4, dataSize, 4)
      (0 until n).foreach(i => putLE(bytes, off + 8 + 2 * i, samples(i) & 0xffff, 2))
      bytes
    }

    import ByteIo.{getLE, tag}

    final case class DecodedWav(sampleRate: Int, samples: Array[Int])

    /** Parse PCM WAV: validate RIFF/WAVE + fmt (PCM, mono, 16-bit), then
      * WALK the chunk list to `data` (skipping unknown chunks — the part
      * a fixed-offset reader gets wrong on real files). */
    def decode(bytes: Array[Byte]): DecodedWav = {
      require(bytes.length >= 44 && tag(bytes, 0) == "RIFF" && tag(bytes, 8) == "WAVE",
        "not a RIFF/WAVE file")
      require(getLE(bytes, 4, 4) == bytes.length - 8, "RIFF size field mismatch")
      require(tag(bytes, 12) == "fmt " && getLE(bytes, 16, 4) == 16, "missing fmt chunk")
      require(getLE(bytes, 20, 2) == 1, "not PCM")
      require(getLE(bytes, 22, 2) == 1, "not mono")
      require(getLE(bytes, 34, 2) == 16, "not 16-bit")
      val sr = getLE(bytes, 24, 4)
      var off = 36
      while (tag(bytes, off) != "data") {
        off += 8 + getLE(bytes, off + 4, 4)    // skip unknown chunk
        require(off + 8 <= bytes.length, "no data chunk")
      }
      val dataSize = getLE(bytes, off + 4, 4)
      require(off + 8 + dataSize <= bytes.length && dataSize % 2 == 0, "truncated data")
      val samples = Array.tabulate(dataSize / 2) { i =>
        val u = getLE(bytes, off + 8 + 2 * i, 2)
        if (u >= 0x8000) u - 0x10000 else u    // sign-extend LE i16
      }
      DecodedWav(sr, samples)
    }

    def feature(id: Long, bytes: Array[Byte]): WavFeature = {
      val wav = decode(bytes)
      WavFeature(id, wav.samples.length, wav.sampleRate,
        wav.samples.map(s => math.abs(s).toLong).sum,
        wav.samples.map(s => s.toLong * s).sum)
    }
  }

  case class WavFeature(doc_id: Long, n_samples: Int, sr: Int,
                        abs_sum: Long, energy_sum: Long)

  /** The compressed-raster sibling of [[Bmp]]: PNG (8-bit truecolor RGB,
    * non-interlaced) — REAL in this container because the JDK ships the
    * zlib half (`java.util.zip` Deflater/Inflater/CRC32); the rest of the
    * format (chunk grammar, big-endian fields, the five scanline filters)
    * is pure byte arithmetic. Pixel content reuses [[Bmp]]'s generative
    * channel formulas (the oracle shares the lum fragment) under PNG-sized
    * dims, so what this entry proves is the CONTAINER work: the encoder
    * varies the filter type per row (`(y + id) % 5` — all five filters
    * occur), splits IDAT across two chunks on `id % 4 = 1` (payload
    * reassembly exercised), and inserts a decoy ancillary tEXt chunk on
    * even ids (chunk walk exercised); every chunk CRC is validated on
    * decode. PngCodecSpec additionally pins the decoder against
    * `javax.imageio` — an independent JDK PNG reader — pixel for pixel. */
  object Png {
    def width(id: Long): Int = (1 + id % 16).toInt
    def height(id: Long): Int = (1 + id % 11).toInt

    val signature: Array[Byte] =
      Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)

    private def be32(v: Int): Array[Byte] = Array(
      ((v >>> 24) & 0xff).toByte, ((v >>> 16) & 0xff).toByte,
      ((v >>> 8) & 0xff).toByte, (v & 0xff).toByte)

    private def beInt(a: Array[Byte], off: Int): Int =
      ((a(off) & 0xff) << 24) | ((a(off + 1) & 0xff) << 16) |
        ((a(off + 2) & 0xff) << 8) | (a(off + 3) & 0xff)

    /** PNG spec §9: predictor = whichever of (left, up, upper-left) is
      * closest to left + up − upper-left, ties favoring left then up. */
    private def paeth(a: Int, b: Int, c: Int): Int = {
      val p = a + b - c
      val (pa, pb, pc) = (math.abs(p - a), math.abs(p - b), math.abs(p - c))
      if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
    }

    private def chunk(out: java.io.ByteArrayOutputStream,
                      typ: String, data: Array[Byte]): Unit = {
      val t = typ.getBytes("US-ASCII")
      out.write(be32(data.length)); out.write(t); out.write(data)
      val c = new java.util.zip.CRC32()
      c.update(t); c.update(data)
      out.write(be32(c.getValue.toInt))
    }

    def encode(id: Long): Array[Byte] = {
      val (w, h) = (width(id), height(id))
      val stride = 3 * w
      val raw = Array.tabulate(h, stride) { (y, i) =>
        val x = i / 3
        (i % 3 match {
          case 0 => Bmp.r(id, x, y)
          case 1 => Bmp.g(id, x, y)
          case _ => Bmp.b(id, x, y)
        }).toByte
      }
      val filtered = new java.io.ByteArrayOutputStream()
      for (y <- 0 until h) {
        val ft = ((y + id) % 5).toInt
        filtered.write(ft)
        val prior = if (y == 0) new Array[Byte](stride) else raw(y - 1)
        for (i <- 0 until stride) {
          val rv = raw(y)(i) & 0xff
          val left = if (i >= 3) raw(y)(i - 3) & 0xff else 0
          val up = prior(i) & 0xff
          val ul = if (i >= 3) prior(i - 3) & 0xff else 0
          val f = ft match {
            case 0 => rv
            case 1 => rv - left
            case 2 => rv - up
            case 3 => rv - (left + up) / 2
            case _ => rv - paeth(left, up, ul)
          }
          filtered.write(f & 0xff)
        }
      }
      val defl = new java.util.zip.Deflater()
      defl.setInput(filtered.toByteArray); defl.finish()
      val idat = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](512)
      while (!defl.finished()) idat.write(buf, 0, defl.deflate(buf))
      defl.end()

      val out = new java.io.ByteArrayOutputStream()
      out.write(signature)
      val ihdr = new Array[Byte](13)
      System.arraycopy(be32(w), 0, ihdr, 0, 4)
      System.arraycopy(be32(h), 0, ihdr, 4, 4)
      ihdr(8) = 8; ihdr(9) = 2   // bit depth 8, color type 2 (RGB)
      chunk(out, "IHDR", ihdr)
      if (id % 2 == 0)           // decoy ancillary chunk the walk must skip
        chunk(out, "tEXt", "Comment\u0000graft".getBytes("ISO-8859-1"))
      val ib = idat.toByteArray
      if (id % 4 == 1 && ib.length > 1) {   // IDAT may span chunks
        chunk(out, "IDAT", ib.take(ib.length / 2))
        chunk(out, "IDAT", ib.drop(ib.length / 2))
      } else chunk(out, "IDAT", ib)
      chunk(out, "IEND", Array.emptyByteArray)
      out.toByteArray
    }

    /** Full critical-chunk parse: CRC-validated walk, IHDR validation,
      * multi-chunk IDAT reassembly, zlib inflate, and the inverse of all
      * five scanline filters. */
    def decode(bytes: Array[Byte]): Raster.Packed = {
      require(bytes.length >= 8 &&
        signature.indices.forall(i => bytes(i) == signature(i)), "not a PNG")
      var off = 8
      var w = -1; var h = -1
      val idat = new java.io.ByteArrayOutputStream()
      var sawEnd = false
      while (!sawEnd) {
        require(off + 8 <= bytes.length, "truncated chunk header")
        val len = beInt(bytes, off)
        val typ = new String(bytes, off + 4, 4, "US-ASCII")
        require(len >= 0 && off + 12 + len <= bytes.length, s"truncated $typ chunk")
        val c = new java.util.zip.CRC32()
        c.update(bytes, off + 4, 4 + len)
        require(c.getValue.toInt == beInt(bytes, off + 8 + len), s"bad CRC in $typ")
        typ match {
          case "IHDR" =>
            require(len == 13, "bad IHDR length")
            w = beInt(bytes, off + 8); h = beInt(bytes, off + 12)
            require(bytes(off + 16) == 8, "not 8-bit")
            require(bytes(off + 17) == 2, "not truecolor RGB")
            require(bytes(off + 18) == 0 && bytes(off + 19) == 0 &&
              bytes(off + 20) == 0, "unsupported compression/filter/interlace")
          case "IDAT" => idat.write(bytes, off + 8, len)
          case "IEND" => sawEnd = true
          case _      => ()   // ancillary chunk: skip (the decoy path)
        }
        off += 12 + len
      }
      require(w > 0 && h > 0, "missing IHDR")
      val inf = new java.util.zip.Inflater()
      inf.setInput(idat.toByteArray)
      val stride = 3 * w
      val filtered = new Array[Byte]((stride + 1) * h)
      var got = 0
      while (got < filtered.length && !inf.finished()) {
        val n = inf.inflate(filtered, got, filtered.length - got)
        require(n > 0 || inf.finished(), "bad zlib stream")
        got += n
      }
      inf.end()
      require(got == filtered.length, "short pixel stream")
      val pix = new Array[Byte](stride * h)
      for (y <- 0 until h) {
        val ft = filtered(y * (stride + 1)) & 0xff
        require(ft <= 4, s"bad filter type $ft")
        for (i <- 0 until stride) {
          val f = filtered(y * (stride + 1) + 1 + i) & 0xff
          val left = if (i >= 3) pix(y * stride + i - 3) & 0xff else 0
          val up = if (y > 0) pix((y - 1) * stride + i) & 0xff else 0
          val ul = if (y > 0 && i >= 3) pix((y - 1) * stride + i - 3) & 0xff else 0
          val rv = ft match {
            case 0 => f
            case 1 => f + left
            case 2 => f + up
            case 3 => f + (left + up) / 2
            case _ => f + paeth(left, up, ul)
          }
          pix(y * stride + i) = (rv & 0xff).toByte
        }
      }
      Raster.Packed(w, h, pix)
    }
  }

  /** REAL lossy-raster decode for the most common image format: JPEG via
    * the JDK's own `javax.imageio` reader — the same no-external-library
    * argument that justified q198's PNG imageio cross-pin, now carrying
    * the decode itself. Two real layers:
    *
    *   1. A from-scratch JFIF SEGMENT WALK ([[headerDims]]): SOI check,
    *      marker/length iteration over APPn/DQT/DHT/COM, stop at SOF0/1/2
    *      for (precision, height, width, components) — validated, loud on
    *      malformed bytes. Exact by construction (the container header is
    *      lossless), so the q199 CORRECTNESS entry hash-checks it against
    *      the generative dimension formula over every image doc: hash
    *      equality proves the walk reads real ImageIO-written JPEG bytes
    *      correctly (the imageio-reference pin VERDICT r11 asked for).
    *   2. The full pixel decode via `ImageIO.read` (Huffman+IDCT — the
    *      JDK's independent implementation). Pixels are LOSSY, so their
    *      features cannot be hash-exact; the entry instead projects
    *      `lum_ok` — mean-luminance error vs the generative formula
    *      within a generous bound the oracle asserts TRUE — and
    *      JpegCodecSpec pins a tighter per-image bound plus
    *      headerDims == ImageIO dims and loud malformed failure.
    *
    * Same fabrication seam as q196-q198: deterministic pixels from doc_id
    * (dims 1+id%15 x 1+id%10, distinct from BMP/PNG so a dimension mixup
    * cannot cancel), encoded by `ImageIO.write` at its default quality.
    * FakeCodec now covers only genuinely-unavailable formats (video,
    * compressed audio). */
  object Jpeg {
    def width(id: Long): Int = (1 + id % 15).toInt
    def height(id: Long): Int = (1 + id % 10).toInt

    /** ImageIO defaults to a DISK-backed stream cache — a temp file
      * created and deleted per encode/decode call, which dominates the
      * cost of 20k tiny-image round-trips. Byte-array streams need no
      * spill; cache in memory (process-wide, idempotent). */
    private lazy val memCache: Unit = javax.imageio.ImageIO.setUseCache(false)

    /** Encode the generative image as baseline JPEG via the JDK writer.
      * Deterministic per JVM (fixed default quality tables). */
    def encode(id: Long): Array[Byte] = {
      memCache
      val (w, h) = (width(id), height(id))
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w)
        img.setRGB(x, y,
          (Bmp.r(id, x, y) << 16) | (Bmp.g(id, x, y) << 8) | Bmp.b(id, x, y))
      val out = new java.io.ByteArrayOutputStream()
      require(javax.imageio.ImageIO.write(img, "jpg", out), "no JDK JPEG writer")
      out.toByteArray
    }

    /** From-scratch JFIF segment walk to the frame header: returns
      * (width, height) from SOF0/SOF1/SOF2. Validates SOI, marker
      * structure, segment lengths, and the SOF payload; loud on anything
      * malformed. The walk must skip APPn/DQT/DHT/COM segments by their
      * declared big-endian lengths — a fixed-offset reader fails real
      * files (the q197 decoy-chunk argument). */
    def headerDims(bytes: Array[Byte]): (Int, Int) = {
      // bounds-checked accessors: every malformed input must surface as
      // the contractually-pinned IllegalArgumentException, never an
      // ArrayIndexOutOfBounds from a read past the end (the fill-byte
      // skip below can advance beyond the outer loop's guard)
      def u8(i: Int): Int = { require(i < bytes.length, "truncated JPEG"); bytes(i) & 0xff }
      def u16(i: Int): Int = (u8(i) << 8) | u8(i + 1)
      require(bytes.length >= 4 && u8(0) == 0xff && u8(1) == 0xd8, "not a JPEG (no SOI)")
      var off = 2
      while (off + 4 <= bytes.length) {
        require(u8(off) == 0xff, f"bad marker alignment at $off (0x${u8(off)}%02x)")
        var marker = u8(off + 1)
        // fill bytes: 0xFF may be padded with more 0xFFs before the marker
        while (marker == 0xff && off + 2 < bytes.length) { off += 1; marker = u8(off + 1) }
        require(marker != 0xff, "truncated JPEG: fill-byte run reaches the end")
        require(marker != 0xd8 && marker != 0x01 && !(marker >= 0xd0 && marker <= 0xd7),
          f"unexpected standalone marker 0x$marker%02x before frame header")
        val len = u16(off + 2)
        require(len >= 2 && off + 2 + len <= bytes.length, f"truncated segment 0x$marker%02x")
        if (marker == 0xc0 || marker == 0xc1 || marker == 0xc2) {
          require(len >= 8, "short SOF payload")
          val precision = u8(off + 4)
          require(precision == 8, s"unsupported precision $precision")
          val h = u16(off + 5); val w = u16(off + 7)
          val ncomp = u8(off + 9)
          require(w > 0 && h > 0, "degenerate SOF dimensions")
          require(ncomp == 1 || ncomp == 3, s"unsupported component count $ncomp")
          require(len == 8 + 3 * ncomp, "SOF length/component mismatch")
          return (w, h)
        }
        require(marker != 0xda && marker != 0xd9, "reached SOS/EOI without a frame header")
        off += 2 + len
      }
      throw new IllegalArgumentException("truncated JPEG: no frame header found")
    }

    /** Full pixel decode via the JDK's independent JPEG implementation. */
    def decodePixels(bytes: Array[Byte]): java.awt.image.BufferedImage = {
      memCache
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      require(img != null, "JDK JPEG reader rejected the bytes")
      img
    }

    /** Mean (r+g+b) luminance of a decoded image. */
    def meanLum(img: java.awt.image.BufferedImage): Double = {
      var sum = 0L
      for (y <- 0 until img.getHeight; x <- 0 until img.getWidth) {
        val p = img.getRGB(x, y)
        sum += ((p >> 16) & 0xff) + ((p >> 8) & 0xff) + (p & 0xff)
      }
      sum.toDouble / (img.getWidth * img.getHeight)
    }

    /** Mean (r+g+b) luminance of the generative source image. */
    def formulaMeanLum(id: Long): Double = {
      val (w, h) = (width(id), height(id))
      var sum = 0L
      for (y <- 0 until h; x <- 0 until w)
        sum += Bmp.r(id, x, y) + Bmp.g(id, x, y) + Bmp.b(id, x, y)
      sum.toDouble / (w * h)
    }

    /** Entry-level tolerance on mean-lum drift through the lossy
      * round-trip (per-channel mean error is DC-quantization-bounded;
      * JpegCodecSpec pins the measured envelope, this is ~3x margin). */
    val lumTolerance: Double = 60.0

    /** Dims from OUR segment walk, pixels from the JDK's Huffman+IDCT;
      * the two must agree on the dims. */
    def feature(id: Long, bytes: Array[Byte]): JpegFeature = {
      val (w, h) = headerDims(bytes)
      val img = decodePixels(bytes)
      require(img.getWidth == w && img.getHeight == h,
        s"header walk ($w x $h) disagrees with ImageIO (${img.getWidth} x ${img.getHeight})")
      JpegFeature(id, w, h, math.abs(meanLum(img) - formulaMeanLum(id)) <= lumTolerance)
    }
  }

  /** REAL palette-raster decode: GIF87a/89a with a from-scratch LZW layer
    * BOTH directions — after PNG's zlib (q198), the second actual
    * compression algorithm in the codec suite, this one implemented
    * rather than JDK-delegated: variable-width code packing (LSB-first),
    * dictionary growth with the spec's width-bump schedule, the KwKwK
    * corner, clear/EOI codes. Our tiny generative images hold ≤ 256
    * distinct colors, so an exact palette makes the GIF round-trip
    * LOSSLESS — the oracle hash-checks features against the generative
    * formula exactly like BMP/PNG, and GifCodecSpec additionally pins the
    * decoder pixel-for-pixel against `javax.imageio`'s independent GIF
    * reader so a cancelling encoder/decoder bug pair cannot hide. The
    * encoder plants a comment-extension decoy on even ids (the sub-block
    * walk a fixed-offset reader fails) and splits LZW data into 32-byte
    * sub-blocks on id%4==1 (reassembly exercised). Dims 1+id%14 x
    * 1+id%12, distinct from BMP/PNG/JPEG so a dimension mixup cannot
    * cancel. */
  object Gif {
    def width(id: Long): Int = (1 + id % 14).toInt
    def height(id: Long): Int = (1 + id % 12).toInt

    /** Pixel source: the shared generative channels, except ids % 5 == 0
      * which quantize each channel to {0, 255} (≤ 8-color palette). The
      * near-random full-palette images compress as mostly-literal codes,
      * so without this branch the LZW dictionary, code-width bumps and
      * KwKwK corner would go unexercised by the oracle-checked corpus —
      * the quantized ids force codeSize 2-3 streams with hundreds of
      * dictionary strings and several width crossings. */
    def rgbAt(id: Long, x: Int, y: Int): (Int, Int, Int) = {
      val (r, g, b) = (Bmp.r(id, x, y), Bmp.g(id, x, y), Bmp.b(id, x, y))
      if (id % 5 == 0) ((r / 128) * 255, (g / 128) * 255, (b / 128) * 255) else (r, g, b)
    }

    /** LSB-first variable-width bit packer (GIF's LZW byte order). */
    private final class BitWriter {
      private val out = new java.io.ByteArrayOutputStream()
      private var cur = 0
      private var nbits = 0
      def put(code: Int, width: Int): Unit = {
        cur |= code << nbits; nbits += width
        while (nbits >= 8) { out.write(cur & 0xff); cur >>>= 8; nbits -= 8 }
      }
      def finish(): Array[Byte] = { if (nbits > 0) out.write(cur & 0xff); out.toByteArray }
    }

    private final class BitReader(data: Array[Byte]) {
      private var pos = 0
      private var cur = 0
      private var nbits = 0
      def get(width: Int): Int = {
        while (nbits < width) {
          require(pos < data.length, "LZW stream ran out of bits")
          cur |= (data(pos) & 0xff) << nbits; pos += 1; nbits += 8
        }
        val v = cur & ((1 << width) - 1)
        cur >>>= width; nbits -= width
        v
      }
    }

    /** GIF-variant LZW compress of a palette-index stream. Width growth
      * follows GIF's DEFERRED schedule (the gifcompr.c/giflib pairing —
      * also what `javax.imageio` speaks, GifCodecSpec's cross-pin): after
      * WRITING each code, bump when the pre-add table size has reached
      * the current width's capacity. The first code after the table
      * fills still fits the old width (it can reference at most code
      * 2^cw - 1), which is why the bump lands one code later than a
      * naive "bump at the add" schedule — a naive pair self-roundtrips
      * but desynchronizes from real decoders at every width crossing. */
    private[multimodal] def lzwEncode(indices: Array[Int], codeSize: Int): Array[Byte] = {
      val clear = 1 << codeSize
      val eoi = clear + 1
      val bw = new BitWriter
      var cw = codeSize + 1
      var next = eoi + 1
      def put(code: Int): Unit = {
        bw.put(code, cw)
        if (next > (1 << cw) - 1 && cw < 12) cw += 1
      }
      put(clear)
      val dict = scala.collection.mutable.HashMap.empty[(Int, Int), Int]
      var w = indices(0)
      for (k <- indices.iterator.drop(1)) {
        dict.get((w, k)) match {
          case Some(c) => w = c
          case None =>
            put(w)
            // table full at 4096: stop adding and keep coding from the
            // frozen dictionary ("deferred clear" — what real decoders,
            // ours included, expect; emitting codes past 4096 would be
            // an invalid stream)
            if (next < 4096) { dict((w, k)) = next; next += 1 }
            w = k
        }
      }
      put(w)
      put(eoi)
      bw.finish()
    }

    /** GIF-variant LZW decompress; inverse of [[lzwEncode]] and of any
      * spec-conforming encoder (width bumps, KwKwK, clear handling). */
    private[multimodal] def lzwDecode(data: Array[Byte], codeSize: Int,
                                      nPixels: Int): Array[Int] = {
      val clear = 1 << codeSize
      val eoi = clear + 1
      val br = new BitReader(data)
      val out = new Array[Int](nPixels)
      var got = 0
      var cw = codeSize + 1
      // The classic prefix-table dictionary (giflib's representation):
      // entry = (prefix entry, last symbol), plus the memoized first
      // symbol and total length. O(1) per add and O(|string|) per
      // output — a List-of-symbols dictionary would copy the whole
      // prefix string on every add, quadratic on real-sized images.
      val prefix = new Array[Int](4096)
      val suffix = new Array[Int](4096)
      val first = new Array[Int](4096)
      val stack = new Array[Int](4097)
      var next = eoi + 1
      // giflib's RunningCode: counts codes READ, mirroring the encoder's
      // pre-add table size (the decoder's own dictionary additions lag
      // one code behind, so width bookkeeping cannot key off `next`)
      var running = eoi + 1
      var prev = -1
      def reset(): Unit = {
        var i = 0
        while (i < clear) { prefix(i) = -1; suffix(i) = i; first(i) = i; i += 1 }
        next = eoi + 1; cw = codeSize + 1; prev = -1; running = eoi + 1
      }
      // write code's string (optionally + one extra trailing symbol, the
      // KwKwK case) into `out` via the reversal stack
      def emit(code: Int, extra: Int): Unit = {
        var top = 0
        if (extra >= 0) { stack(top) = extra; top += 1 }
        var c = code
        while (c != -1) { stack(top) = suffix(c); top += 1; c = prefix(c) }
        require(got + top <= nPixels, "LZW produced too many pixels")
        while (top > 0) { top -= 1; out(got) = stack(top); got += 1 }
      }
      reset()
      var done = false
      while (!done) {
        val code = br.get(cw)
        running += 1
        if (running > (1 << cw) && cw < 12) cw += 1   // deferred, see [[lzwEncode]]
        if (code == clear) reset()
        else if (code == eoi) done = true
        else {
          require(code < next || (code == next && prev >= 0), s"bad LZW code $code")
          val isKwK = code == next
          if (isKwK) emit(prev, first(prev)) else emit(code, -1)
          if (prev >= 0 && next < 4096) {
            prefix(next) = prev
            suffix(next) = if (isKwK) first(prev) else first(code)
            first(next) = first(prev)
            next += 1
          }
          prev = code
        }
      }
      require(got == nPixels, s"LZW stream produced $got of $nPixels pixels")
      out
    }

    /** Spec-compliant GIF89a encode: exact first-seen-order palette
      * (lossless by construction for ≤256-color images), global color
      * table, decoy comment extension on even ids, LZW-compressed image
      * data in sub-blocks (32-byte blocks on id%4==1). */
    def encode(id: Long): Array[Byte] = {
      val (w, h) = (width(id), height(id))
      val px = for (y <- 0 until h; x <- 0 until w) yield rgbAt(id, x, y)
      val palette = px.distinct.toIndexedSeq
      require(palette.size <= 256, "generative image exceeds GIF palette")
      val index = palette.zipWithIndex.toMap
      val indices = px.map(index).toArray
      // GCT size field n: table holds 2^(n+1) entries >= palette size
      var n = 0
      while ((1 << (n + 1)) < palette.size) n += 1
      val codeSize = math.max(2, n + 1)

      val out = new java.io.ByteArrayOutputStream()
      out.write("GIF89a".getBytes("US-ASCII"))
      out.write(w & 0xff); out.write(w >> 8)            // LSD, LE16
      out.write(h & 0xff); out.write(h >> 8)
      out.write(0x80 | (7 << 4) | n)                    // GCT present, size n
      out.write(0); out.write(0)                        // bg index, aspect
      for (i <- 0 until (1 << (n + 1))) {
        val (r, g, b) = if (i < palette.size) palette(i) else (0, 0, 0)
        out.write(r); out.write(g); out.write(b)
      }
      if (id % 2 == 0) {                                // decoy the walk must skip
        out.write(0x21); out.write(0xfe)                // comment extension
        out.write(5); out.write("graft".getBytes("US-ASCII"))
        out.write(3); out.write("gif".getBytes("US-ASCII"))
        out.write(0)                                    // block terminator
      }
      out.write(0x2c)                                   // image descriptor
      out.write(0); out.write(0); out.write(0); out.write(0)  // left, top
      out.write(w & 0xff); out.write(w >> 8)
      out.write(h & 0xff); out.write(h >> 8)
      out.write(0)                                      // no LCT, no interlace
      out.write(codeSize)
      val lzw = lzwEncode(indices, codeSize)
      val blockSize = if (id % 4 == 1) 32 else 255      // force reassembly sometimes
      lzw.grouped(blockSize).foreach { blk =>
        out.write(blk.length); out.write(blk)
      }
      out.write(0)                                      // data terminator
      out.write(0x3b)                                   // trailer
      out.toByteArray
    }

    /** Full parse: signature, logical screen descriptor, global/local
      * color tables, extension sub-block walk, LZW decode, palette
      * mapping. Every structural field is validated — malformed bytes
      * fail loudly, never garbage-out. */
    def decode(bytes: Array[Byte]): Raster.Packed = {
      def u8(i: Int): Int = { require(i < bytes.length, "truncated GIF"); bytes(i) & 0xff }
      def u16(i: Int): Int = u8(i) | (u8(i + 1) << 8)
      val sig = new String(bytes.slice(0, 6), "US-ASCII")
      require(sig == "GIF89a" || sig == "GIF87a", "not a GIF")
      val sw = u16(6); val sh = u16(8)
      val packed = u8(10)
      var off = 13
      var gct: IndexedSeq[(Int, Int, Int)] = IndexedSeq.empty
      if ((packed & 0x80) != 0) {
        val sz = 1 << ((packed & 7) + 1)
        gct = (0 until sz).map(i => (u8(off + 3 * i), u8(off + 3 * i + 1), u8(off + 3 * i + 2)))
        off += 3 * sz
      }
      while (u8(off) == 0x21) {                 // extension: label + sub-blocks
        off += 2
        while (u8(off) != 0) off += 1 + u8(off)
        off += 1
      }
      require(u8(off) == 0x2c, f"expected image descriptor, got 0x${u8(off)}%02x")
      val w = u16(off + 5); val h = u16(off + 7)
      require(w == sw && h == sh && w > 0 && h > 0, "screen/image dimension mismatch")
      val ipacked = u8(off + 9)
      require((ipacked & 0x40) == 0, "interlaced GIF unsupported")
      off += 10
      var palette = gct
      if ((ipacked & 0x80) != 0) {
        val sz = 1 << ((ipacked & 7) + 1)
        palette = (0 until sz).map(i => (u8(off + 3 * i), u8(off + 3 * i + 1), u8(off + 3 * i + 2)))
        off += 3 * sz
      }
      require(palette.nonEmpty, "no color table")
      val codeSize = u8(off); off += 1
      require(codeSize >= 2 && codeSize <= 8, s"bad LZW min code size $codeSize")
      val data = new java.io.ByteArrayOutputStream()
      while (u8(off) != 0) {                    // image data sub-blocks
        val len = u8(off)
        require(off + 1 + len <= bytes.length, "truncated image data block")
        data.write(bytes, off + 1, len)
        off += 1 + len
      }
      off += 1
      require(u8(off) == 0x3b, "missing GIF trailer")
      val indices = lzwDecode(data.toByteArray, codeSize, w * h)
      val pix = new Array[Byte](3 * w * h)
      indices.zipWithIndex.foreach { case (ci, i) =>
        require(ci < palette.size, s"palette index $ci out of range")
        val (r, g, b) = palette(ci)
        pix(3 * i) = r.toByte; pix(3 * i + 1) = g.toByte; pix(3 * i + 2) = b.toByte
      }
      Raster.Packed(w, h, pix)
    }

    /** [[rgbAt]]'s channel sum as SQL over (x, y), for the [[Raster.sql]]
      * oracle: ids % 5 == 0 quantize each channel to {0, 255}. */
    def lumSql(x: String, y: String): String = {
      def ch(k1: Int, k2: Int, k3: Int) = {
        val raw = s"(doc_id*$k1 + ($x)*$k2 + ($y)*$k3) % 256"
        s"(CASE WHEN doc_id % 5 = 0 THEN (($raw) // 128) * 255 ELSE $raw END)"
      }
      s"${ch(31, 7, 13)} + ${ch(17, 11, 5)} + ${ch(23, 3, 19)}"
    }
  }

  case class JpegFeature(doc_id: Long, w: Int, h: Int, lum_ok: Boolean)

  /** q197's oracle, bridged like [[Raster.sql]]; the sample
    * term mirrors [[Wav.sample]] verbatim. */
  private def wavSql: String =
    s"""WITH au AS (SELECT doc_id, CAST(16 + doc_id % 50 AS INT) AS n
      |            FROM documents WHERE doc_id % 3 = 2),
      |iser AS (SELECT UNNEST(range(66)) AS i),
      |sm AS (SELECT doc_id, n, (doc_id*37 + i*101) % 4001 - 2000 AS s
      |       FROM au, iser WHERE i < n)
      |SELECT doc_id, CAST(n AS INT) AS n_samples, CAST(8000 AS INT) AS sr,
      |  CAST(SUM(ABS(s)) AS BIGINT) AS abs_sum,
      |  CAST(SUM(s*s) AS BIGINT) AS energy_sum
      |FROM sm GROUP BY doc_id, n ORDER BY doc_id""".stripMargin

  val entries: Seq[Entry] = Seq(

    // REAL media decode (see [[Bmp]]): fabricate spec-compliant BMP bytes
    // per image doc, round-trip them through an actual header/pixel-walk
    // parser + nearest-neighbor resample, and let the oracle recompute the
    // features from the generative formula — hash equality proves
    // decoder == encoder⁻¹. Scale posture: identical to q73 (map-only, one
    // pass, no shuffle before the output sort); bytes at 100 TB arrive in
    // the binary column instead of being fabricated, everything else is
    // unchanged.
    Entry("q196_bmp_decode", Raster.sql(13, 9)) { (s, d) =>
      decoded(s, d, 1)(Bmp.encode)((id, b) => RasterFeature.of(id, Bmp.decode(b)))
        .orderBy(col("doc_id"))
    },

    // REAL audio decode (see [[Wav]]): the q196 proof shape on the audio
    // modality — PCM WAV bytes round-tripped through an actual RIFF
    // chunk-walking parser (decoy LIST chunk on even ids keeps the walk
    // honest), sample-level features (count, rate, |s| sum, energy)
    // recomputed by the oracle from the generative formula. Map-only, no
    // shuffle before the output sort; at 100 TB the bytes arrive in the
    // binary column and everything else is unchanged.
    Entry("q197_wav_decode", wavSql) { (s, d) =>
      decoded(s, d, 2)(Wav.encode)(Wav.feature).orderBy(col("doc_id"))
    },

    // REAL compressed-raster decode (see [[Png]]): q196's proof shape on
    // a format with an actual compression layer — zlib (JDK-provided) +
    // the five PNG scanline filters + CRC-validated chunk walk with
    // multi-chunk IDAT reassembly. The oracle recomputes features from
    // the shared generative pixel formulas, so hash equality proves the
    // filter/inflate/walk pipeline is a faithful inverse of the encoder.
    // Map-only, no shuffle before the output sort; at 100 TB the bytes
    // arrive in the binary column and everything else is unchanged.
    Entry("q198_png_decode", Raster.sql(16, 11)) { (s, d) =>
      decoded(s, d, 1)(Png.encode)((id, b) => RasterFeature.of(id, Png.decode(b)))
        .orderBy(col("doc_id"))
    },

    // REAL palette-raster decode — GIF (see [[Gif]]): the second
    // from-scratch compression layer after PNG's zlib, and this one is
    // OURS both directions (LZW variable-width codes, dictionary growth,
    // KwKwK, clear/EOI). An exact first-seen palette makes the
    // round-trip LOSSLESS, so the oracle hash-checks features against
    // the shared generative formulas exactly like BMP/PNG — and
    // GifCodecSpec pins the decoder pixel-for-pixel against
    // javax.imageio's independent GIF reader so a cancelling
    // encoder/decoder bug pair cannot hide. ids % 5 == 0 quantize to a
    // <=8-color palette (narrow code sizes, real dictionary strings,
    // several width bumps); even ids carry a comment-extension decoy the
    // chunk walk must skip; ids % 4 == 1 split the LZW data into 32-byte
    // sub-blocks (reassembly exercised). Map-only, no shuffle before the
    // output sort; at 100 TB the bytes arrive in the binary column and
    // everything else is unchanged.
    Entry("q201_gif_decode", Raster.sql(14, 12, Gif.lumSql)) { (s, d) =>
      decoded(s, d, 1)(Gif.encode)((id, b) => RasterFeature.of(id, Gif.decode(b)))
        .orderBy(col("doc_id"))
    },

    // REAL lossy decode — JPEG (see [[Jpeg]]): bytes written by the JDK's
    // own encoder, dims recovered by OUR from-scratch JFIF segment walk
    // (hash-exact vs the generative formula: the lossless container
    // layer), pixels decoded by the JDK's independent Huffman+IDCT with
    // the mean-luminance drift bounded (`lum_ok`, oracle-asserted TRUE;
    // JpegCodecSpec pins the tighter envelope). Map-only, no shuffle
    // before the output sort; at 100 TB the bytes arrive in the binary
    // column and everything else is unchanged.
    Entry("q199_jpeg_decode",
      """SELECT doc_id, CAST(1 + doc_id % 15 AS INT) AS w,
        |  CAST(1 + doc_id % 10 AS INT) AS h, TRUE AS lum_ok
        |FROM documents WHERE doc_id % 3 = 1 ORDER BY doc_id""".stripMargin) { (s, d) =>
      decoded(s, d, 1)(Jpeg.encode)(Jpeg.feature).orderBy(col("doc_id"))
    },

    Entry("q65_multimodal",
      """SELECT CASE WHEN doc_id % 3 = 0 THEN 'text'
        |            WHEN doc_id % 3 = 1 THEN 'image' ELSE 'audio' END AS kind,
        |  COUNT(*) AS n,
        |  COUNT(CASE WHEN doc_id % 3 = 0 THEN text END) AS n_text,
        |  COUNT(CASE WHEN doc_id % 3 <> 0 THEN text END) AS n_bytes_col,
        |  COUNT(e.vec_id) AS n_vec,
        |  CAST(SUM(CASE WHEN doc_id % 3 <> 0 THEN octet_length(CAST(text AS BLOB)) ELSE 0 END) AS BIGINT) AS total_bytes
        |FROM documents d LEFT JOIN embeddings e ON e.vec_id = d.doc_id
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      mmView(s, d)
        .groupBy(col("mm.kind").as("kind"))
        .agg(count(lit(1)).as("n"),
             count(col("mm.text")).as("n_text"),
             count(col("mm.bytes")).as("n_bytes_col"),
             count(col("mm.vec")).as("n_vec"),
             coalesce(sum(length(col("mm.bytes"))), lit(0)).cast("bigint").as("total_bytes"))
        .orderBy(col("kind"))
    },

    // typed "decode": per-row feature extraction whose fake codec is pure
    // arithmetic on byte length -> SQL-expressible oracle.
    Entry("q73_mm_decode",
      """SELECT doc_id,
        |  CASE WHEN doc_id % 3 = 1 THEN 'image' ELSE 'audio' END AS kind,
        |  CAST(octet_length(CAST(text AS BLOB)) AS INT) AS n_bytes,
        |  CAST(1 + octet_length(CAST(text AS BLOB)) % 64 AS INT) AS width,
        |  CAST(1 + octet_length(CAST(text AS BLOB)) % 48 AS INT) AS height,
        |  CAST(CASE WHEN doc_id % 3 = 2 THEN 1 + octet_length(CAST(text AS BLOB)) % 30 ELSE 1 END AS INT) AS n_frames
        |FROM documents WHERE doc_id % 3 <> 0 ORDER BY doc_id""".stripMargin) { (s, d) =>
      import s.implicits._
      // the codec is the deterministic fake (no media libs in this
      // container); everything around it is the real plumbing
      mmView(s, d)
        .filter(col("mm.kind") =!= "text")
        .select(col("doc_id"), col("mm.kind").as("kind"),
                length(col("mm.bytes")).as("n_bytes"))
        .as[MmRow]
        .map(FakeCodec.decode)
        .toDF()
        .select(col("doc_id"), col("kind"), col("n_bytes"),
                col("width"), col("height"), col("n_frames"))
        .orderBy(col("doc_id"))
    },

    // resize + frame-sample over the decoded features — the other half of
    // the training-pipeline media transform chain; same per-row codec
    // function pattern, deterministic-fake arithmetic (aspect-fit into
    // 32x24, uniform sample to <= 8 frames) so the oracle replays it.
    Entry("q80_mm_transform",
      """WITH f AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 1 THEN 'image' ELSE 'audio' END AS kind,
        |    CAST(1 + octet_length(CAST(text AS BLOB)) % 64 AS INT) AS w,
        |    CAST(1 + octet_length(CAST(text AS BLOB)) % 48 AS INT) AS h,
        |    CAST(CASE WHEN doc_id % 3 = 2 THEN 1 + octet_length(CAST(text AS BLOB)) % 30 ELSE 1 END AS INT) AS fr
        |  FROM documents WHERE doc_id % 3 <> 0)
        |SELECT doc_id, kind,
        |  CAST(CASE WHEN w <= 32 AND h <= 24 THEN w
        |       WHEN 32 * h <= 24 * w THEN 32
        |       ELSE GREATEST(1, (w * 24) // h) END AS INT) AS out_w,
        |  CAST(CASE WHEN w <= 32 AND h <= 24 THEN h
        |       WHEN 32 * h <= 24 * w THEN GREATEST(1, (h * 32) // w)
        |       ELSE 24 END AS INT) AS out_h,
        |  CAST(LEAST(8, fr) AS INT) AS n_sampled
        |FROM f ORDER BY doc_id""".stripMargin) { (s, d) =>
      import s.implicits._
      mmView(s, d)
        .filter(col("mm.kind") =!= "text")
        .select(col("doc_id"), col("mm.kind").as("kind"),
                length(col("mm.bytes")).as("n_bytes"))
        .as[MmRow]
        .map(r => FakeCodec.transform(FakeCodec.decode(r), 32, 24, 8))
        .toDF()
        .select(col("doc_id"), col("kind"), col("out_w"), col("out_h"), col("n_sampled"))
        .orderBy(col("doc_id"))
    }
  )
}
