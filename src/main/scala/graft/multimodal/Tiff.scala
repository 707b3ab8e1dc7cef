package graft.multimodal

import org.apache.spark.sql.functions._

import graft.queries.Entry
import graft.multimodal.Multimodal.Bmp

/** REAL dual-byte-order raster decode — baseline TIFF 6.0, uncompressed
  * RGB (SURVEY.md Q214). TIFF is the one raster container whose BYTE
  * ORDER is data ("II" little / "MM" big in the header), and whose tag
  * values are INLINE when they fit 4 bytes but OFFSET otherwise — with
  * big-endian inline SHORTs left-justified in the value field, the
  * classic implementation trap. The encoder alternates byte order by id
  * parity (both orders exercised over the oracle-checked corpus), splits
  * pixel data into two strips on id%4==1 (strip reassembly exercised),
  * and writes a decoy ASCII Software tag the walk must skip; the decoder
  * re-reads everything order-parameterized, validates the required
  * baseline-RGB tag set (width/length/bits 8,8,8/compression 1/
  * photometric 2/samples 3), and reassembles strips into rows.
  *
  * Same proof shape as Q196-Q201: pixels from the shared generative
  * channel formulas under TIFF-sized dims (1+id%17 x 1+id%8, distinct
  * from every other codec so a dimension mixup cannot cancel); the
  * DuckDB oracle recomputes features from the formulas alone, so hash
  * equality proves decoder == encoder⁻¹ across BOTH byte orders; and
  * TiffCodecSpec pins the decoder pixel-for-pixel against
  * `javax.imageio`'s OWN TIFF reader (JDK 9+, an independent
  * implementation) so a cancelling encoder/decoder bug pair cannot
  * hide. Map-only, no shuffle before the output sort; at 100 TB the
  * bytes arrive in the binary column and everything else is unchanged.
  */
object Tiff {

  def width(id: Long): Int = (1 + id % 17).toInt
  def height(id: Long): Int = (1 + id % 8).toInt
  def bigEndian(id: Long): Boolean = id % 2 == 0

  private final class Writer(big: Boolean) {
    val out = new java.io.ByteArrayOutputStream()
    def u16(v: Int): Unit =
      if (big) { out.write(v >>> 8); out.write(v & 0xff) }
      else { out.write(v & 0xff); out.write(v >>> 8) }
    def u32(v: Int): Unit =
      if (big) { out.write(v >>> 24); out.write((v >>> 16) & 0xff); out.write((v >>> 8) & 0xff); out.write(v & 0xff) }
      else { out.write(v & 0xff); out.write((v >>> 8) & 0xff); out.write((v >>> 16) & 0xff); out.write(v >>> 24) }
    /** One 12-byte IFD entry with an inline value: TIFF 6.0 stores
      * inline values LEFT-JUSTIFIED in the 4-byte field, so a SHORT in
      * a big-endian file occupies the FIRST two bytes. */
    def entryInline(tag: Int, typ: Int, count: Int, value: Int): Unit = {
      u16(tag); u16(typ); u32(count)
      if (typ == 3) { u16(value); u16(0) }   // SHORT: left-justified
      else u32(value)                        // LONG
    }
    def entryOffset(tag: Int, typ: Int, count: Int, offset: Int): Unit = {
      u16(tag); u16(typ); u32(count); u32(offset)
    }
  }

  /** Spec-compliant baseline-RGB TIFF encode: header, one IFD (entries
    * sorted by tag as the spec requires), out-of-line arrays
    * (BitsPerSample, the decoy Software string, two-strip offset/count
    * arrays), then the pixel strips. */
  def encode(id: Long): Array[Byte] = {
    val (w, h, big) = (width(id), height(id), bigEndian(id))
    val twoStrips = id % 4 == 1 && h >= 2
    val nStrips = if (twoStrips) 2 else 1
    val rowsPerStrip = if (twoStrips) (h + 1) / 2 else h
    val rowBytes = 3 * w
    val stripRows = if (twoStrips) Seq(rowsPerStrip, h - rowsPerStrip) else Seq(h)
    val nEntries = 10
    // layout: 8 header | IFD (2 + 12*n + 4) | bits(6) | software(8) |
    //         [strip arrays: 2*4 + 2*4 when two strips] | pixels
    val ifdOff = 8
    val ifdSize = 2 + 12 * nEntries + 4
    val bitsOff = ifdOff + ifdSize
    val softOff = bitsOff + 6
    val softBytes = "graft\u0000\u0000\u0000".getBytes("US-ASCII")   // 8, padded
    val arraysOff = softOff + softBytes.length
    val (stripOffsOff, stripCntsOff) =
      if (twoStrips) (arraysOff, arraysOff + 8) else (-1, -1)
    val pixelOff = if (twoStrips) arraysOff + 16 else arraysOff
    val stripOffsets = stripRows.scanLeft(pixelOff)((o, rows) => o + rows * rowBytes).init
    val stripCounts = stripRows.map(_ * rowBytes)

    val wr = new Writer(big)
    wr.out.write(if (big) 'M' else 'I'); wr.out.write(if (big) 'M' else 'I')
    wr.u16(42); wr.u32(ifdOff)
    wr.u16(nEntries)
    wr.entryInline(256, 3, 1, w)                   // ImageWidth
    wr.entryInline(257, 3, 1, h)                   // ImageLength
    wr.entryOffset(258, 3, 3, bitsOff)             // BitsPerSample 8,8,8
    wr.entryInline(259, 3, 1, 1)                   // Compression: none
    wr.entryInline(262, 3, 1, 2)                   // Photometric: RGB
    if (twoStrips) wr.entryOffset(273, 4, 2, stripOffsOff)
    else wr.entryInline(273, 4, 1, stripOffsets.head)
    wr.entryInline(277, 3, 1, 3)                   // SamplesPerPixel
    wr.entryInline(278, 3, 1, rowsPerStrip)
    if (twoStrips) wr.entryOffset(279, 4, 2, stripCntsOff)
    else wr.entryInline(279, 4, 1, stripCounts.head)
    wr.entryOffset(305, 2, softBytes.length, softOff)  // decoy Software
    wr.u32(0)                                      // no next IFD
    Seq(8, 8, 8).foreach(wr.u16)                   // bits array
    wr.out.write(softBytes)
    if (twoStrips) { stripOffsets.foreach(wr.u32); stripCounts.foreach(wr.u32) }
    for (y <- 0 until h; x <- 0 until w) {
      wr.out.write(Bmp.r(id, x, y)); wr.out.write(Bmp.g(id, x, y)); wr.out.write(Bmp.b(id, x, y))
    }
    val bytes = wr.out.toByteArray
    require(bytes.length == pixelOff + 3 * w * h, "encoder layout bug")
    bytes
  }

  /** Parse a baseline-RGB TIFF in EITHER byte order; every required tag
    * validated, strips reassembled, unknown tags skipped. */
  def decode(bytes: Array[Byte]): Raster.Packed = {
    require(bytes.length >= 8, "truncated TIFF header")
    val big = (bytes(0), bytes(1)) match {
      case ('M', 'M') => true
      case ('I', 'I') => false
      case _          => throw new IllegalArgumentException("bad TIFF byte-order mark")
    }
    def u16(off: Int): Int = {
      require(off + 2 <= bytes.length, "truncated u16")
      if (big) ((bytes(off) & 0xff) << 8) | (bytes(off + 1) & 0xff)
      else ((bytes(off + 1) & 0xff) << 8) | (bytes(off) & 0xff)
    }
    def u32(off: Int): Int = {
      require(off + 4 <= bytes.length, "truncated u32")
      if (big) ((bytes(off) & 0xff) << 24) | ((bytes(off + 1) & 0xff) << 16) |
               ((bytes(off + 2) & 0xff) << 8) | (bytes(off + 3) & 0xff)
      else ((bytes(off + 3) & 0xff) << 24) | ((bytes(off + 2) & 0xff) << 16) |
               ((bytes(off + 1) & 0xff) << 8) | (bytes(off) & 0xff)
    }
    require(u16(2) == 42, "bad TIFF magic")
    val ifd = u32(4)
    val n = u16(ifd)
    // tag -> (type, count, valueFieldOffset)
    val entries = (0 until n).map { i =>
      val e = ifd + 2 + 12 * i
      u16(e) -> (u16(e + 2), u32(e + 4), e + 8)
    }.toMap
    def scalar(tag: Int): Int = {
      val (typ, count, vo) = entries.getOrElse(tag,
        throw new IllegalArgumentException(s"missing required tag $tag"))
      require(count == 1, s"tag $tag: expected scalar, got count $count")
      if (typ == 3) u16(vo) else u32(vo)   // inline SHORT is left-justified
    }
    /** LONG/SHORT array: inline when it fits 4 bytes, else at offset. */
    def longs(tag: Int): Seq[Int] = {
      val (typ, count, vo) = entries.getOrElse(tag,
        throw new IllegalArgumentException(s"missing required tag $tag"))
      val elem = if (typ == 3) 2 else 4
      val base = if (count * elem <= 4) vo else u32(vo)
      (0 until count).map(i => if (typ == 3) u16(base + 2 * i) else u32(base + 4 * i))
    }
    val w = scalar(256); val h = scalar(257)
    require(w > 0 && h > 0, "bad dimensions")
    require(longs(258) == Seq(8, 8, 8), "not 8-bit RGB")
    require(scalar(259) == 1, "not uncompressed")
    require(scalar(262) == 2, "not RGB photometric")
    require(scalar(277) == 3, "not 3 samples per pixel")
    val offs = longs(273); val cnts = longs(279)
    require(offs.size == cnts.size && offs.nonEmpty, "strip tables disagree")
    require(cnts.map(_.toLong).sum == 3L * w * h, "strip byte counts != image size")
    val pix = new Array[Byte](3 * w * h)
    var at = 0
    offs.zip(cnts).foreach { case (o, c) =>
      require(o + c <= bytes.length, "truncated strip")
      System.arraycopy(bytes, o, pix, at, c); at += c
    }
    Raster.Packed(w, h, pix)
  }

  val entries: Seq[Entry] = Seq(
    // REAL dual-byte-order decode (see object doc): the oracle-checked
    // corpus alternates II/MM files and single/two-strip layouts; hash
    // equality proves decoder == encoder⁻¹ across both orders; the oracle
    // is the Q196 raster template under TIFF dims. Map-only, no shuffle
    // before the output sort.
    Entry("q214_tiff_decode", Raster.sql(17, 8)) { (s, d) =>
      Multimodal.decoded(s, d, 1)(encode)((id, b) => RasterFeature.of(id, decode(b)))
        .orderBy(col("doc_id"))
    }
  )
}
