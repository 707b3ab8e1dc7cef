package graft.multimodal

import org.apache.spark.sql.functions._

import graft.queries.{Dialect, Entry}

/** REAL compressed-audio decode (SURVEY.md Q208) — G.711 µ-law in a Sun
  * AU container, the classic telephony codec (ITU-T G.711, public spec)
  * and the one COMPRESSED audio format expressible with no external
  * library: companding is pure integer arithmetic (sign / 3-bit segment
  * exponent / 4-bit mantissa, bias 132, stored complemented), and the AU
  * container (.snd magic, big-endian header, encoding 1 = 8-bit µ-law)
  * is the big-endian counterpart of Q197's little-endian RIFF. This
  * retires the last FakeCodec audio category: compressed audio is now
  * real, leaving the stub only for codecs that genuinely need external
  * bindings (MP3/AAC-class transforms).
  *
  * Proof shape: per-doc codewords are fabricated from doc_id (the Q197
  * sample formula reduced mod 256, canonicalized through one
  * encode∘decode so every byte is a canonical µ-law code), packed into a
  * spec-compliant AU file (annotation field on even ids keeps the
  * data-offset honest — a fixed-offset reader breaks), then round-tripped
  * through an actual parser + the companding INVERSE. µ-law decode is
  * plain integer arithmetic, so the DuckDB oracle replicates it
  * term-for-term from the codeword formula — hash equality proves
  * container walk + expansion both. UlawCodecSpec additionally pins the
  * expansion against `javax.sound.sampled`'s OWN ULAW→PCM converter (an
  * independent JDK implementation of G.711) sample-for-sample over all
  * 256 codewords, and encode∘decode == identity on canonical codes.
  *
  * Scale posture: map-only per-row byte work, no shuffle before the
  * output sort; at 100 TB the bytes arrive in the binary column and the
  * fabrication seam disappears — the q196-q207 contract.
  */
object Ulaw {

  val bias = 132
  val clip = 32635

  /** G.711 µ-law expand (decode): one codeword byte to its 16-bit PCM
    * value. Stored form is complemented; bit 7 (after complement) is the
    * sign, bits 4-6 the segment exponent, bits 0-3 the mantissa. */
  def decode(code: Int): Int = {
    val u = ~code & 0xff
    val exp = (u >> 4) & 0x07
    val mant = u & 0x0f
    val mag = (((mant << 3) + bias) << exp) - bias
    if ((u & 0x80) != 0) -mag else mag
  }

  /** G.711 µ-law compress (encode): 16-bit PCM to the codeword. */
  def encode(sample: Int): Int = {
    val sign = if (sample < 0) 0x80 else 0x00
    var s = math.min(if (sample < 0) -sample else sample, clip) + bias
    var exp = 7
    var mask = 0x4000
    while (exp > 0 && (s & mask) == 0) { exp -= 1; mask >>= 1 }
    val mant = (s >> (exp + 3)) & 0x0f
    ~(sign | (exp << 4) | mant) & 0xff
  }

  /** G.711 A-law expand (decode) — the µ-law's international twin
    * (European telephony; same ITU-T G.711 spec, different companding
    * constants): codeword stored XOR 0x55, bit 7 (after unmasking) SET
    * means positive, 3-bit segment, 4-bit mantissa; segment 0 is linear
    * (step 16, offset 8), segments 1-7 add the 0x100 chord offset and
    * shift. Constants follow the JDK's own A-law table (alawDecode
    * pinned against it over all 256 codes). */
  def alawDecode(code: Int): Int = {
    val u = code ^ 0x55
    val exp = (u >> 4) & 0x07
    val mant = u & 0x0f
    var mag = (mant << 4) + 8
    if (exp >= 1) mag += 0x100
    if (exp > 1) mag <<= (exp - 1)
    if ((u & 0x80) != 0) mag else -mag
  }

  /** G.711 A-law compress (encode): exact inverse of [[alawDecode]] on
    * its codebook (A-law has no ±0 ambiguity — all 256 codes are
    * canonical, unlike µ-law's 0x7F). */
  def alawEncode(sample: Int): Int = {
    val sign = if (sample >= 0) 0x80 else 0x00
    var m = math.min(if (sample >= 0) sample else -sample, 0x7fff)
    var exp = 7
    var mask = 0x4000
    while (exp > 0 && (m & mask) == 0) { exp -= 1; mask >>= 1 }
    val adj = if (exp == 0) 1 else exp   // segment 0 and 1 share the shift
    val mant = (m >> (adj + 3)) & 0x0f
    (sign | (exp << 4) | mant) ^ 0x55
  }

  def nSamples(id: Long): Int = (24 + id % 40).toInt

  /** Codeword formula shared (as SQL) with the oracle: the Q197 noise
    * congruence reduced to a byte, canonicalized (encode∘decode) so the
    * stream contains only canonical codes — encode is then its exact
    * inverse and the oracle's arithmetic decode is total. */
  def codeword(id: Long, i: Int): Int = encode(decode(((id * 37 + i * 101) % 256).toInt))

  object Au {
    val magic = 0x2e736e64 // ".snd"

    private def putBE(a: Array[Byte], off: Int, v: Int): Unit = {
      a(off) = ((v >>> 24) & 0xff).toByte; a(off + 1) = ((v >>> 16) & 0xff).toByte
      a(off + 2) = ((v >>> 8) & 0xff).toByte; a(off + 3) = (v & 0xff).toByte
    }
    private def getBE(a: Array[Byte], off: Int): Int = {
      require(off + 4 <= a.length, "truncated AU field")
      ((a(off) & 0xff) << 24) | ((a(off + 1) & 0xff) << 16) |
        ((a(off + 2) & 0xff) << 8) | (a(off + 3) & 0xff)
    }

    /** AU encoding-field values (AU spec): 1 = 8-bit G.711 µ-law,
      * 27 = 8-bit G.711 A-law. */
    val EncUlaw = 1
    val EncAlaw = 27

    /** Spec-compliant AU encode: 24-byte header (+ annotation on even
      * ids, which pushes the data offset — the decoy that keeps the
      * offset field honest), G.711 codewords as the payload. µ-law
      * payloads are the canonicalized [[codeword]]s; A-law needs no
      * canonicalization (all 256 codes are canonical), so the raw
      * congruence byte is the codeword. */
    def encodeAu(id: Long, enc: Int = EncUlaw): Array[Byte] = {
      val n = nSamples(id)
      val ann = if (id % 2 == 0) 8 else 0
      val a = new Array[Byte](24 + ann + n)
      putBE(a, 0, magic)
      putBE(a, 4, 24 + ann)              // data offset
      putBE(a, 8, n)                     // data size
      putBE(a, 12, enc)
      putBE(a, 16, 8000)                 // sample rate
      putBE(a, 20, 1)                    // channels
      if (ann > 0) "graft pad".getBytes("US-ASCII").take(8)
        .zipWithIndex.foreach { case (b, i) => a(24 + i) = b }
      (0 until n).foreach { i =>
        val c = if (enc == EncAlaw) ((id * 37 + i * 101) % 256).toInt else codeword(id, i)
        a(24 + ann + i) = c.toByte
      }
      a
    }

    final case class DecodedAu(sampleRate: Int, samples: Array[Int])

    /** Parse + expand: header fields all validated, payload located by
      * the offset field (never a fixed 24), every byte expanded through
      * the companding law the HEADER declares ([[Ulaw.decode]] /
      * [[Ulaw.alawDecode]]). */
    def decodeAu(bytes: Array[Byte]): DecodedAu = {
      require(bytes.length >= 24 && getBE(bytes, 0) == magic, "not an AU file")
      val off = getBE(bytes, 4)
      val size = getBE(bytes, 8)
      val enc = getBE(bytes, 12)
      require(enc == EncUlaw || enc == EncAlaw, s"unsupported AU encoding $enc")
      val sr = getBE(bytes, 16)
      require(getBE(bytes, 20) == 1, "not mono")
      require(off >= 24 && off + size <= bytes.length, "truncated AU data")
      val expand: Int => Int = if (enc == EncAlaw) Ulaw.alawDecode else Ulaw.decode
      DecodedAu(sr, Array.tabulate(size)(i => expand(bytes(off + i) & 0xff)))
    }
  }

  case class UlawFeature(doc_id: Long, n_samples: Int, sr: Int,
                         sum_s: Long, abs_sum: Long)

  /** µ-law and A-law alike: the header picks the companding law. */
  def feature(id: Long, bytes: Array[Byte]): UlawFeature = {
    val au = Au.decodeAu(bytes)
    UlawFeature(id, au.samples.length, au.sampleRate,
      au.samples.map(_.toLong).sum,
      au.samples.map(s => math.abs(s).toLong).sum)
  }

  /** q208's oracle: the µ-law expansion replicated as SQL integer
    * arithmetic over the codeword formula — u = complement, exponent,
    * mantissa, bias; bridged like the other codec oracles.
    * The canonicalization (encode∘decode) collapses, for each (exp,
    * mant, sign) class, a raw byte to its canonical code — but expansion
    * is CLASS-INVARIANT (decode(raw) == decode(canonical) by
    * construction), so the oracle decodes the RAW byte directly. */
  private def ulawSql: String = {
    s"""WITH au AS (SELECT doc_id, CAST(24 + doc_id % 40 AS INT) AS n
      |            FROM documents WHERE doc_id % 3 = 2),
      |iser AS (SELECT UNNEST(range(64)) AS i),
      |cw AS (SELECT doc_id, n, (doc_id*37 + i*101) % 256 AS c
      |       FROM au, iser WHERE i < n),
      |ex AS (SELECT doc_id, n, 255 - c AS u FROM cw),
      |sm AS (SELECT doc_id, n,
      |         CASE WHEN u >= 128 THEN -((((u % 128) % 16) * 8 + 132) *
      |                CAST(POWER(2, (u % 128) // 16) AS BIGINT) - 132)
      |              ELSE ((u % 16) * 8 + 132) *
      |                CAST(POWER(2, u // 16) AS BIGINT) - 132 END AS s
      |       FROM ex)
      |SELECT doc_id, CAST(n AS INT) AS n_samples, CAST(8000 AS INT) AS sr,
      |  CAST(SUM(s) AS BIGINT) AS sum_s, CAST(SUM(ABS(s)) AS BIGINT) AS abs_sum
      |FROM sm GROUP BY doc_id, n ORDER BY doc_id""".stripMargin
  }

  /** q213's oracle: the A-law expansion as SQL arithmetic — XOR 0x55
    * unmask, segment/mantissa split, chord offset, shift, sign (bit 7
    * SET = positive). The XOR spelling is the one structural switch
    * (DuckDB `xor(a, b)`, Spark `a ^ b`); the twin is bridged from the
    * Spark side. */
  private def alawSql(xor: (String, String) => String): String = {
    s"""WITH au AS (SELECT doc_id, CAST(24 + doc_id % 40 AS INT) AS n
      |            FROM documents WHERE doc_id % 3 = 2),
      |iser AS (SELECT UNNEST(range(64)) AS i),
      |cw AS (SELECT doc_id, n, CAST((doc_id*37 + i*101) % 256 AS INT) AS c
      |       FROM au, iser WHERE i < n),
      |ex AS (SELECT doc_id, n, ${xor("c", "85")} AS u FROM cw),
      |mg AS (SELECT doc_id, n, u,
      |         ((u % 128) % 16) * 16 + 8 +
      |           CASE WHEN (u % 128) // 16 >= 1 THEN 256 ELSE 0 END AS base,
      |         (u % 128) // 16 AS exp
      |       FROM ex),
      |sm AS (SELECT doc_id, n,
      |         (CASE WHEN u >= 128 THEN 1 ELSE -1 END) *
      |           base * CAST(POWER(2, CASE WHEN exp > 1 THEN exp - 1 ELSE 0 END) AS BIGINT) AS s
      |       FROM mg)
      |SELECT doc_id, CAST(n AS INT) AS n_samples, CAST(8000 AS INT) AS sr,
      |  CAST(SUM(s) AS BIGINT) AS sum_s, CAST(SUM(ABS(s)) AS BIGINT) AS abs_sum
      |FROM sm GROUP BY doc_id, n ORDER BY doc_id""".stripMargin
  }

  val entries: Seq[Entry] = Seq(
    // REAL compressed-audio decode (see [[Ulaw]]/[[Au]]): µ-law AU files
    // fabricated per audio doc, round-tripped through the big-endian
    // container walk + the arithmetic companding inverse; the oracle
    // replicates the expansion in SQL from the codeword formula, so hash
    // equality proves container + expansion. Map-only, no shuffle before
    // the output sort.
    Entry("q208_ulaw_decode", ulawSql) { (s, d) =>
      Multimodal.decoded(s, d, 2)(Au.encodeAu(_))(feature).orderBy(col("doc_id"))
    },

    // The A-law twin (see [[alawDecode]]): same AU container with the
    // header's encoding field = 27 — the decoder dispatches the
    // companding law from the HEADER, the q197 chunk-walk honesty
    // argument applied to codec selection. All 256 A-law codes are
    // canonical, so the raw congruence byte is the codeword and the
    // oracle decodes it directly. Map-only, no shuffle before the sort.
    Entry("q213_alaw_decode",
      alawSql((a, b) => s"xor($a, $b)")) { (s, d) =>
      Multimodal.decoded(s, d, 2)(Au.encodeAu(_, Au.EncAlaw))(feature)
        .orderBy(col("doc_id"))
    }.sqlTwin(Dialect.duckToSpark(alawSql((a, b) => s"CAST($a ^ $b AS INT)")))
  )
}
