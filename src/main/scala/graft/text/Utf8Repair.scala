package graft.text

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.queries.{Dialect, Entry}

/** Byte-level UTF-8 validation + repair (SURVEY.md Q206) — the encoding
  * screen every crawl-derived training corpus runs before any text op:
  * raw web bytes carry orphan continuation bytes, truncated sequences,
  * overlongs and mojibake, and the pipeline must (a) COUNT the damage
  * (an invalid-rate quality signal next to Q69's scores) and (b) REPAIR
  * deterministically (U+FFFD substitution) so downstream tokenization
  * sees valid Unicode. The decoder is a from-scratch UTF-8 state
  * machine implementing the Unicode §3.9 "maximal subpart" substitution
  * (public spec; also WHATWG Encoding Standard "UTF-8 decoder"):
  * per-lead-byte continuation bounds (the E0/ED/F0/F4 specials that
  * reject overlongs, surrogates and > U+10FFFF structurally), one
  * U+FFFD per maximal invalid subpart, truncation at end of input
  * handled identically — with ONE deliberate JDK-ism on surrogate
  * prefixes (see [[repair]]) so that Utf8RepairSpec can pin the decoder
  * EXACTLY against the JDK's own UTF-8 decoder (an independent
  * implementation) on a 2000-stream random-byte fuzz plus the classic
  * corner cases: a decode bug cannot hide behind its own counts.
  *
  * Proof shape: the fixture text is valid, so damage is FABRICATED —
  * k = doc_id % 4 invalid bytes (alternating orphan-continuation 0x80 /
  * never-valid 0xFE) injected at code-point boundaries i*n/(k+1). Each
  * injected byte repairs to exactly one U+FFFD, so the DuckDB oracle can
  * reconstruct the ENTIRE repaired string with substr/concat arithmetic
  * and pin md5(repaired) — hash equality proves the repair is
  * byte-exact cross-engine, not just count-correct.
  *
  * Scale posture: map-only per-row byte work (one pass, no allocation
  * beyond the output), no shuffle before the output sort; at 100 TB the
  * damaged bytes arrive in the binary column and the injection seam
  * disappears — identical to the q196-q205 fabrication contract.
  */
object Utf8Repair {

  private def T(s: SparkSession, dir: String, n: String): DataFrame = Tables(s, dir, n)

  /** WHATWG UTF-8 decode with U+FFFD substitution; returns the repaired
    * string and the number of maximal invalid subparts replaced. */
  def repair(bytes: Array[Byte]): (String, Int) = {
    val sb = new java.lang.StringBuilder(bytes.length)
    var invalid = 0
    var i = 0
    val n = bytes.length
    while (i < n) {
      val b0 = bytes(i) & 0xff
      if (b0 < 0x80) { sb.append(b0.toChar); i += 1 }
      else if (b0 < 0xc2 || b0 > 0xf4) {
        // continuation byte with no lead, or a lead that can only encode
        // an overlong (C0/C1) / beyond-U+10FFFF (F5..FF) value
        sb.append('�'); invalid += 1; i += 1
      } else {
        // (number of continuation bytes, bounds for the FIRST one — the
        // E0/ED/F0/F4 specials; subsequent continuations are 80..BF)
        // ED is structurally a plain 3-byte lead here; surrogate values
        // are rejected AFTER decode (below) — the JDK's reading, under
        // which a complete surrogate sequence is ONE malformed unit
        val (needed, lo1, hi1, mask) =
          if (b0 <= 0xdf) (1, 0x80, 0xbf, 0x1f)
          else if (b0 == 0xe0) (2, 0xa0, 0xbf, 0x0f)
          else if (b0 <= 0xef) (2, 0x80, 0xbf, 0x0f)
          else if (b0 == 0xf0) (3, 0x90, 0xbf, 0x07)
          else if (b0 == 0xf4) (3, 0x80, 0x8f, 0x07)
          else (3, 0x80, 0xbf, 0x07)   // F1..F3
        var cp = b0 & mask
        var j = 0
        var ok = true
        while (ok && j < needed) {
          val at = i + 1 + j
          if (at >= n) ok = false
          else {
            val bj = bytes(at) & 0xff
            val (lo, hi) = if (j == 0) (lo1, hi1) else (0x80, 0xbf)
            if (bj < lo || bj > hi) ok = false
            else { cp = (cp << 6) | (bj & 0x3f); j += 1 }
          }
        }
        if (ok && cp >= 0xd800 && cp <= 0xdfff) {
          // structurally complete ED A0..BF 80..BF encodes a surrogate:
          // one malformed unit of all three bytes (the JDK's reading —
          // strict WHATWG would instead reprocess from the A0..BF byte;
          // matching the JDK exactly buys an independent-decoder
          // equality pin over EVERY byte stream, worth one corner's
          // divergence from the W3C text)
          sb.append('�'); invalid += 1; i += 1 + needed
        } else if (ok) { sb.appendCodePoint(cp); i += 1 + needed }
        else {
          // maximal subpart: the lead + the j valid continuations become
          // ONE U+FFFD; the offending byte is reprocessed as a new lead
          sb.append('�'); invalid += 1; i += 1 + j
        }
      }
    }
    (sb.toString, invalid)
  }

  /** Fixture-side damage: k = id % 4 single invalid bytes (0x80 / 0xFE
    * alternating) at code-point boundaries i*cps/(k+1) — each repairs to
    * exactly one U+FFFD, which is what lets the oracle rebuild the
    * repaired string arithmetically. */
  def corrupt(id: Long, text: String): Array[Byte] = {
    val k = (id % 4).toInt
    if (k == 0) text.getBytes(UTF_8)
    else {
      val cps = text.codePointCount(0, text.length)
      val out = new ByteArrayOutputStream(text.length + k)
      var prev = 0
      (1 to k).foreach { i =>
        val ci = text.offsetByCodePoints(0, (i.toLong * cps / (k + 1)).toInt)
        out.write(text.substring(prev, ci).getBytes(UTF_8))
        out.write(if (i % 2 == 1) 0x80 else 0xfe)
        prev = ci
      }
      out.write(text.substring(prev).getBytes(UTF_8))
      out.toByteArray
    }
  }

  case class RepairRow(doc_id: Long, n_bytes_in: Long, n_invalid: Int, rep: String)

  /** The oracle rebuilds the repaired string with substr/concat: segment
    * boundaries at i*n/(k+1) code points, one U+FFFD per injection.
    * The byte-level functions are structural switches: DuckDB `chr` is
    * code-point while Spark's `chr` is mod-256 ASCII, so the twin embeds
    * the literal, and the twin hashes the UTF-8 encoding explicitly. */
  private def utf8Sql(octetLen: String => String,
                      md5Of: String => String, rep: String): String = {
    def b(i: Int, m: Int) = s"(($i*n) // $m)"
    s"""WITH t AS (SELECT doc_id, text, CAST(doc_id % 4 AS INT) AS k,
      |                  length(text) AS n
      |           FROM documents),
      |r AS (SELECT doc_id, k, text, CASE k
      |        WHEN 0 THEN text
      |        WHEN 1 THEN substr(text, 1, ${b(1, 2)}) || $rep ||
      |                    substr(text, ${b(1, 2)} + 1)
      |        WHEN 2 THEN substr(text, 1, ${b(1, 3)}) || $rep ||
      |                    substr(text, ${b(1, 3)} + 1, ${b(2, 3)} - ${b(1, 3)}) || $rep ||
      |                    substr(text, ${b(2, 3)} + 1)
      |        ELSE        substr(text, 1, ${b(1, 4)}) || $rep ||
      |                    substr(text, ${b(1, 4)} + 1, ${b(2, 4)} - ${b(1, 4)}) || $rep ||
      |                    substr(text, ${b(2, 4)} + 1, ${b(3, 4)} - ${b(2, 4)}) || $rep ||
      |                    substr(text, ${b(3, 4)} + 1)
      |      END AS rep FROM t)
      |SELECT doc_id, CAST(${octetLen("text")} + k AS BIGINT) AS n_bytes_in,
      |  k AS n_invalid, CAST(length(rep) AS BIGINT) AS n_chars_out,
      |  ${md5Of("rep")} AS rep_md5
      |FROM r ORDER BY doc_id""".stripMargin
  }

  val entries: Seq[Entry] = Seq(
    // UTF-8 screen + repair (see [[repair]]): damaged bytes fabricated
    // from the documents table, repaired by the WHATWG state machine,
    // and the oracle rebuilds the repaired string arithmetically —
    // md5(repaired) equality proves byte-exact repair cross-engine.
    // Map-only, no shuffle before the output sort.
    Entry("q206_utf8_repair",
      utf8Sql(t => s"octet_length(CAST($t AS BLOB))", r => s"md5($r)", "chr(65533)")) { (s, d) =>
      import s.implicits._
      T(s, d, "documents")
        .select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .map { case (id, text) =>
          val bytes = corrupt(id, text)
          val (rep, bad) = repair(bytes)
          RepairRow(id, bytes.length.toLong, bad, rep)
        }
        .toDF()
        .select(col("doc_id"), col("n_bytes_in"), col("n_invalid"),
          length(col("rep")).cast("bigint").as("n_chars_out"),
          md5(encode(col("rep"), "UTF-8")).as("rep_md5"))
        .orderBy(col("doc_id"))
    }.sqlTwin(Dialect.duckToSpark(
      utf8Sql(t => s"octet_length(encode($t, 'UTF-8'))",
        r => s"md5(encode($r, 'UTF-8'))", "'\ufffd'")))
  )
}
