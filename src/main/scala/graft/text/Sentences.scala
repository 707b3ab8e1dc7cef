package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.queries.Entry

/** Sentence-boundary segmentation (SURVEY.md Q237) — the chunking tier
  * embedding pipelines actually use: q141 chunks by fixed token windows,
  * but retrieval/embedding corpora chunk on SENTENCE boundaries so no
  * unit straddles a thought. The segmenter is the standard deterministic
  * rule stack (the pre-ML tier of Punkt-style systems): a sentence ends
  * at a terminator [.!?] that is followed by whitespace and a capitalized
  * token (or end of text), EXCEPT after a known abbreviation ("vs.",
  * "dr.", "e.g.", "mr.") — the classic false-boundary class.
  *
  * Proof shape (the q217 pattern): prose is FABRICATED from each
  * document's word soup — sentences of cycling target length 5+(k%4)
  * words, cycling terminators .!?, first word capitalized, and every
  * k%3==0 sentence carrying an inserted "vs." abbreviation DECOY whose
  * following word is capitalized, so a segmenter without the abbreviation
  * list splits there and breaks the hash. The DuckDB oracle never parses:
  * it replays the counts ARITHMETICALLY from the word count (a 4-sentence
  * cycle consumes exactly 26 words, so full cycles divide out and the
  * remainder is a small CASE), which pins the boundary rule, the
  * abbreviation suppression, AND lossless token accounting
  * (n_toks = original words + inserted decoys).
  *
  * Scale posture: fabrication and segmentation are map-only (one row per
  * doc, no shuffle before the presentation sort) — at 100 TB the
  * segmenter rides the same ingest scan as q217/q63, emitting sentence
  * rows for the embedding stage (q155) to batch.
  */
object Sentences {

  val abbrevs = Set("vs.", "dr.", "e.g.", "mr.")

  /** Words per sentence cycle: 5,6,7,8 — one cycle consumes 26 words. */
  def targetLen(k: Int): Int = 5 + k % 4

  /** Build prose from clean word soup (fixture text is lowercase,
    * terminator-free, single-spaced — asserted by Html.fabricate's
    * sibling invariant): cycling sentence lengths and terminators, a
    * capitalized head, and the "vs." decoy in every k%3==0 sentence of
    * at least 2 words. */
  def fabricate(text: String): String = {
    // The oracle replays boundaries ARITHMETICALLY, which assumes every
    // fabricated sentence head capitalizes (the boundary rule needs a
    // following uppercase) and that the soup carries no terminators of
    // its own — fail with a named message on fixture drift instead of an
    // opaque hash mismatch (the Html.fabricate discipline).
    require(text.split(' ').forall(w => w.nonEmpty && w.head.isLower),
      "fixture text word does not start lowercase-alphabetic; the sentence " +
        "oracle's capitalization-boundary arithmetic would diverge")
    require(!text.exists(".!?".contains(_)),
      "fixture text contains sentence terminators; the fabricated boundary " +
        "schedule would diverge from the oracle arithmetic")
    // ADVICE r14: a soup word that BECOMES an abbreviation when this
    // fabricator terminates it (e.g. 'vs' or 'dr' landing in a k%3==0 '.'
    // slot yields 'vs.') would make segment() suppress a boundary the
    // oracle's arithmetic replay counts — the same silent-divergence class
    // the two guards above exist to name.
    require(text.split(' ').forall(w => !abbrevs.contains(w + ".")),
      "fixture text contains a word that becomes an abbreviation when " +
        "terminated ('vs', 'dr', ...); the segmenter would suppress a " +
        "boundary the oracle's arithmetic replay counts")
    val words = text.split(' ')
    val out = new java.lang.StringBuilder
    var i = 0
    var k = 0
    while (i < words.length) {
      val take = math.min(targetLen(k), words.length - i)
      var ws = words.slice(i, i + take).toVector
      i += take
      ws = ws.updated(0, ws(0).capitalize)
      if (k % 3 == 0 && ws.length >= 2) {
        val tail = ws.drop(1)
        ws = ws(0) +: "vs." +: tail.updated(0, tail(0).capitalize)
      }
      if (out.length > 0) out.append(' ')
      out.append(ws.mkString(" ")).append(".!?".charAt(k % 3))
      k += 1
    }
    out.toString
  }

  final case class Seg(sentences: Vector[Vector[String]], suppressed: Int)

  /** The rule segmenter. Terminator-final tokens keep their terminator
    * stripped in the emitted sentence; `suppressed` counts abbreviation
    * sites where the capitalization rule alone would have split. */
  def segment(prose: String): Seg = {
    val toks = prose.split(' ').filter(_.nonEmpty)
    val sents = Vector.newBuilder[Vector[String]]
    var cur = Vector.newBuilder[String]
    var suppressed = 0
    var ix = 0
    while (ix < toks.length) {
      val t = toks(ix)
      val endsTerm = ".!?".contains(t.last)
      val nextCap = ix + 1 < toks.length && toks(ix + 1).headOption.exists(_.isUpper)
      val last = ix == toks.length - 1
      if (endsTerm && abbrevs.contains(t.toLowerCase) && (nextCap || last)) {
        suppressed += 1
        cur += t
      } else if (endsTerm && (nextCap || last)) {
        cur += t.dropRight(1)
        sents += cur.result()
        cur = Vector.newBuilder[String]
      } else cur += t
      ix += 1
    }
    val tailSent = cur.result()
    if (tailSent.nonEmpty) sents += tailSent
    Seg(sents.result(), suppressed)
  }

  private def T(s: SparkSession, dir: String, n: String): DataFrame = Tables(s, dir, n)

  /** Arithmetic replay of the fabrication schedule (see object doc). */
  private def oracleSql: String =
    s"""WITH q AS (
       |  SELECT doc_id, CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT) AS nw
       |  FROM documents),
       |s AS (SELECT doc_id, nw, nw // 26 AS fc, nw % 26 AS r FROM q),
       |t AS (SELECT doc_id, nw, fc, r,
       |    CASE WHEN r = 0 THEN 0 WHEN r <= 5 THEN 1 WHEN r <= 11 THEN 2
       |         WHEN r <= 18 THEN 3 ELSE 4 END AS ne,
       |    CASE WHEN r = 0 THEN 8 WHEN r <= 5 THEN r WHEN r <= 11 THEN r - 5
       |         WHEN r <= 18 THEN r - 11 ELSE r - 18 END AS rs
       |  FROM s),
       |u AS (SELECT doc_id, nw, rs, 4 * fc + ne AS n_sent FROM t),
       |v AS (SELECT doc_id, nw, n_sent,
       |    ((n_sent + 2) // 3) -
       |      (CASE WHEN (n_sent - 1) % 3 = 0 AND rs = 1 THEN 1 ELSE 0 END) AS n_abbrev
       |  FROM u)
       |SELECT doc_id, n_sent, n_abbrev, nw + n_abbrev AS n_toks
       |FROM v ORDER BY doc_id""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("q237_sentence_segment", oracleSql) { (s, d) =>
      import s.implicits._
      T(s, d, "documents").select(col("doc_id"), col("text")).as[(Long, String)]
        .map { case (id, text) =>
          val seg = segment(fabricate(text))
          (id, seg.sentences.size.toLong, seg.suppressed.toLong,
            seg.sentences.map(_.size.toLong).sum)
        }
        .toDF("doc_id", "n_sent", "n_abbrev", "n_toks")
        .orderBy(col("doc_id"))
    }
  )
}
