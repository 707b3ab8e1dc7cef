package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.queries.Entry

/** PII scrubbing with a regex-FREE oracle (SURVEY.md Q255) — the
  * complement of q192's redaction entry (`Pipeline.scala`): q192 pins
  * Spark's Java regex against DuckDB's RE2 executing the SAME patterns
  * (engine-vs-engine — a pattern bug both engines share passes), while
  * this entry's oracle replays the injection SCHEDULE arithmetically and
  * never runs a regex at all, so it independently pins the scrubber
  * against ground truth (schedule-vs-kernel). Together the two close the
  * loop: q192 proves cross-engine pattern agreement, q255 proves the
  * patterns find exactly what was planted, span-exactly, with nothing
  * left behind.
  *
  * The fixture is clean word soup, so PII is FABRICATED deterministically
  * (the q237 sentence-segmentation pattern): doc k receives k%3 email
  * tokens and (k div 3)%2 phone tokens at schedule-derived positions,
  * the REAL regex scrubber runs over the fabricated prose, and the
  * DuckDB oracle replays the injection schedule ARITHMETICALLY (counts
  * and exact redacted-character totals as closed-form functions of
  * doc_id) — the hash pins scrubber == schedule, including that the
  * regexes match each injected token exactly once, span-exactly (one
  * character of over- or under-match shifts n_redacted_chars), and
  * that NOTHING in the scrubbed text still looks like PII
  * (n_residual_pii counts BOTH leftover '@' characters and leftover
  * phone-shaped '555-<digit>' spans in the scrubbed text — computed by
  * counting, not assumed; the oracle pins it at 0).
  *
  * Scale posture: map-only per-row work on the ingest scan (regex +
  * length arithmetic; no shuffle before the presentation sort) — the
  * same class as q217's HTML strip. At 100 TB the scrubber rides the
  * ingest pass; the report is one per-doc row.
  */
object Pii {

  /** Injection schedule: counts. */
  def nEmails(id: Long): Int = (id % 3).toInt
  def nPhones(id: Long): Int = ((id / 3) % 2).toInt

  /** The i-th injected email for doc `id`: length 16 + digits(id)
    * (user<id>.<i>@mail<id%7>.com — the oracle's arithmetic depends on
    * exactly this shape; change both or neither). The closed form assumes
    * `i` renders as ONE digit (id%7 always does): a schedule injecting
    * 10+ emails per doc would desync scrubber and oracle as an opaque
    * hash mismatch — fail loudly here instead (the fabricate() guards'
    * discipline). */
  def emailTok(id: Long, i: Int): String = {
    require(i < 10, s"email injection index $i has 2+ digits; the oracle's " +
      "16+idlen length arithmetic assumes a single-digit index")
    s"user$id.$i@mail${id % 7}.com"
  }

  /** The i-th injected phone for doc `id`: fixed length 8. */
  def phoneTok(id: Long, i: Int): String = f"555-01${(id * 7 + i) % 100}%02d"

  /** Inject the schedule into clean soup text. Insertion positions are
    * schedule-derived (3 + 7*k, clamped) — irrelevant to the oracle's
    * counts but deterministic so reruns are byte-stable. */
  def fabricate(id: Long, text: String): String = {
    // The oracle replays counts/lengths arithmetically, which assumes the
    // soup carries NO preexisting PII-shaped content — fail loudly on
    // fixture drift instead of an opaque hash mismatch (q237's guards).
    require(!text.exists(c => c == '@' || c.isDigit),
      "fixture text contains '@' or digits; the PII oracle's injection " +
        "arithmetic would undercount")
    val ws = scala.collection.mutable.ArrayBuffer.from(text.split(' '))
    val toks =
      (0 until nEmails(id)).map(emailTok(id, _)) ++
      (0 until nPhones(id)).map(phoneTok(id, _))
    toks.zipWithIndex.foreach { case (t, k) =>
      ws.insert(math.min(3 + 7 * k, ws.length), t)
    }
    ws.mkString(" ")
  }

  private val EmailRe = "[a-z0-9.]+@[a-z0-9]+\\.[a-z]+".r
  private val PhoneRe = "555-[0-9]{4}".r
  // the residual sweep's looser phone shape — one compile per JVM, not
  // one per document row in the q255 map
  private val ResidualPhoneRe = "555-[0-9]".r

  /** The real scrubber: replace every email/phone span with a
    * placeholder; return (scrubbed, n_emails, n_phones, redacted_chars)
    * where redacted_chars is the total MATCHED span length. */
  def scrub(text: String): (String, Long, Long, Long) = {
    val emails = EmailRe.findAllIn(text).toList
    val afterEmail = EmailRe.replaceAllIn(text, "<email>")
    val phones = PhoneRe.findAllIn(afterEmail).toList
    val clean = PhoneRe.replaceAllIn(afterEmail, "<phone>")
    (clean, emails.size.toLong, phones.size.toLong,
      (emails.map(_.length) ++ phones.map(_.length)).sum.toLong)
  }

  private def oracleSql: String =
    s"""WITH p AS (
       |  SELECT doc_id,
       |    CAST(doc_id % 3 AS BIGINT) AS n_emails,
       |    CAST((doc_id // 3) % 2 AS BIGINT) AS n_phones,
       |    length(CAST(doc_id AS VARCHAR)) AS idlen
       |  FROM documents)
       |SELECT doc_id, n_emails, n_phones,
       |  CAST(n_emails * (16 + idlen) + n_phones * 8 AS BIGINT) AS n_redacted_chars,
       |  CAST(0 AS BIGINT) AS n_residual_pii
       |FROM p ORDER BY doc_id""".stripMargin

  private def T(s: SparkSession, dir: String, n: String): DataFrame = Tables(s, dir, n)

  val entries: Seq[Entry] = Seq(
    Entry("q255_pii_scrub", oracleSql) { (s, d) =>
      import s.implicits._
      T(s, d, "documents").select(col("doc_id"), col("text")).as[(Long, String)]
        .map { case (id, text) =>
          val (clean, ne, np, redacted) = scrub(fabricate(id, text))
          val residual = clean.count(_ == '@').toLong +
            ResidualPhoneRe.findAllIn(clean).size.toLong
          (id, ne, np, redacted, residual)
        }
        .toDF("doc_id", "n_emails", "n_phones", "n_redacted_chars", "n_residual_pii")
        .orderBy(col("doc_id"))
    }
  )
}
