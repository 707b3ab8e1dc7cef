package graft.ingest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.queries.Entry

/** WARC-shard ingest (SURVEY.md Q221) — the container web crawls actually
  * ship in (ISO 28500; Common Crawl publishes petabytes of exactly this).
  * A WARC file is a sequence of records, each framed by a version line
  * (`WARC/1.0`), case-insensitive named headers, a blank line, then a
  * content block of EXACTLY `Content-Length` bytes followed by two CRLFs.
  * Response records carry a full HTTP response (status line + headers +
  * body) as their block. The framing discipline is the whole game: a
  * reader that re-syncs on "WARC/1.0" substrings instead of honoring
  * Content-Length is silently corrupted by any payload that contains the
  * magic (HTML quoting a WARC example, binaries, ...), so the parser here
  * consumes by declared length ONLY and then REQUIRES the record
  * terminator — a framing drift fails loudly at the very record where it
  * happened, not megabytes later.
  *
  * This entry ties the round-13 crawl stack together end-to-end: each
  * document fabricates its q218 OBFUSCATED URL and its q217 HTML page,
  * wrapped in an HTTP/1.1 200 response, wrapped in a WARC response record
  * (warcinfo first; interleaved request records on even ids that ingest
  * must skip), 8 docs per shard (the q203 grouping). Ingest then walks
  * records → parses HTTP → extracts main content with the q217 density
  * rule → canonicalizes the target URI with the q218 kernel. The oracle
  * recomputes every column arithmetically — md5(text) proves the document
  * text survived FOUR nested protocol layers byte-exactly, and the
  * canonical URL column proves the crawl-frontier key derivation. Even
  * doc_id is recovered IN-BAND (from the page's `<title>`), so record
  * attribution itself is parsed, not assumed.
  *
  * Scale posture: identical to q203/q215 — the groupBy is fixture-side
  * fabrication; production WARC blobs arrive one-per-row (or stream via
  * q207's commit-log path) and ingest is map-only parse, no shuffle;
  * records never span shard files by construction of the format.
  */
object WarcShards {

  private val CRLF = "\r\n"
  private def ascii(s: String): Array[Byte] = s.getBytes("ISO-8859-1")

  object Warc {

    /** One record: lowercase-keyed headers + the content block. */
    final case class Record(headers: Map[String, String], block: Array[Byte])

    private def uuid(n: Long): String =
      f"<urn:uuid:00000000-0000-4000-8000-$n%012d>"

    def record(typ: String, extra: Seq[(String, String)], block: Array[Byte],
               id: Long): Array[Byte] = {
      val hdrs = Seq(
        "WARC-Type" -> typ,
        "WARC-Record-ID" -> uuid(id),
        "WARC-Date" -> "2026-01-01T00:00:00Z") ++ extra ++ Seq(
        "Content-Length" -> block.length.toString)
      val head = s"WARC/1.0$CRLF" +
        hdrs.map { case (k, v) => s"$k: $v$CRLF" }.mkString + CRLF
      val out = new java.io.ByteArrayOutputStream()
      out.write(ascii(head)); out.write(block); out.write(ascii(CRLF + CRLF))
      out.toByteArray
    }

    /** Serialize records into one WARC file. */
    def write(records: Seq[Array[Byte]]): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      records.foreach(out.write)
      out.toByteArray
    }

    /** Walk every record by Content-Length framing; loud on any drift. */
    def read(bytes: Array[Byte]): Seq[Record] =
      readWithOffsets(bytes).map(_._1)

    /** [[read]] plus each record's (offset, totalLength) within the file —
      * the CDX index payload (q223): `bytes.slice(offset, offset+length)`
      * is a complete standalone WARC record. */
    def readWithOffsets(bytes: Array[Byte]): Seq[(Record, Long, Long)] = {
      val out = Seq.newBuilder[(Record, Long, Long)]
      var i = 0
      def line(): String = {
        val eol = {
          var j = i
          while (j + 1 < bytes.length && !(bytes(j) == '\r' && bytes(j + 1) == '\n')) j += 1
          require(j + 1 < bytes.length, "unterminated header line")
          j
        }
        val s = new String(bytes, i, eol - i, "ISO-8859-1")
        i = eol + 2
        s
      }
      while (i < bytes.length) {
        val start = i
        require(line() == "WARC/1.0", s"bad WARC version line at offset $i")
        val hdrs = Iterator.continually(line()).takeWhile(_.nonEmpty).map { h =>
          val c = h.indexOf(':')
          require(c > 0, s"malformed WARC header '$h'")
          h.substring(0, c).trim.toLowerCase -> h.substring(c + 1).trim
        }.toMap
        val len = hdrs.getOrElse("content-length",
          throw new IllegalArgumentException("record missing Content-Length")).toInt
        require(i + len <= bytes.length, "content block truncated")
        val block = bytes.slice(i, i + len)
        i += len
        val term = new String(bytes, i, math.min(4, bytes.length - i), "ISO-8859-1")
        require(term == CRLF + CRLF, s"missing record terminator after block at $i")
        i += 4
        out += ((Record(hdrs, block), start.toLong, (i - start).toLong))
      }
      out.result()
    }

    /** Parse an HTTP/1.1 response block: (status, headers, body). The
      * body length must match the HTTP Content-Length exactly. */
    def httpResponse(block: Array[Byte]): (Int, Map[String, String], Array[Byte]) = {
      val sep = {
        var j = 0
        while (j + 3 < block.length &&
          !(block(j) == '\r' && block(j + 1) == '\n' &&
            block(j + 2) == '\r' && block(j + 3) == '\n')) j += 1
        require(j + 3 < block.length, "no HTTP header/body separator")
        j
      }
      val head = new String(block, 0, sep, "ISO-8859-1").split("\r\n")
      val status = {
        val parts = head.head.split(" ", 3)
        require(parts.length >= 2 && parts(0).startsWith("HTTP/1."),
          s"bad HTTP status line '${head.head}'")
        parts(1).toInt
      }
      val hdrs = head.tail.map { h =>
        val c = h.indexOf(':')
        require(c > 0, s"malformed HTTP header '$h'")
        h.substring(0, c).trim.toLowerCase -> h.substring(c + 1).trim
      }.toMap
      val body = block.drop(sep + 4)
      hdrs.get("content-length").foreach { cl =>
        require(cl.toInt == body.length,
          s"HTTP Content-Length $cl != body ${body.length}")
      }
      (status, hdrs, body)
    }

    def httpOk(body: Array[Byte]): Array[Byte] = ascii(
      s"HTTP/1.1 200 OK${CRLF}Content-Type: text/html; charset=utf-8$CRLF" +
        s"Content-Length: ${body.length}$CRLF$CRLF") ++ body
  }

  /** Fabricate one shard: warcinfo, then per doc an optional request
    * record (even ids — ingest must skip them) and the response record
    * wrapping the q217 page at the q218 obfuscated URI. */
  def buildShard(shardId: Long, docs: Seq[(Long, String)]): Array[Byte] = {
    val info = Warc.record("warcinfo",
      Seq("Content-Type" -> "application/warc-fields"),
      ascii(s"software: graft$CRLF"), 1000000 + shardId)
    val recs = docs.sortBy(_._1).flatMap { case (id, text) =>
      val uri = graft.text.Urls.fabricate(id)
      val req = if (id % 2 == 0)
        Seq(Warc.record("request",
          Seq("WARC-Target-URI" -> uri,
              "Content-Type" -> "application/http;msgtype=request"),
          ascii(s"GET / HTTP/1.1${CRLF}Host: x$CRLF$CRLF"), 2000000 + id))
      else Seq.empty
      val html = graft.text.Html.fabricate(id, text).getBytes("UTF-8")
      req :+ Warc.record("response",
        Seq("WARC-Target-URI" -> uri,
            "Content-Type" -> "application/http;msgtype=response"),
        Warc.httpOk(html), id)
    }
    Warc.write(info +: recs)
  }

  /** Parse a shard back to curated samples:
    * (doc_id, shard_id, canon_url, status, content). */
  def parseShard(shardId: Long, bytes: Array[Byte])
      : Seq[(Long, Long, String, Int, String)] =
    Warc.read(bytes)
      .filter(_.headers("warc-type") == "response")
      .map { r =>
        val (status, _, body) = Warc.httpResponse(r.block)
        val doc = graft.text.Html.parse(new String(body, "UTF-8"))
        val id = doc.title.stripPrefix("Doc ").toLong   // in-band attribution
        val canon = graft.text.Urls.canonicalize(r.headers("warc-target-uri"))
        val content = graft.text.Html.mainContent(doc)
        (id, shardId, canon, status, content)
      }

  private def T(s: SparkSession, dir: String, n: String): DataFrame = Tables(s, dir, n)

  val docsPerShard = 8

  val entries: Seq[Entry] = Seq(
    Entry("q221_warc_shards",
      """SELECT doc_id, doc_id // 8 AS shard_id,
        |  'https://www.site' || ((doc_id // 4) % 5) || '.com/docs/'
        |    || (doc_id // 4) || '/page?a=1&b=2' AS canon_url,
        |  CAST(200 AS INT) AS status, md5(text) AS content_md5
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      import s.implicits._
      T(s, d, "documents").select(col("doc_id"), col("text")).as[(Long, String)]
        .groupByKey { case (id, _) => id / docsPerShard }
        .mapGroups { (shardId, docs) => (shardId, buildShard(shardId, docs.toSeq)) }
        .flatMap { case (shardId, bytes) => parseShard(shardId, bytes) }
        .toDF("doc_id", "shard_id", "canon_url", "status", "content")
        .select(col("doc_id"), col("shard_id"), col("canon_url"), col("status"),
                md5(col("content")).as("content_md5"))
        .orderBy(col("doc_id"))
    },

    // CDX-style random-access index over the WARC shards (SURVEY.md
    // Q223) — what makes a WARC archive QUERYABLE: per response record,
    // (canonical URL -> shard, record index, byte offset, length), the
    // lookup structure web archives serve "give me THIS page" from
    // without scanning the shard. Offsets are byte-layout-derived, so
    // they are proven rather than oracle-replayed: the entry RE-READS
    // each record standalone from its recorded (offset, length) slice —
    // single-record parse, no surrounding context — and `seek_ok`
    // asserts the random access recovered the exact document (id via the
    // in-band title) with a byte-identical block; the oracle pins
    // seek_ok TRUE for every row plus all arithmetic columns. rec_index
    // counts RESPONSE records only (requests/warcinfo are index-invisible,
    // exercising type filtering in the indexer). Same scale posture as
    // q221: map-only per shard, index emission adds no shuffle.
    Entry("q223_warc_cdx",
      """SELECT doc_id, doc_id // 8 AS shard_id,
        |  CAST(doc_id % 8 AS INT) AS rec_index,
        |  'https://www.site' || ((doc_id // 4) % 5) || '.com/docs/'
        |    || (doc_id // 4) || '/page?a=1&b=2' AS canon_url,
        |  TRUE AS seek_ok
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      import s.implicits._
      T(s, d, "documents").select(col("doc_id"), col("text")).as[(Long, String)]
        .groupByKey { case (id, _) => id / docsPerShard }
        .mapGroups { (shardId, docs) => (shardId, buildShard(shardId, docs.toSeq)) }
        .flatMap { case (shardId, bytes) =>
          val responses = Warc.readWithOffsets(bytes)
            .filter(_._1.headers("warc-type") == "response")
          responses.zipWithIndex.map { case ((rec, off, len), idx) =>
            // the random access under test: a standalone slice re-parse
            val again = Warc.read(bytes.slice(off.toInt, (off + len).toInt))
            val ok = again.size == 1 &&
              java.util.Arrays.equals(again.head.block, rec.block)
            val (_, _, body) = Warc.httpResponse(again.head.block)
            val id = graft.text.Html.parse(new String(body, "UTF-8"))
              .title.stripPrefix("Doc ").toLong
            val canon = graft.text.Urls.canonicalize(rec.headers("warc-target-uri"))
            (id, shardId, idx, canon, ok)
          }
        }
        .toDF("doc_id", "shard_id", "rec_index", "canon_url", "seek_ok")
        .orderBy(col("doc_id"))
    }
  )
}
