package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.queries.Entry

/** HTML boilerplate extraction (SURVEY.md Q217) — the curation stage every
  * crawl-derived corpus runs FIRST: strip markup, decode entities, and keep
  * only the main content, dropping nav/sidebar/footer chrome. The reference
  * ships clean text to ES and never faces this; a 100 TB web pipeline faces
  * it before any operator this engine has, so it is implemented from
  * scratch (no external parser), same as the archive/codec entries.
  *
  * Two layers:
  *
  *  1. [[parse]] — a single-pass tokenizer over the byte stream of tag
  *     soup: comments (`<!-- -->`), bang/doctype declarations, raw-text
  *     elements (`script`/`style` — their bodies are skipped verbatim, so
  *     a `"<p>"` string literal inside JavaScript cannot fabricate a
  *     block), quoted attributes (a `>` inside an attribute value must not
  *     close the tag), void elements, and character references (named
  *     `&amp; &lt; &gt; &quot; &apos; &nbsp;` + numeric decimal/hex). Text
  *     accumulates into BLOCKS keyed by the nearest enclosing block-level
  *     tag; anchor depth is tracked so each block knows how many of its
  *     characters sit inside `<a>` (its link mass).
  *
  *  2. [[mainContent]] — the standard density heuristic (the
  *     Kohlschütter-style boilerplate signal reduced to its two load-
  *     bearing features): a block is content iff it is long enough
  *     (>= 20 chars) AND link-sparse (link chars / text chars <= 1/3).
  *     Nav menus and related-link rails fail the density test, headings
  *     and copyright lines fail the length test, body paragraphs pass —
  *     including paragraphs that contain an inline citation link.
  *
  * Proof shape (the q215 pattern applied to HTML): pages are fabricated
  * from the documents table — title, header, link-dense nav/aside/footer
  * chrome, the document text as `<p>` blocks of ~12 words with
  * doc_id-dependent entity obfuscation (odd ids spell `e` as `&#101;`,
  * ids%5==0 spell `o` as `&#x6F;`) and an inline anchor on ids%3==0 —
  * then parsed back; the oracle recomputes title/block/link counts
  * arithmetically and md5(text) pins that extraction reproduced the
  * document text byte-exactly THROUGH the markup+entity layer.
  *
  * Scale posture: fabrication and extraction are both map-only (one row
  * per page, no shuffle); the only shuffle in the entry is the final
  * presentation sort. At 100 TB this runs as a mapPartitions-shaped scan,
  * exactly like the image codecs.
  */
object Html {

  /** One finished block: enclosing tag, whitespace-normalized text, how
    * many of its chars are anchor text, and its anchor count. */
  final case class Block(tag: String, text: String, linkChars: Int, links: Int)

  /** One captured anchor: its href and its whitespace-normalized enclosed
    * text — the unit of anchor-text aggregation (q232): what OTHER pages
    * say about a target is the classic web relevance/quality signal. */
  final case class Anchor(href: String, text: String)

  final case class Doc(title: String, blocks: Seq[Block], totalLinks: Int,
                       hrefs: Seq[String], anchors: Seq[Anchor])

  /** Tags that establish a text block (HTML5 flow containers + headings);
    * text between them attributes to the nearest enclosing one. */
  private val blockTags = Set(
    "html", "head", "body", "title", "p", "h1", "h2", "h3", "h4", "h5", "h6",
    "div", "ul", "ol", "li", "nav", "aside", "header", "footer", "main",
    "section", "article", "table", "tr", "td", "th", "blockquote", "pre")

  /** Elements whose content is raw text (no tags, no entities) up to the
    * matching end tag — the spec-mandated script-data parse mode. */
  private val rawTextTags = Set("script", "style")

  /** Void elements: no end tag ever follows (`<meta>` must not push). */
  private val voidTags = Set("area", "base", "br", "col", "embed", "hr",
    "img", "input", "link", "meta", "source", "track", "wbr")

  private val namedEntities = Map(
    "amp" -> '&', "lt" -> '<', "gt" -> '>', "quot" -> '"',
    "apos" -> '\'', "nbsp" -> ' ')

  /** Decode one character reference starting at `i` (which points at
    * `&`); returns (decoded char, index after the reference), or None if
    * the ampersand is not a well-formed reference (emit it literally —
    * browsers do). */
  private def entity(s: String, i: Int): Option[(Char, Int)] = {
    val semi = s.indexOf(';', i + 1)
    if (semi < 0 || semi - i > 10) None
    else {
      val body = s.substring(i + 1, semi)
      val decoded =
        if (body.startsWith("#x") || body.startsWith("#X"))
          scala.util.Try(Integer.parseInt(body.drop(2), 16).toChar).toOption
        else if (body.startsWith("#"))
          scala.util.Try(Integer.parseInt(body.drop(1), 10).toChar).toOption
        else namedEntities.get(body)
      decoded.map(c => (c, semi + 1))
    }
  }

  /** Single-pass parse; see object doc. Whitespace inside each block is
    * collapsed to single spaces and trimmed (the inter-tag indentation of
    * serialized HTML is presentation, not content). */
  def parse(html: String): Doc = {
    val n = html.length
    var i = 0
    var anchorDepth = 0
    var totalLinks = 0
    val stack = scala.collection.mutable.Stack[String]("")
    val sb = new java.lang.StringBuilder
    var curLinkChars = 0
    var curLinks = 0
    val blocks = Seq.newBuilder[Block]
    val hrefs = Seq.newBuilder[String]
    val anchors = Seq.newBuilder[Anchor]
    var anchorHref: String = null        // href of the OUTERMOST open <a>
    val anchorText = new java.lang.StringBuilder
    var title = ""
    val hrefRx = """href\s*=\s*("([^"]*)"|'([^']*)')""".r

    def flush(): Unit = {
      // collapse runs of whitespace; trim
      val raw = sb.toString
      val norm = raw.replaceAll("\\s+", " ").trim
      if (norm.nonEmpty) {
        val tag = stack.top
        if (tag == "title") title = norm
        else blocks += Block(tag, norm, curLinkChars, curLinks)
      }
      sb.setLength(0); curLinkChars = 0; curLinks = 0
    }

    def tagNameAt(j0: Int): (String, Int) = {
      var j = j0
      while (j < n && (html(j).isLetterOrDigit)) j += 1
      (html.substring(j0, j).toLowerCase, j)
    }

    /** Advance past the tag's attributes to the char after `>`, honoring
      * quoted values (a `>` inside quotes does not close the tag). */
    def skipTag(j0: Int): Int = {
      var j = j0
      while (j < n && html(j) != '>') {
        val c = html(j)
        if (c == '"' || c == '\'') {
          j += 1
          while (j < n && html(j) != c) j += 1
        }
        j += 1
      }
      math.min(j + 1, n)
    }

    while (i < n) {
      val c = html(i)
      if (c == '<' && i + 1 < n) {
        val c1 = html(i + 1)
        if (c1 == '!' || c1 == '?') {
          // comment or doctype/processing decl
          if (html.startsWith("<!--", i)) {
            val end = html.indexOf("-->", i + 4)
            i = if (end < 0) n else end + 3
          } else i = skipTag(i + 1)
        } else if (c1 == '/') {
          val (name, j) = tagNameAt(i + 2)
          i = skipTag(j)
          if (name == "a") {
            if (anchorDepth > 0) {
              anchorDepth -= 1
              if (anchorDepth == 0 && anchorHref != null) {
                anchors += Anchor(anchorHref,
                  anchorText.toString.replaceAll("\\s+", " ").trim)
                anchorHref = null
              }
            }
          }
          else if (blockTags(name)) {
            flush()
            // pop to the matching open if present (tolerates misnesting)
            if (stack.exists(_ == name)) {
              while (stack.top != name) stack.pop()
              if (stack.size > 1) stack.pop()
            }
          }
        } else if (c1.isLetter) {
          val (name, j) = tagNameAt(i + 1)
          val afterOpen = skipTag(j)
          val selfClosed = html.substring(i, afterOpen).endsWith("/>")
          if (rawTextTags(name)) {
            // raw text: content runs verbatim to the matching end tag.
            // Bounded case-insensitive scan (no per-element toLowerCase
            // allocation), and the char after the name must terminate the
            // tag name — "</scripty>" must NOT end a <script> element.
            var k = afterOpen
            var close = -1
            while (close < 0 && k + 1 < n) {
              if (html(k) == '<' && html(k + 1) == '/' &&
                  html.regionMatches(true, k + 2, name, 0, name.length)) {
                val after = k + 2 + name.length
                if (after >= n || html(after) == '>' || html(after) == '/' ||
                    html(after).isWhitespace)
                  close = k
              }
              k += 1
            }
            i = if (close < 0) n else skipTag(close + 2 + name.length)
          } else {
            i = afterOpen
            if (name == "a") {
              val href = hrefRx.findFirstMatchIn(html.substring(j, afterOpen))
                .map(m => Option(m.group(2)).getOrElse(m.group(3)))
              href.foreach(hrefs += _)
              if (anchorDepth == 0) {          // nested <a> is illegal HTML;
                anchorHref = href.orNull       // inner text folds into outer
                anchorText.setLength(0)
              }
              anchorDepth += 1; curLinks += 1; totalLinks += 1
            } else if (blockTags(name)) {
              flush()
              if (!selfClosed) stack.push(name)
            }
            // void + unknown inline tags: no block state change
          }
        } else { sb.append(c); i += 1 }   // stray '<' is text
      } else if (c == '&') {
        entity(html, i) match {
          case Some((ch, next)) =>
            sb.append(ch)
            if (anchorDepth > 0) {
              anchorText.append(ch)
              if (!ch.isWhitespace) curLinkChars += 1
            }
            i = next
          case None =>
            sb.append(c)
            if (anchorDepth > 0) { anchorText.append(c); curLinkChars += 1 }
            i += 1
        }
      } else {
        sb.append(c)
        if (anchorDepth > 0) {
          anchorText.append(c)
          if (!c.isWhitespace) curLinkChars += 1
        }
        i += 1
      }
    }
    flush()
    Doc(title, blocks.result(), totalLinks, hrefs.result(), anchors.result())
  }

  /** The density rule: content = long enough AND link-sparse. */
  def isContent(b: Block): Boolean =
    b.text.length >= minContentChars &&
      b.linkChars.toDouble <= b.text.length / 3.0

  val minContentChars = 20

  /** Main-content text: kept blocks joined in document order. */
  def mainContent(doc: Doc): String =
    doc.blocks.filter(isContent).map(_.text).mkString(" ")

  // ---- fabrication (fixture side; see object doc) ----------------------

  private def escape(t: String, id: Long): String = {
    val base = t.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    val e = if (id % 2 == 1) base.replace("e", "&#101;") else base
    if (id % 5 == 0) e.replace("o", "&#x6F;") else e
  }

  /** Words per content paragraph; a short tail merges into the last
    * paragraph so every content block clears [[minContentChars]]. */
  val wordsPerBlock = 12

  def chunkWords(words: Seq[String]): Seq[Seq[String]] = {
    val full = words.grouped(wordsPerBlock).toSeq
    if (full.size > 1 && full.last.size < wordsPerBlock)
      full.dropRight(2) :+ (full(full.size - 2) ++ full.last)
    else full
  }

  /** A complete page around the document text: doctype, raw-text decoys,
    * a comment decoy, quoted `>` in an attribute, void elements, entity
    * obfuscation, link-dense chrome, and an inline content anchor on
    * ids%3==0. Every hazard the parser claims to handle is present in
    * every fixture page. */
  def fabricate(id: Long, text: String): String = {
    // The q217/q221 md5 round-trip REQUIRES the fixture text to survive
    // parse-side whitespace normalization unchanged and to clear the
    // content-length floor; assert the invariant here so a fixture change
    // fails with a named message instead of an opaque hash mismatch.
    require(text == text.replaceAll("\\s+", " ").trim,
      s"fixture doc $id text is not single-space normalized; the HTML " +
        "round-trip oracle would hash-mismatch")
    require(text.length >= minContentChars,
      s"fixture doc $id text shorter than minContentChars=$minContentChars; " +
        "its only block would be dropped by isContent")
    val chunks = chunkWords(text.split(' ').toSeq)
    val ps = chunks.zipWithIndex.map { case (ws, ci) =>
      val body =
        if (ci == 0 && id % 3 == 0)
          s"""<a href="/ref/$id">${escape(ws.head, id)}</a> ${escape(ws.tail.mkString(" "), id)}"""
        else escape(ws.mkString(" "), id)
      s"    <p>$body</p>"
    }.mkString("\n")
    s"""<!DOCTYPE html>
<html>
<head>
  <meta charset="utf-8">
  <title>Doc $id</title>
  <style>p { margin: 0; } /* <p>style decoy</p> */</style>
  <script type="text/javascript">var s = "<p>script decoy</p>"; if (1 < 2 && s > "") { s = "&amp;"; }</script>
</head>
<body>
  <!-- chrome below; <p>comment decoy</p> -->
  <header><h1>Doc $id</h1></header>
  <nav><ul>
    <li><a href="/home" title="a > b">Home</a></li>
    <li><a href="/about">About</a></li>
    <li><a href="/docs">Docs</a></li>
    <li><a href="/contact">Contact</a></li>
  </ul></nav>
  <main>
$ps
  </main>
  <aside><a href="/rel/1">rel one</a> <a href="/rel/2">rel two</a> <a href="/rel/3">rel three</a></aside>
  <footer><a href="/terms">Terms</a> <a href="/privacy">Privacy</a> (c) graft</footer>
</body>
</html>"""
  }

  private def T(s: SparkSession, dir: String, n: String): DataFrame = Tables(s, dir, n)

  val entries: Seq[Entry] = Seq(
    // Fabricate page → parse → extract main content; oracle recomputes
    // every column arithmetically from the raw text (counts are pinned by
    // the fabrication recipe; md5 pins byte-exact extraction through the
    // markup+entity layer).
    Entry("q217_html_extract",
      """SELECT doc_id, 'Doc ' || doc_id AS title,
        |  GREATEST(CAST(1 AS BIGINT), CAST(len(string_split(text, ' ')) // 12 AS BIGINT)) AS n_blocks,
        |  CAST(9 + CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS INT) AS n_links,
        |  md5(text) AS content_md5
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      import s.implicits._
      T(s, d, "documents").select(col("doc_id"), col("text")).as[(Long, String)]
        .map { case (id, text) =>
          val doc = parse(fabricate(id, text))
          val kept = doc.blocks.filter(isContent)
          (id, doc.title, kept.size.toLong, doc.totalLinks, kept.map(_.text).mkString(" "))
        }
        .toDF("doc_id", "title", "n_blocks", "n_links", "content")
        .select(col("doc_id"), col("title"), col("n_blocks"), col("n_links"),
                md5(col("content")).as("content_md5"))
        .orderBy(col("doc_id"))
    }
  )
}
