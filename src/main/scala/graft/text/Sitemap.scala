package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.queries.Entry

/** Sitemap ingestion (SURVEY.md Q228/Q229) — the sitemaps.org protocol
  * (sitemap.xml), the crawl-DISCOVERY tier that complements robots.txt
  * (q222 decides MAY I fetch; the sitemap declares WHAT EXISTS): a
  * compliant pipeline seeds its frontier from each host's sitemap before
  * any link extraction runs. The reference has no crawl layer; this is
  * north-star pipeline machinery like q217/q218/q222.
  *
  * Two real layers, both from scratch (no external XML library):
  *
  *  - [[XmlMini]]: a single-pass parser for the XML subset sitemaps use —
  *    prolog, comments, CDATA sections, quoted attributes (a `>` inside a
  *    quoted attribute value must not end the tag), self-closing tags,
  *    character entities (the five named ones plus decimal `&#NN;` and
  *    hex `&#xHH;` references). Well-formedness is enforced LOUDLY: a
  *    close tag not matching the open stack, an unterminated comment /
  *    CDATA / tag, or an unknown entity fails with the offset in the
  *    message — a silently-resynced sitemap would corrupt the frontier.
  *  - protocol walk: `<sitemapindex>` → child `<sitemap><loc>` parts →
  *    each part's `<urlset>` → per-`<url>` loc/lastmod/changefreq/
  *    priority, unknown elements skipped without ending the `<url>`.
  *
  * Each loc is then pushed through q218's [[Urls.canonicalize]] — sitemap
  * locs in the wild carry the same syntactic variance as crawled links
  * (entity-escaped `&amp;`, explicit `:443`, unsorted params), so the
  * frontier key must be the canonical form.
  *
  * Proof shape (q221's nesting argument, applied to XML): the fabricated
  * per-host sitemap obfuscates every loc by g%3 (entity-escaped query /
  * CDATA-wrapped raw `&` / numeric character references) and varies the
  * URL form by g%2 (plain canonical vs `:443` + swapped params), splits
  * each host's urlset across TWO parts selected through a real index
  * document, and plants decoys (comments between records, an unknown
  * `<mobile:mobile/>` element inside `<url>`, an xmlns attribute holding
  * a `>` would-be terminator). The DuckDB oracle replays loc/lastmod/
  * changefreq/priority arithmetically, so entity decode, CDATA capture,
  * index traversal AND canonicalization are each load-bearing for the
  * hash match. SitemapSpec additionally pins [[XmlMini]] against the
  * JDK's independent `javax.xml.parsers` DOM reader on every fabricated
  * document — a cancelling encoder/parser bug pair cannot hide.
  *
  * Q229 is the audit every sitemap consumer runs: sitemap-listed vs
  * crawl-derived canonical URLs, ONE full outer join → `both` /
  * `sitemap_only` (listed but never seen in the corpus — the fabrication
  * omits g%7=0 groups and plants a per-host teaser page) / `crawl_only`
  * (crawled but unlisted — orphan discovery).
  *
  * Scale posture: sitemaps are per-HOST documents (bounded: the protocol
  * caps 50k URLs per file, forcing the index layer this entry exercises);
  * parse is map-only per host, one row per listed URL out. The
  * fabrication groupBy is fixture-side only — production reads real
  * files. Q229 is one shuffle per side on the canonical key plus the
  * join — q60's dedup posture applied across two sources.
  */
object Sitemap {

  // ---------------------------------------------------------------- XML

  /** Minimal from-scratch XML parser for the sitemap subset: returns the
    * root element. Loud on malformed input (see object doc). */
  object XmlMini {
    final case class Elem(name: String, children: Seq[Elem], text: String)

    def decodeEntities(s: String): String = {
      val out = new java.lang.StringBuilder(s.length)
      var i = 0
      while (i < s.length) {
        val c = s.charAt(i)
        if (c == '&') {
          val semi = s.indexOf(';', i + 1)
          require(semi > i, s"unterminated entity at offset $i")
          val ent = s.substring(i + 1, semi)
          out.append(ent match {
            case "amp"  => "&"
            case "lt"   => "<"
            case "gt"   => ">"
            case "quot" => "\""
            case "apos" => "'"
            case e if e.startsWith("#x") || e.startsWith("#X") =>
              Integer.parseInt(e.substring(2), 16).toChar.toString
            case e if e.startsWith("#") && e.length > 1 =>
              Integer.parseInt(e.substring(1)).toChar.toString
            case e => throw new IllegalArgumentException(
              s"unknown entity &$e; at offset $i")
          })
          i = semi + 1
        } else { out.append(c); i += 1 }
      }
      out.toString
    }

    def parse(xml: String): Elem = {
      var i = 0
      val n = xml.length
      def fail(msg: String): Nothing =
        throw new IllegalArgumentException(s"$msg at offset $i")
      // skip prolog / comments / whitespace between elements
      def skipMisc(): Unit = {
        var go = true
        while (go) {
          while (i < n && xml.charAt(i).isWhitespace) i += 1
          if (xml.startsWith("<?", i)) {
            val e = xml.indexOf("?>", i)
            if (e < 0) fail("unterminated processing instruction")
            i = e + 2
          } else if (xml.startsWith("<!--", i)) {
            val e = xml.indexOf("-->", i)
            if (e < 0) fail("unterminated comment")
            i = e + 3
          } else go = false
        }
      }
      // past '<name': attributes until '>' or '/>'; quoted values may
      // hold '>' so a raw indexOf('>') would mis-split the tag
      def skipAttrs(): Boolean = {
        while (i < n) {
          xml.charAt(i) match {
            case '"' | '\'' =>
              val q = xml.charAt(i)
              val e = xml.indexOf(q, i + 1)
              if (e < 0) fail("unterminated attribute value")
              i = e + 1
            case '>' => i += 1; return false
            case '/' if xml.startsWith("/>", i) => i += 2; return true
            case _ => i += 1
          }
        }
        fail("unterminated tag")
      }
      def name(): String = {
        val st = i
        while (i < n && (xml.charAt(i).isLetterOrDigit ||
          "._:-".indexOf(xml.charAt(i)) >= 0)) i += 1
        if (i == st) fail("expected element name")
        xml.substring(st, i)
      }
      def element(): Elem = {
        require(i < n && xml.charAt(i) == '<', s"expected '<' at offset $i")
        i += 1
        val nm = name()
        val selfClosed = skipAttrs()
        if (selfClosed) return Elem(nm, Seq.empty, "")
        val kids = Seq.newBuilder[Elem]
        val text = new java.lang.StringBuilder
        while (true) {
          if (i >= n) fail(s"unclosed element <$nm>")
          if (xml.startsWith("<![CDATA[", i)) {
            val e = xml.indexOf("]]>", i)
            if (e < 0) fail("unterminated CDATA")
            text.append(xml.substring(i + 9, e)) // raw, no entity decode
            i = e + 3
          } else if (xml.startsWith("<!--", i)) {
            val e = xml.indexOf("-->", i)
            if (e < 0) fail("unterminated comment")
            i = e + 3
          } else if (xml.startsWith("</", i)) {
            i += 2
            val close = name()
            if (close != nm) fail(s"mismatched </$close>, open <$nm>")
            while (i < n && xml.charAt(i).isWhitespace) i += 1
            if (i >= n || xml.charAt(i) != '>') fail("malformed close tag")
            i += 1
            return Elem(nm, kids.result(), text.toString)
          } else if (xml.charAt(i) == '<') {
            kids += element()
          } else {
            val e = xml.indexOf('<', i)
            if (e < 0) fail(s"unclosed element <$nm>")
            text.append(decodeEntities(xml.substring(i, e)))
            i = e
          }
        }
        sys.error("unreachable")
      }
      skipMisc()
      val root = element()
      skipMisc()
      if (i != n) fail("trailing content after root element")
      root
    }
  }

  // ------------------------------------------------- protocol fabrication

  final case class SmUrl(loc: String, lastmod: String, changefreq: String,
                         priority: String)

  val changefreqs = Seq("daily", "weekly", "monthly")

  def lastmodOf(g: Long): String =
    java.time.LocalDate.of(2024, 1, 1).plusDays(g % 365).toString

  /** The canonical page URL for group g — what every obfuscated loc must
    * collapse to (q218's target form). */
  def canonicalOf(g: Long): String =
    s"https://www.site${g % 5}.com/docs/$g/page?a=1&b=2"

  /** One `<url>` record with the g%3 entity obfuscation and g%2 URL-form
    * variance described in the object doc. */
  private def urlRecord(g: Long): String = {
    val base =
      if (g % 2 == 0) canonicalOf(g)
      else s"https://www.site${g % 5}.com:443/docs/$g/page?b=2&a=1"
    val loc = (g % 3) match {
      case 0 => base.replace("&", "&amp;")
      case 1 => s"<![CDATA[$base]]>"
      case 2 =>
        // numeric character references: decimal '/' and hex '?'
        val q = base.indexOf('?')
        base.substring(0, q).replaceFirst("/docs/", "&#47;docs&#47;") +
          "&#x3F;" + base.substring(q + 1).replace("&", "&#38;")
    }
    s"""  <url>
       |    <loc>$loc</loc><!-- record $g -->
       |    <lastmod>${lastmodOf(g)}</lastmod>
       |    <mobile:mobile/>
       |    <changefreq>${changefreqs((g % 3).toInt)}</changefreq>
       |    <priority>0.${g % 10}</priority>
       |  </url>""".stripMargin
  }

  /** A `<urlset>` part document over the given records. */
  def urlsetXml(records: Seq[String]): String =
    s"""<?xml version="1.0" encoding="UTF-8"?>
       |<!-- fabricated part -->
       |<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9"
       |        decoy="a > b holds a quoted terminator">
       |${records.mkString("\n")}
       |</urlset>""".stripMargin

  /** Two-level fabrication for host `h`: the index document plus its two
    * part documents (groups split by g%2, mirroring real 50k-URL caps). */
  def fabricateHost(h: Long, groups: Seq[Long]): (String, Map[String, String]) = {
    val parts = groups.sorted.groupBy(_ % 2).map { case (p, gs) =>
      s"part$p.xml" -> urlsetXml(gs.map(urlRecord))
    }
    val index =
      s"""<?xml version="1.0" encoding="UTF-8"?>
         |<sitemapindex xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">
         |${parts.keys.toSeq.sorted.map(p =>
             s"  <sitemap><loc>https://www.site$h.com/$p</loc></sitemap>")
             .mkString("\n")}
         |</sitemapindex>""".stripMargin
    (index, parts)
  }

  // ---------------------------------------------------- protocol reading

  private def textOf(e: XmlMini.Elem, child: String): Option[String] =
    e.children.find(_.name == child).map(_.text.trim)

  /** Parse one urlset document into its records (unknown elements inside
    * `<url>` skipped; a record without `<loc>` is a protocol error). */
  def parseUrlset(xml: String): Seq[SmUrl] = {
    val root = XmlMini.parse(xml)
    require(root.name == "urlset", s"expected <urlset>, got <${root.name}>")
    root.children.filter(_.name == "url").map { u =>
      SmUrl(
        textOf(u, "loc").getOrElse(
          throw new IllegalArgumentException("url record without <loc>")),
        textOf(u, "lastmod").getOrElse(""),
        textOf(u, "changefreq").getOrElse(""),
        textOf(u, "priority").getOrElse(""))
    }
  }

  /** Walk index → parts (resolved by file name through `partByName`) →
    * records; a direct urlset document also accepted (small hosts skip
    * the index layer). */
  def readSitemap(indexXml: String, partByName: String => String): Seq[SmUrl] = {
    val root = XmlMini.parse(indexXml)
    root.name match {
      case "urlset" => parseUrlset(indexXml)
      case "sitemapindex" =>
        root.children.filter(_.name == "sitemap").flatMap { sm =>
          val loc = textOf(sm, "loc").getOrElse(
            throw new IllegalArgumentException("sitemap record without <loc>"))
          parseUrlset(partByName(loc.substring(loc.lastIndexOf('/') + 1)))
        }
      case other =>
        throw new IllegalArgumentException(s"unexpected root <$other>")
    }
  }

  private def T(s: SparkSession, dir: String, n: String): DataFrame = Tables(s, dir, n)

  /** Per-host group lists from the documents table — the fixture-side
    * fabrication shuffle (production reads real sitemap files). */
  private def hostGroups(s: SparkSession, d: String): DataFrame =
    T(s, d, "documents")
      .select(expr("doc_id div 4").as("g")).distinct()
      .groupBy((col("g") % 5).as("host"))
      .agg(collect_list(col("g")).as("gs"))

  val entries: Seq[Entry] = Seq(
    Entry("q228_sitemap_parse",
      """SELECT 'https://www.site' || (g % 5) || '.com/docs/' || g
        |         || '/page?a=1&b=2' AS canon_url,
        |  strftime(DATE '2024-01-01' + CAST(g % 365 AS INT), '%Y-%m-%d') AS lastmod,
        |  CASE CAST(g % 3 AS INT) WHEN 0 THEN 'daily' WHEN 1 THEN 'weekly'
        |       ELSE 'monthly' END AS changefreq,
        |  '0.' || (g % 10) AS priority
        |FROM (SELECT DISTINCT doc_id // 4 AS g FROM documents)
        |ORDER BY canon_url""".stripMargin) { (s, d) =>
      import s.implicits._
      hostGroups(s, d).as[(Long, Seq[Long])]
        .flatMap { case (h, gs) =>
          val (index, parts) = fabricateHost(h, gs)
          readSitemap(index, parts).map(u =>
            (Urls.canonicalize(u.loc), u.lastmod, u.changefreq, u.priority))
        }
        .toDF("canon_url", "lastmod", "changefreq", "priority")
        .orderBy(col("canon_url"))
    }.sqlTwin(
      """SELECT concat('https://www.site', g % 5, '.com/docs/', g,
        |         '/page?a=1&b=2') AS canon_url,
        |  date_format(date_add(DATE '2024-01-01', CAST(g % 365 AS INT)),
        |              'yyyy-MM-dd') AS lastmod,
        |  CASE CAST(g % 3 AS INT) WHEN 0 THEN 'daily' WHEN 1 THEN 'weekly'
        |       ELSE 'monthly' END AS changefreq,
        |  concat('0.', g % 10) AS priority
        |FROM (SELECT DISTINCT doc_id div 4 AS g FROM documents)
        |ORDER BY canon_url""".stripMargin),

    // Sitemap audit (Q229): listed-vs-crawled, one full outer join on the
    // canonical key. The audit-side fabrication omits g%7=0 groups and
    // plants one teaser page per host (listed, never crawled).
    Entry("q229_sitemap_coverage",
      """WITH gs AS (SELECT DISTINCT doc_id // 4 AS g FROM documents),
        |sm AS (
        |  SELECT 'https://www.site' || (g % 5) || '.com/docs/' || g
        |           || '/page?a=1&b=2' AS u
        |  FROM gs WHERE g % 7 <> 0
        |  UNION ALL
        |  SELECT 'https://www.site' || h || '.com/docs/teaser-' || h || '/page'
        |  FROM (SELECT DISTINCT g % 5 AS h FROM gs)),
        |cr AS (
        |  SELECT 'https://www.site' || (g % 5) || '.com/docs/' || g
        |           || '/page?a=1&b=2' AS u
        |  FROM gs)
        |SELECT COALESCE(sm.u, cr.u) AS canon_url,
        |  CASE WHEN sm.u IS NULL THEN 'crawl_only'
        |       WHEN cr.u IS NULL THEN 'sitemap_only'
        |       ELSE 'both' END AS status
        |FROM sm FULL OUTER JOIN cr ON sm.u = cr.u
        |ORDER BY canon_url""".stripMargin) { (s, d) =>
      import s.implicits._
      val listed = hostGroups(s, d).as[(Long, Seq[Long])]
        .flatMap { case (h, gs) =>
          val audited = gs.filter(_ % 7 != 0)
          val (index, parts) = fabricateHost(h, audited)
          readSitemap(index, parts).map(u => Urls.canonicalize(u.loc)) :+
            s"https://www.site$h.com/docs/teaser-$h/page"
        }.toDF("sm_url")
      val crawled = T(s, d, "documents").select(col("doc_id")).as[Long]
        .map(id => Urls.canonicalize(Urls.fabricate(id)))
        .toDF("cr_url").distinct()
      listed.join(crawled, col("sm_url") === col("cr_url"), "full_outer")
        .select(
          coalesce(col("sm_url"), col("cr_url")).as("canon_url"),
          when(col("sm_url").isNull, "crawl_only")
            .when(col("cr_url").isNull, "sitemap_only")
            .otherwise("both").as("status"))
        .orderBy(col("canon_url"))
    }
  )
}
