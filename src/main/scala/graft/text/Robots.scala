package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.queries.Entry

/** robots.txt evaluation (SURVEY.md Q222) — the Robots Exclusion Protocol
  * (RFC 9309), the crawl-permission tier that sits between URL frontier
  * derivation (q218) and fetching (q221): a compliant pipeline must
  * evaluate every candidate URL against its host's robots.txt BEFORE the
  * corpus exists. Implemented from scratch:
  *
  *  - parser: line-oriented, `#` comments stripped, field names
  *    case-insensitive, groups = consecutive `User-agent` lines followed
  *    by their `Allow`/`Disallow` rules; unknown fields (Crawl-delay,
  *    Sitemap) skipped without ending a group.
  *  - group selection: the group whose agent token is the LONGEST
  *    case-insensitive substring of the crawler's product token wins;
  *    the `*` group is the fallback (RFC 9309 §2.2.1).
  *  - rule matching: path-prefix patterns with `*` (any span) and `$`
  *    (end anchor); the MOST SPECIFIC (longest-pattern) match decides,
  *    Allow winning length ties (§2.2.2); no match => allowed.
  *
  * Proof shape: each q218 host fabricates a deterministic robots.txt
  * (with a blanket `User-agent: * / Disallow: /` group the specific
  * `graftbot` group must override, mixed-case field names, comment and
  * Crawl-delay decoys, and — on odd hosts — a longer Disallow pattern
  * that out-specifies the Allow for g ending in 0), and the entry
  * evaluates every document's CANONICAL URL path (q218's kernel on
  * q218's obfuscated fabrication). Both the boolean and the WINNING
  * PATTERN are output, so the oracle's arithmetic replay pins the
  * longest-match arbitration itself, not just the verdict.
  *
  * Scale posture: robots bodies are per-HOST state — a crawl caches one
  * parsed rule set per host (a broadcast-sized table even at web scale:
  * millions of hosts x a few rules). Here the per-partition memo does
  * exactly that; the evaluation pass is map-only, no shuffle before the
  * output sort.
  */
object Robots {

  final case class Rule(allow: Boolean, pattern: String)
  final case class Group(agents: Seq[String], rules: Seq[Rule])

  def parse(txt: String): Seq[Group] = {
    val out = Seq.newBuilder[Group]
    var agents = Seq.empty[String]
    var rules = Seq.newBuilder[Rule]
    var inAgents = false   // consecutive User-agent lines open ONE group
    def flush(): Unit = {
      if (agents.nonEmpty) out += Group(agents, rules.result())
      agents = Seq.empty; rules = Seq.newBuilder[Rule]
    }
    txt.split("\n").foreach { raw =>
      val line = raw.takeWhile(_ != '#').trim
      val c = line.indexOf(':')
      if (c > 0) {
        val field = line.substring(0, c).trim.toLowerCase
        val value = line.substring(c + 1).trim
        field match {
          case "user-agent" =>
            if (!inAgents) flush()
            agents :+= value.toLowerCase
            inAgents = true
          case "allow"    => rules += Rule(allow = true, value); inAgents = false
          case "disallow" => rules += Rule(allow = false, value); inAgents = false
          case _          => inAgents = false   // Crawl-delay, Sitemap, ...
        }
      }
    }
    flush()
    out.result()
  }

  /** Rules applying to `ua`: most specific matching agent token, `*`
    * fallback, empty if neither. */
  def rulesFor(groups: Seq[Group], ua: String): Seq[Rule] = {
    val u = ua.toLowerCase
    val specific = groups.flatMap(g => g.agents.filter(a => a != "*" && u.contains(a))
      .map(a => (a.length, g))).sortBy(-_._1).headOption.map(_._2)
    specific.orElse(groups.find(_.agents.contains("*"))).map(_.rules)
      .getOrElse(Seq.empty)
  }

  /** `*`-wildcard path-prefix match with optional `$` end anchor: the
    * pattern must match starting at the path's first character; without
    * the anchor the remainder of the path is free (prefix semantics). */
  def matches(pattern: String, path: String): Boolean = {
    val anchored = pattern.endsWith("$")
    val p = if (anchored) pattern.dropRight(1) else pattern
    val segs = p.split("\\*", -1)
    def find(at: Int, i: Int): Boolean = {
      if (i == segs.length) return !anchored || at == path.length
      val s = segs(i)
      val isLast = i == segs.length - 1
      if (i == 0) {
        if (!path.startsWith(s)) false
        else if (isLast) !anchored || path.length == s.length
        else find(s.length, 1)
      } else if (isLast && anchored)
        // the segment must occupy the path's tail, at or after `at`
        path.length - at >= s.length && path.endsWith(s)
      else {
        val j = path.indexOf(s, at)
        j >= 0 && find(j + s.length, i + 1)
      }
    }
    find(0, 0)
  }

  /** RFC 9309 §2.2.2 arbitration: longest matching pattern wins, Allow
    * wins length ties; empty patterns never match; no match => allowed
    * with sentinel rule "-". Returns (allowed, winningPattern). */
  def decide(rules: Seq[Rule], path: String): (Boolean, String) = {
    val hits = rules.filter(r => r.pattern.nonEmpty && matches(r.pattern, path))
    if (hits.isEmpty) (true, "-")
    else {
      val win = hits.maxBy(r => (r.pattern.length, r.allow))
      (win.allow, win.pattern)
    }
  }

  val crawlerUa = "graftbot/1.0"

  /** Deterministic per-host robots.txt (see object doc). Odd hosts add
    * LONGER Disallow patterns for group indices ending in 1 or 3 (both
    * reachable on odd hosts: g%10 in {1,3} implies g%5 in {1,3}) — they
    * out-specify the 13-char Allow at 14 chars, so the longest-match
    * arbitration, not rule order, decides. Digits 6/8 also land on odd
    * hosts but have NO blocking rule: only the listed patterns block. */
  def fabricate(hostIdx: Long): String = {
    val extra =
      if (hostIdx % 2 == 1) "DisAllow: /docs/*1/page$\nDisAllow: /docs/*3/page$\n"
      // even hosts: an extra Sitemap line MID-GROUP, mixed-case field,
      // obfuscated URL (q218 rules) — q239 must capture it from inside
      // the group without the skipped field ending the group for q222
      else s"SiteMap: HTTPS://WWW.SITE$hostIdx.COM/sitemap-extra.xml?utm_source=robots\n"
    s"""# robots for site$hostIdx — fabricated, deterministic
      |User-agent: *
      |Disallow: /
      |
      |User-agent: graftbot
      |Allow: /docs/*/page$$
      |${extra}Disallow: /docs/
      |Crawl-delay: 1   # skipped field must not end the group
      |
      |Sitemap: https://www.site$hostIdx.com/sitemap.xml
      |""".stripMargin
  }

  /** RFC 9309 §2.3 `Sitemap:` discovery — the lines are INDEPENDENT of
    * groups (valid anywhere in the file, including mid-group, where the
    * group parser skips them), so extraction is a separate line scan.
    * Raw values; q239 canonicalizes with q218's kernel. */
  def sitemaps(txt: String): Seq[String] =
    txt.split("\n").toSeq.flatMap { raw =>
      val line = raw.takeWhile(_ != '#').trim
      val c = line.indexOf(':')
      if (c > 0 && line.substring(0, c).trim.equalsIgnoreCase("sitemap"))
        Some(line.substring(c + 1).trim).filter(_.nonEmpty)
      else None
    }

  /** Path component of an absolute URL (no query/fragment). */
  def pathOf(url: String): String = {
    val afterScheme = url.indexOf("://") + 3
    val slash = url.indexOf('/', afterScheme)
    if (slash < 0) "/"
    else {
      val rest = url.substring(slash)
      val cut = rest.indexWhere(c => c == '?' || c == '#')
      if (cut < 0) rest else rest.substring(0, cut)
    }
  }

  private def T(s: SparkSession, dir: String, n: String): DataFrame = Tables(s, dir, n)

  val entries: Seq[Entry] = Seq(
    Entry("q222_robots_filter",
      """SELECT doc_id,
        |  'www.site' || ((doc_id // 4) % 5) || '.com' AS host,
        |  NOT ((((doc_id // 4) % 5) % 2 = 1) AND ((doc_id // 4) % 10 IN (1, 3))) AS allowed,
        |  CASE WHEN (((doc_id // 4) % 5) % 2 = 1) AND ((doc_id // 4) % 10 = 1)
        |         THEN '/docs/*1/page$'
        |       WHEN (((doc_id // 4) % 5) % 2 = 1) AND ((doc_id // 4) % 10 = 3)
        |         THEN '/docs/*3/page$'
        |       ELSE '/docs/*/page$' END AS rule
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      import s.implicits._
      T(s, d, "documents").select(col("doc_id")).as[Long]
        .mapPartitions { ids =>
          // per-host parsed-rule memo — the per-partition analog of a
          // crawl's robots cache (bounded: one entry per host)
          val memo = scala.collection.mutable.Map.empty[Long, Seq[Rule]]
          ids.map { id =>
            val host = (id / 4) % 5
            val rules = memo.getOrElseUpdate(host,
              rulesFor(parse(fabricate(host)), crawlerUa))
            val canon = Urls.canonicalize(Urls.fabricate(id))
            val (allowed, rule) = decide(rules, pathOf(canon))
            (id, s"www.site$host.com", allowed, rule)
          }
        }
        .toDF("doc_id", "host", "allowed", "rule")
        .orderBy(col("doc_id"))
    },

    // Sitemap discovery from robots.txt (SURVEY.md Q239) — RFC 9309
    // §2.3: `Sitemap:` lines are the protocol bridge between the
    // permission tier (q222) and the discovery tier (q228): a compliant
    // crawler learns WHERE each host's sitemap lives from the same file
    // that grants fetch permission. Lines are group-INDEPENDENT, so the
    // extractor is a separate scan: the fixture plants one line in the
    // file footer on every host and, on even hosts, a second line
    // MID-GROUP with a mixed-case field name and a q218-obfuscated URL
    // (uppercase scheme+host, tracking param) — capture position,
    // case-insensitive field match, and canonicalization are each
    // load-bearing for the hash, and the mid-group line doubles as
    // q222's skipped-field hazard. Per-HOST work over O(hosts) rows —
    // map-only at any scale (the robots cache already holds the bodies).
    Entry("q239_sitemap_discovery",
      """WITH h AS (SELECT DISTINCT (doc_id // 4) % 5 AS host_idx FROM documents)
        |SELECT host_idx, sitemap_url FROM (
        |  SELECT host_idx,
        |    'https://www.site' || host_idx || '.com/sitemap.xml' AS sitemap_url
        |  FROM h
        |  UNION ALL
        |  SELECT host_idx,
        |    'https://www.site' || host_idx || '.com/sitemap-extra.xml'
        |  FROM h WHERE host_idx % 2 = 0)
        |ORDER BY host_idx, sitemap_url""".stripMargin) { (s, d) =>
      import s.implicits._
      T(s, d, "documents")
        .select(expr("(doc_id div 4) % 5").as("h")).distinct().as[Long]
        .flatMap { h =>
          sitemaps(fabricate(h)).map(u => (h, Urls.canonicalize(u)))
        }
        .toDF("host_idx", "sitemap_url")
        .orderBy(col("host_idx"), col("sitemap_url"))
    }
  )
}
