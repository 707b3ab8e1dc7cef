package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.queries.Entry

/** URL canonicalization + URL-level dedup (SURVEY.md Q218) — the cheapest
  * dedup tier in every crawl pipeline: collapse syntactic variants of the
  * same resource BEFORE any text is fetched or compared, so the expensive
  * tiers (q60 exact text, q61 near-dup) see each page once. The reference
  * has no crawl layer; this is north-star pipeline machinery like q217.
  *
  * [[canonicalize]] implements the standard equivalence rules (RFC 3986
  * §6 syntax-based normalization + the conventional crawl extensions):
  *
  *   1. scheme and host lowercased;
  *   2. default port dropped (`http:80`, `https:443`);
  *   3. path dot-segments resolved (RFC 3986 remove_dot_segments);
  *   4. percent-escapes of UNRESERVED chars decoded (`%61` → `a`),
  *      all remaining escapes uppercased (`%2f` → `%2F`);
  *   5. query parameters stably sorted by (key, value) and known
  *      tracking parameters dropped (`utm_*`, `fbclid`, `gclid`);
  *   6. fragment dropped; empty path spelled `/`.
  *
  * Dedup is then q60's posture on the canonical key: one shuffle on
  * `canon_url`, keep min doc_id as the cluster representative. At 100 TB
  * this is exactly the production shape — a map-only string kernel
  * followed by one hash aggregation; no similarity machinery involved.
  *
  * Proof shape: each document fabricates an obfuscated variant chosen by
  * doc_id%4 (case+fragment / default-port+param-order / dot-segments+
  * percent-encoding / tracking-params), all of which must collapse to ONE
  * canonical URL per doc_id-div-4 group; the DuckDB oracle writes that
  * canonical form arithmetically, so every rule is load-bearing for the
  * hash match. UrlCanonSpec pins the kernel Spark-free (idempotence fuzz,
  * dot-segment cross-check vs java.net.URI.normalize, escape-case and
  * reserved/unreserved boundaries, permutation invariance).
  */
object Urls {

  private val unreserved: Char => Boolean =
    c => c.isLetterOrDigit && c < 128 || c == '-' || c == '.' || c == '_' || c == '~'

  private val trackingParams = Set("fbclid", "gclid")
  private def isTracking(key: String): Boolean =
    key.startsWith("utm_") || trackingParams(key)

  /** Decode %XX escapes of unreserved chars; uppercase the hex of all
    * others. Malformed escapes (short/non-hex) pass through literally. */
  private[text] def normalizePct(s: String): String = {
    val out = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length
          && Character.digit(s.charAt(i + 1), 16) >= 0
          && Character.digit(s.charAt(i + 2), 16) >= 0) {
        val v = (Character.digit(s.charAt(i + 1), 16) << 4) |
          Character.digit(s.charAt(i + 2), 16)
        if (unreserved(v.toChar)) out.append(v.toChar)
        else out.append('%').append(s.substring(i + 1, i + 3).toUpperCase)
        i += 3
      } else { out.append(c); i += 1 }
    }
    out.toString
  }

  /** RFC 3986 §5.2.4 remove_dot_segments over an absolute path. */
  private[text] def removeDotSegments(path: String): String = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    // split KEEPING empty segments (consecutive slashes are preserved)
    val segs = path.split("/", -1)
    val trailingDir = segs.nonEmpty && (segs.last == "." || segs.last == "..")
    segs.foreach {
      case "."  => ()
      case ".." => if (out.nonEmpty) out.remove(out.size - 1)
      case s    => out += s
    }
    val joined = out.mkString("/")
    val withSlash = if (joined.startsWith("/")) joined else "/" + joined
    if (trailingDir && !withSlash.endsWith("/")) withSlash + "/" else withSlash
  }

  def canonicalize(url: String): String = {
    val noFrag = url.indexOf('#') match {
      case -1 => url
      case h  => url.substring(0, h)
    }
    val sep = noFrag.indexOf("://")
    if (sep < 0) return noFrag // not an absolute hierarchical URL: leave as-is
    val scheme = noFrag.substring(0, sep).toLowerCase
    val rest = noFrag.substring(sep + 3)
    val authEnd = rest.indexWhere(c => c == '/' || c == '?') match {
      case -1 => rest.length
      case e  => e
    }
    val authority = rest.substring(0, authEnd).toLowerCase
    // split a port only when the tail is all digits: a ':' inside
    // userinfo (user:pass@host) or an unbracketed IPv6 literal is not a
    // port, and must pass through rather than be re-assembled wrongly
    val (host, port) = authority.lastIndexOf(':') match {
      case -1 => (authority, "")
      case p if authority.length > p + 1 &&
        authority.substring(p + 1).forall(_.isDigit) =>
        (authority.substring(0, p), authority.substring(p + 1))
      case _ => (authority, "")
    }
    val keepPort = port.nonEmpty &&
      !((scheme == "http" && port == "80") || (scheme == "https" && port == "443"))
    val pathAndQuery = rest.substring(authEnd)
    val qmark = pathAndQuery.indexOf('?')
    val rawPath = if (qmark < 0) pathAndQuery else pathAndQuery.substring(0, qmark)
    val rawQuery = if (qmark < 0) "" else pathAndQuery.substring(qmark + 1)
    val path = removeDotSegments(normalizePct(if (rawPath.isEmpty) "/" else rawPath))
    val query = rawQuery.split("&").toSeq.filter(_.nonEmpty)
      .map { kv =>
        val eq = kv.indexOf('=')
        if (eq < 0) (normalizePct(kv), None)
        else (normalizePct(kv.substring(0, eq)), Some(normalizePct(kv.substring(eq + 1))))
      }
      .filterNot { case (k, _) => isTracking(k) }
      .sortBy { case (k, v) => (k, v.getOrElse("")) }
      .map { case (k, v) => v.fold(k)(k + "=" + _) }
      .mkString("&")
    val portPart = if (keepPort) ":" + port else ""
    val queryPart = if (query.isEmpty) "" else "?" + query
    s"$scheme://$host$portPart$path$queryPart"
  }

  /** The four obfuscation flavors, one per doc_id%4 — each exercises a
    * disjoint subset of the canonicalization rules. */
  def fabricate(id: Long): String = {
    val g = id / 4
    val site = g % 5
    (id % 4) match {
      case 0 => s"HTTPS://WWW.Site$site.COM/docs/$g/page?a=1&b=2#sec-$id"
      case 1 => s"https://www.site$site.com:443/docs/$g/page?b=2&a=1"
      case 2 => s"https://www.site$site.com/docs/zz/../$g/./p%61ge?a=1&b=2"
      case _ => s"https://www.site$site.com/docs/$g/page?utm_source=feed&b=2&a=1&utm_campaign=x&gclid=$id"
    }
  }

  private def T(s: SparkSession, dir: String, n: String): DataFrame = Tables(s, dir, n)

  val entries: Seq[Entry] = Seq(
    // Canonicalize the per-doc obfuscated URL, then URL-level dedup:
    // group on the canonical key, min doc_id keeper (q60's posture).
    Entry("q218_url_dedup",
      """SELECT 'https://www.site' || ((doc_id // 4) % 5) || '.com/docs/'
        |         || (doc_id // 4) || '/page?a=1&b=2' AS canon_url,
        |  MIN(doc_id) AS keeper_id, COUNT(*) AS n_dups
        |FROM documents GROUP BY 1 ORDER BY canon_url""".stripMargin) { (s, d) =>
      import s.implicits._
      T(s, d, "documents").select(col("doc_id")).as[Long]
        .map(id => (id, canonicalize(fabricate(id))))
        .toDF("doc_id", "canon_url")
        .groupBy(col("canon_url"))
        .agg(min(col("doc_id")).as("keeper_id"), count(lit(1)).as("n_dups"))
        .orderBy(col("canon_url"))
    }
  )
}
