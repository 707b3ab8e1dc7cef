package graft.ingest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Staging, Tables}
import graft.queries.Entry
import WarcShards.Warc

/** Redirect-chain resolution (SURVEY.md Q233) — the tier between fetch
  * (q221) and URL dedup (q218) every real crawl runs: collapse 3xx
  * chains so dedup and text extraction key on the URL that actually
  * SERVED content. Without it, a page reachable through k redirecting
  * aliases looks like k+1 distinct URLs to q218 and its content is
  * attributed to the wrong key. RFC 9110 §15.4 semantics: follow
  * `Location` on 301/302, bounded hops (browsers/crawlers cap chains —
  * this entry caps at 4), loops terminate by the cap, never by cycle
  * detection state.
  *
  * Proof shape: each doc fabricates a WARC response record at
  * `https://www.site{id%5}.com/r/{id}`. Deterministic status rule
  * (replayable in SQL): ids with id%100==9 and id%100==10 form 302
  * 2-cycles (...09 <-> ...10 — the loop-tolerance case); ids with
  * id%10 in {1,2,3} are 301 -> id-1 (chains of length up to 3 ending at
  * the ...0 page, which serves 200 — except the ...10 decade, whose
  * chains drain INTO the 2-cycle and exercise the cap from a chained
  * start); everything else serves 200. The
  * Location header is OBFUSCATED for odd sources (uppercase scheme+host)
  * so q218's canonicalization is load-bearing: the engine resolves the
  * next hop by joining the CANONICAL Location against the corpus's own
  * canonical URIs — string keys, not ids. The DuckDB oracle replays the
  * rule arithmetic through 4 unrolled hop CTEs (the q225/q226 pattern).
  *
  * Output per starting doc: the final URL after resolution, hops taken,
  * and whether the chain reached a 200 (`resolved` false = still on a
  * 3xx at the cap, i.e. a loop). A 3xx whose target is absent from the
  * corpus does not advance (there is no record to fetch) — both sides
  * guard the hop on target existence.
  *
  * Q240 composes the two tiers: dedup (q218's group-on-key + keep-min-id
  * posture) on the RESOLVED final URL, collapsing every redirecting alias
  * of a page into one cluster. Both entries consume the same [[resolved]]
  * pipeline and the same oracle CTE chain, so the composition cannot
  * drift from the resolution it is built on.
  *
  * Scale posture: WARC fabrication + HTTP/Location parsing are map-only
  * per shard (production: rides the q221 ingest scan). Resolution is k=4
  * bounded rounds of ONE equi-join each on the canonical-URL key with
  * per-round localCheckpoint (q226's layer-at-a-time posture). At web
  * scale the redirect map is a small fraction of records (3xx rate of a
  * crawl is a few percent) — the join's build side broadcasts; the state
  * table stays partitioned by start URL throughout.
  */
object Redirects {

  val MaxHops = 4
  val docsPerShard = 8

  def urlOf(id: Long): String = s"https://www.site${id % 5}.com/r/$id"

  /** Redirect target id, or None for a 200 page. First-match rule order
    * matters: the loop carve-outs shadow the chain rule. */
  def targetOf(id: Long): Option[Long] =
    if (id % 100 == 9) Some(id + 1)
    else if (id % 100 == 10) Some(id - 1)
    else if (id % 10 >= 1 && id % 10 <= 3) Some(id - 1)
    else None

  private val CRLF = "\r\n"
  private def ascii(s: String): Array[Byte] = s.getBytes("ISO-8859-1")

  /** HTTP response block for doc `id`: a 301/302 with (odd-source
    * obfuscated) Location, or a 200 with a tiny body. */
  private def httpBlock(id: Long): Array[Byte] = targetOf(id) match {
    case Some(t) =>
      val loc =
        if (id % 2 == 1) s"HTTPS://WWW.SITE${t % 5}.COM/r/$t"
        else urlOf(t)
      val status = if (id % 100 == 9 || id % 100 == 10) "302 Found"
                   else "301 Moved Permanently"
      ascii(s"HTTP/1.1 $status${CRLF}Location: $loc${CRLF}Content-Length: 0$CRLF$CRLF")
    case None =>
      val body = ascii(s"ok $id")
      ascii(s"HTTP/1.1 200 OK${CRLF}Content-Type: text/plain$CRLF" +
        s"Content-Length: ${body.length}$CRLF$CRLF") ++ body
  }

  def buildShard(shardId: Long, ids: Seq[Long]): Array[Byte] =
    Warc.write(ids.sorted.map { id =>
      Warc.record("response",
        Seq("WARC-Target-URI" -> urlOf(id),
            "Content-Type" -> "application/http;msgtype=response"),
        httpBlock(id), 3000000 + id)
    })

  /** Parse a shard to (url, doc_id, is3xx, loc_canon?): the doc id is the
    * URL's page name (crawl frontiers key on URLs); the Location is
    * canonicalized HERE — the resolution join is on canonical strings. */
  def parseShard(bytes: Array[Byte]): Seq[(String, Long, Boolean, Option[String])] =
    Warc.read(bytes).filter(_.headers("warc-type") == "response").map { r =>
      val (status, hdrs, _) = Warc.httpResponse(r.block)
      val url = r.headers("warc-target-uri")
      val id = url.substring(url.lastIndexOf('/') + 1).toLong
      val loc = hdrs.get("location").map(graft.text.Urls.canonicalize)
      (url, id, status >= 300 && status < 400, loc)
    }

  private def T(s: SparkSession, dir: String, n: String): DataFrame = Tables(s, dir, n)

  /** The shared oracle CTE chain (redirect map + k unrolled hop rounds) —
    * q233 and q240 wrap different SELECTs around the same recurrence, so
    * resolution and resolved-key dedup cannot desynchronize. */
  private def chainCtes: String = {
    val hops = (1 to MaxHops).map { k =>
      s"""r$k AS (SELECT r.doc_id, COALESCE(d.tgt, r.cur) AS cur,
         |  r.hops + CASE WHEN d.tgt IS NULL THEN 0 ELSE 1 END AS hops
         |  FROM r${k - 1} r LEFT JOIN red d ON d.src = r.cur)""".stripMargin
    }.mkString(",\n")
    s"""WITH red AS (
       |  SELECT d.doc_id AS src, t.doc_id AS tgt FROM (
       |    SELECT doc_id,
       |      CASE WHEN doc_id % 100 = 9 THEN doc_id + 1
       |           WHEN doc_id % 100 = 10 THEN doc_id - 1
       |           WHEN doc_id % 10 IN (1, 2, 3) THEN doc_id - 1
       |      END AS tgt0
       |    FROM documents) d
       |  JOIN documents t ON t.doc_id = d.tgt0),
       |r0 AS (SELECT doc_id, doc_id AS cur, 0 AS hops FROM documents),
       |$hops""".stripMargin
  }

  /** The final URL of a resolved chain. */
  private val finalUrl = "'https://www.site' || (r.cur % 5) || '.com/r/' || r.cur"

  /** `cur` still sits on a 3xx page (the unresolved/loop condition). */
  private val stillRedirecting =
    "(r.cur % 100 = 9 OR r.cur % 100 = 10 OR r.cur % 10 IN (1, 2, 3))"

  private val oracleSql: String =
    s"""$chainCtes
       |SELECT r.doc_id, $finalUrl AS final_url,
       |  CAST(r.hops AS INT) AS n_hops,
       |  NOT $stillRedirecting AS resolved
       |FROM r$MaxHops r ORDER BY r.doc_id""".stripMargin

  private val dedupOracleSql: String =
    s"""$chainCtes
       |SELECT $finalUrl AS final_url,
       |  MIN(r.doc_id) AS keeper_id, COUNT(*) AS n_aliases,
       |  COUNT(CASE WHEN r.hops > 0 THEN 1 END) AS n_chained
       |FROM r$MaxHops r
       |WHERE NOT $stillRedirecting
       |GROUP BY 1 ORDER BY final_url""".stripMargin

  /** The full resolution pipeline: WARC fabricate+parse, redirect-map
    * extraction, MaxHops rounds of one equi-join each. Shared by q233
    * (per-doc resolution report) and q240 (dedup on the resolved key). */
  def resolved(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // one WARC parse feeds the redirect map AND the state
    val recs = Staging.materialize(T(s, d, "documents").select(col("doc_id")).as[Long]
      .groupByKey(_ / docsPerShard)
      .mapGroups { (shardId, ids) => buildShard(shardId, ids.toSeq) }
      .flatMap(parseShard _)
      .toDF("url", "doc_id", "is3xx", "loc_canon"))
    // the redirect map: 3xx records whose canonical Location exists in
    // the corpus (an off-corpus Location has no record to fetch — the
    // chain cannot advance); join on CANONICAL URL strings, so q218's
    // kernel is load-bearing for every hop
    // materialized: the map is re-joined by EVERY hop round — without it
    // each round re-runs this URL-keyed join of the two recs projections
    val redirects = Staging.materialize(recs.filter(col("is3xx"))
      .join(recs.select(col("url").as("tgt_url"), col("doc_id").as("tgt")),
        col("loc_canon") === col("tgt_url"))
      .select(col("doc_id").as("src"), col("tgt")))
    var state = Staging.materialize(recs.select(col("doc_id"), col("doc_id").as("cur"),
      lit(0).as("hops")))
    for (_ <- 1 to MaxHops) {
      val prev = state
      // materialized: truncates the unrolled join lineage (q225)
      state = Staging.materialize(state.join(redirects, col("cur") === col("src"), "left")
        .select(col("doc_id"), coalesce(col("tgt"), col("cur")).as("cur"),
          (col("hops") + when(col("tgt").isNull, 0).otherwise(1)).as("hops")))
      Staging.release(prev)
    }
    Staging.release(redirects)
    state
      .join(recs.select(col("doc_id").as("cur"), col("url").as("final_url"),
        col("is3xx")), "cur")
      .select(col("doc_id"), col("final_url"),
        col("hops").cast("int").as("n_hops"), (!col("is3xx")).as("resolved"))
  }

  val entries: Seq[Entry] = Seq(
    Entry("q233_redirect_resolve", oracleSql) { (s, d) =>
      resolved(s, d).orderBy(col("doc_id"))
    },

    // Resolved-final-URL dedup (SURVEY.md Q240) — the composition the two
    // tiers exist for: q233 collapses each 3xx chain onto the URL that
    // served content, then q218's dedup posture (group on the resolved
    // key, keep min doc_id) folds every redirecting alias of a page into
    // ONE cluster. Without the resolution pass, URL-level dedup sees each
    // alias as a distinct resource and the duplicate slips through to the
    // expensive text tiers. Loop/capped starts (still on a 3xx after
    // MaxHops) are excluded — they never served content, so there is no
    // resolved key to collapse onto; a production pipeline routes them to
    // a retry/drop queue instead. `n_chained` counts the aliases that
    // arrived via >=1 redirect hop — the direct fetch is the remainder.
    // Cost on top of q233: ONE map-side-combinable agg keyed on the
    // resolved URL (MIN/COUNT partials collapse before the exchange).
    Entry("q240_resolved_dedup", dedupOracleSql) { (s, d) =>
      resolved(s, d).filter(col("resolved"))
        .groupBy(col("final_url"))
        .agg(min(col("doc_id")).as("keeper_id"),
          count(lit(1)).as("n_aliases"),
          count(when(col("n_hops") > 0, 1)).as("n_chained"))
        .orderBy(col("final_url"))
    }
  )
}
