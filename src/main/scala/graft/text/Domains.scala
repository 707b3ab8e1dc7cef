package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.queries.Entry

/** Domain-level quality rollup (SURVEY.md Q230) — the HOST-tier curation
  * signal every production corpus build computes between per-doc scoring
  * (q69/q96) and per-doc filtering: aggregate quality and duplication per
  * registered host, flag hosts whose aggregate falls below threshold, and
  * let the pipeline drop WHOLE DOMAINS (spam farms, boilerplate mills,
  * mirror hosts) instead of re-litigating every page. This is the
  * domain-blocklist/domain-prior stage of C4/RefinedWeb-class pipelines;
  * the reference has no crawl layer — north-star machinery like q218.
  *
  * Cross-engine exactness: a float AVG over thousands of per-doc scores
  * differs in the last ulps between engines (summation order) and cannot
  * be hash-checked. The rollup therefore runs the q225 discipline —
  * per-doc score as an exact INTEGER (parts-per-million,
  * `least(n_tok,100) * (n_char - n_punct) * 10000 div n_char`, the q69
  * formula scaled), then integer SUM and truncating division for the
  * host mean. Every aggregate is order-independent by construction.
  *
  * Signals per host: doc count, distinct canonical-URL count (q218's key
  * arithmetic), per-mille duplication `1000 - 1000*n_urls div n_docs`
  * (mirror/hash-bust detection), integer mean quality, and the flag.
  *
  * Scale posture: ONE map-side-combinable aggregation keyed on host
  * (count-distinct plans the standard two-phase expand); the flag output
  * is O(hosts) — broadcast-sized even at web scale (millions of hosts),
  * which is exactly why pipelines key the drop decision on it. The
  * subsequent whole-domain drop is a broadcast semi join of that tiny
  * table against the corpus — composition of q13's shape, not declared
  * separately.
  */
object Domains {

  private def T(s: SparkSession, dir: String, n: String): DataFrame = Tables(s, dir, n)

  val entries: Seq[Entry] = Seq(
    Entry("q230_domain_rollup",
      s"""WITH q AS (
        |  SELECT 'www.site' || ((doc_id // 4) % 5) || '.com' AS host,
        |    doc_id // 4 AS g,
        |    CAST(length(text) AS BIGINT) AS n_char,
        |    CAST(len(${Text.tokensSql}) AS BIGINT) AS n_tok,
        |    CAST(length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g')) AS BIGINT) AS n_punct
        |  FROM documents),
        |s AS (
        |  SELECT host, g,
        |    (LEAST(n_tok, 100) * (n_char - n_punct) * 10000) // n_char AS score_ppm
        |  FROM q WHERE n_tok > 0)
        |SELECT host,
        |  COUNT(*) AS n_docs,
        |  COUNT(DISTINCT g) AS n_urls,
        |  1000 - (1000 * COUNT(DISTINCT g)) // COUNT(*) AS dup_pm,
        |  CAST(SUM(score_ppm) // COUNT(*) AS BIGINT) AS mean_score_ppm,
        |  (SUM(score_ppm) // COUNT(*)) < 500000 AS flagged
        |FROM s GROUP BY host ORDER BY host""".stripMargin) { (s, d) =>
      val toks = Text.tokens(col("text"))
      T(s, d, "documents")
        .select(
          concat(lit("www.site"), expr("(doc_id div 4) % 5"), lit(".com")).as("host"),
          expr("doc_id div 4").as("g"),
          length(col("text")).cast("long").as("n_char"),
          size(toks).cast("long").as("n_tok"),
          length(regexp_replace(col("text"), "[a-zA-Z0-9 ]", "")).cast("long").as("n_punct"))
        .filter(col("n_tok") > 0)
        .withColumn("score_ppm",
          expr("(least(n_tok, 100L) * (n_char - n_punct) * 10000L) div n_char"))
        .groupBy(col("host"))
        .agg(count(lit(1)).as("n_docs"),
             countDistinct(col("g")).as("n_urls"),
             sum(col("score_ppm")).as("sum_ppm"))
        .select(col("host"), col("n_docs"), col("n_urls"),
          expr("1000 - (1000 * n_urls) div n_docs").as("dup_pm"),
          expr("sum_ppm div n_docs").as("mean_score_ppm"),
          expr("(sum_ppm div n_docs) < 500000").as("flagged"))
        .orderBy(col("host"))
    }
  )
}
