package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{Staging, Tables}
import graft.queries.{Dialect, Entry}

/** Curation funnel (SURVEY.md Q224) — the per-stage survivor report every
  * production corpus build publishes: how many documents enter, and how
  * many survive each gate, with the gates NESTED in pipeline order
  * (robots permission → URL-level dedup among permitted docs → quality
  * screen → exact text dedup among quality survivors). A funnel whose
  * stages are computed independently instead of nested over-counts
  * downstream stages; the report here derives one `reached` level per
  * document, so a document counts at stage k only if it survived k-1.
  *
  * Plan shape: ONE pass over the corpus computes per-doc gate flags —
  * the robots verdict via the REAL q222 engine (per-partition rule-set
  * memo), the URL group key via the REAL q218 canonicalizer, quality
  * via the ingest-staged token index — then two windowed group-min
  * resolutions (URL keeper among permitted, text keeper among quality
  * survivors) and a 5-level count fold joined to the stage list by a
  * 5x5 broadcast theta join. The DuckDB oracle replays every gate
  * arithmetically (the q218/q222 entries prove kernel == formula), so
  * the hash pins the NESTING, not just the individual decisions.
  *
  * At 100 TB the shape is unchanged: map-only flags, two shuffles on
  * (url-group, text-fingerprint) — both already paid by the dedup tiers
  * themselves, and neither exchange carries document text (the keeper
  * window keys on md5, the q146/q256 payload diet) — and an O(stages)
  * report.
  */
object Funnel {

  private def T(s: SparkSession, dir: String, n: String): DataFrame = Tables(s, dir, n)

  private val stageNames = Seq(
    1 -> "fetched", 2 -> "robots_allowed", 3 -> "url_unique",
    4 -> "quality_pass", 5 -> "text_unique")

  /** Per-doc gate inputs via the real kernels (robots verdict through the
    * q222 engine's per-partition rule-set memo, URL group key through the
    * q218 canonicalizer, token counts off the ingest-staged index) — ONE
    * copy shared by the v1 funnel (q224) and the model-composed v2
    * (q252), so the upstream gates cannot drift between the two reports.
    * Map-only except the two doc_id equi-joins of same-scan projections. */
  private val stop = Seq("the", "a", "of", "and", "to", "is", "in")

  /** Per-doc robots verdict + canonical URL via the real kernels
    * (per-partition rule-set memo) off ANY frame with doc_id — shared by
    * the batch gate ladder and the per-batch ingest gate. Map-only. */
  private def decisionsOf(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    docs.select(col("doc_id")).as[Long]
      .mapPartitions { ids =>
        val memo = scala.collection.mutable.Map.empty[Long, Seq[Robots.Rule]]
        ids.map { id =>
          val host = (id / 4) % 5
          val rules = memo.getOrElseUpdate(host,
            Robots.rulesFor(Robots.parse(Robots.fabricate(host)), Robots.crawlerUa))
          val canon = Urls.canonicalize(Urls.fabricate(id))
          (id, Robots.decide(rules, Robots.pathOf(canon))._1, canon)
        }
      }.toDF("doc_id", "allowed", "canon_url")
  }

  /** The exact-dup keeper window's key: md5 of the text, so the window
    * exchange carries a 128-bit fingerprint instead of the document body
    * (the q146/q256 payload diet; at 100 TB a text-keyed window would
    * shuffle the whole corpus's text through one exchange). ONE
    * derivation shared by the batch ladder ([[reachFlags]]) and the
    * per-batch ingest gate ([[gateVerdicts]]), so the tiers cannot
    * drift. Collision posture as q267: an md5 collision would merge two
    * distinct texts into one dedup group; odds ~n²/2^128, accepted. The
    * oracle windows by the text itself — equality of results IS the
    * collision-freeness check at fixture scale. */
  private def tkeyOf(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    md5(text)

  private def gateInputs(s: SparkSession, d: String): DataFrame = {
    val toks = TokenIndex.toks(s, d)
      .select(col("doc_id"), size(col("ws")).as("n_tok"),
              size(filter(col("ws"), w => w.isin(stop: _*))).as("n_stop"))

    T(s, d, "documents").select(col("doc_id"), tkeyOf(col("text")).as("tkey"))
      .join(decisionsOf(T(s, d, "documents")), "doc_id")
      .join(toks, "doc_id")
  }

  /** Per-doc reach flags through stage 5 (the v1 gate ladder) — shared by
    * q224 and q252, so the two reports' common stages are ONE derivation:
    * robots verdict, URL-keeper resolution among permitted docs, the rule
    * quality screen, text-keeper resolution among quality survivors (the
    * keeper window keyed by [[tkeyOf]]'s fingerprint, never the text). */
  private def reachFlags(s: SparkSession, d: String): DataFrame =
    gateInputs(s, d)
      .withColumn("url_keeper",
        min(when(col("allowed"), col("doc_id")))
          .over(Window.partitionBy(col("canon_url"))))
      .withColumn("reach3", col("allowed") && col("doc_id") === col("url_keeper"))
      .withColumn("reach4", col("reach3") && col("n_tok") >= 25 &&
        col("n_stop").cast("double") / col("n_tok") >= 0.03)
      .withColumn("text_keeper",
        min(when(col("reach4"), col("doc_id")))
          .over(Window.partitionBy(col("tkey"))))
      .withColumn("reach5", col("reach4") && col("doc_id") === col("text_keeper"))

  /** Fold per-doc `reached` levels into the survivor-per-stage report via
    * the broadcast theta join (counts are O(stages), stages O(stages)). */
  private def stageFold(perDoc: DataFrame, names: Seq[(Int, String)]): DataFrame = {
    val s = perDoc.sparkSession
    import s.implicits._
    val counts = perDoc.groupBy(col("reached")).agg(count(lit(1)).as("c"))
    val stages = names.toDF("stage_idx", "stage")
    broadcast(stages).join(counts, col("reached") >= col("stage_idx"), "left")
      .groupBy(col("stage_idx"), col("stage"))
      .agg(coalesce(sum(col("c")), lit(0L)).cast("bigint").as("n_docs"))
      .orderBy(col("stage_idx"))
  }

  def report(s: SparkSession, d: String): DataFrame =
    stageFold(
      reachFlags(s, d).withColumn("reached",
        when(col("reach5"), 5)
          .when(col("reach4"), 4)
          .when(col("reach3"), 3)
          .when(col("allowed"), 2)
          .otherwise(1)),
      stageNames)

  private val stageNamesV2 = stageNames ++ Seq(
    6 -> "model_quality_pass", 7 -> "lm_perplexity_pass", 8 -> "linear_model_pass")

  /** q252: the v1 funnel COMPOSED with the model tiers (VERDICT r14 #7)
    * — three more nested gates on the text-unique survivors: the q234
    * bucket-posterior model (driver-artifact posture: the O(50)-row
    * posterior table trained once and folded back as literal lookup
    * arrays, so the gate is a map-only column — no join; gated at the
    * q242 confident-positive bar [[QualityModel.PseudoPos]] — the keep
    * threshold 2.5M is vacuous on rule survivors, every one of which the
    * model already keeps, measured at sf0.01 AND sf0.1 before this gate
    * was pinned: a high-precision corpus keeps what the model is SURE
    * about) and the q244
    * Kneser-Ney per-doc mean micro-nat gate at [[Text.LmGateUnat]], and
    * (stage 8) the q264 averaged-perceptron margin gate at
    * [[Perceptron.FunnelGateMargin]] — a SECOND trained classifier over
    * a different feature space (hashed lexical profile vs quantized
    * signals), so the funnel's model tier is an ensemble, not one model
    * asked twice. The LM and margin per-doc aggs join back on doc_id
    * (the corpus-keyed equi-joins this report adds). Missing signals
    * fail closed (a doc a model never scored cannot pass its gate; on
    * this fixture every doc has >= 10 tokens so all left joins hit). */
  def reportV2(s: SparkSession, d: String): DataFrame = {
    val docs = T(s, d, "documents")
    // materialized: consumed twice — the training collect, then the
    // scored plan inside the report (the q242 pattern; without it the
    // 5-signal tokenize pass runs twice per report). Its blocks belong to
    // the returned plan and are freed once that plan is dropped.
    val g = Staging.materialize(QualityModel.bucketFrame(docs))
    val m1 = QualityModel.trainPosteriors(g, "label")
    val scored = g.select(col("doc_id"), QualityModel.scoreCol(m1).as("score"))
    // stages 7+8's signals: separate KN and margin chains. The fused
    // single-Generate form (lmGateSignals — q274's per-batch shape) was
    // TRIED HERE and measured consistently slower at 32 cores on the
    // batch path (min-of-5 A/B in tools/r22_metrics_q252_ab5.txt;
    // OPTIMIZATION_r22.md "Tried and reverted") — on the at-rest corpus
    // the two map-only explode passes over the staged token index are
    // cheaper than pushing the model probes and the wider aggregation
    // buffers onto every token row, the q263 lesson's shape. The ingest
    // gate keeps the fusion: per arriving batch the saved scans and
    // broadcast-build jobs are the multiplying cost.
    val lm = Text.knDocMean(s, d).select(col("doc_id"), col("mean_unat"))
    val pf = Perceptron.sparseFeatures(s, d)
    val (_, pWsum) = Perceptron.stagedModel(s, d)
    val pm = Perceptron.margins(pf, pWsum)
    val perDoc = reachFlags(s, d)
      .select(col("doc_id"), col("allowed"), col("reach3"), col("reach4"), col("reach5"))
      .join(scored, Seq("doc_id"), "left")
      .join(lm, Seq("doc_id"), "left")
      .join(pm, Seq("doc_id"), "left")
      .withColumn("reach6",
        col("reach5") && coalesce(col("score") >= lit(QualityModel.PseudoPos), lit(false)))
      .withColumn("reach7",
        col("reach6") && coalesce(col("mean_unat") <= lit(Text.LmGateUnat), lit(false)))
      .withColumn("reach8",
        col("reach7") && coalesce(col("margin") > lit(Perceptron.FunnelGateMargin), lit(false)))
      .withColumn("reached",
        when(col("reach8"), 8)
          .when(col("reach7"), 7)
          .when(col("reach6"), 6)
          .when(col("reach5"), 5)
          .when(col("reach4"), 4)
          .when(col("reach3"), 3)
          .when(col("allowed"), 2)
          .otherwise(1))
    stageFold(perDoc, stageNamesV2)
  }

  /** The v1 per-doc `reached` derivation over `base` — ONE copy shared
    * by q224's stage fold and q276's host attribution. */
  private val perdocCteSql: String =
    s"""perdoc AS (
      |  SELECT doc_id,
      |    CASE WHEN reach4 AND doc_id = MIN(CASE WHEN reach4 THEN doc_id END)
      |                            OVER (PARTITION BY text) THEN 5
      |         WHEN reach4 THEN 4
      |         WHEN reach3 THEN 3
      |         WHEN allowed THEN 2
      |         ELSE 1 END AS reached
      |  FROM (
      |    SELECT doc_id, text, allowed, reach3,
      |      reach3 AND n_tok >= 25
      |        AND CAST(n_stop AS DOUBLE) / n_tok >= 0.03 AS reach4
      |    FROM (
      |      SELECT doc_id, text, allowed, n_tok, n_stop,
      |        allowed AND doc_id = MIN(CASE WHEN allowed THEN doc_id END)
      |                        OVER (PARTITION BY grp) AS reach3
      |      FROM base))
      |)""".stripMargin

  private val oracleBody: String =
    s"""$perdocCteSql,
      |counts AS (SELECT reached, COUNT(*) AS c FROM perdoc GROUP BY 1),
      |stages AS (
      |  SELECT 1 AS stage_idx, 'fetched' AS stage
      |  UNION ALL SELECT 2, 'robots_allowed'
      |  UNION ALL SELECT 3, 'url_unique'
      |  UNION ALL SELECT 4, 'quality_pass'
      |  UNION ALL SELECT 5, 'text_unique')
      |SELECT stage_idx, stage,
      |  CAST(COALESCE(SUM(c), 0) AS BIGINT) AS n_docs
      |FROM stages LEFT JOIN counts ON reached >= stage_idx
      |GROUP BY 1, 2 ORDER BY stage_idx""".stripMargin

  /** q276's oracle: the same base + perdoc derivation rolled up per
    * HOST with each doc attributed to the gate that dropped it (reached
    * = k ⇔ survived stage k and failed stage k+1) — the report a crawl
    * operator reads to see WHERE each host's documents die. */
  private def yieldByHostSql: String =
    s"""WITH t AS (SELECT doc_id, text, ${Text.tokensSql} AS ws FROM documents),
      |base AS (
      |  SELECT doc_id, text,
      |    NOT ((((doc_id // 4) % 5) % 2 = 1) AND ((doc_id // 4) % 10 IN (1, 3))) AS allowed,
      |    doc_id // 4 AS grp,
      |    len(ws) AS n_tok,
      |    len(list_filter(ws, w -> w IN ('the', 'a', 'of', 'and', 'to', 'is', 'in'))) AS n_stop
      |  FROM t),
      |$perdocCteSql
      |SELECT CAST((doc_id // 4) % 5 AS BIGINT) AS host,
      |  CAST(COUNT(*) AS BIGINT) AS n_fetched,
      |  CAST(SUM(CASE WHEN reached = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_robots_blocked,
      |  CAST(SUM(CASE WHEN reached = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_url_dup,
      |  CAST(SUM(CASE WHEN reached = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_low_quality,
      |  CAST(SUM(CASE WHEN reached = 4 THEN 1 ELSE 0 END) AS BIGINT) AS n_text_dup,
      |  CAST(SUM(CASE WHEN reached = 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
      |FROM perdoc GROUP BY 1 ORDER BY host""".stripMargin

  /** q252's oracle body: the v1 gate ladder (byte-compatible
    * arithmetic) + the q234 model chain + the q244 per-doc LM mean + the
    * q264 perceptron chain, all replayed in SQL — the hash pins the
    * eight-level NESTING across four subsystems, not just each gate
    * alone. `duck` selects the side of the spliced fragments' structural
    * switches (QualityModel.chain, Perceptron.chainSql). */
  private def v2Sql(duck: Boolean): String =
    s"""WITH ${v2CtesSql(duck)},
       |counts AS (SELECT reached, COUNT(*) AS c FROM perdoc GROUP BY 1),
       |stages AS (
       |  SELECT 1 AS stage_idx, 'fetched' AS stage
       |  UNION ALL SELECT 2, 'robots_allowed'
       |  UNION ALL SELECT 3, 'url_unique'
       |  UNION ALL SELECT 4, 'quality_pass'
       |  UNION ALL SELECT 5, 'text_unique'
       |  UNION ALL SELECT 6, 'model_quality_pass'
       |  UNION ALL SELECT 7, 'lm_perplexity_pass'
       |  UNION ALL SELECT 8, 'linear_model_pass')
       |SELECT stage_idx, stage,
       |  CAST(COALESCE(SUM(c), 0) AS BIGINT) AS n_docs
       |FROM stages LEFT JOIN counts ON reached >= stage_idx
       |GROUP BY 1, 2 ORDER BY stage_idx""".stripMargin

  /** The v2 funnel's CTE body through `perdoc` (doc_id, reached 1..8) —
    * factored so the shipped-corpus composition (q279 in Streams) can
    * mount the keeper tier on the SAME eight-level derivation q252
    * hashes against; `base` (n_tok) and the model CTEs stay visible to
    * downstream fragments. */
  private[graft] def v2CtesSql(duck: Boolean): String =
    s"""ft AS (SELECT doc_id, text, ${Text.tokensSql} AS ws FROM documents),
       |base AS (
       |  SELECT doc_id, text,
       |    NOT ((((doc_id // 4) % 5) % 2 = 1) AND ((doc_id // 4) % 10 IN (1, 3))) AS allowed,
       |    doc_id // 4 AS grp,
       |    len(ws) AS n_tok,
       |    len(list_filter(ws, w -> w IN ('the', 'a', 'of', 'and', 'to', 'is', 'in'))) AS n_stop
       |  FROM ft),
       |${QualityModel.chain(duck)},
       |${Text.knChainSql},
       |${Text.knDocMeanCteSql},
       |${Perceptron.chainSql(duck)},
       |${Perceptron.marginCteSql},
       |lv1 AS (
       |  SELECT doc_id, text, allowed, n_tok, n_stop,
       |    allowed AND doc_id = MIN(CASE WHEN allowed THEN doc_id END)
       |                    OVER (PARTITION BY grp) AS reach3
       |  FROM base),
       |lv2 AS (
       |  SELECT doc_id, text, allowed, reach3,
       |    reach3 AND n_tok >= 25 AND CAST(n_stop AS DOUBLE) / n_tok >= 0.03 AS reach4
       |  FROM lv1),
       |lv3 AS (
       |  SELECT doc_id, allowed, reach3, reach4,
       |    reach4 AND doc_id = MIN(CASE WHEN reach4 THEN doc_id END)
       |                    OVER (PARTITION BY text) AS reach5
       |  FROM lv2),
       |perdoc AS (
       |  SELECT l.doc_id,
       |    CASE WHEN reach5 AND COALESCE(q.score >= ${QualityModel.PseudoPos}, FALSE)
       |              AND COALESCE(p.mean_unat <= ${Text.LmGateUnat}, FALSE)
       |              AND COALESCE(pm.margin > ${Perceptron.FunnelGateMargin}, FALSE) THEN 8
       |         WHEN reach5 AND COALESCE(q.score >= ${QualityModel.PseudoPos}, FALSE)
       |              AND COALESCE(p.mean_unat <= ${Text.LmGateUnat}, FALSE) THEN 7
       |         WHEN reach5 AND COALESCE(q.score >= ${QualityModel.PseudoPos}, FALSE) THEN 6
       |         WHEN reach5 THEN 5
       |         WHEN reach4 THEN 4
       |         WHEN reach3 THEN 3
       |         WHEN allowed THEN 2
       |         ELSE 1 END AS reached
       |  FROM lv3 l
       |  LEFT JOIN sc q ON q.doc_id = l.doc_id
       |  LEFT JOIN pd p ON p.doc_id = l.doc_id
       |  LEFT JOIN psm pm ON pm.doc_id = l.doc_id)""".stripMargin

  /** q252's oracle/twin, exposed for the ingest-time gate (q274 in
    * Streams) — ONE copy: the hash check pins "gate at ingest" ==
    * "funnel at rest" the same way q261 rides q254's text. */
  private[graft] def v2OracleSql: String = v2Sql(duck = true)
  private[graft] def v2TwinSql: String = Dialect.duckToSpark(v2Sql(duck = false))

  /** q279's oracle (`duck`), or the Spark side of its structural
    * switches for the bridge: the SHIPPED corpus — the eight-level funnel
    * (v2CtesSql, the exact text q252 hashes against) COMPOSED with the
    * near-dup quality keeper (Pipeline's pair/closure/keeper fragments,
    * the exact text q268 hashes against), rolled up per language with
    * shipped token mass. The two decision systems compose: stage 5
    * removes EXACT text duplicates (keep-min), the keeper removes
    * NEAR-dup cluster losers (keep-best); a doc ships iff it survives
    * all eight gates AND is its cluster's quality argmax. Every fragment
    * is the ONE shared copy, so this hash pins the full composition of
    * five subsystems (robots/URL/rule ladder, NB, KN, perceptron,
    * keeper) in a single number per language. */
  private[graft] def shippedSql(duck: Boolean): String = {
    val closure =
      if (duck) Pipeline.closureCtesSql
      else s"""${Pipeline.clusterLevelCtes(6)},
              |cl AS (SELECT id AS doc_id, CAST(lbl AS BIGINT) AS cluster FROM l6)""".stripMargin
    val recursive = if (duck) "RECURSIVE " else ""
    s"""WITH $recursive${v2CtesSql(duck)},
       |${Text.shingle3CteSql(distinct = true)},
       |${Pipeline.pairTailCtes},
       |$closure,
       |${Pipeline.keeperCtesSql},
       |lng AS (SELECT doc_id, lang FROM documents)
       |SELECT lng.lang,
       |  CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(CASE WHEN p.reached >= 8 THEN 1 ELSE 0 END) AS BIGINT) AS n_funnel,
       |  CAST(SUM(CASE WHEN p.reached >= 8 AND k.rk = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_shipped,
       |  CAST(COALESCE(SUM(CASE WHEN p.reached >= 8 AND k.rk = 1 THEN b.n_tok END), 0) AS BIGINT) AS n_tok_shipped
       |FROM perdoc p
       |JOIN lng ON lng.doc_id = p.doc_id
       |JOIN base b ON b.doc_id = p.doc_id
       |LEFT JOIN rkq k ON k.doc_id = p.doc_id
       |GROUP BY 1 ORDER BY lang""".stripMargin
  }

  /** The deployed ingest-gate model artifacts (q274): the three trained
    * models q252's stages 6-8 gate on — the q234 bucket posteriors, the
    * q264 averaged-perceptron weights, and the q244 KN count tables —
    * staged ONCE per corpus dir (the q271 frozen-codebook posture: a
    * deployment trains offline and ships the artifact to the gate; the
    * gate never trains at the door). Posteriors/weights are O(50)/O(66)
    * rows; the KN tables are vocab²-bounded at any corpus scale. */
  private[graft] case class GateModels(posteriors: Seq[Seq[Long]],
                                       wsum: Seq[Long], knDir: String)

  private[graft] def gateModels(s: SparkSession, d: String): GateModels = {
    val dir = Staging.stagedDir(d, "documents", "funnelgate") { tmp =>
      // The three model families are independent trainings over the same
      // corpus — build them CONCURRENTLY on cloned sessions (r18 #3: this
      // staging sat on the prestage critical path at ~9 s sequential;
      // each training uses a fraction of the cores).
      val parts: Seq[() => Unit] = Seq(
        () => {
          val ss = graft.core.GraftSession.clonedSession(s)
          import ss.implicits._
          val m1 = Staging.using(QualityModel.bucketFrame(T(ss, d, "documents")))(
            QualityModel.trainPosteriors(_, "label"))
          m1.zipWithIndex.flatMap { case (row, sig) =>
            row.zipWithIndex.map { case (ppm, b) => (sig, b, ppm) } }
            .toDF("sig", "b", "ppm").coalesce(1).write.parquet(s"$tmp/posteriors")
          ()
        },
        () => {
          // the perceptron is its own staged artifact (r18 #2) — consume
          // it instead of re-running the 16-step training inside this one
          val ss = graft.core.GraftSession.clonedSession(s)
          import ss.implicits._
          val (_, wsum) = Perceptron.stagedModel(ss, d)
          wsum.zipWithIndex.map { case (w, f) => (f, w) }.toDF("f", "wsum")
            .coalesce(1).write.parquet(s"$tmp/wsum")
          ()
        },
        () => {
          val ss = graft.core.GraftSession.clonedSession(s)
          val (cb, cw1, cw2, tt) = Text.knModelTables(Text.bigramPairs(ss, d))
          cb.write.parquet(s"$tmp/cb"); cw1.write.parquet(s"$tmp/cw1")
          cw2.write.parquet(s"$tmp/cw2"); tt.write.parquet(s"$tmp/tt")
          // this staging path is done with the materialized cb once the
          // four artifacts are written
          Staging.release(cb)
        })
      // all three trainings run to completion; first failure rethrown
      // (fatal included), extras suppressed (graft.core.Concurrent)
      graft.core.Concurrent.runAll(parts)
    }
    val posts = Array.fill(5)(Array.fill(10)(500000L))
    s.read.parquet(s"$dir/posteriors").collect()
      .foreach(r => posts(r.getInt(0))(r.getInt(1)) = r.getLong(2))
    val wsum = Array.fill(Perceptron.NumFeatures)(0L)
    s.read.parquet(s"$dir/wsum").collect()
      .foreach(r => wsum(r.getInt(0)) = r.getLong(1))
    GateModels(posts.map(_.toSeq).toSeq, wsum.toSeq, dir)
  }

  /** q274's per-batch ingest gate: every arriving doc's per-doc verdict
    * columns, decided INSIDE its micro-batch — the q261 broadcast-probe
    * posture generalized to all of q252's per-doc gate inputs. A doc's
    * text is complete in its batch and every model is a static staged
    * artifact, so each per-doc verdict here IS its final value (the
    * q261 argument); only the two KEEPER resolutions (url/text-unique,
    * inherently cross-doc) wait for the read-side merge — the q142
    * contrast, where pair partials straddle batches.
    *
    * Plan shape (pinned in PlanShapeSpec): robots/canon kernels map-only
    * with the batch side of the one kernel join broadcast; the NB score
    * a literal fold (no join); KN model tables and the per-doc signal
    * frames broadcast — every hash exchange is keyed by the BATCH's own
    * doc rows, zero corpus-keyed exchanges per batch.
    *
    * `tkey` is [[tkeyOf]]'s fingerprint — the text-keeper window key
    * (one derivation with the batch ladder), so verdict rows never carry
    * the document body; collision posture documented at [[tkeyOf]]. */
  private[graft] def gateVerdicts(batch: DataFrame, posts: Seq[Seq[Long]],
      wsum: Seq[Long], cb: DataFrame, cw1: DataFrame, cw2: DataFrame,
      tt: DataFrame): DataFrame = {
    val tcol = Text.tokens(col("text"))
    // ONE flags pass: tkey, the rule counts AND the NB score off the same
    // batch scan (the score was a separate bucketFrame scan + broadcast
    // join — the r21 per-batch plan re-scanned and re-tokenized the batch
    // EIGHT times; this fusion plus [[lmGateSignals]] cuts it to three:
    // flags, the kernel-decision projection, the signal explode).
    val flags = batch.select(col("doc_id") +: tkeyOf(col("text")).as("tkey") +:
        QualityModel.statCols: _*)
      .select(col("doc_id"), col("tkey"), col("n_tok"), col("n_stop"),
        QualityModel.scoreColFromStats(posts).as("score"))
      .join(broadcast(decisionsOf(batch)), "doc_id")
    val toks = batch.select(col("doc_id"), tcol.as("ws"))
    // The fused signal frame stays on THIS path (vs q252's at-rest path,
    // which reverted it — see reportV2): per arriving batch the fusion's
    // deterministic wins (scans 6→3 incl. the flags fold, broadcast-build
    // jobs −9 per drain) are the multiplying deployment cost, and the
    // 5-rep A/B walls are statistically indistinguishable (min 4.31 vs
    // 4.11, medians 4.62 vs 4.57 — tools/r22_metrics_q274_ab5.txt).
    val sig = lmGateSignals(toks, cb, cw1, cw2, tt, wsum)
    flags
      .join(broadcast(sig), Seq("doc_id"), "left")
      .select(col("doc_id"), col("tkey"), col("allowed"), col("canon_url"),
        col("n_tok"), col("n_stop"),
        coalesce(col("score") >= lit(QualityModel.PseudoPos), lit(false)).as("g6"),
        coalesce(col("mean_unat") <= lit(Text.LmGateUnat), lit(false)).as("g7"),
        coalesce(col("margin") > lit(Perceptron.FunnelGateMargin), lit(false)).as("g8"))
  }

  /** The two LM-tier per-doc gate signals — the KN mean micro-nat NLL and
    * the averaged-perceptron margin — in ONE pass over the doc token
    * arrays (guide §2.3/§2.4; VERDICT r21 #3): a single Generate emits
    * every token WITH its successor, so the unigram feature counts
    * (perceptron) and the scored bigram pairs (KN) ride the same exploded
    * stream instead of two independent explode→aggregate chains, and the
    * two per-doc left joins the consumers paid collapse into one.
    *
    * Exact-equivalence argument (the consumers are hash-pinned):
    *   - margin: every token appears exactly once as `w1`, so the
    *     per-(doc, f) counts equal sparseFeaturesOf's bucket rows;
    *     margin = Σ_f ((1000·c_f) div n_tok)·w[f] + n_tok·w[64] + w[65]
    *     is margins()'s aggregate over the bucket∪len∪bias union in
    *     closed form — integer arithmetic throughout, bit-identical.
    *   - mean_unat: `u` is scored only on rows whose (w1, w2) pair
    *     matched `cb` — the condition knScoredAgainst's inner joins
    *     impose. A matched pair also matches cw1/cw2 (both are derived
    *     from cb), and `w2` is null at each doc's terminal token, which
    *     never matches; so count(u)/sum(u) recover knDocMeanOf's
    *     n_bigrams/nll_unat exactly, for held-out docs as well as for
    *     the training corpus. Docs with tokens but no matched pair carry
    *     a null mean_unat — the same miss the lm left join produced.
    * Zero-token docs are absent (both gates fail closed at the consumer's
    * coalesce, as before). Model tables broadcast; the only exchanges are
    * the doc-keyed aggregations — the q274 per-batch pin holds. */
  private[graft] def lmGateSignals(toks: DataFrame, cb: DataFrame,
      cw1: DataFrame, cw2: DataFrame, tt: DataFrame,
      wsum: Seq[Long]): DataFrame = {
    val exploded = toks
      .filter(size(col("ws")) >= 1)
      .select(col("doc_id"), size(col("ws")).cast("long").as("n_tok"),
        explode(transform(sequence(lit(0), size(col("ws")) - 1),
          i => struct(element_at(col("ws"), i + 1).as("w1"),
                      get(col("ws"), i + 1).as("w2")))).as("p"))
      .select(col("doc_id"), col("n_tok"),
        col("p.w1").as("w1"), col("p.w2").as("w2"))
    val scored = exploded
      .join(broadcast(cb), Seq("w1", "w2"), "left")
      .join(broadcast(cw1), Seq("w1"), "left")
      .join(broadcast(cw2), Seq("w2"), "left")
      .crossJoin(broadcast(tt))
      .withColumn("u", when(col("cab").isNotNull, Text.knRowUnatCol))
    val perF = scored
      .groupBy(col("doc_id"),
        (Text.tokenHash(col("w1")) % Perceptron.NumBuckets).as("f"))
      .agg(count(lit(1)).as("c"), first(col("n_tok")).as("n_tok"),
           sum(col("u")).as("us"), count(col("u")).as("npair"))
    perF.groupBy(col("doc_id"))
      .agg(
        (sum(expr("(1000 * c) div n_tok") *
            element_at(typedLit(wsum), col("f").cast("int") + 1)) +
          first(col("n_tok")) * lit(wsum(Perceptron.NumBuckets)) +
          lit(wsum(Perceptron.NumBuckets + 1))).as("margin"),
        sum(col("us")).as("nll_unat"), sum(col("npair")).as("n_bigrams"))
      .select(col("doc_id"),
        when(col("n_bigrams") > 0, expr("nll_unat div n_bigrams"))
          .as("mean_unat"),
        col("margin"))
  }

  /** q274's read side: the two keeper windows (the only cross-doc
    * resolutions) + the 8-level fold over the maintained verdict table —
    * reportV2's ladder with the model gates already decided at ingest. */
  private[graft] def reportFromGateVerdicts(v: DataFrame): DataFrame =
    stageFold(gateReach(v), stageNamesV2)

  /** The per-doc resolution alone (doc_id, n_tok, reached 1..8) over a
    * maintained verdict table — shared by q274's stage fold and q279's
    * shipped-corpus composition. */
  private[graft] def gateReach(v: DataFrame): DataFrame = {
    val perDoc = v
      .withColumn("url_keeper",
        min(when(col("allowed"), col("doc_id")))
          .over(Window.partitionBy(col("canon_url"))))
      .withColumn("reach3", col("allowed") && col("doc_id") === col("url_keeper"))
      .withColumn("reach4", col("reach3") && col("n_tok") >= 25 &&
        col("n_stop").cast("double") / col("n_tok") >= 0.03)
      .withColumn("text_keeper",
        min(when(col("reach4"), col("doc_id")))
          .over(Window.partitionBy(col("tkey"))))
      .withColumn("reach5", col("reach4") && col("doc_id") === col("text_keeper"))
      .withColumn("reach6", col("reach5") && col("g6"))
      .withColumn("reach7", col("reach6") && col("g7"))
      .withColumn("reach8", col("reach7") && col("g8"))
      .withColumn("reached",
        when(col("reach8"), 8)
          .when(col("reach7"), 7)
          .when(col("reach6"), 6)
          .when(col("reach5"), 5)
          .when(col("reach4"), 4)
          .when(col("reach3"), 3)
          .when(col("allowed"), 2)
          .otherwise(1))
    perDoc.select(col("doc_id"), col("n_tok"), col("reached"))
  }

  val entries: Seq[Entry] = Seq(
    Entry("q252_curation_funnel_v2", v2Sql(duck = true)) { (s, d) =>
      reportV2(s, d)
    }.sqlTwin(v2TwinSql),

    // ---- drop ATTRIBUTION by host (SURVEY Q276) ----
    // q224 reports how many docs survive each gate; the question a crawl
    // operator actually asks is WHERE each host's documents die — per
    // host, the count attributed to the gate that dropped it (reached=k
    // ⇔ survived stage k, failed k+1; host is the robots fabrication
    // key, so the blocked column follows each host's real rule set).
    // Rides the SAME reachFlags derivation as q224/q252 (one copy — the
    // attribution cannot drift from the funnel) plus one O(hosts)
    // host-keyed rollup; at 100 TB the two keeper windows are the
    // funnel's own cost and the rollup is a map-side-combinable agg to
    // O(hosts) rows.
    Entry("q276_funnel_yield_by_host", yieldByHostSql) { (s, d) =>
      reachFlags(s, d)
        .withColumn("reached",
          when(col("reach5"), 5)
            .when(col("reach4"), 4)
            .when(col("reach3"), 3)
            .when(col("allowed"), 2)
            .otherwise(1))
        .groupBy(expr("(doc_id div 4) % 5").cast("bigint").as("host"))
        .agg(count(lit(1)).as("n_fetched"),
          sum(when(col("reached") === 1, 1L).otherwise(0L)).as("n_robots_blocked"),
          sum(when(col("reached") === 2, 1L).otherwise(0L)).as("n_url_dup"),
          sum(when(col("reached") === 3, 1L).otherwise(0L)).as("n_low_quality"),
          sum(when(col("reached") === 4, 1L).otherwise(0L)).as("n_text_dup"),
          sum(when(col("reached") === 5, 1L).otherwise(0L)).as("n_kept"))
        .orderBy(col("host"))
    },

    Entry("q224_curation_funnel",
      s"""WITH t AS (SELECT doc_id, text, ${Text.tokensSql} AS ws FROM documents),
        |base AS (
        |  SELECT doc_id, text,
        |    NOT ((((doc_id // 4) % 5) % 2 = 1) AND ((doc_id // 4) % 10 IN (1, 3))) AS allowed,
        |    doc_id // 4 AS grp,
        |    len(ws) AS n_tok,
        |    len(list_filter(ws, w -> w IN ('the', 'a', 'of', 'and', 'to', 'is', 'in'))) AS n_stop
        |  FROM t),
        |$oracleBody""".stripMargin) { (s, d) =>
      report(s, d)
    }
  )
}
