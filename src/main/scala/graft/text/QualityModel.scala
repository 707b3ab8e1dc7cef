package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Staging, Tables}
import graft.queries.{Dialect, Entry}

/** Model-based document quality scoring (SURVEY.md Q234) — the trained
  * classifier tier above q96's threshold rules, the FineWeb/CCNet-class
  * progression: rule labels bootstrap a statistical model, and the model
  * (not the rules) scores the corpus, generalizing past the exact
  * thresholds. The reference has no quality layer at all; this is the
  * pipeline stage between per-doc signals (q69) and the keep/drop report
  * (q154).
  *
  * The model is naive-Bayes-shaped over QUANTIZED signals: five integer
  * per-doc signals (token count, stopword per-mille, punctuation
  * per-mille, distinct-token per-mille, mean token length) are each
  * bucketed into deciles; training estimates, per (signal, bucket), the
  * Laplace-smoothed posterior P(good | bucket) in parts-per-million —
  * `(1e6 * (n_good + 1)) // (n + 2)` — and a document's score is the SUM
  * of its five bucket posteriors, thresholded at the 0.5-equivalent
  * 2,500,000. Everything is INTEGER (q219's discipline): counts,
  * truncating divisions, and sums are bit-exact across engines, so the
  * DuckDB oracle retrains the identical model in SQL and the driver hash
  * pins training AND inference end-to-end. (A float log-likelihood NB
  * would be summation-order-dependent and unhashable — same argument as
  * q219 vs naive-Bayes log-probs.)
  *
  * Labels come from the deterministic q96 keep rule (len >= 25 tokens AND
  * stopword ratio >= 3%), trained by resubstitution — the oracle-replayable
  * stand-in for a hand-labeled set. The classifier sees only BUCKETED
  * signals whose decile boundaries do not align with the rule thresholds,
  * so it cannot replay the rule exactly: the confusion matrix has real
  * off-diagonal mass and QualityModelSpec pins above-chance separation
  * (and perfect separation on a synthetic corpus with disjoint signal
  * distributions).
  *
  * Output: the confusion matrix (label, pred, n) plus per-cell score
  * extrema — min/max pin the score arithmetic itself, not just the
  * threshold comparisons.
  *
  * Scale posture: ONE corpus pass computes the five signals (map-only
  * over the scan); the signal->bucket unpivot is a per-row `stack` (no
  * shuffle); training is one map-side-combinable agg to O(signals x 10)
  * rows; scoring joins that TINY model back BROADCAST (at any corpus
  * scale the model is 50 rows) and re-aggregates per doc. Deployment
  * shape at 100 TB: train once on a sample, broadcast the posterior
  * table, score as a map-only join — exactly this plan minus the
  * training agg.
  */
object QualityModel {

  private def T(s: SparkSession, dir: String, n: String): DataFrame = Tables(s, dir, n)

  /** Shared signal/bucket/label derivation, in DuckDB SQL (the Spark
    * side is bridged by [[graft.queries.Dialect.duckToSpark]]).
    * Package-visible: q252's funnel oracle splices this chain so its
    * model gate replays the SAME training the q234 entry pins. `duck`
    * is the one structural switch: DuckDB's `list_distinct` drops NULLs
    * where Spark's `array_distinct` keeps one, so no bridge rule maps
    * them. */
  private[text] def chain(duck: Boolean): String = {
    val dis = if (duck) "list_distinct" else "array_distinct"
    val stop = "len(list_filter(ws, w -> w IN ('the', 'a', 'of', 'and', 'to', 'is', 'in')))"
    val re = "regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g')"
    s"""t AS (SELECT doc_id, ${Text.tokensSql} AS ws, text FROM documents),
       |f AS (SELECT doc_id,
       |    CAST(len(ws) AS BIGINT) AS n_tok,
       |    CAST($stop AS BIGINT) AS n_stop,
       |    CAST(length(text) AS BIGINT) AS n_char,
       |    CAST(length($re) AS BIGINT) AS n_punct,
       |    CAST(len($dis(ws)) AS BIGINT) AS n_uniq
       |  FROM t WHERE len(ws) > 0),
       |g AS (SELECT doc_id,
       |    CASE WHEN n_tok >= 25 AND 1000 * n_stop >= 30 * n_tok
       |         THEN 1 ELSE 0 END AS label,
       |    LEAST((n_tok) // 16, 9) AS b0,
       |    LEAST(((1000 * n_stop) // n_tok) // 20, 9) AS b1,
       |    LEAST(((1000 * n_punct) // n_char) // 10, 9) AS b2,
       |    LEAST(((1000 * n_uniq) // n_tok) // 100, 9) AS b3,
       |    LEAST((((n_char - n_punct) * 10) // n_tok) // 5, 9) AS b4
       |  FROM f),
       |u AS (SELECT doc_id, label, 0 AS sig, b0 AS b FROM g
       |  UNION ALL SELECT doc_id, label, 1, b1 FROM g
       |  UNION ALL SELECT doc_id, label, 2, b2 FROM g
       |  UNION ALL SELECT doc_id, label, 3, b3 FROM g
       |  UNION ALL SELECT doc_id, label, 4, b4 FROM g),
       |m AS (SELECT sig, b,
       |    CAST((1000000 * (SUM(label) + 1)) // (COUNT(*) + 2) AS BIGINT) AS ppm
       |  FROM u GROUP BY 1, 2),
       |sc AS (SELECT u.doc_id, u.label, CAST(SUM(m.ppm) AS BIGINT) AS score
       |  FROM u JOIN m ON m.sig = u.sig AND m.b = u.b
       |  GROUP BY 1, 2)""".stripMargin
  }

  private def finalSelect: String =
    """SELECT label, CASE WHEN score >= 2500000 THEN 1 ELSE 0 END AS pred,
      |  COUNT(*) AS n,
      |  CAST(MIN(score) AS BIGINT) AS min_score,
      |  CAST(MAX(score) AS BIGINT) AS max_score
      |FROM sc GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** The five raw per-doc stats off a `text` column — ONE copy shared by
    * [[bucketFrame]] and the per-batch ingest gate's FUSED projection
    * (Funnel.gateVerdicts computes the NB score in the same pass that
    * derives the flag columns instead of re-scanning + re-tokenizing the
    * batch for a separate scored frame — guide §2.3, VERDICT r21 #3). */
  private[text] def statCols: Seq[org.apache.spark.sql.Column] = {
    val toks = Text.tokens(col("text"))
    Seq(
      size(toks).cast("long").as("n_tok"),
      size(filter(toks, w => w.isin("the", "a", "of", "and", "to", "is", "in")))
        .cast("long").as("n_stop"),
      length(col("text")).cast("long").as("n_char"),
      length(regexp_replace(col("text"), "[a-zA-Z0-9 ]", "")).cast("long")
        .as("n_punct"),
      size(array_distinct(toks)).cast("long").as("n_uniq"))
  }

  /** The bucket law over the stat columns (unaliased, so the exprs can sit
    * inline under a guard) — the other half of the shared base. */
  private[text] def bucketExprs: Seq[org.apache.spark.sql.Column] = Seq(
    expr("LEAST(n_tok div 16, 9)"),
    expr("LEAST(((1000 * n_stop) div n_tok) div 20, 9)"),
    expr("LEAST(((1000 * n_punct) div n_char) div 10, 9)"),
    expr("LEAST(((1000 * n_uniq) div n_tok) div 100, 9)"),
    expr("LEAST((((n_char - n_punct) * 10) div n_tok) div 5, 9)"))

  /** The map-only per-doc (label, bucket vector) frame — the shared base
    * of training, scoring, and the q242 self-training round. */
  def bucketFrame(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id") +: statCols: _*)
      .filter(col("n_tok") > 0)
      .select(col("doc_id") +:
        when(col("n_tok") >= 25 && lit(1000) * col("n_stop") >= lit(30) * col("n_tok"), 1)
          .otherwise(0).as("label") +:
        bucketExprs.zipWithIndex.map { case (c, i) => c.as(s"b$i") }: _*)

  /** Confusion matrix of the bucket-posterior model over `docs` (must
    * have doc_id + text). Exposed for QualityModelSpec's synthetic
    * separation pin. */
  def confusion(docs: DataFrame): DataFrame = {
    // ONE signal pass feeds both training and scoring (without it the
    // stack+tokenize runs twice); per-row unpivot — generates 5
    // (sig, bucket) rows with NO shuffle
    val u = Staging.materialize(bucketFrame(docs)
      .selectExpr("doc_id", "label",
        "stack(5, 0, b0, 1, b1, 2, b2, 3, b3, 4, b4) AS (sig, b)"))
    // training: O(signals x 10) rows — map-side-combinable agg
    val m = u.groupBy(col("sig"), col("b"))
      .agg(expr("CAST((1000000 * (SUM(label) + 1)) div (COUNT(*) + 2) AS BIGINT)")
        .as("ppm"))
    // scoring: the model is ~50 rows at ANY corpus scale — broadcast
    val sc = u.join(broadcast(m), Seq("sig", "b"))
      .groupBy(col("doc_id"), col("label"))
      .agg(sum(col("ppm")).as("score"))
    sc.groupBy(col("label"),
        when(col("score") >= 2500000L, 1).otherwise(0).as("pred"))
      .agg(count(lit(1)).as("n"),
        min(col("score")).as("min_score"), max(col("score")).as("max_score"))
      .orderBy(col("label"), col("pred"))
  }

  /** Laplace-smoothed P(positive | sig, bucket) in ppm as dense
    * per-signal lookup arrays; buckets unseen by this round's training
    * set keep the Laplace prior 500000 (the oracle's COALESCE arm).
    * The q242 driver-artifact posture, shared with q252's funnel model
    * gate: the posterior table is one map-side-combined agg collapsed to
    * O(signals x deciles) rows, collected, and folded back as literals —
    * the corpus is never doc-keyed-shuffled for scoring. */
  private[text] def trainPosteriors(df: DataFrame, labelCol: String): Seq[Seq[Long]] = {
    val rows = df.selectExpr(labelCol,
        "stack(5, 0, b0, 1, b1, 2, b2, 3, b3, 4, b4) AS (sig, b)")
      .groupBy(col("sig"), col("b"))
      .agg(expr(s"CAST((1000000 * (SUM($labelCol) + 1)) div (COUNT(*) + 2) AS BIGINT)")
        .as("ppm"))
      .collect()
    val arr = Array.fill(5)(Array.fill(10)(500000L))
    rows.foreach(r => arr(r.getInt(0))(r.getLong(1).toInt) = r.getLong(2))
    arr.map(_.toSeq).toSeq
  }

  /** The literal-lookup score column over a [[bucketFrame]] row. */
  private[text] def scoreCol(m: Seq[Seq[Long]]): org.apache.spark.sql.Column =
    (0 to 4).map(i =>
      element_at(typedLit(m(i)), col(s"b$i").cast("int") + 1)).reduce(_ + _)

  /** [[scoreCol]] for callers outside the text package — q277 (Streams)
    * folds the STAGED gate-model posteriors back as literals. */
  private[graft] def scoreColOf(m: Seq[Seq[Long]]): org.apache.spark.sql.Column =
    scoreCol(m)

  /** [[scoreCol]] evaluated straight off the five [[statCols]] columns
    * (buckets inline). Guarded on n_tok > 0 — CaseWhen evaluates the value
    * branch only when the guard holds, so the b2 division by n_char is
    * never reached on an empty doc, and zero-token rows yield the same
    * null the separate scored frame's left-join miss produced. */
  private[text] def scoreColFromStats(m: Seq[Seq[Long]]): org.apache.spark.sql.Column =
    when(col("n_tok") > 0,
      (0 to 4).map(i =>
        element_at(typedLit(m(i)), bucketExprs(i).cast("int") + 1)).reduce(_ + _))

  /** Confidence gates for the q242 pseudo-label round: only documents the
    * round-1 model is SURE about join the round-2 training set (the
    * classic self-training recipe — training on every prediction lets the
    * majority class snowball: ungated, the fixture's 93%-positive round-1
    * predictions push every round-2 posterior above threshold and pred2
    * collapses to all-1, measured before gating was added). */
  val PseudoNeg = 2400000L
  val PseudoPos = 3500000L

  /** q242's oracle: the q234 chain, then pseudo-label the confident
    * tails of its score distribution, retrain the posteriors on them,
    * re-score everyone, and report both generations side by side. One
    * copy of the round-0 chain — the self-training round cannot drift
    * from the model it bootstraps from. Buckets observed in scoring but
    * absent from the gated training set fall back to the Laplace prior
    * 500000 (LEFT JOIN + COALESCE), matching the Spark side's dense
    * lookup-array default. */
  private def selftrainSql(duck: Boolean): String =
    s"""WITH ${chain(duck)},
       |p1 AS (SELECT doc_id, label, score,
       |    CASE WHEN score >= 2500000 THEN 1 ELSE 0 END AS pred1 FROM sc),
       |u2 AS (SELECT u.doc_id,
       |    CASE WHEN p.score >= $PseudoPos THEN 1 ELSE 0 END AS pseudo,
       |    u.sig, u.b
       |  FROM u JOIN p1 p ON p.doc_id = u.doc_id
       |  WHERE p.score < $PseudoNeg OR p.score >= $PseudoPos),
       |m2 AS (SELECT sig, b,
       |    CAST((1000000 * (SUM(pseudo) + 1)) // (COUNT(*) + 2) AS BIGINT) AS ppm
       |  FROM u2 GROUP BY 1, 2),
       |sc2 AS (SELECT u.doc_id,
       |    CAST(SUM(COALESCE(m2.ppm, 500000)) AS BIGINT) AS score2
       |  FROM u LEFT JOIN m2 ON m2.sig = u.sig AND m2.b = u.b
       |  GROUP BY 1)
       |SELECT p.label, p.pred1,
       |  CASE WHEN s.score2 >= 2500000 THEN 1 ELSE 0 END AS pred2,
       |  COUNT(*) AS n,
       |  CAST(MIN(s.score2) AS BIGINT) AS min_score2,
       |  CAST(MAX(s.score2) AS BIGINT) AS max_score2
       |FROM p1 p JOIN sc2 s ON s.doc_id = p.doc_id
       |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("q234_quality_model",
      s"WITH ${chain(duck = true)}\n$finalSelect") { (s, d) =>
      confusion(T(s, d, "documents"))
    }.sqlTwin(Dialect.duckToSpark(s"WITH ${chain(duck = false)}\n$finalSelect")),

    // q242: one SELF-TRAINING round over the q234 model — the classifier
    // bootstrap every FineWeb-Edu-class pipeline runs (rule labels train
    // model 1; model 1's CONFIDENT predictions pseudo-label the round-2
    // training set, diluting the rule's hard thresholds with the model's
    // own generalization; q241 is the same move for the tokenizer). The
    // confidence gate is load-bearing: ungated self-training snowballs
    // the majority class (see PseudoNeg/PseudoPos). Spark side uses the
    // driver-artifact posture both rounds: each posterior table is one
    // map-side-combined agg collapsed to O(signals x deciles) rows,
    // collected, and folded back as per-signal literal lookup arrays —
    // so unlike the oracle's join formulation the corpus is NEVER
    // doc-keyed-shuffled, and extra rounds cost one tiny agg each.
    // Output pins both generations: (rule label, round-1 pred, round-2
    // pred) cells with round-2 score extrema — pred1/pred2 flips land in
    // their own rows.
    Entry("q242_quality_selftrain", selftrainSql(duck = true)) { (s, d) =>
      val g = Staging.materialize(bucketFrame(T(s, d, "documents")))
      val m1 = trainPosteriors(g, "label")
      val g1 = g.withColumn("score1", scoreCol(m1))
      val m2 = trainPosteriors(
        g1.filter(col("score1") < PseudoNeg || col("score1") >= PseudoPos)
          .withColumn("pseudo", when(col("score1") >= PseudoPos, 1).otherwise(0)),
        "pseudo")
      g1.select(col("label"),
          when(col("score1") >= 2500000L, 1).otherwise(0).as("pred1"),
          when(scoreCol(m2) >= 2500000L, 1).otherwise(0).as("pred2"),
          scoreCol(m2).as("score2"))
        .groupBy(col("label"), col("pred1"), col("pred2"))
        .agg(count(lit(1)).as("n"),
          min(col("score2")).as("min_score2"),
          max(col("score2")).as("max_score2"))
        .orderBy(col("label"), col("pred1"), col("pred2"))
    }.sqlTwin(Dialect.duckToSpark(selftrainSql(duck = false)))
  )
}
