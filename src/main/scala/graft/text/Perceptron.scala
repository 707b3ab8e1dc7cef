package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Staging, Tables}
import graft.queries.{Dialect, Entry}

/** Linear hashed-feature quality classifier (SURVEY.md Q264/Q265) — the
  * model-upgrade tier above q234's bucket-posterior NB: an integer-weight
  * AVERAGED PERCEPTRON (Freund & Schapire 1999) over hashed token
  * features, the public fastText-quality-filter shape (a linear model
  * over hashed n-gram features; Joulin et al. 2017).
  *
  * Cross-engine exactness is the design constraint, solved the q219/q234
  * way — EVERYTHING is integer arithmetic:
  *  - features: per-mille token-bucket profile (token_hash(w) % 64,
  *    x = (1000·count) div n_tok — nonnegative, so '//' and 'div'
  *    agree), plus the raw length and a bias slot (66 weights);
  *  - labels: the q96/q234 rule law in exact integer form
  *    (n_tok >= 25 AND 1000·n_stop >= 30·n_tok → +1 else −1);
  *  - training: 16 deterministic steps (2 epochs over q156's 8
  *    md5-bucket shards, the seeded epoch-order law) — each step scores
  *    the step's shard against the current weights and updates on the
  *    TOP-4 WORST VIOLATORS (most-negative y·score, ties by doc_id) —
  *    maximal-violation working-set selection, the batch-tractable form
  *    of the online perceptron: per-example updates are order-dependent
  *    and not SQL-replayable at corpus size (the q248-EM disposition
  *    class), while a per-step argmin over integers is deterministic,
  *    order-independent, and unrolls as ONE linear CTE level per step;
  *  - inference: the classifier is the SUMMED weight trajectory `wsum`
  *    (the averaged perceptron's integer-scaled form — the last-step
  *    weights oscillate, the average separates; measured before
  *    pinning), thresholded at margin > 0.
  *
  * The DuckDB oracle replays all 16 levels exactly: weights ride the
  * chain as 66 (f, w, wsum) rows, each level referencing ONLY its
  * predecessor (the running average is a carried state COLUMN — a final
  * sum over all 16 weight tables would re-inline the chain
  * quadratically, the q245 lesson), violator selection is a DENSE_RANK
  * over (violator-flag, y·score, doc_id) — rank keys are all non-NULL
  * integers inside the violator group, so engine NULL-ordering defaults
  * cannot reorder it — and the feature/label tables are MATERIALIZED
  * (duck dialect only) so 16 references cost one derivation, not 16
  * corpus re-tokenizations.
  *
  * Scale posture (the q242 driver-artifact law): training state is O(66)
  * longs ON THE DRIVER; each step is one map-only scoring pass over the
  * materialized sparse feature frame (weights enter as literal arrays —
  * no join), a top-4 TakeOrderedAndProject, and one 66-row update agg —
  * the corpus is never weight-joined or re-shuffled. At 100 TB a
  * deployment trains on a driver-sized sample (q234's own posture) and
  * scores map-only with the folded-back literals; the 16 bounded
  * collects here are ≤ 4 (doc_id, y) rows + 66 update rows each.
  */
object Perceptron {

  val NumBuckets = 64
  val NumFeatures: Int = NumBuckets + 2   // buckets + n_tok + bias
  val Shards = 8
  val Epochs = 2
  val Steps: Int = Shards * Epochs
  val TopViolators = 4
  val Seed = "pcpt1"

  private def T(s: SparkSession, dir: String, n: String): DataFrame = Tables(s, dir, n)

  // ---- shared SQL chain: DuckDB SQL, the Spark side bridged by
  // Dialect.duckToSpark. `duck` keeps the two structural switches the
  // bridge has no rule for: the MATERIALIZED CTE hint and the hex shard
  // parse (DuckDB's '0x' || cast vs Spark's conv). ----

  /** The training chain CTEs: t, lab, wrd, feat, w0, then one
    * (j_k, w_k) pair per step. Splice with `WITH` and consume `w$Steps`
    * (final weights) / `feat`+`lab` (for scoring). ONE copy shared by
    * q264, q265 and q252's stage-8 gate. */
  private[text] def chainSql(duck: Boolean): String = {
    val mat = if (duck) "MATERIALIZED " else ""
    val shard =
      if (duck)
        s"CAST(('0x' || substr(md5('$Seed:' || CAST(doc_id AS VARCHAR)), 1, 4)) AS INT) % $Shards"
      else
        s"CAST(CAST(conv(substr(md5(concat('$Seed:', CAST(doc_id AS STRING))), 1, 4), 16, 10) AS INT) % $Shards AS INT)"
    val levels = (1 to Steps).map { k =>
      val sh = (k - 1) % Shards
      val upd =
        s"COALESCE(CAST(SUM(CASE WHEN vrk <= $TopViolators THEN y * x END) AS BIGINT), 0)"
      s"""pj$k AS (
         |  SELECT ww.f, ww.w, ww.wsum, fe.doc_id, fe.x, fe.y,
         |    SUM(ww.w * fe.x) OVER (PARTITION BY fe.doc_id) AS score
         |  FROM pw${k - 1} ww LEFT JOIN (
         |    SELECT f0.doc_id, f0.f, f0.x, l.y FROM pfeat f0
         |    JOIN plab l ON l.doc_id = f0.doc_id AND l.shard = $sh) fe
         |  ON fe.f = ww.f),
         |pw$k AS (
         |  SELECT f, MAX(w) + $upd AS w, MAX(wsum) + MAX(w) + $upd AS wsum
         |  FROM (
         |    SELECT f, w, wsum, x, y,
         |      CASE WHEN doc_id IS NOT NULL AND y * score <= 0 THEN
         |        DENSE_RANK() OVER (ORDER BY
         |          CASE WHEN doc_id IS NOT NULL AND y * score <= 0 THEN 0 ELSE 1 END,
         |          y * score, doc_id)
         |      END AS vrk
         |    FROM pj$k)
         |  GROUP BY f)""".stripMargin
    }.mkString(",\n")
    s"""pt AS (SELECT doc_id, ${Text.tokensSql} AS ws FROM documents),
       |plab AS $mat(SELECT doc_id,
       |    CASE WHEN len(ws) >= 25
       |              AND 1000 * len(list_filter(ws, w -> w IN ('the', 'a', 'of', 'and', 'to', 'is', 'in'))) >= 30 * len(ws)
       |         THEN 1 ELSE -1 END AS y,
       |    $shard AS shard,
       |    CAST(len(ws) AS BIGINT) AS n_tok
       |  FROM pt WHERE len(ws) > 0),
       |pwrd AS (SELECT doc_id, unnest(ws) AS w FROM pt),
       |pfeat AS $mat(
       |  SELECT w.doc_id, w.f, CAST((1000 * w.c) // l.n_tok AS BIGINT) AS x
       |  FROM (SELECT doc_id, (${Text.tokenHashSql}) % $NumBuckets AS f, COUNT(*) AS c FROM pwrd GROUP BY 1, 2) w
       |  JOIN plab l ON l.doc_id = w.doc_id
       |  UNION ALL SELECT doc_id, $NumBuckets, n_tok FROM plab
       |  UNION ALL SELECT doc_id, ${NumBuckets + 1}, CAST(1 AS BIGINT) FROM plab),
       |pw0 AS (SELECT unnest(range($NumFeatures)) AS f, CAST(0 AS BIGINT) AS w, CAST(0 AS BIGINT) AS wsum),
       |$levels""".stripMargin
  }

  /** Per-doc margin under the averaged weights — ONE copy shared by
    * q265's scoring and q252's stage-8 gate. */
  private[text] def marginCteSql: String =
    s"""psm AS (
       |  SELECT fe.doc_id, CAST(SUM(fe.x * ww.wsum) AS BIGINT) AS margin
       |  FROM pfeat fe JOIN pw$Steps ww ON ww.f = fe.f GROUP BY 1)""".stripMargin

  /** q252's stage-8 bar: keep stage-7 survivors the linear model scores
    * CONFIDENTLY positive (margin > 0 alone drops exactly 1 doc at both
    * fixture scales — a one-row gate is fragile evidence; this bar drops
    * 5/4 and keeps 50/44 at sf0.001/sf0.01, measured before pinning —
    * the q225 non-vacuity discipline, stage 6's PseudoPos move). q273's
    * sweep is the measurement that makes this constant an OPERATING
    * POINT rather than a hand pick: the chosen-row rule must land here. */
  val FunnelGateMargin = 100000L

  /** q273's threshold grid — integer margins bracketing the stage-8
    * constant (0 = q265's confusion-matrix point; the rest double up
    * from the gate's scale). O(thresholds) is the whole post-agg tier. */
  val SweepGrid: Seq[Long] = Seq(0L, 25000L, 50000L, 100000L, 200000L, 400000L)

  /** q273's chosen-row rule: the LARGEST grid threshold whose recall (vs
    * the rule label, in integer permille) still clears this floor — "the
    * most aggressive gate that keeps >= 80% of the true positives"
    * (precision rises monotonically with the threshold on this grid, so
    * the recall floor IS the binding constraint; a precision bar is
    * vacuous here — measured 819..921 permille across the whole grid at
    * sf0.001). Measured before pinning (the q225/q252 discipline):
    * recall at the stage-8 constant is 876/821 permille at
    * sf0.001/sf0.01 and collapses to 729/547 one grid step up, so the
    * rule lands exactly on [[FunnelGateMargin]] at both hash-checked
    * scales — PerceptronSpec pins it. */
  val SweepRecallFloor = 800L

  private def trainSql(duck: Boolean): String =
    s"""WITH ${chainSql(duck)}
       |SELECT CAST(f AS INT) AS f, w, wsum FROM pw$Steps ORDER BY f""".stripMargin

  /** q273's oracle: the chain + per-doc margins swept over [[SweepGrid]]
    * — one confusion row per threshold (tp/fp/fn/tn at `margin > thr`)
    * with integer-permille precision/recall, and the chosen-row flag
    * (largest threshold clearing [[SweepRecallFloor]] — the measured
    * operating point the funnel's stage-8 constant must equal). The
    * q249 decision-layer posture: the sweep runs on the O(thresholds)
    * POST-AGG tier (the grid cross-join multiplies O(docs) margin rows
    * by 6 before ONE agg; the window rides 6 rows). */
  private def sweepSql(duck: Boolean): String = {
    val grid =
      if (duck) s"SELECT unnest([${SweepGrid.mkString(", ")}]) AS thr"
      else s"SELECT explode(array(${SweepGrid.mkString("L, ")}L)) AS thr"
    s"""WITH ${chainSql(duck)},
       |$marginCteSql,
       |pgrid AS ($grid),
       |pcells AS (
       |  SELECT g.thr,
       |    CAST(SUM(CASE WHEN l.y = 1 AND m.margin > g.thr THEN 1 ELSE 0 END) AS BIGINT) AS tp,
       |    CAST(SUM(CASE WHEN l.y <> 1 AND m.margin > g.thr THEN 1 ELSE 0 END) AS BIGINT) AS fp,
       |    CAST(SUM(CASE WHEN l.y = 1 AND m.margin <= g.thr THEN 1 ELSE 0 END) AS BIGINT) AS fn,
       |    CAST(SUM(CASE WHEN l.y <> 1 AND m.margin <= g.thr THEN 1 ELSE 0 END) AS BIGINT) AS tn
       |  FROM psm m JOIN plab l ON l.doc_id = m.doc_id CROSS JOIN pgrid g
       |  GROUP BY 1),
       |pstat AS (
       |  SELECT thr, tp, fp, fn, tn,
       |    CAST(1000 * tp // NULLIF(tp + fp, 0) AS BIGINT) AS precision_permille,
       |    CAST(1000 * tp // NULLIF(tp + fn, 0) AS BIGINT) AS recall_permille
       |  FROM pcells)
       |SELECT CAST(thr AS BIGINT) AS thr, tp, fp, fn, tn,
       |  precision_permille, recall_permille,
       |  CAST(CASE WHEN thr = MAX(CASE WHEN recall_permille >= $SweepRecallFloor
       |                                THEN thr END) OVER () THEN 1 ELSE 0 END AS BIGINT) AS chosen
       |FROM pstat ORDER BY thr""".stripMargin
  }

  /** q278's oracle: q273's sweep PARTITIONED BY LANGUAGE — the q250/q253
    * conditioning move applied to the decision layer: one shared model,
    * per-language operating points (a margin calibrated on the pooled
    * corpus mis-gates languages whose lexical profile shifts the margin
    * distribution — the report shows each language's own knee). The lang
    * attach is a broadcast O(docs) projection (q250's argument); cells
    * aggregate map-side to O(langs × thresholds) rows; the chosen-row
    * window partitions by lang — no single-partition stage (q253's
    * scale-correct window shape). */
  private def sweepByLangSql(duck: Boolean): String = {
    val grid =
      if (duck) s"SELECT unnest([${SweepGrid.mkString(", ")}]) AS thr"
      else s"SELECT explode(array(${SweepGrid.mkString("L, ")}L)) AS thr"
    s"""WITH ${chainSql(duck)},
       |$marginCteSql,
       |pgrid AS ($grid),
       |plng AS (SELECT doc_id, lang FROM documents),
       |pcells AS (
       |  SELECT dl.lang, g.thr,
       |    CAST(SUM(CASE WHEN l.y = 1 AND m.margin > g.thr THEN 1 ELSE 0 END) AS BIGINT) AS tp,
       |    CAST(SUM(CASE WHEN l.y <> 1 AND m.margin > g.thr THEN 1 ELSE 0 END) AS BIGINT) AS fp,
       |    CAST(SUM(CASE WHEN l.y = 1 AND m.margin <= g.thr THEN 1 ELSE 0 END) AS BIGINT) AS fn,
       |    CAST(SUM(CASE WHEN l.y <> 1 AND m.margin <= g.thr THEN 1 ELSE 0 END) AS BIGINT) AS tn
       |  FROM psm m JOIN plab l ON l.doc_id = m.doc_id
       |  JOIN plng dl ON dl.doc_id = m.doc_id CROSS JOIN pgrid g
       |  GROUP BY 1, 2),
       |pstat AS (
       |  SELECT lang, thr, tp, fp, fn, tn,
       |    CAST(1000 * tp // NULLIF(tp + fp, 0) AS BIGINT) AS precision_permille,
       |    CAST(1000 * tp // NULLIF(tp + fn, 0) AS BIGINT) AS recall_permille
       |  FROM pcells)
       |SELECT lang, CAST(thr AS BIGINT) AS thr, tp, fp, fn, tn,
       |  precision_permille, recall_permille,
       |  CAST(CASE WHEN thr = MAX(CASE WHEN recall_permille >= $SweepRecallFloor
       |                                THEN thr END) OVER (PARTITION BY lang)
       |       THEN 1 ELSE 0 END AS BIGINT) AS chosen
       |FROM pstat ORDER BY lang, thr""".stripMargin
  }

  /** q265's oracle: the chain + corpus scoring under `wsum`, reported as
    * the q234-style confusion matrix with margin extrema. */
  private def applySql(duck: Boolean): String =
    s"""WITH ${chainSql(duck)},
       |$marginCteSql
       |SELECT CASE WHEN l.y = 1 THEN 1 ELSE 0 END AS label,
       |  CASE WHEN m.margin > 0 THEN 1 ELSE 0 END AS pred,
       |  COUNT(*) AS n,
       |  CAST(MIN(m.margin) AS BIGINT) AS min_margin,
       |  CAST(MAX(m.margin) AS BIGINT) AS max_margin
       |FROM psm m JOIN plab l ON l.doc_id = m.doc_id
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---- Spark side ----

  private val stop = Seq("the", "a", "of", "and", "to", "is", "in")

  /** Spark twin of the chain's `shard` expression (q156's epoch-order
    * bucketing under this model's seed). */
  private def shardCol: Column =
    expr(s"CAST(CAST(conv(substr(md5(concat('$Seed:', CAST(doc_id AS STRING))), 1, 4), 16, 10) AS INT) % $Shards AS INT)")

  /** Per-doc label/shard/length rows off a (doc_id, ws) token frame. */
  private def labFrame(toks: DataFrame): DataFrame =
    toks
      .select(col("doc_id"), size(col("ws")).cast("long").as("n_tok"),
        size(filter(col("ws"), w => w.isin(stop: _*))).cast("long").as("n_stop"))
      .filter(col("n_tok") > 0)
      .select(col("doc_id"),
        when(col("n_tok") >= 25 && lit(1000) * col("n_stop") >= lit(30) * col("n_tok"), 1L)
          .otherwise(-1L).as("y"),
        shardCol.as("shard"), col("n_tok"))

  /** The sparse feature frame off the STAGED token index — the
    * training-set staging a real job materializes once; every step's
    * scoring pass and both entries' scoring reads run off it. */
  private[text] def sparseFeatures(s: SparkSession, d: String): DataFrame =
    sparseFeaturesOf(TokenIndex.toks(s, d))

  /** The sparse feature frame (doc_id, y, shard, f, x) off any (doc_id,
    * ws) token frame — ONE copy of the feature law, shared by the corpus
    * path above and the per-batch ingest gate (Funnel.gateVerdicts
    * featurizes arriving docs and scores them map-only under the staged
    * literal weights). */
  private[graft] def sparseFeaturesOf(toks: DataFrame): DataFrame = {
    val lab = labFrame(toks)
    val cnt = toks.select(col("doc_id"), explode(col("ws")).as("w"))
      .select(col("doc_id"),
        (graft.functions.vec.tokenHash(col("w")) % NumBuckets).as("f"))
      .groupBy(col("doc_id"), col("f")).agg(count(lit(1)).as("c"))
    val buckets = cnt.join(lab, "doc_id")
      .select(col("doc_id"), col("y"), col("shard"), col("f"),
        expr("CAST((1000 * c) div n_tok AS BIGINT)").as("x"))
    val lenFeat = lab.select(col("doc_id"), col("y"), col("shard"),
      lit(NumBuckets.toLong).as("f"), col("n_tok").as("x"))
    val bias = lab.select(col("doc_id"), col("y"), col("shard"),
      lit(NumBuckets + 1L).as("f"), lit(1L).as("x"))
    // narrow partitioning: the frame is O(docs x ~33) 40-byte rows and
    // every consumer is a 16-iteration loop of tiny per-shard jobs — at
    // the session's 32 partitions each step pays 32-task scheduling for
    // kilobytes of work (the clusterPairs loop lesson). A deployment
    // whose feature frame is genuinely large raises the same knob.
    buckets.unionByName(lenFeat).unionByName(bias).coalesce(4)
  }

  /** The margin expression under literal weights: Σ x·w[f] per doc (the
    * weights enter as a 66-slot literal array — map-only, no join). */
  private def marginAgg(wv: Seq[Long]): Column =
    sum(col("x") * element_at(typedLit(wv), col("f").cast("int") + 1))

  /** Per-doc (doc_id, margin) under literal weights off a
    * [[sparseFeatures]] frame — the DataFrame twin of [[marginCteSql]],
    * shared by q265 and q252's stage-8 gate. */
  private[text] def margins(feats: DataFrame, wv: Seq[Long]): DataFrame =
    feats.groupBy(col("doc_id")).agg(marginAgg(wv).as("margin"))

  /** The 16-step driver-side trainer — exact twin of the SQL chain.
    * Returns (final weights, summed weights). ONE job per step: the
    * per-doc score agg also carries each doc's feature structs, so the
    * top-4 violator collect delivers the update material in the same
    * pass (a second lookup job per step doubled the wall time in pure
    * scheduling floor — data volume is unchanged either way). Each
    * collect is bounded: ≤ TopViolators rows × ≤ NumFeatures structs. */
  private[text] def train(feats: DataFrame): (Seq[Long], Seq[Long]) = {
    val w = Array.fill(NumFeatures)(0L)
    val wsum = Array.fill(NumFeatures)(0L)
    // the loop moves O(shard x 33) rows per step — run its shuffles at a
    // narrow partitioning so per-step cost is the work, not 32-task
    // scheduling floor (the clusterPairs loop posture)
    graft.core.GraftSession.withShufflePartitions(feats.sparkSession, 4) {
      for (k <- 0 until Steps) {
        // worst violators: most-negative y·score, ties by doc_id — a
        // bounded top-k plan (the argmin selection) over the step's shard
        val viol = feats.filter(col("shard") === k % Shards)
          .groupBy(col("doc_id"), col("y"))
          .agg(marginAgg(w.toSeq).as("score"),
               collect_list(struct(col("f"), col("x"))).as("fx"))
          .filter(col("y") * col("score") <= 0)
          .orderBy(col("y") * col("score"), col("doc_id"))
          .limit(TopViolators)
          .select(col("y"), col("fx")).collect()
        for (r <- viol; p <- r.getSeq[org.apache.spark.sql.Row](1))
          w(p.getLong(0).toInt) += r.getLong(0) * p.getLong(1)
        for (i <- 0 until NumFeatures) wsum(i) += w(i)
      }
    }
    (w.toSeq, wsum.toSeq)
  }

  /** The trained model as a STAGED WRITE-PATH ARTIFACT (VERDICT r18 #2):
    * `train()` runs ONCE per fixture fingerprint per JVM and parks its
    * (f, w, wsum) rows as parquet via [[graft.core.Staging]] — the
    * repo's own artifact law (`Funnel.gateModels`, q271's frozen
    * codebook: train offline, ship the artifact). q264/q265/q273/q278
    * and the funnel gate all consume this one training instead of each
    * re-running the 16-step driver loop — which, besides the ~4×
    * redundancy, was the suite's most latency-amplifying shape (16
    * sequential tiny jobs per caller, r18's contended-sweep amplifier). */
  private[graft] def stagedModel(s: SparkSession, d: String): (Seq[Long], Seq[Long]) = {
    val dir = Staging.stagedDir(d, "documents", "pcptmodel") { tmp =>
      import s.implicits._
      val (w, wsum) = Staging.using(sparseFeatures(s, d))(train)
      (0 until NumFeatures).map(f => (f, w(f), wsum(f)))
        .toDF("f", "w", "wsum").coalesce(1)
        .write.mode("overwrite").parquet(tmp)
    }
    val w = Array.fill(NumFeatures)(0L)
    val wsum = Array.fill(NumFeatures)(0L)
    // O(66) rows — the bounded driver-artifact read posture
    s.read.parquet(dir).collect().foreach { r =>
      w(r.getInt(0)) = r.getLong(1); wsum(r.getInt(0)) = r.getLong(2)
    }
    (w.toSeq, wsum.toSeq)
  }

  val entries: Seq[Entry] = Seq(
    // ---- the learner (the q161/q162 learn/apply split, model side) ----
    Entry("q264_perceptron_train", trainSql(duck = true)) { (s, d) =>
      import s.implicits._
      val (w, wsum) = stagedModel(s, d)
      (0 until NumFeatures).map(f => (f, w(f), wsum(f)))
        .toDF("f", "w", "wsum").orderBy(col("f"))
    }.sqlTwin(Dialect.duckToSpark(trainSql(duck = false))),

    // ---- the scorer: corpus confusion under the averaged weights ----
    // The weights come from the staged artifact (one training per JVM),
    // so the returned plan reads `feats` exactly once — no persist needed
    // (r18 #2 retired the persist-to-return contract this entry carried
    // when training materialized the frame first).
    Entry("q265_perceptron_apply", applySql(duck = true)) { (s, d) =>
      val feats = sparseFeatures(s, d)
      val (_, wsum) = stagedModel(s, d)
      val out = feats.groupBy(col("doc_id"), col("y"))
        .agg(marginAgg(wsum).as("margin"))
        .groupBy(when(col("y") === 1L, 1).otherwise(0).as("label"),
          when(col("margin") > 0, 1).otherwise(0).as("pred"))
        .agg(count(lit(1)).as("n"),
          min(col("margin")).cast("bigint").as("min_margin"),
          max(col("margin")).cast("bigint").as("max_margin"))
        .orderBy(col("label"), col("pred"))
      out
    }.sqlTwin(Dialect.duckToSpark(applySql(duck = false))),

    // ---- the operating-point sweep (VERDICT r16 #6) ----
    // q265 reports ONE confusion matrix at margin 0 while q252's stage 8
    // gates at FunnelGateMargin — this entry is the measurement that
    // connects them: precision/recall per grid threshold, and the
    // chosen-row rule (largest threshold whose recall still clears the
    // floor — SweepRecallFloor) landing exactly on the stage-8 constant.
    // Weights come from the staged artifact (q264's one training); the
    // returned plan reads `feats` once. Scale: margins are the q265 plan
    // (no join, literal weights); the grid multiplies O(docs) margin rows
    // by |grid| inside ONE agg to O(thresholds) rows; the chosen-row
    // window rides those 6 rows.
    Entry("q273_perceptron_sweep", sweepSql(duck = true)) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val feats = sparseFeatures(s, d)
      val (_, wsum) = stagedModel(s, d)
      val pm = feats.groupBy(col("doc_id"), col("y")).agg(marginAgg(wsum).as("margin"))
      val grid = {
        import s.implicits._
        SweepGrid.toDF("thr")
      }
      pm.crossJoin(broadcast(grid))
        .groupBy(col("thr"))
        .agg(
          sum(when(col("y") === 1L && col("margin") > col("thr"), 1L).otherwise(0L)).as("tp"),
          sum(when(col("y") =!= 1L && col("margin") > col("thr"), 1L).otherwise(0L)).as("fp"),
          sum(when(col("y") === 1L && col("margin") <= col("thr"), 1L).otherwise(0L)).as("fn"),
          sum(when(col("y") =!= 1L && col("margin") <= col("thr"), 1L).otherwise(0L)).as("tn"))
        .withColumn("precision_permille", expr("1000 * tp div NULLIF(tp + fp, 0)"))
        .withColumn("recall_permille", expr("1000 * tp div NULLIF(tp + fn, 0)"))
        .withColumn("chosen",
          when(col("thr") === max(when(col("recall_permille") >= SweepRecallFloor,
            col("thr"))).over(Window.partitionBy(lit(1))), 1L).otherwise(0L))
        .select(col("thr"), col("tp"), col("fp"), col("fn"), col("tn"),
          col("precision_permille"), col("recall_permille"), col("chosen"))
        .orderBy(col("thr"))
    }.sqlTwin(Dialect.duckToSpark(sweepSql(duck = false))),

    // ---- per-language operating points (q273 × q250's conditioning) ----
    // One shared model, per-language knees: the pooled margin hides
    // languages whose lexical profile shifts the margin distribution —
    // this report publishes each language's own chosen threshold under
    // the same recall-floor rule. The lang attach broadcasts; the window
    // partitions by lang (q253's scale-correct shape, no single-partition
    // stage). PerceptronSpec pins per-lang internal consistency and that
    // the per-lang cells sum to q273's global cells.
    Entry("q278_perceptron_sweep_by_lang", sweepByLangSql(duck = true)) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val feats = sparseFeatures(s, d)
      val (_, wsum) = stagedModel(s, d)
      val pm = feats.groupBy(col("doc_id"), col("y")).agg(marginAgg(wsum).as("margin"))
      val lng = Tables(s, d, "documents").select(col("doc_id"), col("lang"))
      val grid = {
        import s.implicits._
        SweepGrid.toDF("thr")
      }
      pm.join(broadcast(lng), "doc_id")
        .crossJoin(broadcast(grid))
        .groupBy(col("lang"), col("thr"))
        .agg(
          sum(when(col("y") === 1L && col("margin") > col("thr"), 1L).otherwise(0L)).as("tp"),
          sum(when(col("y") =!= 1L && col("margin") > col("thr"), 1L).otherwise(0L)).as("fp"),
          sum(when(col("y") === 1L && col("margin") <= col("thr"), 1L).otherwise(0L)).as("fn"),
          sum(when(col("y") =!= 1L && col("margin") <= col("thr"), 1L).otherwise(0L)).as("tn"))
        .withColumn("precision_permille", expr("1000 * tp div NULLIF(tp + fp, 0)"))
        .withColumn("recall_permille", expr("1000 * tp div NULLIF(tp + fn, 0)"))
        .withColumn("chosen",
          when(col("thr") === max(when(col("recall_permille") >= SweepRecallFloor,
            col("thr"))).over(Window.partitionBy(col("lang"))), 1L).otherwise(0L))
        .select(col("lang"), col("thr"), col("tp"), col("fp"), col("fn"), col("tn"),
          col("precision_permille"), col("recall_permille"), col("chosen"))
        .orderBy(col("lang"), col("thr"))
    }.sqlTwin(Dialect.duckToSpark(sweepByLangSql(duck = false)))
  )
}
