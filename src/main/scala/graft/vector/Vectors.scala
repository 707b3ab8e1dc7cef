package graft.vector

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.core.{Staging, Tables}
import graft.functions.vec
import graft.queries.Entry

/** Similarity search over embedding columns — SURVEY.md Q62 + ANN scale paths.
  *
  * Exact brute-force cosine top-k is the oracle-checked baseline. Two
  * approximate scale paths, matched to similarity regime:
  *   - IVF (inverted-file, FAISS IVF-flat-IP analog): mini k-means coarse
  *     quantizer, probe the `nprobe` nearest cells, exact re-rank inside
  *     probed cells. The right tool for general top-k retrieval — recall
  *     degrades gracefully via the nprobe knob even when neighbors are only
  *     moderately closer than the background (this fixture: top-5 at cosine
  *     ~0.37 over ~0.07 background).
  *   - Random-hyperplane LSH: sign-bit signatures + Hamming-radius
  *     candidate join. Only effective in the HIGH-similarity regime
  *     (near-duplicates, cosine >~ 0.85 — P[sign flip] = angle/pi per
  *     plane); kept as the sub-quadratic embedding-dedup path, not the
  *     generic top-k path.
  * Dot products run through the engine's codegen'd `vec_dot`/`vec_cosine`
  * Catalyst expressions (graft.functions) — a tight primitive-array loop
  * inside whole-stage codegen, no UDF, no driver loop, no boxed
  * intermediate arrays.
  */
object Vectors {

  private def T(s: SparkSession, dir: String, n: String): DataFrame = Tables(s, dir, n)

  /** Codegen'd kernels (graft.functions.{VecDot, VecCosine}). */
  def dot(a: Column, b: Column): Column = vec.dot(a, b)

  def norm(a: Column): Column = sqrt(vec.dot(a, a))

  def cosine(a: Column, b: Column): Column = vec.cosine(a, b)

  /** Native Cast (codegen'd), not a per-element transform lambda. */
  private def asDouble(c: Column): Column = c.cast("array<double>")

  /** Corpus projection with the L2 norm precomputed once per row: even
    * with the codegen'd kernel there is no reason to redo O(dim) work per
    * candidate pair when one pass per row suffices. */
  private[vector] def withNorm(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("nrm", norm(col("v")))

  /** Exact cosine top-k for a set of query vectors: broadcast the queries,
    * stream the corpus, aggregate with the typed bounded-top-k Aggregator
    * (graft.functions.TopK) — map-side partial aggregation reduces each
    * partition to a k-bounded buffer BEFORE the exchange, so the shuffle
    * carries <= partitions x queries x k (id, score) pairs, never the
    * scored corpus. The buffer's keep-k order is the global ranking order,
    * so the merged result is exactly the global top-k. */
  def topK(emb: DataFrame, queryIds: Seq[Int], k: Int): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val e = withNorm(emb)
    val q = e.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qnrm"))
    val scored = e.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
              round(dot(col("v"), col("qv")) / (col("nrm") * col("qnrm")), 6).as("cos_r"))
    scored.as[(Long, Long, Double)]
      .groupByKey(_._1)
      .agg(graft.functions.TopK[(Long, Long, Double)](k, r => (r._2, r._3)).toColumn)
      .flatMap { case (qId, top) =>
        top.iterator.zipWithIndex.map { case ((vecId, cosR), i) => (qId, vecId, cosR, i + 1) }
      }
      .toDF("q_id", "vec_id", "cos_r", "rn")
      .withColumn("rn", col("rn").cast("int"))
      .orderBy(col("q_id"), col("rn"))
  }

  val entries: Seq[Entry] = Seq(

    Entry("q62_cosine_topk",
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id IN (1, 2, 3)),
        |c AS (SELECT q_id, vec_id, ROUND(list_cosine_similarity(v, qv), 6) AS cos_r
        |      FROM e CROSS JOIN q WHERE vec_id <> q_id),
        |r AS (SELECT q_id, vec_id, cos_r,
        |        row_number() OVER (PARTITION BY q_id ORDER BY cos_r DESC, vec_id) AS rn
        |      FROM c)
        |SELECT q_id, vec_id, cos_r, CAST(rn AS INT) AS rn FROM r WHERE rn <= 5
        |ORDER BY q_id, rn""".stripMargin) { (s, d) =>
      topK(T(s, d, "embeddings"), Seq(1, 2, 3), 5)
    }.sqlTwin(
      // structural gap: list_cosine_similarity — the SQL path goes through
      // the registered vec_dot kernel with the same precomputed norms the
      // DataFrame plan uses, so the float arithmetic is identical
      """WITH e AS (SELECT vec_id, CAST(embedding AS ARRAY<DOUBLE>) AS v,
        |                  sqrt(vec_dot(CAST(embedding AS ARRAY<DOUBLE>),
        |                               CAST(embedding AS ARRAY<DOUBLE>))) AS nrm
        |           FROM embeddings),
        |q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qnrm FROM e WHERE vec_id IN (1, 2, 3)),
        |c AS (SELECT q_id, vec_id, ROUND(vec_dot(v, qv) / (nrm * qnrm), 6) AS cos_r
        |      FROM e JOIN q ON vec_id <> q_id),
        |r AS (SELECT q_id, vec_id, cos_r,
        |        CAST(row_number() OVER (PARTITION BY q_id
        |             ORDER BY cos_r DESC, vec_id) AS INT) AS rn FROM c)
        |SELECT q_id, vec_id, cos_r, rn FROM r WHERE rn <= 5
        |ORDER BY q_id, rn""".stripMargin),

    // vector norms / arithmetic as first-class columns
    Entry.sql("q62_vector_stats",
      """SELECT vec_id,
        |  ROUND(sqrt((SELECT SUM(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) FROM UNNEST(embedding) AS u(x))), 6) AS l2,
        |  ROUND((SELECT SUM(CAST(x AS DOUBLE)) FROM UNNEST(embedding) AS u(x)) / len(embedding), 6) AS mean
        |FROM embeddings ORDER BY vec_id""".stripMargin).sqlTwin(
      """SELECT vec_id,
        |  ROUND(sqrt(vec_dot(CAST(embedding AS ARRAY<DOUBLE>),
        |                     CAST(embedding AS ARRAY<DOUBLE>))), 6) AS l2,
        |  ROUND(vec_dot(CAST(embedding AS ARRAY<DOUBLE>),
        |                transform(CAST(embedding AS ARRAY<DOUBLE>), x -> CAST(1.0 AS DOUBLE)))
        |        / size(embedding), 6) AS mean
        |FROM embeddings ORDER BY vec_id""".stripMargin),

    // embedding near-dup: same-label candidate blocking + cosine threshold.
    // Norms precomputed once per row; one codegen'd dot per candidate pair.
    // Threshold 0.4 is calibrated to the fixture's similarity distribution
    // (max pairwise cosine ~0.6): 0.9 would make the result vacuously empty
    // and the oracle check meaningless.
    Entry("q72_embed_neardup",
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |       ROUND(list_cosine_similarity(a.v, b.v), 6) AS cos_r
        |FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(a.v, b.v) >= 0.4
        |ORDER BY id_a, id_b""".stripMargin) { (s, d) =>
      val e = T(s, d, "embeddings")
        .select(col("vec_id"), col("label"), asDouble(col("embedding")).as("v"))
        .withColumn("nrm", norm(col("v")))
      e.as("a").join(e.as("b"),
          col("a.label") === col("b.label") && col("a.vec_id") < col("b.vec_id"))
        .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"),
                (dot(col("a.v"), col("b.v")) / (col("a.nrm") * col("b.nrm"))).as("cos"))
        .filter(col("cos") >= 0.4)
        .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cos_r"))
        .orderBy(col("id_a"), col("id_b"))
    }.sqlTwin(
      // mirrors the DataFrame plan exactly (vec_dot + precomputed norms)
      // so the doubles are bit-identical on both entry paths
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS ARRAY<DOUBLE>) AS v,
        |                  sqrt(vec_dot(CAST(embedding AS ARRAY<DOUBLE>),
        |                               CAST(embedding AS ARRAY<DOUBLE>))) AS nrm
        |           FROM embeddings)
        |SELECT id_a, id_b, ROUND(cos, 6) AS cos_r FROM (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |         vec_dot(a.v, b.v) / (a.nrm * b.nrm) AS cos
        |  FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id)
        |WHERE cos >= 0.4 ORDER BY id_a, id_b""".stripMargin),

    // ANN: random-hyperplane LSH — engine-specific buckets => bench-only;
    // tests assert recall in its design regime (planted near-dups).
    Entry.benchOnly("q62_ann_lsh") { (s, d) =>
      annLsh(T(s, d, "embeddings"), Seq(1, 2, 3), 5)
    },

    // ANN: IVF — the general top-k scale path; bench-only (centroid
    // assignment is engine-specific); tests assert recall vs exact top-k.
    Entry.benchOnly("q62_ann_ivf") { (s, d) =>
      annIvf(T(s, d, "embeddings"), Seq(1, 2, 3), 5)
    },

    // ANN: PQ/ADC — the memory-compression scale path (codes instead of
    // vectors in the scan); bench-only; recall vs exact asserted in tests.
    // Consumes the staged ingest index (VectorIndex): the measured query is
    // ADC scan + re-rank, the deployment shape — training/encoding are
    // write-path work like the MinHash signatures.
    Entry.benchOnly("q62_ann_pq") { (s, d) =>
      annPq(T(s, d, "embeddings"), Seq(1, 2, 3), 5, index = Some(VectorIndex.pq(s, d)))
    },

    // ANN: IVF-PQ — the composed standing posture (probe cut x code
    // compression); both halves staged at ingest; bench-only; recall and
    // the all-cells==exact identity asserted in AnnRecallSpec.
    Entry.benchOnly("q62_ann_ivf_pq") { (s, d) =>
      annIvfPq(T(s, d, "embeddings"), Seq(1, 2, 3), 5,
               coarse = VectorIndex.ivf(s, d), pq = VectorIndex.pq(s, d))
    },

    // Semantic dedup (SemDeDup): cluster-blocked embedding near-dup prune.
    // Cell labels are k-means-derived => engine-specific => bench-only;
    // SemDedupSpec pins pair precision (=1.0, exact cosine inside cells)
    // and recall vs the exact all-pairs twin.
    Entry.benchOnly("q148_semantic_dedup") { (s, d) =>
      semanticDedup(T(s, d, "embeddings"), index = Some(VectorIndex.cells(s, d)))
    },

    // Per-vector symmetric int8 quantization — the storage posture for a
    // 100 TB embedding corpus (4x smaller scans than float32; the codes
    // feed ADC-style rescoring like PQ, but with per-vector fidelity).
    // scale = max|x| / 127, codes = round(x / scale); the result audits
    // the quantizer per label slice: mean scale and mean round-trip RMSE.
    // Everything is per-row codegen'd HOF arithmetic (transform/aggregate)
    // + one hash agg — no joins, no shuffles beyond the group-by. The
    // reconstruction sum folds sequentially (aggregate HOF) and the oracle
    // replays the identical left fold (list_reduce), so the doubles agree
    // bit-for-bit before the final 6-dp round.
    Entry("q169_int8_quantize",
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
        |           FROM embeddings),
        |s AS (SELECT vec_id, label, v,
        |        list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
        |      FROM e),
        |err AS (SELECT label, scale,
        |          sqrt(list_reduce(
        |            list_prepend(CAST(0.0 AS DOUBLE),
        |              list_transform(v, x -> pow(x - round(x / scale) * scale, 2))),
        |            (a, b) -> a + b) / len(v)) AS rmse
        |        FROM s)
        |SELECT label, ROUND(AVG(scale), 6) AS avg_scale,
        |       ROUND(AVG(rmse), 6) AS avg_rmse, CAST(COUNT(*) AS INT) AS n
        |FROM err GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val v = asDouble(col("embedding"))
      T(s, d, "embeddings")
        .select(col("label"), v.as("v"),
                (array_max(transform(v, x => abs(x))) / lit(127.0)).as("scale"))
        .select(col("label"),
                sqrt(aggregate(col("v"), lit(0.0), (acc, x) =>
                  acc + pow(x - round(x / col("scale")) * col("scale"), 2))
                  / size(col("v"))).as("rmse"),
                col("scale"))
        .groupBy(col("label"))
        .agg(round(avg(col("scale")), 6).as("avg_scale"),
             round(avg(col("rmse")), 6).as("avg_rmse"),
             count(lit(1)).cast("int").as("n"))
        .orderBy(col("label"))
    }.sqlTwin(
      // structural gap: DuckDB's list_reduce seed rides as a prepended
      // element; Spark's aggregate takes the seed directly
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS ARRAY<DOUBLE>) AS v
        |           FROM embeddings),
        |s AS (SELECT vec_id, label, v,
        |        array_max(transform(v, x -> abs(x))) / 127.0 AS scale
        |      FROM e),
        |err AS (SELECT label, scale,
        |          sqrt(aggregate(v, CAST(0.0 AS DOUBLE),
        |            (a, x) -> a + pow(x - round(x / scale) * scale, 2)) / size(v)) AS rmse
        |        FROM s)
        |SELECT label, ROUND(AVG(scale), 6) AS avg_scale,
        |       ROUND(AVG(rmse), 6) AS avg_rmse, CAST(COUNT(*) AS INT) AS n
        |FROM err GROUP BY 1 ORDER BY 1""".stripMargin),

    // kNN label vote — the quality-classifier-by-neighbors primitive
    // (label a document by the majority label of its k nearest
    // embeddings). Reuses the bounded top-k aggregator (k-sized buffers
    // ride the shuffle, q62's scale shape), then one O(queries x k) vote
    // agg; tie on votes resolves to the smallest label (deterministic).
    // At scale the exact top-k stage swaps for the staged IVF/PQ route —
    // the vote layer is identical.
    Entry("q170_knn_label",
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
        |           FROM embeddings),
        |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id IN (1, 2, 3)),
        |c AS (SELECT q_id, e.vec_id, e.label,
        |        ROUND(list_cosine_similarity(v, qv), 6) AS cos_r
        |      FROM e CROSS JOIN q WHERE e.vec_id <> q_id),
        |r AS (SELECT q_id, label,
        |        row_number() OVER (PARTITION BY q_id ORDER BY cos_r DESC, vec_id) AS rn
        |      FROM c),
        |v AS (SELECT q_id, label, COUNT(*) AS votes FROM r WHERE rn <= 5
        |      GROUP BY 1, 2),
        |p AS (SELECT q_id, label, votes,
        |        row_number() OVER (PARTITION BY q_id ORDER BY votes DESC, label) AS rn2
        |      FROM v)
        |SELECT q_id, label AS pred_label, CAST(votes AS INT) AS votes
        |FROM p WHERE rn2 = 1 ORDER BY q_id""".stripMargin) { (s, d) =>
      val emb = T(s, d, "embeddings")
      val neighbors = topK(emb, Seq(1, 2, 3), 5)
        .join(emb.select(col("vec_id"), col("label")), "vec_id")
      val w = Window.partitionBy(col("q_id"))
        .orderBy(col("votes").desc, col("label"))
      neighbors.groupBy(col("q_id"), col("label"))
        .agg(count(lit(1)).as("votes"))
        .withColumn("rn2", row_number().over(w))
        .filter(col("rn2") === 1)
        .select(col("q_id"), col("label").as("pred_label"),
                col("votes").cast("int").as("votes"))
        .orderBy(col("q_id"))
    }.sqlTwin(
      // structural gap: list_cosine_similarity — the SQL path goes through
      // the registered vec_dot kernel with precomputed norms (q62's twin)
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS ARRAY<DOUBLE>) AS v,
        |                  sqrt(vec_dot(CAST(embedding AS ARRAY<DOUBLE>),
        |                               CAST(embedding AS ARRAY<DOUBLE>))) AS nrm
        |           FROM embeddings),
        |q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qnrm FROM e
        |      WHERE vec_id IN (1, 2, 3)),
        |c AS (SELECT q_id, e.vec_id, e.label,
        |        ROUND(vec_dot(v, qv) / (nrm * qnrm), 6) AS cos_r
        |      FROM e JOIN q ON e.vec_id <> q_id),
        |r AS (SELECT q_id, label,
        |        row_number() OVER (PARTITION BY q_id ORDER BY cos_r DESC, vec_id) AS rn
        |      FROM c),
        |v AS (SELECT q_id, label, COUNT(*) AS votes FROM r WHERE rn <= 5
        |      GROUP BY 1, 2),
        |p AS (SELECT q_id, label, votes,
        |        row_number() OVER (PARTITION BY q_id ORDER BY votes DESC, label) AS rn2
        |      FROM v)
        |SELECT q_id, label AS pred_label, CAST(votes AS INT) AS votes
        |FROM p WHERE rn2 = 1 ORDER BY q_id""".stripMargin)
  )

  /** Nearest-centroid assignment as a broadcast join against the (tiny)
    * centroid table + max_by re-rank — NOT a per-row expression over
    * nlist inlined literal vectors: that giant expression tree pays
    * planning/codegen per Lloyd round (measured ~1.5-3 s/round at
    * nlist=16), while this join's expression is small and stable, and at
    * real nlist (~sqrt N) an inlined-literal expression is impossible
    * anyway. Shared by the IVF probe path and semantic dedup. */
  private[vector] def assignCells(rows: DataFrame, cents: Array[Array[Double]]): DataFrame =
    // Fast path for the hot single-cell case (every Lloyd round + the
    // annIvf corpus assignment): a constant-space max_by aggregate, not
    // the per-row collect_list/sort the multi-probe path needs. Both
    // consume ONE cellScores pipeline, and both pick the lexicographic
    // max of (s, cell) — max_by's struct order == array_sort's — so the
    // tie-break is identical; AnnRecallSpec pins the row-for-row
    // equivalence with assignCellsTop's rk 0.
    cellScores(rows, cents)
      .groupBy(col("vec_id"))
      .agg(max_by(col("cell"), struct(col("s"), col("cell"))).as("cell"),
           any_value(col("v")).as("v"), any_value(col("nrm")).as("nrm"))

  /** Multi-probe assignment: each vector labeled with its `probes` nearest
    * cells, ranked (rk = 0 is the primary cell — identical, including the
    * (s, cell) tie-break, to [[assignCells]]). Soft blocking for the
    * dedup path: a near-dup pair split by a cell boundary still meets in
    * one vector's secondary cell. Same single hash agg as assignCells —
    * the top-p pick is an array-sort of the nlist (s, cell) structs
    * inside the aggregate, then one explode. */
  /** The one centroid-scoring pipeline both assignment shapes consume:
    * every (vector, cell) pair scored by cosine against the broadcast
    * centroid table. */
  private def cellScores(rows: DataFrame, cents: Array[Array[Double]]): DataFrame = {
    val spark = rows.sparkSession
    import spark.implicits._
    val centDf = broadcast(
      cents.toSeq.zipWithIndex.map { case (cv, i) => (i, cv.toSeq) }.toDF("cell", "cv"))
    rows.crossJoin(centDf)
      .select(col("vec_id"), col("v"), col("nrm"), col("cell"),
              cosine(col("v"), col("cv")).as("s"))
  }

  private[vector] def assignCellsTop(rows: DataFrame, cents: Array[Array[Double]],
                                     probes: Int): DataFrame =
    cellScores(rows, cents)
      .groupBy(col("vec_id"))
      .agg(slice(reverse(array_sort(collect_list(struct(col("s"), col("cell"))))),
                 1, probes).as("top"),
           any_value(col("v")).as("v"), any_value(col("nrm")).as("nrm"))
      .select(col("vec_id"), posexplode(col("top")), col("v"), col("nrm"))
      .select(col("vec_id"), col("pos").cast("int").as("rk"),
              col("col.cell").as("cell"), col("v"), col("nrm"))

  /** Train the coarse quantizer on a BOUNDED sample (the standard IVF
    * recipe): Lloyd rounds re-assign only the sample, so training is
    * O(iters x trainCap) regardless of corpus size, and the full corpus is
    * moved exactly once — by the caller's final assignment pass.
    * Deterministic seed keeps centroids (and thus bench-only output)
    * replay-stable. A k-means quantizer trained on a uniform ~100k sample
    * is statistically indistinguishable from full-corpus training for
    * nlist << sample. */
  private def trainCoarse(e: DataFrame, nlist: Int, iters: Int,
                          trainCap: Int): Array[Array[Double]] = {
    val spark = e.sparkSession
    import spark.implicits._
    val n = e.count()
    val train =
      if (n <= trainCap) e
      else e.sample(withReplacement = false,
                    math.min(1.0, trainCap * 1.2 / n), seed = 42L).limit(trainCap)

    // deterministic init: first nlist vectors by vec_id (TakeOrdered — no
    // full collect; Lloyd rounds correct any init bias)
    val cents: Array[Array[Double]] = e.orderBy("vec_id").select("v")
      .limit(nlist).as[Seq[Double]].collect().map(_.toArray)

    for (_ <- 0 until iters) {
      // element-wise mean per cell: posexplode -> ONE (cell, pos) hash agg
      // (map-side combinable); the nlist x dim result is the tiny
      // driver-side collect
      val next = assignCells(train, cents).select(col("cell"), posexplode(col("v")))
        .groupBy(col("cell"), col("pos")).agg(avg(col("col")).as("m"))
        .as[(Int, Int, Double)].collect()
      next.groupBy(_._1).foreach { case (cell, rows) =>
        cents(cell) = rows.sortBy(_._2).map(_._3).toArray
      }
    }
    cents
  }

  /** Train the coarse quantizer alone — the ingest-staged `ivfcents`
    * artifact (VectorIndex.ivf): the centroid geometry is what the QUERY
    * side needs to pick probe cells without re-training. Materializes
    * the norm projection through training (count + init collect + Lloyd
    * rounds all consume it), then releases it — no blocks leak past the
    * call. */
  def trainCoarseQuantizer(emb: DataFrame, nlist: Int = 8, iters: Int = 3,
                           trainCap: Int = 100000): Array[Array[Double]] =
    Staging.using(withNorm(emb))(trainCoarse(_, nlist, iters, trainCap))

  /** Multi-probe assignment against GIVEN centroids (the staged-cents
    * path: one corpus pass, no training). */
  def cellAssignmentsWith(emb: DataFrame, cents: Array[Array[Double]],
                          probes: Int = 2): DataFrame =
    assignCellsTop(withNorm(emb), cents, probes)
      .select(col("vec_id"), col("rk"), col("cell"))

  /** The narrow (vec_id, rk, cell) cell-assignment table. The engine's
    * own paths go through the staged halves (`trainCoarseQuantizer` →
    * VectorIndex.ivfCents, then [[cellAssignmentsWith]]); this one-call
    * train-and-assign is kept DELIBERATELY as the library entry point for
    * ad-hoc corpora with no staged index — it composes exactly those two
    * halves, so it cannot drift from the staged path. */
  def cellAssignments(emb: DataFrame, nlist: Int = 8, iters: Int = 3,
                      trainCap: Int = 100000, probes: Int = 2): DataFrame =
    cellAssignmentsWith(emb, trainCoarseQuantizer(emb, nlist, iters, trainCap),
                        probes)

  /** Train + multi-probe assign for the semantic-dedup blocking: the full
    * corpus, labeled with its `probes` nearest cells (rk 0 = primary).
    * With a staged `index` ((vec_id, rk, cell) from VectorIndex.cells) the
    * training/assignment is skipped entirely — the labels join the norm
    * projection on vec_id, the deployment shape.
    * Materialized: the pair join consumes it on both sides (and the
    * summary a third time). */
  private def semanticAssigned(emb: DataFrame, nlist: Int, iters: Int,
                               trainCap: Int, probes: Int,
                               index: Option[DataFrame]): DataFrame =
    Staging.materialize(index match {
      case Some(cells) => withNorm(emb).join(cells, "vec_id")
        .select(col("vec_id"), col("rk"), col("cell"), col("v"), col("nrm"))
      case None =>
        assignCellsTop(withNorm(emb), trainCoarseQuantizer(emb, nlist, iters, trainCap), probes)
    })

  /** Within-cell exact-cosine pairs (id_a < id_b, cos_r >= tau). A pair
    * meeting in several shared cells reports once, under the smallest
    * shared cell id (pure dedup — the cosine is identical wherever it
    * meets).
    *
    * Hot-cell guard (the LSH maxBucket analog): the pair join is
    * quadratic PER CELL, so one degenerate cell — a boilerplate-dense
    * region holding a large fraction of the corpus — would dominate the
    * whole job. Cells past `maxCell` members are sub-split by a
    * deterministic vec_id hash into ceil(m/maxCell) sub-cells, bounding
    * per-join-key work at maxCell² while keeping ~1/s of the in-cell
    * pairs per split factor s (unlike an LSH bucket, an oversized k-means
    * cell is a dense REGION, not a near-identical clique — excluding it
    * outright would silently drop legitimate pairs; the production knob
    * for a persistently hot cell is a larger nlist). The oversized list
    * is tiny (only cells past the cap), hence the broadcast join. */
  private def cellPairs(assigned: DataFrame, tau: Double,
                        maxCell: Int = 10000): DataFrame = {
    val hot = assigned.groupBy(col("cell")).agg(count(lit(1)).as("m"))
      .filter(col("m") > maxCell)
      .select(col("cell"), ((col("m") + maxCell - 1) / maxCell).cast("int").as("splits"))
    val sub = assigned.join(broadcast(hot), Seq("cell"), "left")
      .withColumn("sub",
        when(col("splits").isNull, lit(0))
          .otherwise(pmod(xxhash64(col("vec_id")), col("splits")).cast("int")))
    sub.as("a")
      .join(sub.as("b"),
            col("a.cell") === col("b.cell") && col("a.sub") === col("b.sub")
              && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.cell").as("cell"),
              col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"),
              (dot(col("a.v"), col("b.v")) / (col("a.nrm") * col("b.nrm"))).as("cos"))
      .filter(col("cos") >= tau)
      .groupBy(col("id_a"), col("id_b"))
      .agg(min(col("cell")).as("cell"), round(any_value(col("cos")), 6).as("cos_r"))
      .select(col("cell"), col("id_a"), col("id_b"), col("cos_r"))
  }

  /** SemDeDup-style semantic near-dup PAIRS: k-means cells as blocking
    * buckets, exact cosine inside each cell only. The all-pairs join that
    * is quadratic in the corpus becomes quadratic per CELL — the standard
    * embedding-dedup recipe (cluster, then prune within clusters) — at
    * the price of missing cross-cell pairs. Two mitigations are in play:
    * multi-probe assignment (`probes` nearest cells per vector, so a
    * boundary-split pair still meets when EITHER side's secondary cell is
    * the other's cell) and the recall floor SemDedupSpec pins against the
    * exact all-pairs twin. */
  def semanticPairs(emb: DataFrame, nlist: Int = 8, tau: Double = 0.4,
                    iters: Int = 3, trainCap: Int = 100000,
                    probes: Int = 2, maxCell: Int = 10000,
                    index: Option[DataFrame] = None): DataFrame =
    cellPairs(semanticAssigned(emb, nlist, iters, trainCap, probes, index),
              tau, maxCell)

  /** SemDeDup summary: per-cell corpus size (PRIMARY assignment — sizes
    * partition the corpus), near-dup pair count (pairs keyed by their
    * min shared cell), and the prune outcome under the keep-lowest-id
    * rule (a vector is dropped iff some lower-id vector shares a cell at
    * cosine >= tau). The report is O(cells) rows; the heavy lifting is
    * [[cellPairs]]. */
  def semanticDedup(emb: DataFrame, nlist: Int = 8, tau: Double = 0.4,
                    iters: Int = 3, trainCap: Int = 100000,
                    probes: Int = 2, maxCell: Int = 10000,
                    index: Option[DataFrame] = None): DataFrame = {
    val assigned = semanticAssigned(emb, nlist, iters, trainCap, probes, index)
    val pairs = cellPairs(assigned, tau, maxCell)
    val primary = assigned.filter(col("rk") === 0).select(col("vec_id"), col("cell"))
    val perCell = pairs.groupBy(col("cell")).agg(count(lit(1)).as("n_pairs"))
    // a dropped vector counts against ITS OWN (primary) cell, the same
    // keying as n_vecs — so keep_ratio is a true per-cell survival rate
    val drops = pairs.select(col("id_b")).distinct()
      .join(primary, col("id_b") === col("vec_id"))
      .groupBy(col("cell")).agg(count(lit(1)).as("n_dropped"))
    val sizes = primary.groupBy(col("cell")).agg(count(lit(1)).as("n_vecs"))
    sizes.join(perCell, Seq("cell"), "left").join(drops, Seq("cell"), "left")
      .select(col("cell"), col("n_vecs"),
              coalesce(col("n_pairs"), lit(0L)).cast("bigint").as("n_pairs"),
              coalesce(col("n_dropped"), lit(0L)).cast("bigint").as("n_dropped"),
              round((col("n_vecs") - coalesce(col("n_dropped"), lit(0L)))
                      .cast("double") / col("n_vecs"), 6).as("keep_ratio"))
      .orderBy(col("cell"))
  }

  /** IVF-flat (inner-product) ANN: a mini k-means coarse quantizer trained
    * by `iters` Lloyd rounds, then top-k search probing the `nprobe` cells
    * nearest each query, with exact cosine re-rank inside probed cells.
    *
    * Scale posture: centroids are a tiny driver-side array (nlist x dim
    * doubles — the one legitimate collect). Assignment is a broadcast join
    * against the centroid table followed by a corpus-wide max_by shuffle —
    * each Lloyd round moves the corpus once, which is why at 100 TB you
    * train on a SAMPLE (the standard IVF recipe) and only the final
    * assignment pass touches the full corpus; the probe join is an
    * equi-join on cell id.
    * Quality knob: recall rises with nprobe (scan fraction ~ nprobe/nlist).
    * Note: at fixture scale (2000 vectors) training dominates the wall
    * time and brute force wins; the inverted-file structure pays off when
    * cells hold millions of vectors each.
    * The norm projection is materialized (training + final assignment +
    * the probe join all consume it); its blocks belong to the returned
    * plan.
    */
  def annIvf(emb: DataFrame, queryIds: Seq[Int], k: Int,
             nlist: Int = 16, nprobe: Int = 6, iters: Int = 3,
             trainCap: Int = 100000): DataFrame = {
    val e = Staging.materialize(withNorm(emb))
    val cents = trainCoarse(e, nlist, iters, trainCap)
    ivfSearch(assignCells(e, cents), cents, queryIds, k, nprobe)
  }

  /** IVF search against a STAGED index (VectorIndex.ivf) — no training,
    * no persist at query time: centroid geometry and cell labels are
    * ingest artifacts; the query pays one label join plus the probed-cell
    * scan. The deployment twin of [[annIvf]] and the route
    * `ExpandAnnTopK` takes when `spark.graft.ann.dir` names the corpus. */
  def annIvfStaged(emb: DataFrame, queryIds: Seq[Int], k: Int,
                   nprobe: Int = 2,
                   coarse: (Array[Array[Double]], DataFrame)): DataFrame = {
    val (cents, cellsDf) = coarse
    val assigned = withNorm(emb)
      .join(cellsDf.filter(col("rk") === 0).select(col("vec_id"), col("cell")),
            "vec_id")
    ivfSearch(assigned, cents, queryIds, k, nprobe)
  }

  /** The probe + scan + top-k tail shared by the live and staged IVF
    * paths. `assigned` = (vec_id, v, nrm, cell). */
  private def ivfSearch(assigned: DataFrame, cents: Array[Array[Double]],
                        queryIds: Seq[Int], k: Int, nprobe: Int): DataFrame = {
    val spark = assigned.sparkSession
    import spark.implicits._
    val qrows = collectQueryRows(assigned, queryIds)
    // probe list per query: nprobe nearest centroids (driver math — tiny)
    val probes = qrows.flatMap { case (qid, qv, qn) =>
      probeCells(cents, qv, qn, nprobe).map(cell => (qid, cell))
    }.toSeq
    val probeDf = broadcast(probes.toDF("q_id", "cell"))
    val qDf = broadcast(qrows.toSeq.map { case (qid, qv, qn) => (qid, qv.toSeq, qn) }
      .toDF("q_id", "qv", "qnrm"))

    val w = Window.partitionBy(col("q_id")).orderBy(col("cos_r").desc, col("vec_id"))
    assigned.join(probeDf, "cell").join(qDf, "q_id")
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
              round(dot(col("v"), col("qv")) / (col("nrm") * col("qnrm")), 6).as("cos_r"))
      .withColumn("rn", row_number().over(w).cast("int"))
      .filter(col("rn") <= k)
      .orderBy(col("q_id"), col("rn"))
  }

  /** nprobe nearest cells for one query vector, ranked by centroid cosine
    * (ties by cell id) — driver math over the tiny centroid array, shared
    * by the IVF and IVF-PQ probe paths. */
  private def probeCells(cents: Array[Array[Double]], qv: Array[Double],
                         qn: Double, nprobe: Int): Seq[Int] =
    cents.zipWithIndex.map { case (cv, i) =>
      val d = cv.zip(qv).map { case (x, y) => x * y }.sum
      (i, d / (math.sqrt(cv.map(x => x * x).sum) * qn))
    }.sortBy { case (i, s) => (-s, i) }.take(nprobe).map(_._1).toSeq

  /** Train the PQ codebook DRIVER-SIDE on a bounded deterministic sample:
    * the lowest-`trainCap` vec_ids (TakeOrdered — per-partition top-N, no
    * full shuffle; ids are assignment-order, so "first N by id" is an
    * unbiased content sample). k-means on an in-memory sample is the
    * standard quantizer recipe (FAISS trains IVF/PQ codebooks the same
    * way): the codebook is m x ks x sub doubles, a sample of ~100k rows
    * bounds each Lloyd round at O(trainCap x m x ks x sub) driver flops
    * (~100M — milliseconds), and running the rounds in-process avoids
    * paying a distributed shuffle + collect PER ROUND for a result that is
    * statistically identical. The corpus-sized work — encoding — stays
    * distributed ([[pqEncode]], one pass).
    *
    * Deterministic: init = sub-slices of the first `ks` sampled vectors,
    * assignment ties keep the lowest code, empty cells keep their old
    * centroid. */
  def pqTrain(emb: DataFrame, m: Int = 8, ks: Int = 16, iters: Int = 3,
              trainCap: Int = 100000): Array[Array[Array[Double]]] = {
    val spark = emb.sparkSession
    import spark.implicits._
    val pts: Array[Array[Double]] = withNorm(emb)
      .orderBy("vec_id").select("v").limit(trainCap)
      .as[Seq[Double]].collect().map(_.toArray)
    val dim = pts.head.length
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val sub = dim / m
    val cents = Array.tabulate(m, ks)((s, c) => pts(c).slice(s * sub, (s + 1) * sub))
    for (_ <- 0 until iters; s <- 0 until m) {
      val off = s * sub
      val sums = Array.fill(ks, sub)(0.0)
      val cnt = new Array[Int](ks)
      var i = 0
      while (i < pts.length) {
        val p = pts(i)
        var best = 0; var bd = Double.MaxValue
        var c = 0
        while (c < ks) {
          var d = 0.0; var j = 0
          while (j < sub) { val t = p(off + j) - cents(s)(c)(j); d += t * t; j += 1 }
          if (d < bd) { bd = d; best = c }
          c += 1
        }
        var j = 0
        while (j < sub) { sums(best)(j) += p(off + j); j += 1 }
        cnt(best) += 1
        i += 1
      }
      for (c <- 0 until ks if cnt(c) > 0) cents(s)(c) = sums(c).map(_ / cnt(c))
    }
    cents
  }

  /** One-pass distributed PQ encoding: nearest-centroid code per
    * (vec_id, sub) via a broadcast codebook join + min_by over
    * -2<sv,cv>+|cv|^2 (the |sv|^2 term is constant per row, so the argmin
    * is the L2 argmin). Returns `(vec_id, nrm, sub, code)` — m rows per
    * vector, the shape the ADC scan consumes. This is the only pass that
    * touches the full corpus; at deployment it runs at ingest
    * (VectorIndex) like the MinHash signatures. */
  def pqEncode(emb: DataFrame, cents: Array[Array[Array[Double]]]): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val (m, ks, sub) = (cents.length, cents(0).length, cents(0)(0).length)
    // (vec_id, nrm, sub, sv): the per-subspace view. slice() is 1-based.
    val srows = withNorm(emb)
      .select(col("vec_id"), col("nrm"), col("v"),
              explode(sequence(lit(0), lit(m - 1))).as("sub"))
      .select(col("vec_id"), col("nrm"), col("sub"),
              slice(col("v"), col("sub") * sub + 1, lit(sub)).as("sv"))
    val centDf = broadcast(
      (for (s <- 0 until m; c <- 0 until ks)
        yield (s, c, cents(s)(c).toSeq, cents(s)(c).map(x => x * x).sum))
        .toDF("sub", "code", "cv", "cvsq"))
    srows.join(centDf, "sub")
      .select(col("vec_id"), col("nrm"), col("sub"), col("code"),
              (dot(col("sv"), col("cv")) * -2 + col("cvsq")).as("d2"))
      .groupBy(col("vec_id"), col("sub"))
      .agg(min_by(col("code"), struct(col("d2"), col("code"))).as("code"),
           any_value(col("nrm")).as("nrm"))
      .select(col("vec_id"), col("nrm"), col("sub"), col("code"))
  }

  /** Product-quantization ANN with asymmetric distance (ADC): each vector
    * compresses to `m` sub-codes (here 8 codes x 16 centroids = 8 x 4 bits
    * — a 64x memory reduction over 64 float32 dims), queries score the
    * corpus as a sum of `m` table lookups, and the top `rerank` candidates
    * get an exact-cosine re-rank.
    *
    * Scale posture: this is the path where the CORPUS SCAN no longer
    * touches vectors at all — the ADC pass reads (vec_id, codes) rows and
    * a broadcast (q, sub, code) -> partial-dot table (m x ks x |Q| rows,
    * driver-computed from the tiny codebook); only the `rerank` candidates
    * per query fetch their full vector for the exact re-rank join.
    * Codebook training is driver-side over a bounded sample ([[pqTrain]]);
    * encoding moves the corpus once ([[pqEncode]]) — at deployment both
    * run at ingest (VectorIndex) and codes are a stored artifact like the
    * MinHash signatures, so the query pays only ADC + re-rank. Composes
    * with IVF cells (classic IVF-PQ) — orthogonal here since the fixture
    * corpus is one "cell".
    *
    * Approximation: per-subspace L2 quantization of raw subvectors;
    * approx dot(q, v) = sum_sub table[sub][code(v, sub)], normalized by
    * the STORED exact norms — so the approximation error is in the dot,
    * not the norms. Deterministic init (first `ks` vectors), ties broken
    * by code id. */
  def annPq(emb: DataFrame, queryIds: Seq[Int], k: Int,
            m: Int = 8, ks: Int = 16, iters: Int = 3, rerank: Int = 50,
            trainCap: Int = 100000,
            index: Option[(Array[Array[Array[Double]]], DataFrame)] = None): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    // Codebook + codes come from the staged ingest artifact when supplied
    // (VectorIndex.pq — the deployment shape: codes are written alongside
    // the vectors like the MinHash signatures); otherwise train + encode
    // here (specs, ad-hoc corpora). Nothing below persists: every
    // intermediate is consumed exactly once by the returned plan.
    val (cents, codes) = index.getOrElse {
      val c = pqTrain(emb, m, ks, iters, trainCap)
      (c, pqEncode(emb, c))
    }
    val e = withNorm(emb)
    adcTopK(e, codes, cents, collectQueryRows(e, queryIds), k, rerank,
            probeFilter = None)
  }

  /** The (id, vector, norm) rows for a query-id set — ONE driver collect,
    * shared by every consumer of a call (probe ranking, the ADC table,
    * the re-rank join constants). */
  private def collectQueryRows(e: DataFrame,
                               queryIds: Seq[Int]): Array[(Long, Array[Double], Double)] =
    e.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id"), col("v"), col("nrm")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray, r.getDouble(2)))

  /** The ADC scan + exact re-rank shared by PQ and IVF-PQ: codes ⋈
    * broadcast lookup table, one sum per (q_id, vec_id) — the corpus pass
    * never touches `v`; only the top-`rerank` candidates fetch their full
    * vector. With `probeFilter` ((q_id, cell) pairs; `codes` must then
    * carry a `cell` column) the scan is further restricted to each
    * query's probed cells — the IVF-PQ composition. */
  private def adcTopK(e: DataFrame, codes: DataFrame,
                      cents: Array[Array[Array[Double]]],
                      qrows: Array[(Long, Array[Double], Double)],
                      k: Int, rerank: Int,
                      probeFilter: Option[DataFrame]): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    // codebook geometry from the codebook itself, so a staged index with
    // different (m, ks) than the call-site defaults still scores correctly
    val (mm, kk, sub) = (cents.length, cents(0).length, cents(0)(0).length)

    // ADC lookup table per query: (q_id, sub, code) -> partial dot, plus
    // the query norms — all driver math over the tiny codebook
    val tab = broadcast(
      (for ((qid, qv, _) <- qrows.toSeq; s <- 0 until mm; c <- 0 until kk)
        yield (qid, s, c,
               cents(s)(c).zip(qv.slice(s * sub, (s + 1) * sub))
                 .map { case (x, y) => x * y }.sum))
        .toDF("q_id", "sub", "code", "p"))
    val qDf = broadcast(qrows.toSeq.map { case (qid, qv, qn) => (qid, qv.toSeq, qn) }
      .toDF("q_id", "qv", "qnrm"))

    // ADC scan: codes ⋈ table, one sum per (q_id, vec_id) — never touches v
    val scanned = codes.join(tab, Seq("sub", "code"))
      .filter(col("vec_id") =!= col("q_id"))
    val probed = probeFilter match {
      case Some(p) => scanned.join(broadcast(p), Seq("q_id", "cell"))
      case None    => scanned
    }
    val wa = Window.partitionBy(col("q_id")).orderBy(col("approx").desc, col("vec_id"))
    val cands = probed
      .groupBy(col("q_id"), col("vec_id"))
      // cosine ranking: divide by the stored corpus norm; the query norm
      // is constant within a q_id partition and cannot change the order
      .agg((sum(col("p")) / any_value(col("nrm"))).as("approx"))
      .withColumn("rn", row_number().over(wa)).filter(col("rn") <= rerank)
      .select(col("q_id"), col("vec_id"))

    // exact re-rank of the candidate slice only
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos_r").desc, col("vec_id"))
    cands.join(e, "vec_id").join(qDf, "q_id")
      .select(col("q_id"), col("vec_id"),
              round(dot(col("v"), col("qv")) / (col("nrm") * col("qnrm")), 6).as("cos_r"))
      .withColumn("rn", row_number().over(w).cast("int"))
      .filter(col("rn") <= k)
      .orderBy(col("q_id"), col("rn"))
  }

  /** Classic IVF-PQ (FAISS's IndexIVFPQ recipe, both halves staged at
    * ingest): the coarse cells bound WHICH vectors each query scans
    * (nprobe of nlist cells — the sub-linear cut), the PQ codes bound
    * WHAT the scan reads per vector (m sub-codes, never `v`), and the
    * exact re-rank at the end keeps the final page honest. At 100 TB
    * this is the standing ANN posture: probe cut x 64x code compression
    * multiply. Bench-only like the other ANN variants; recall and the
    * all-cells==exact identity are pinned in AnnRecallSpec. */
  def annIvfPq(emb: DataFrame, queryIds: Seq[Int], k: Int,
               nprobe: Int = 2, rerank: Int = 50,
               coarse: (Array[Array[Double]], DataFrame),
               pq: (Array[Array[Array[Double]]], DataFrame)): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val (cents, cellsDf) = coarse
    val (pqCents, codes) = pq
    val e = withNorm(emb)
    // one driver collect serves both the probe ranking and the ADC table
    val qrows = collectQueryRows(e, queryIds)
    val probes = qrows.flatMap { case (qid, qv, qn) =>
      probeCells(cents, qv, qn, nprobe).map(cell => (qid, cell))
    }.toSeq
    val primary = cellsDf.filter(col("rk") === 0).select(col("vec_id"), col("cell"))
    adcTopK(e, codes.join(primary, "vec_id"), pqCents, qrows, k, rerank,
            probeFilter = Some(probes.toDF("q_id", "cell")))
  }

  /** Random-hyperplane LSH: 16 sign bits from fixed pseudo-random planes
    * (seeded — deterministic across runs), Hamming-bucket candidate join,
    * exact cosine re-rank of candidates. Effective for near-duplicate
    * retrieval (cosine >~ 0.85); see the class doc for why general top-k
    * goes through [[annIvf]] instead. */
  def annLsh(emb: DataFrame, queryIds: Seq[Int], k: Int): DataFrame = {
    val dim = 64; val planes = 16
    val rnd = new scala.util.Random(42)
    val hyper = Array.fill(planes, dim)(rnd.nextGaussian())
    val e = emb.select(col("vec_id"), asDouble(col("embedding")).as("v"))
    // signature = sum of sign bits; computed per plane via literal arrays
    val sigBits: Column = (0 until planes).map { p =>
      val plane = array(hyper(p).map(x => lit(x)): _*)
      when(dot(col("v"), plane) > 0, lit(1L) * (1L << p)).otherwise(0L)
    }.reduce(_ + _)
    val signed = e.withColumn("sig", sigBits)
    val q = signed.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("sig").as("qsig"))
    // candidates: signatures within Hamming distance <= 3 of the query
    val hamming = bit_count(col("sig").bitwiseXOR(col("qsig")))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos_r").desc, col("vec_id"))
    signed.join(broadcast(q), col("vec_id") =!= col("q_id") && hamming <= 3)
      .select(col("q_id"), col("vec_id"), round(cosine(col("v"), col("qv")), 6).as("cos_r"))
      .withColumn("rn", row_number().over(w).cast("int"))
      .filter(col("rn") <= k)
      .orderBy(col("q_id"), col("rn"))
  }
}
