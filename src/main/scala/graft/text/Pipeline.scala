package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.core.{Staging, Tables}
import graft.queries.{Dialect, Entry}

/** Training-data pipeline composites on top of the text/dedup primitives:
  * near-dup CLUSTERING (the step that turns pairwise dups into keep/drop
  * decisions), deterministic stratified sampling, and token-budget
  * sequence packing. These are the operators a 100 TB pretraining-data
  * job runs after the per-document stages (q60-q71) — each is declared
  * with a DuckDB oracle like every other query.
  */
object Pipeline {

  private def T(s: SparkSession, dir: String, n: String): DataFrame = Tables(s, dir, n)

  case class ChunkRow(doc_id: Long, chunk_id: Int, toks: Seq[String])
  case class ChunkEmb(doc_id: Long, chunk_id: Int,
                      e0: Double, e1: Double, e2: Double, e3: Double)

  /** Stand-in for a real embedding model (an ONNX/JNI/GPU forward pass):
    * a per-chunk function run by `Dataset.map`, like every
    * Multimodal codec. The "model" is a DETERMINISTIC FAKE (per-dimension
    * hash folds over the chunk's tokens, L2-normalized) so the oracle
    * replays it in SQL; swap `encode`'s body for the real forward pass and
    * the Spark side is unchanged. A binding with per-partition state (a
    * model session) would bring its own `mapPartitions` at its call site. */
  object FakeEncoder {
    // ONE token-hash implementation engine-wide: the codegen'd kernel's
    // static body (code-POINT fold) — a private re-implementation here
    // would silently diverge from the kernel and both SQL oracles the
    // day the analyzer admits non-BMP characters
    private def tokenHash(w: String): Long =
      graft.functions.TokenHash.hash(
        org.apache.spark.unsafe.types.UTF8String.fromString(w))

    def encode(r: ChunkRow): ChunkEmb = {
      val s = Array.tabulate(4) { j =>
        r.toks.map(w => (tokenHash(w) + j * 2654435761L) % 1000003L + 1).sum.toDouble
      }
      // raw doubles out; the query applies the shared ROUND(.,6) so
      // rounding semantics stay the proven Spark/DuckDB pair
      val nrm = math.sqrt(s.map(x => x * x).sum)
      ChunkEmb(r.doc_id, r.chunk_id, s(0) / nrm, s(1) / nrm, s(2) / nrm, s(3) / nrm)
    }
  }

  /** One row per size-32/stride-24 chunk index: (doc_id, ws, ci) off the
    * staged token index — the derivation shared by q141 (chunk geometry)
    * and q155 (chunk token slices). Map-only: one explode, no shuffle. */
  private def chunkIndex(s: SparkSession, d: String): DataFrame = {
    val nChunks = when(size(col("ws")) <= 32, 1)
      .otherwise((size(col("ws")) - 32 + 23) / 24 + 1)   // int div: ceil((n-32)/24)+1
    TokenIndex.toks(s, d)
      .select(col("doc_id"), col("ws"),
              explode(sequence(lit(0), nChunks.cast("int") - 1)).as("ci"))
  }

  /** Minimum-label propagation connected components over an undirected
    * edge list `(doc_a, doc_b)` — the clustering step of near-dup dedup
    * (each cluster keeps min doc_id as representative).
    *
    * Each iteration is one join + one map-side-combinable min-agg, i.e.
    * O(E) shuffled bytes, and runs until NO label changes (convergence in
    * O(component diameter) rounds — near-dup components are cliques and
    * short chains, so single digits in practice; a worst-case long-path
    * graph is pinned by a unit test). At 100 TB scale the same loop holds;
    * if components with huge diameters ever appeared, the two-phase
    * large-star/small-star variant (Kiveris et al., "Connected Components
    * in MapReduce and Beyond") drops the round count to O(log^2 n) with
    * the same join primitive. */
  /** The q156 seeded epoch order — ONE derivation for the entry and its
    * property spec (a drift between them would leave the permutation /
    * replayability guarantees testing a stale formula): shuffle key =
    * md5(seed ':' doc_id), shard = hex-prefix bucket of the key,
    * `rk` = within-shard key order. */
  def epochOrder(docs: DataFrame, seed: String, shards: Int): DataFrame =
    docs.select(col("doc_id"),
        md5(concat(lit(s"$seed:"), col("doc_id").cast("string"))).as("key"))
      .withColumn("shard",
        (conv(substring(col("key"), 1, 4), 16, 10).cast("int") % shards).cast("int"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("shard")).orderBy(col("key"))))

  def clusterPairs(pairs: DataFrame): DataFrame = {
    val spark = pairs.sparkSession
    val fwd = pairs.select(col("doc_a").as("s"), col("doc_b").as("t"))
    // Materialize the (corpus-scale) pair derivation at the session's full
    // partitioning BEFORE entering the loop's narrow scope below.
    val edges = Staging.materialize(
      fwd.unionByName(fwd.select(col("t").as("s"), col("s").as("t"))))
    // Each round's result is materialized (lineage truncated): the next
    // round references it twice (propagation join + change count), so a
    // lineage-preserving plan would double every round — exponential
    // plan blowup by round ~10.
    //
    // The loop itself moves only the edge/label tables (orders of
    // magnitude smaller than the corpus), so its joins run at a narrow
    // partitioning — per-round cost is dominated by fixed task scheduling
    // otherwise. A deployment whose edge list is itself huge raises the
    // same knob.
    val labels = graft.core.GraftSession.withShufflePartitions(spark, 8) {
      var labels = Staging.materialize(edges.select(col("s").as("id")).distinct()
        .select(col("id"), col("id").as("lbl")))
      var changed = 1L
      while (changed > 0) {
        val nb = edges.join(labels.select(col("id").as("nid"), col("lbl").as("nlbl")),
            col("t") === col("nid"))
          .groupBy(col("s")).agg(min(col("nlbl")).as("nbl"))
        // the PREVIOUS label rides along as `old`, so convergence detection
        // is a shuffle-free filter+count over the materialized blocks —
        // the former formulation re-joined `next` against `labels` (one
        // extra join + exchange per round just to count changes)
        val next = Staging.materialize(labels.join(nb, col("id") === col("s"), "left")
          .select(col("id"), col("lbl").as("old"),
                  least(col("lbl"), coalesce(col("nbl"), col("lbl"))).as("lbl")))
        changed = next.filter(col("lbl") =!= col("old")).count()
        // the superseded snapshot is dead once the change count is known —
        // storage holds at most two label snapshots regardless of round count
        Staging.release(labels)
        labels = next
      }
      labels
    }
    Staging.release(edges)
    labels.select(col("id").as("doc_id"), col("lbl").cast("bigint").as("cluster"))
      .orderBy(col("doc_id"))
  }

  /** The q61 near-dup pair derivation as shared DuckDB CTE text (3-shingle
    * Jaccard >= 0.2) — q90's oracle builds its closure on top of it, and
    * the Spark twin reuses it through the dialect bridge. */
  /** The exact-pair tail over an existing `sh` (doc_id, sh) shingle CTE
    * — factored from [[pairCtes]] so compositions that already carry the
    * words/shingle CTEs (q279's shipped-corpus oracle rides the v2
    * funnel chain, whose KN tier spliced them) can mount the SAME pair
    * law without duplicating CTE names. */
  private[graft] val pairTailCtes: String =
    """sz AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY 1),
      |inter AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, COUNT(*) AS inter
      |          FROM sh x JOIN sh y ON x.sh = y.sh AND x.doc_id < y.doc_id GROUP BY 1, 2),
      |pairs AS (SELECT doc_a, doc_b FROM inter
      |          JOIN sz sa ON sa.doc_id = doc_a JOIN sz sb ON sb.doc_id = doc_b
      |          WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.2),
      |edges AS (SELECT doc_a AS s, doc_b AS t FROM pairs
      |          UNION ALL SELECT doc_b, doc_a FROM pairs)""".stripMargin

  private val pairCtes: String =
    s"""${Text.wordsCtesSql},
      |${Text.shingle3CteSql(distinct = true)},
      |$pairTailCtes""".stripMargin

  /** The unrolled min-label propagation CTEs (`l0..l<depth>` over
    * `edges`) — Spark 4's recursive CTEs allow only UNION ALL, which
    * cannot express a fixpoint over a cyclic graph, so the Spark twins
    * unroll the SAME min-label rule the DataFrame loop applies, to a
    * depth comfortably past the fixture's component diameter (the parity
    * tests fail loudly if a deeper component ever appears). ONE copy
    * shared by the q90 twin and the q268 quality-keeper twin. */
  private[graft] def clusterLevelCtes(depth: Int): String = {
    val levels = (1 to depth).map { i =>
      s"""l$i AS (SELECT v.id, LEAST(v.lbl, COALESCE(MIN(n.lbl), v.lbl)) AS lbl
         |  FROM l${i - 1} v
         |  LEFT JOIN edges e ON e.s = v.id
         |  LEFT JOIN l${i - 1} n ON n.id = e.t
         |  GROUP BY v.id, v.lbl)""".stripMargin
    }.mkString(",\n")
    s"""l0 AS (SELECT DISTINCT s AS id, s AS lbl FROM edges),
       |$levels""".stripMargin
  }

  private def unrolledClusterTwin(depth: Int): String =
    s"""WITH ${Dialect.duckToSpark(pairCtes)},
       |${clusterLevelCtes(depth)}
       |SELECT id AS doc_id, CAST(lbl AS BIGINT) AS cluster FROM l$depth
       |ORDER BY doc_id""".stripMargin

  /** q90's closure oracle/twin, exposed for the stream-maintained
    * cluster read (q275 in Streams) — ONE copy: the hash check pins
    * "clusters off the maintained pair store" == "clusters at rest" the
    * same way q274 rides q252's text. */
  private[graft] val q90OracleSql: String =
    s"""WITH RECURSIVE $pairCtes,
      |r(s, t) AS (SELECT s, t FROM edges
      |            UNION SELECT r.s, e.t FROM r JOIN edges e ON e.s = r.t)
      |SELECT s AS doc_id, CAST(LEAST(s, MIN(t)) AS BIGINT) AS cluster
      |FROM r GROUP BY s ORDER BY doc_id""".stripMargin
  private[graft] def q90TwinSql: String = unrolledClusterTwin(6)

  /** q246's oracle: one GROUPING SETS pass over per-doc curation signals.
    * The q96 keep rule in its integer form (q234's chain) as a dimension;
    * measures are counts plus the integer mean doc length `SUM div COUNT`
    * (truncating — order-independent where a float AVG would drift), so
    * the multi-granularity card hashes exactly. (An exact-dup measure was
    * considered and REJECTED: the fixture corpus has zero duplicate
    * texts, so it would pin nothing — the q225 degenerate-fixture
    * lesson.) */
  private def cardSql: String = {
    val stop = "len(list_filter(ws, w -> w IN ('the', 'a', 'of', 'and', 'to', 'is', 'in')))"
    s"""WITH t AS (SELECT doc_id, lang, source, ${Text.tokensSql} AS ws FROM documents),
       |f AS (SELECT lang, source,
       |    CAST(len(ws) AS BIGINT) AS n_tok,
       |    CASE WHEN len(ws) >= 25 AND 1000 * $stop >= 30 * len(ws)
       |         THEN 1 ELSE 0 END AS keep
       |  FROM t WHERE len(ws) > 0)
       |SELECT CAST(GROUPING(lang) AS INT) AS g_lang,
       |  CAST(GROUPING(source) AS INT) AS g_source,
       |  CAST(GROUPING(keep) AS INT) AS g_keep,
       |  COALESCE(lang, '(all)') AS lang,
       |  COALESCE(source, '(all)') AS source,
       |  COALESCE(CAST(keep AS VARCHAR), '(all)') AS keep,
       |  COUNT(*) AS n_docs,
       |  CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
       |  CAST(SUM(n_tok) // COUNT(*) AS BIGINT) AS mean_tok
       |FROM f
       |GROUP BY GROUPING SETS ((lang, source, keep), (lang, source), (lang), ())
       |ORDER BY g_lang, g_source, g_keep, lang, source, keep""".stripMargin
  }

  // ---- Hamilton largest-remainder apportionment (q258/q259) ----
  /** Split `budget` (an expression over the broadcast total `t`) across
    * the rows of `n` (lang, n_tok) exactly: base = floor(bud*n/T), the
    * B - Σ base leftover units to the largest remainders, ties by lang
    * ascending. ONE copy shared by the published allocation table (q258)
    * and the sampler that executes it (q259). The budget scalar, the base
    * derivation and the leftover each reference the O(langs) count table
    * inside one plan, so its aggregation exchange runs once and the other
    * references read it as a ReusedExchange. BIGINT headroom: bud*n_tok must stay
    * under 2^63 — true for any per-language token count here and up to
    * ~3e18 token-products; a 100 TB deployment rescales n to per-million
    * shares before apportioning, same method one scale down. */
  private def hamiltonAlloc(n: DataFrame, budget: String): DataFrame = {
    val tt = n.agg(sum(col("n_tok")).cast("bigint").as("t"))
    val q = n.crossJoin(broadcast(tt))
      .withColumn("bud", expr(budget))
      .withColumn("base_tok", expr("(bud * n_tok) div t"))
      .withColumn("rem", expr("(bud * n_tok) % t"))
    val lo = q.agg((first(col("bud")) - sum(col("base_tok"))).cast("bigint").as("leftover"))
    q.withColumn("rk",
        row_number().over(Window.orderBy(col("rem").desc, col("lang"))))
      .crossJoin(broadcast(lo))
      .select(col("lang"), col("n_tok"), col("base_tok"), col("rem"),
              (col("base_tok") + when(col("rk") <= col("leftover"), 1L).otherwise(0L))
                .cast("bigint").as("alloc_tok"))
  }

  // ---- scale-safe per-language running sum (q119/q259/q266) ----
  /** Two-phase prefix sum for the per-language cumulative token draws —
    * the guide §2.5 skew fix for the dominant-language straggler (a real
    * corpus is ~60% one language, so a single
    * `SUM OVER (PARTITION BY lang ORDER BY ord)` window serializes that
    * language's whole scan into ONE task at 100 TB; r20 VERDICT watch
    * item). Phase 1 computes partial running sums inside (lang, bucket)
    * where bucket is a deterministic RANGE split of the draw key `ord`
    * (bucket boundaries respect the draw order, so buckets concatenate in
    * order); phase 2 cumulates the O(langs x buckets) bucket totals into
    * per-bucket offsets and broadcasts them back. cum = partial + offset
    * is the textbook parallel-scan identity over exact integer sums —
    * bit-identical to the single-window form for ANY bucket count, which
    * is why the oracle can keep replaying the one-window spelling.
    * Bucket count follows the session's shuffle parallelism (results do
    * not depend on it). Input must carry (lang, ord, doc_id, `value`);
    * output adds `cum`. */
  private[text] def perLangCumsum(df: DataFrame, value: String = "n_tok"): DataFrame = {
    val nb = math.max(32,
      df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt)
    val step = 1000000007L / nb + 1   // ord ranges over [0, 1000000007)
    val in = df.withColumn("bkt", expr(s"CAST(ord DIV ${step}L AS INT)"))
    val partial = sum(col(value)).over(
      Window.partitionBy(col("lang"), col("bkt")).orderBy(col("ord"), col("doc_id")))
    val offsets = in.groupBy(col("lang"), col("bkt"))
      .agg(sum(col(value)).as("btot"))
      .withColumn("boff", coalesce(sum(col("btot")).over(
        Window.partitionBy(col("lang")).orderBy(col("bkt"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("lang"), col("bkt"), col("boff"))
    in.withColumn("partial", partial)
      .join(broadcast(offsets), Seq("lang", "bkt"))
      .withColumn("cum", col("partial") + col("boff"))
      .drop("bkt", "partial", "boff")
  }

  // ---- 16-token sliding-window fragments (q146/q256/q257) ----
  // ONE copy of the window derivation over [[Text.wordsCtesSql]]'s `toks`
  // — the dedup/leakage unit of Lee et al. (2022)'s duplicated-substring
  // family. A change to the window length or slicing lands in the
  // measurement (q146), the scrub (q256), and the split audit (q257)
  // together or not at all.
  private[text] val winCtesSql: String =
    """w16 AS (SELECT doc_id, unnest(range(len(ws) - 15)) AS start, ws
      |        FROM toks WHERE len(ws) >= 16),
      |wins AS (SELECT doc_id, start,
      |                array_to_string(list_slice(ws, start + 1, start + 16), ' ') AS win
      |         FROM w16)""".stripMargin

  /** Spark-dialect twin of [[winCtesSql]] — structural gaps the rename
    * bridge can't cover: DuckDB list_slice is (begin, END) 1-based
    * inclusive vs Spark slice (start, LENGTH); range() end-exclusive vs
    * sequence() inclusive; array_to_string -> array_join. */
  private[text] val winCtesSparkSql: String =
    """w16 AS (SELECT doc_id, explode(sequence(0, size(ws) - 16)) AS start, ws
      |        FROM toks WHERE size(ws) >= 16),
      |wins AS (SELECT doc_id, start,
      |                array_join(slice(ws, start + 1, 16), ' ') AS win
      |         FROM w16)""".stripMargin

  /** DataFrame twin of [[winCtesSql]] with the q146 payload diet already
    * applied: each window occurrence as `(doc_id, start, h1, h2)` where
    * (h1, h2) is the 128-bit fingerprint of the window string — the
    * string itself never leaves the scan projection, so every downstream
    * exchange carries 16 bytes of key instead of ~100. */
  private[text] def winFingerprints(s: SparkSession, d: String): DataFrame =
    winFingerprintsOf(TokenIndex.toks(s, d))

  /** Same derivation over an arbitrary `(doc_id, ws)` projection — q267
    * windows a FABRICATED token stream, so the fingerprint diet must not
    * be welded to the staged index. */
  private[text] def winFingerprintsOf(toks: DataFrame): DataFrame =
    toks.filter(size(col("ws")) >= 16)
      .select(col("doc_id"),
              posexplode(transform(sequence(lit(0), size(col("ws")) - 16),
                i => array_join(slice(col("ws"), i + 1, lit(16)), " "))))
      .withColumnRenamed("pos", "start").withColumnRenamed("col", "win")
      .select(col("doc_id"), col("start"),
              xxhash64(col("win")).as("h1"), xxhash64(lit("g2"), col("win")).as("h2"))

  /** The vw/tw/lk oracle CTEs of the split-leakage derivation — ONE copy
    * shared by the audit (q257) and the repair (q260), so the leak
    * definition cannot drift between the report and the action. */
  private[text] val splitLeakCtesSql: String =
    """vw AS (SELECT DISTINCT doc_id, win FROM wins WHERE doc_id % 10 = 7),
      |tw AS (SELECT DISTINCT doc_id, win FROM wins WHERE doc_id % 10 <> 7),
      |lk AS (SELECT vw.doc_id, COUNT(DISTINCT vw.win) AS n_leak,
      |              COUNT(DISTINCT tw.doc_id) AS n_partners
      |       FROM vw JOIN tw ON tw.win = vw.win GROUP BY 1)""".stripMargin

  /** The corpus's (doc_id, h1, h2) window-fingerprint rows, MATERIALIZED —
    * q257 consumes it three ways (leak join's val side, train side, and
    * the per-val-doc window counts) and q260 twice; without it each
    * reference re-runs the posexplode + window-string build + double
    * xxhash64 over the whole corpus (the q146 `fl` lesson). Build it once
    * per entry and pass the frame to every consumer. */
  private[text] def winFpRows(s: SparkSession, d: String): DataFrame =
    Staging.materialize(winFingerprints(s, d).select(col("doc_id"), col("h1"), col("h2")))

  /** DataFrame twin of [[splitLeakCtesSql]]'s lk: per LEAKED val doc the
    * distinct leaked-window count and distinct train-partner count,
    * joined on the 128-bit window fingerprint. O(leaked docs) rows.
    * Takes the materialized [[winFpRows]] frame so both consumers (q257,
    * q260) share one corpus pass. */
  private[text] def splitLeakTable(wf: DataFrame): DataFrame = {
    val vw = wf.filter(col("doc_id") % 10 === 7).distinct()
    val tw = wf.filter(col("doc_id") % 10 =!= 7).distinct()
      .withColumnRenamed("doc_id", "td")
    vw.join(tw, Seq("h1", "h2"))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("h1"), col("h2")).as("n_leak"),
           countDistinct(col("td")).as("n_partners"))
  }

  val entries: Seq[Entry] = Seq(

    // Corpus data card (SURVEY.md Q246) — the multi-granularity release
    // report every corpus publication carries (totals by language, by
    // language x source, by language x source x keep-decision): document
    // counts, token counts, and integer mean doc length at EVERY
    // granularity in ONE pass — GROUPING SETS plans a single Expand + one
    // aggregation exchange where k separate GROUP BYs would re-scan and
    // re-shuffle the corpus k times. The keep dimension is the q96 rule
    // in its integer form; the grouping-flag columns disambiguate
    // '(all)' rollup rows from data values.
    Entry("q246_corpus_card", cardSql) { (s, d) =>
      val stops = Seq("the", "a", "of", "and", "to", "is", "in")
      val f0 = T(s, d, "documents")
        .select(col("lang"), col("source"), Text.tokens(col("text")).as("ws"))
        .filter(size(col("ws")) > 0)
      val f = f0.select(col("lang"), col("source"),
        size(col("ws")).cast("long").as("n_tok"),
        when(size(col("ws")) >= 25 &&
             lit(1000) * size(filter(col("ws"), w => w.isin(stops: _*))) >=
               lit(30) * size(col("ws")), 1).otherwise(0).as("keep"))
      f.groupingSets(
          Seq(Seq(col("lang"), col("source"), col("keep")),
              Seq(col("lang"), col("source")), Seq(col("lang")), Seq.empty),
          col("lang"), col("source"), col("keep"))
        .agg(grouping(col("lang")).cast("int").as("g_lang"),
             grouping(col("source")).cast("int").as("g_source"),
             grouping(col("keep")).cast("int").as("g_keep"),
             count(lit(1)).as("n_docs"),
             sum(col("n_tok")).as("n_tokens"),
             expr("CAST(SUM(n_tok) div COUNT(*) AS BIGINT)").as("mean_tok"))
        .select(col("g_lang"), col("g_source"), col("g_keep"),
             coalesce(col("lang"), lit("(all)")).as("lang"),
             coalesce(col("source"), lit("(all)")).as("source"),
             coalesce(col("keep").cast("string"), lit("(all)")).as("keep"),
             col("n_docs"), col("n_tokens"), col("mean_tok"))
        .orderBy(col("g_lang"), col("g_source"), col("g_keep"),
             col("lang"), col("source"), col("keep"))
    },

    // ---- near-dup clustering: pairwise dups -> components -> keep-one ----
    // The declared query derives its pair set EXACTLY (hashed-shingle
    // self-join) so the DuckDB closure oracle sees the identical edge
    // list; at 100 TB the same clusterPairs consumes the MinHash-LSH
    // verified candidates instead (q61_minhash_lsh) — identical pair
    // semantics up to LSH recall, sub-quadratic generation.
    Entry("q90_dedup_clusters", q90OracleSql) { (s, d) =>
      // sh is the ingest-staged shingle table (TokenIndex.shingles3): its
      // consumers re-scan a small staged parquet instead of re-deriving
      // shingles, and no materialized blocks leak past the entry.
      val sh = TokenIndex.shingles3(s, d)
      val inter = sh.as("x").join(sh.as("y"),
          col("x.h") === col("y.h") && col("x.doc_id") < col("y.doc_id"))
        .groupBy(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
        .agg(count(lit(1)).as("inter"))
      clusterPairs(Text.jaccardScored(sh, inter, 0.2).select(col("doc_a"), col("doc_b")))
    }.sqlTwin(q90TwinSql),

    // The promised 100 TB composition (q90's comment above): the SAME
    // clusterPairs loop consuming the MinHash-LSH verified candidates
    // (q61_minhash_lsh) instead of the exact quadratic shingle self-join
    // — sub-quadratic candidate generation, identical pair semantics up
    // to LSH recall. Sketch-derived pair set => bench-only;
    // LshClusterSpec pins precision 1.0 (every LSH edge is
    // Jaccard-verified on real shingles, so LSH clusters REFINE the
    // exact ones — a merge across exact clusters is impossible) and
    // co-cluster recall vs the exact q90 clustering.
    Entry.benchOnly("q90_lsh_clusters") { (s, d) =>
      clusterPairs(Text.minhashNearDups(s, d).select(col("doc_a"), col("doc_b")))
    },

    // ---- passage-level exact dedup (RefinedWeb-style sub-document) ----
    // Document-level dedup (q60/q61) misses boilerplate REPEATED INSIDE
    // otherwise-distinct documents; passage dedup chunks each document
    // into fixed 16-token passages and reports, per document, how many of
    // its passages occur elsewhere in the corpus verbatim. Plan: the
    // staged token index already stores each document's tokens as an
    // ORDERED array, so the chunking is map-only — slice(ws) per chunk
    // index, no posexplode + collect_list sort-agg (that shape re-sorts
    // and re-shuffles every token to rebuild an order the array already
    // has; measured ~2x the whole query). Then ONE window keyed by
    // passage (the multiplicity count — no self-join, the chunk
    // derivation runs once), then a per-doc roll-up. The passage STRING is the
    // window key so all three paths (DataFrame / oracle / twin) share
    // exact semantics (the q101 lesson: hashing one side only makes
    // parity probabilistic); at 100 TB the key would be xxhash64(passage)
    // with identical plan shape. Documents shorter than one full passage
    // carry no full chunk and are absent by construction (trailing
    // partial chunks are excluded — a 3-token tail would otherwise
    // "duplicate" across unrelated short documents).
    Entry("q107_passage_dedup",
      s"""WITH ${Text.wordsCtesSql},
        |ck AS (SELECT doc_id, pos // 16 AS ck, COUNT(*) AS n_tok,
        |              string_agg(w, ' ' ORDER BY pos) AS passage
        |       FROM words GROUP BY 1, 2),
        |fc AS (SELECT doc_id, COUNT(*) OVER (PARTITION BY passage) AS n
        |       FROM ck WHERE n_tok = 16)
        |SELECT doc_id, COUNT(*) AS n_passages,
        |  CAST(SUM(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
        |  ROUND(CAST(SUM(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6) AS dup_ratio
        |FROM fc GROUP BY 1 ORDER BY doc_id""".stripMargin) { (s, d) =>
      // full 16-token chunks only: sequence(0, n-1) needs n >= 1, and a
      // doc shorter than one passage contributes nothing by construction
      val ck = TokenIndex.toks(s, d)
        .filter(size(col("ws")) >= 16)
        .select(col("doc_id"),
                explode(transform(
                  sequence(lit(0), (size(col("ws")) / lit(16)).cast("int") - 1),
                  i => array_join(slice(col("ws"), i * 16 + 1, lit(16)), " "))).as("passage"))
      val dup = when(count(lit(1)).over(Window.partitionBy(col("passage"))) > 1, 1)
        .otherwise(0)
      ck.select(col("doc_id"), dup.as("is_dup"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_passages"),
             sum(col("is_dup")).cast("bigint").as("n_dup"),
             round(sum(col("is_dup")).cast("double") / count(lit(1)), 6).as("dup_ratio"))
        .orderBy(col("doc_id"))
    }.sqlTwin(
      // structural gaps: DuckDB's ordered string_agg has no direct Spark
      // SQL spelling (rebuilt via array_sort over (pos, w) structs)
      s"""WITH ${Dialect.duckToSpark(Text.wordsCtesSql)},
        |ck AS (SELECT doc_id, pos div 16 AS ck, COUNT(*) AS n_tok,
        |  array_join(transform(array_sort(collect_list(struct(pos, w))), x -> x.w), ' ') AS passage
        |       FROM words GROUP BY 1, 2),
        |fc AS (SELECT doc_id, COUNT(*) OVER (PARTITION BY passage) AS n
        |       FROM ck WHERE n_tok = 16)
        |SELECT doc_id, COUNT(*) AS n_passages,
        |  CAST(SUM(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
        |  ROUND(CAST(SUM(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6) AS dup_ratio
        |FROM fc GROUP BY 1 ORDER BY doc_id""".stripMargin),

    // ---- deterministic stratified sampling (per-language keep rates) ----
    // The sampling decision is a pure function of doc_id (Knuth
    // multiplicative hash, integer arithmetic shared with the oracle), so
    // the sample is replayable, shardable, and pushes down as a plain
    // filter — no shuffle, no RNG state. Rates: en 50%, de 25%, rest 10%.
    // doc_id is reduced mod a prime BEFORE the multiply: the raw product
    // would overflow signed 64-bit past doc_id ~3.47e9 (ANSI mode throws;
    // DuckDB errors too), which a 100 TB corpus exceeds. The reduced form
    // is exact for all BIGINT doc_ids: 1000002 * 2654435761 < 2^63.
    Entry.sql("q91_stratified_sample",
      """SELECT doc_id, lang FROM documents
        |WHERE ((doc_id % 1000003) * 2654435761) % 1000 <
        |      CASE lang WHEN 'en' THEN 500 WHEN 'de' THEN 250 ELSE 100 END
        |ORDER BY doc_id""".stripMargin),

    // ---- within-document repetition (Gopher repetition filter) ----
    // Duplicate-shingle fraction INSIDE each document — the repetition
    // signal (looping boilerplate, chorus spam) that cross-document dedup
    // cannot see. Non-distinct shingles come from the same codegen'd
    // WordShingles kernel; one hash agg per doc, no joins.
    Entry("q101_repetition",
      s"""WITH ${Text.wordsCtesSql},
        |${Text.shingle3CteSql(distinct = false)}
        |SELECT doc_id, COUNT(*) AS n_shingles,
        |  CAST(COUNT(DISTINCT sh) AS BIGINT) AS n_distinct,
        |  ROUND(1 - CAST(COUNT(DISTINCT sh) AS DOUBLE) / COUNT(*), 6) AS rep_ratio
        |FROM sh GROUP BY 1 ORDER BY doc_id""".stripMargin) { (s, d) =>
      // distinct runs on the shingle STRING, exactly like the oracle and
      // the derived SQL twin — a hashed distinct (the q61 posture) would
      // make the three paths disagree on a 64-bit collision, turning the
      // row-for-row parity contract probabilistic. The distinct here is
      // per-document (GROUP BY doc_id), so the dedup state is one doc's
      // shingle set at a time — bounded by document length, not corpus
      // size; the string bytes it shuffles are what q61 avoids, but q61's
      // join fan-out does not exist here.
      TokenIndex.toks(s, d)
        .select(col("doc_id"),
                explode(graft.functions.vec.wordShingles(col("ws"), 3)).as("sh"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_shingles"),
             countDistinct(col("sh")).as("n_distinct"),
             round(lit(1) - countDistinct(col("sh")).cast("double") / count(lit(1)), 6)
               .as("rep_ratio"))
        .orderBy(col("doc_id"))
    },

    // ---- benchmark-contamination check (train/test overlap) ----
    // The decontamination join of a pretraining pipeline: flag corpus
    // documents sharing >= 2 distinct 3-shingles with any document of a
    // probe (benchmark) set — here the probe set is doc_id <= 5 as a
    // stand-in for an eval suite. The probe shingle set is tiny by
    // definition, so the overlap join BROADCASTS it and the corpus
    // streams through map-side — no corpus shuffle at any scale. The
    // pair join runs on 64-bit shingle hashes (same collision reasoning
    // as q61: the string bytes never leave the map side).
    Entry("q102_contamination",
      s"""WITH ${Text.wordsCtesSql},
        |${Text.shingle3CteSql(distinct = true)}
        |SELECT d.doc_id AS doc_id, p.doc_id AS probe_id, COUNT(*) AS shared
        |FROM sh d JOIN sh p ON d.sh = p.sh AND p.doc_id <= 5 AND d.doc_id > 5
        |GROUP BY 1, 2 HAVING COUNT(*) >= 2
        |ORDER BY doc_id, probe_id""".stripMargin) { (s, d) =>
      val sh = TokenIndex.shingles3(s, d)
      val probe = sh.filter(col("doc_id") <= 5)
        .select(col("doc_id").as("probe_id"), col("h"))
      sh.filter(col("doc_id") > 5)
        .join(broadcast(probe), "h")
        .groupBy(col("doc_id"), col("probe_id"))
        .agg(count(lit(1)).as("shared"))
        .filter(col("shared") >= 2)
        .orderBy(col("doc_id"), col("probe_id"))
    },

    // ---- quality-filter decision stage (Gopher-style rules) ----
    // The per-document quality SIGNALS live in q68/q69; this is the stage
    // that composes them into the keep/drop decision a filtering pipeline
    // actually executes: thresholded flags per rule plus the conjunction,
    // emitted per document so downstream stages (and audits) can see WHY
    // a document was dropped. Pure per-row arithmetic over the TokenIndex
    // — no shuffle before the ordered output.
    Entry("q96_quality_filter",
      s"""WITH t AS (SELECT doc_id, ${Text.tokensSql} AS ws FROM documents),
        |q AS (SELECT doc_id, len(ws) AS n_tok,
        |        len(list_filter(ws, w -> w IN ('the', 'a', 'of', 'and', 'to', 'is', 'in'))) AS n_stop
        |      FROM t WHERE len(ws) > 0)
        |SELECT doc_id, len_ok, stop_ok, len_ok * stop_ok AS keep
        |FROM (SELECT doc_id,
        |        CASE WHEN n_tok >= 25 THEN 1 ELSE 0 END AS len_ok,
        |        CASE WHEN CAST(n_stop AS DOUBLE) / n_tok >= 0.03 THEN 1 ELSE 0 END AS stop_ok
        |      FROM q)
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val stop = Seq("the", "a", "of", "and", "to", "is", "in")
      TokenIndex.toks(s, d)
        .select(col("doc_id"), size(col("ws")).as("n_tok"),
                size(filter(col("ws"), w => w.isin(stop: _*))).as("n_stop"))
        .filter(col("n_tok") > 0)
        .select(col("doc_id"),
          when(col("n_tok") >= 25, 1).otherwise(0).as("len_ok"),
          when(col("n_stop").cast("double") / col("n_tok") >= 0.03, 1).otherwise(0)
            .as("stop_ok"))
        // keep derives from the flags, so a threshold edit cannot produce
        // an internally inconsistent decision row
        .withColumn("keep", col("len_ok") * col("stop_ok"))
        .orderBy(col("doc_id"))
    },

    // ---- token-budget sequence packing ----
    // Greedy in-order packing of documents into 2048-token training rows,
    // sharded: the running token sum within a shard assigns each doc to
    // the bin its START offset falls in. Packing is inherently sequential
    // PER OUTPUT SHARD, so the shard is the unit of parallelism (a real
    // pipeline packs per worker/output file); the window runs inside each
    // shard, never globally. Output: per-bin doc and token counts.
    Entry("q92_pack_sequences",
      s"""WITH t AS (SELECT doc_id, CAST(doc_id % 8 AS INT) AS shard,
        |             CAST(len(${Text.tokensSql}) AS INT) AS n_tok FROM documents),
        |c AS (SELECT shard, doc_id, n_tok,
        |        SUM(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |      FROM t)
        |SELECT shard, CAST((cum - n_tok) // 2048 AS INT) AS bin,
        |       COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS n_tokens
        |FROM c GROUP BY 1, 2 ORDER BY shard, bin""".stripMargin) { (s, d) =>
      val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      TokenIndex.toks(s, d)
        .select(col("doc_id"), (col("doc_id") % 8).cast("int").as("shard"),
                size(col("ws")).as("n_tok"))
        .withColumn("cum", sum(col("n_tok")).over(w))
        .select(col("shard"), expr("CAST((cum - n_tok) div 2048 AS INT)").as("bin"),
                col("n_tok"))
        .groupBy(col("shard"), col("bin"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).cast("bigint").as("n_tokens"))
        .orderBy(col("shard"), col("bin"))
    },

    // ---- token-budget curriculum mix (per-language data mixing) ----
    // A pretraining mix caps each language's contribution at a token
    // budget: docs are taken in a DETERMINISTIC pseudo-random order (the
    // q91 Knuth hash — replayable, shard-stable, no RNG state) until the
    // language's running token total exceeds the budget (3000 here). The
    // running total is a per-lang cumsum ordered by (hash, doc_id) — ties
    // broken by doc_id make the frame equivalent to ROWS, so both engines
    // bucket identically. Executed as [[perLangCumsum]]'s two-phase
    // prefix sum (partials inside (lang, ord-range bucket), broadcast
    // offsets) so the dominant language of a real corpus never serializes
    // into one window task; the oracle replays the equivalent one-window
    // spelling — integer sums make the two forms bit-identical.
    Entry("q119_token_budget_mix",
      s"""WITH ${Text.wordsCtesSql},
        |n AS (SELECT doc_id, COUNT(*) AS n_tok FROM words GROUP BY 1),
        |d AS (SELECT doc_id, lang, n_tok,
        |        (doc_id % 1000003) * 2654435761 % 1000000007 AS ord
        |      FROM documents JOIN n USING (doc_id)),
        |c AS (SELECT doc_id, lang, n_tok,
        |        SUM(n_tok) OVER (PARTITION BY lang ORDER BY ord, doc_id) AS cum
        |      FROM d)
        |SELECT doc_id, lang, CAST(n_tok AS BIGINT) AS n_tok,
        |       CAST(cum AS BIGINT) AS cum_tok
        |FROM c WHERE cum <= 3000 ORDER BY doc_id""".stripMargin) { (s, d) =>
      val n = TokenIndex.toks(s, d)
        .select(col("doc_id"), size(col("ws")).as("n_tok"))
        .filter(col("n_tok") > 0)   // words CTE inner-join drops 0-token docs
      perLangCumsum(
        T(s, d, "documents").select(col("doc_id"), col("lang"))
          .join(n, "doc_id")
          .withColumn("ord", col("doc_id") % 1000003L * 2654435761L % 1000000007L))
        .filter(col("cum") <= 3000)
        .select(col("doc_id"), col("lang"), col("n_tok").cast("bigint").as("n_tok"),
                col("cum").cast("bigint").as("cum_tok"))
        .orderBy(col("doc_id"))
    },

    // ---- sliding-window chunking (training context windows) ----
    // Pretraining/RAG chunkers cut each doc into overlapping windows —
    // here size 32, stride 24 (8-token overlap), the sub-document unit
    // downstream embedding/packing stages consume. Chunk COUNT is pure
    // per-row arithmetic (ceil((len-32)/24)+1, min 1); emission is one
    // explode off the staged token index — map-only, no shuffle, the
    // same ingest-side posture as q107's disjoint passages. The oracle
    // twin differs only in range() exclusivity (DuckDB range(0,n) is
    // end-exclusive; Spark sequence(0,n) is inclusive).
    Entry("q141_overlap_chunks",
      s"""WITH toks AS (SELECT doc_id, ${Text.tokensSql} AS ws FROM documents),
        |c AS (SELECT doc_id, CAST(len(ws) AS INT) AS n_tok,
        |        unnest(range(0, CASE WHEN len(ws) <= 32 THEN 1
        |                             ELSE (len(ws) - 32 + 23) // 24 + 1 END)) AS ci
        |      FROM toks)
        |SELECT doc_id, CAST(ci AS INT) AS chunk_id, CAST(ci * 24 AS INT) AS start,
        |       CAST(LEAST(32, n_tok - ci * 24) AS INT) AS chunk_len
        |FROM c ORDER BY doc_id, chunk_id""".stripMargin) { (s, d) =>
      chunkIndex(s, d)
        .select(col("doc_id"), col("ci").cast("int").as("chunk_id"),
                (col("ci") * 24).cast("int").as("start"),
                least(lit(32), size(col("ws")) - col("ci") * 24).cast("int").as("chunk_len"))
        .orderBy(col("doc_id"), col("chunk_id"))
    }.sqlTwin(
      // structural gap: DuckDB range(0, n) is end-EXCLUSIVE, Spark
      // sequence(0, n) inclusive — the twin subtracts 1 from the bound
      s"""WITH toks AS (SELECT doc_id, ${graft.queries.Dialect.tokensSparkSql} AS ws FROM documents),
        |c AS (SELECT doc_id, CAST(size(ws) AS INT) AS n_tok,
        |        explode(sequence(0, CASE WHEN size(ws) <= 32 THEN 0
        |                                 ELSE (size(ws) - 32 + 23) div 24 END)) AS ci
        |      FROM toks)
        |SELECT doc_id, CAST(ci AS INT) AS chunk_id, CAST(ci * 24 AS INT) AS start,
        |       CAST(LEAST(32, n_tok - ci * 24) AS INT) AS chunk_len
        |FROM c ORDER BY doc_id, chunk_id""".stripMargin),

    // ---- training output sharding (token-balanced shard assignment) ----
    // The last stage of a training-data pipeline writes N shards whose
    // token mass should be roughly equal (data-parallel readers consume
    // one shard each). Assignment is the same pure doc_id hash as q91 —
    // replayable, shuffle-free at assignment time (the only shuffle is
    // the O(shards)-row stats agg) — and `balance` (shard tokens / ideal
    // share) is the skew audit a pipeline alarms on. The window runs over
    // 16 post-agg rows, never source rows.
    Entry("q145_shard_budget",
      s"""WITH toks AS (SELECT doc_id, ${Text.tokensSql} AS ws FROM documents),
        |sh AS (SELECT ((doc_id % 1000003) * 2654435761) % 16 AS shard,
        |              len(ws) AS n_tok FROM toks)
        |SELECT CAST(shard AS INT) AS shard, COUNT(*) AS n_docs,
        |       CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
        |       ROUND(CAST(SUM(n_tok) AS DOUBLE) * 16 / SUM(CAST(SUM(n_tok) AS BIGINT)) OVER (), 6) AS balance
        |FROM sh GROUP BY 1 ORDER BY shard""".stripMargin) { (s, d) =>
      TokenIndex.toks(s, d)
        .select((col("doc_id") % 1000003L * 2654435761L % 16).as("shard"),
                size(col("ws")).as("n_tok"))
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).cast("bigint").as("n_tokens"))
        .withColumn("balance",
          round(col("n_tokens").cast("double") * 16 /
                sum(col("n_tokens")).over(Window.partitionBy()), 6))
        .select(col("shard").cast("int").as("shard"), col("n_docs"),
                col("n_tokens"), col("balance"))
        .orderBy(col("shard"))
    },

    // ---- exact-substring dedup (stride-1 n-gram windows, Lee et al.) ----
    // Cross-document duplicated SPANS, not just duplicated disjoint
    // passages (q107): every 16-token window at every start position is a
    // key, so a duplicated run of any length >= 16 is detected at every
    // offset, and `n_dup_tokens` is the union coverage of duplicated
    // windows — the "fraction of this doc that is copied text" signal the
    // suffix-array dedup of Lee et al. computes. Windows derive map-only
    // from the staged token index (x16 row blowup is the method's
    // inherent cost). The shuffle key is a 128-bit window fingerprint
    // (two independently-seeded xxhash64s), NOT the ~100-byte window
    // string: the count-per-window shuffle is the dominant payload and
    // the hash pair cuts it ~6x while keeping collision probability
    // ~n^2/2^129 — still negligible at 100 TB's ~1e12 windows, where a
    // SINGLE 64-bit key would already be ~3% birthday-bound. The window
    // string is dropped before the exchange; the oracle/twin SQL keeps
    // the string key (equal counts as long as the fingerprint is
    // collision-free, which the width guarantees). The fingerprint rows
    // are materialized because both the per-doc window counts and the
    // coverage union consume them.
    Entry("q146_window_dedup",
      s"""WITH ${Text.wordsCtesSql},
        |$winCtesSql,
        |fl AS (SELECT doc_id, start, COUNT(*) OVER (PARTITION BY win) AS n FROM wins),
        |pd AS (SELECT doc_id, COUNT(*) AS n_windows,
        |              SUM(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS n_dup
        |       FROM fl GROUP BY 1),
        |cv AS (SELECT doc_id, COUNT(DISTINCT pos) AS n_cov
        |       FROM (SELECT doc_id, unnest(range(start, start + 16)) AS pos
        |             FROM fl WHERE n > 1) GROUP BY 1)
        |SELECT t.doc_id, CAST(len(t.ws) AS INT) AS n_tok,
        |       CAST(COALESCE(pd.n_windows, 0) AS BIGINT) AS n_windows,
        |       CAST(COALESCE(pd.n_dup, 0) AS BIGINT) AS n_dup_windows,
        |       CAST(COALESCE(cv.n_cov, 0) AS BIGINT) AS n_dup_tokens,
        |       ROUND(CAST(COALESCE(cv.n_cov, 0) AS DOUBLE) / len(t.ws), 6) AS dup_ratio
        |FROM toks t LEFT JOIN pd ON pd.doc_id = t.doc_id
        |            LEFT JOIN cv ON cv.doc_id = t.doc_id
        |WHERE len(t.ws) > 0 ORDER BY t.doc_id""".stripMargin) { (s, d) =>
      val t = TokenIndex.toks(s, d).filter(size(col("ws")) > 0)
      // 128-bit fingerprint replaces the string BEFORE the exchange —
      // winFingerprints drops `win`, so the shuffle carries 16 bytes/row.
      // fl feeds pd (window counts) AND cv (coverage union): the
      // fingerprint build under it is materialized, the window runs per
      // consumer
      val fl = Staging.materialize(winFingerprints(s, d))
        .withColumn("n", count(lit(1)).over(Window.partitionBy(col("h1"), col("h2"))))
      val pd = fl.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_windows"),
             sum(when(col("n") > 1, 1).otherwise(0)).as("n_dup"))
      val cv = fl.filter(col("n") > 1)
        .select(col("doc_id"), explode(sequence(col("start"), col("start") + 15)).as("pos"))
        .groupBy(col("doc_id")).agg(countDistinct(col("pos")).as("n_cov"))
      t.select(col("doc_id"), size(col("ws")).cast("int").as("n_tok"))
        .join(pd, Seq("doc_id"), "left").join(cv, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_tok"),
                coalesce(col("n_windows"), lit(0L)).cast("bigint").as("n_windows"),
                coalesce(col("n_dup"), lit(0L)).cast("bigint").as("n_dup_windows"),
                coalesce(col("n_cov"), lit(0L)).cast("bigint").as("n_dup_tokens"),
                round(coalesce(col("n_cov"), lit(0L)).cast("double") / col("n_tok"), 6)
                  .as("dup_ratio"))
        .orderBy(col("doc_id"))
    }.sqlTwin(
      s"""WITH ${Dialect.duckToSpark(Text.wordsCtesSql)},
        |$winCtesSparkSql,
        |fl AS (SELECT doc_id, start, COUNT(*) OVER (PARTITION BY win) AS n FROM wins),
        |pd AS (SELECT doc_id, COUNT(*) AS n_windows,
        |              SUM(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS n_dup
        |       FROM fl GROUP BY 1),
        |cv AS (SELECT doc_id, COUNT(DISTINCT pos) AS n_cov
        |       FROM (SELECT doc_id, explode(sequence(start, start + 15)) AS pos
        |             FROM fl WHERE n > 1) GROUP BY 1)
        |SELECT t.doc_id, CAST(size(t.ws) AS INT) AS n_tok,
        |       CAST(COALESCE(pd.n_windows, 0) AS BIGINT) AS n_windows,
        |       CAST(COALESCE(pd.n_dup, 0) AS BIGINT) AS n_dup_windows,
        |       CAST(COALESCE(cv.n_cov, 0) AS BIGINT) AS n_dup_tokens,
        |       ROUND(CAST(COALESCE(cv.n_cov, 0) AS DOUBLE) / size(t.ws), 6) AS dup_ratio
        |FROM toks t LEFT JOIN pd ON pd.doc_id = t.doc_id
        |            LEFT JOIN cv ON cv.doc_id = t.doc_id
        |WHERE size(t.ws) > 0 ORDER BY t.doc_id""".stripMargin),

    // ---- duplicated-span SCRUB (the decision on q146's signal) ----
    // q146 measures how much of each document lies under a duplicated
    // window; this entry makes the edit Lee et al. (2022) actually apply:
    // every duplicated window keeps ONE canonical occurrence — the
    // globally smallest (doc_id, start), the keep-min posture of
    // q60/q218/q240 — and every OTHER occurrence's 16 positions are
    // marked for removal. Marked positions union per document
    // (overlapping windows merge) and collapse into contiguous islands
    // via the gaps-and-islands rank difference; the report is the
    // per-doc edit ledger: tokens removed, spans cut, tokens surviving.
    // Every island is >= 16 tokens by construction (each marked position
    // lies inside some fully-marked window), and the marked set is a
    // subset of q146's coverage (rk > 1 strictly narrows n > 1) —
    // DupSpanScrubSpec pins both invariants against q146's own output.
    // Scale: ONE exchange keyed by the 128-bit window fingerprint carries
    // BOTH the multiplicity count and the canonical rank (two window
    // functions over the same partitioning — Catalyst plans one Exchange
    // feeding both Window operators); the island step is doc_id-keyed
    // over marked positions only (the few-percent duplicated tail, not
    // the corpus).
    Entry("q256_dup_span_scrub",
      s"""WITH ${Text.wordsCtesSql},
        |$winCtesSql,
        |oc AS (SELECT doc_id, start,
        |         COUNT(*) OVER (PARTITION BY win) AS n,
        |         ROW_NUMBER() OVER (PARTITION BY win ORDER BY doc_id, start) AS rk
        |       FROM wins),
        |cv AS (SELECT DISTINCT doc_id, pos
        |       FROM (SELECT doc_id, unnest(range(start, start + 16)) AS pos
        |             FROM oc WHERE n > 1 AND rk > 1)),
        |il AS (SELECT doc_id,
        |         pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS g
        |       FROM cv),
        |pd AS (SELECT doc_id, COUNT(*) AS n_rm, COUNT(DISTINCT g) AS n_spans
        |       FROM il GROUP BY 1)
        |SELECT t.doc_id, CAST(len(t.ws) AS BIGINT) AS n_tok,
        |       CAST(COALESCE(pd.n_rm, 0) AS BIGINT) AS n_removed,
        |       CAST(COALESCE(pd.n_spans, 0) AS BIGINT) AS n_spans,
        |       CAST(len(t.ws) - COALESCE(pd.n_rm, 0) AS BIGINT) AS n_kept
        |FROM toks t LEFT JOIN pd ON pd.doc_id = t.doc_id
        |WHERE len(t.ws) > 0 ORDER BY t.doc_id""".stripMargin) { (s, d) =>
      val t = TokenIndex.toks(s, d).filter(size(col("ws")) > 0)
      val byWin = Window.partitionBy(col("h1"), col("h2"))
      val oc = winFingerprints(s, d)
        .withColumn("n", count(lit(1)).over(byWin))
        .withColumn("rk",
          row_number().over(byWin.orderBy(col("doc_id"), col("start"))))
      val cv = oc.filter(col("n") > 1 && col("rk") > 1)
        .select(col("doc_id"),
                explode(sequence(col("start"), col("start") + 15)).as("pos"))
        .distinct()
      val il = cv.withColumn("g",
        col("pos") - row_number().over(
          Window.partitionBy(col("doc_id")).orderBy(col("pos"))))
      val pd = il.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_rm"), countDistinct(col("g")).as("n_spans"))
      t.select(col("doc_id"), size(col("ws")).cast("bigint").as("n_tok"))
        .join(pd, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_tok"),
                coalesce(col("n_rm"), lit(0L)).cast("bigint").as("n_removed"),
                coalesce(col("n_spans"), lit(0L)).cast("bigint").as("n_spans"),
                (col("n_tok") - coalesce(col("n_rm"), lit(0L))).cast("bigint").as("n_kept"))
        .orderBy(col("doc_id"))
    }.sqlTwin(
      s"""WITH ${Dialect.duckToSpark(Text.wordsCtesSql)},
        |$winCtesSparkSql,
        |oc AS (SELECT doc_id, start,
        |         COUNT(*) OVER (PARTITION BY win) AS n,
        |         ROW_NUMBER() OVER (PARTITION BY win ORDER BY doc_id, start) AS rk
        |       FROM wins),
        |cv AS (SELECT DISTINCT doc_id, pos
        |       FROM (SELECT doc_id, explode(sequence(start, start + 15)) AS pos
        |             FROM oc WHERE n > 1 AND rk > 1)),
        |il AS (SELECT doc_id,
        |         pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS g
        |       FROM cv),
        |pd AS (SELECT doc_id, COUNT(*) AS n_rm, COUNT(DISTINCT g) AS n_spans
        |       FROM il GROUP BY 1)
        |SELECT t.doc_id, CAST(size(t.ws) AS BIGINT) AS n_tok,
        |       CAST(COALESCE(pd.n_rm, 0) AS BIGINT) AS n_removed,
        |       CAST(COALESCE(pd.n_spans, 0) AS BIGINT) AS n_spans,
        |       CAST(size(t.ws) - COALESCE(pd.n_rm, 0) AS BIGINT) AS n_kept
        |FROM toks t LEFT JOIN pd ON pd.doc_id = t.doc_id
        |WHERE size(t.ws) > 0 ORDER BY t.doc_id""".stripMargin),

    // ---- train/val split leakage audit (internal contamination) ----
    // q254 gates the corpus against an EXTERNAL benchmark; this entry
    // audits the INTERNAL holdout: with the deterministic 10% split
    // (doc_id % 10 = 7 is validation), any 16-token window shared
    // VERBATIM between a val doc and a train doc is leakage — the GPT-3
    // 13-gram decontamination posture applied at q146's window unit, and
    // the check a split publisher runs before reporting held-out metrics
    // (q247/q251 score a split like this one; a leaked split makes those
    // numbers lie optimistically). Per val doc: distinct windows, leaked
    // windows, distinct train partners, and the verdict.
    // Scale: both sides reduce to per-doc-DISTINCT window sets before the
    // leak join, which is keyed by the 128-bit fingerprint (q146's
    // payload diet — the window string never rides an exchange); the
    // val side is 10% of the corpus and the join fan-out is bounded by
    // true duplication, so the audit costs about one q146.
    Entry("q257_split_leakage",
      s"""WITH ${Text.wordsCtesSql},
        |$winCtesSql,
        |$splitLeakCtesSql,
        |nv AS (SELECT doc_id, COUNT(*) AS n_win FROM vw GROUP BY 1)
        |SELECT t.doc_id, CAST(len(t.ws) AS BIGINT) AS n_tok,
        |       CAST(COALESCE(nv.n_win, 0) AS BIGINT) AS n_windows,
        |       CAST(COALESCE(lk.n_leak, 0) AS BIGINT) AS n_leaked_windows,
        |       CAST(COALESCE(lk.n_partners, 0) AS BIGINT) AS n_train_partners,
        |       CAST(CASE WHEN lk.doc_id IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS leaked
        |FROM toks t LEFT JOIN nv ON nv.doc_id = t.doc_id
        |            LEFT JOIN lk ON lk.doc_id = t.doc_id
        |WHERE t.doc_id % 10 = 7 AND len(t.ws) > 0 ORDER BY t.doc_id""".stripMargin) { (s, d) =>
      val wf = winFpRows(s, d)
      val lk = splitLeakTable(wf)
      val nv = wf.filter(col("doc_id") % 10 === 7).distinct()
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_win"))
      TokenIndex.toks(s, d)
        .filter(col("doc_id") % 10 === 7 && size(col("ws")) > 0)
        .select(col("doc_id"), size(col("ws")).cast("bigint").as("n_tok"))
        .join(nv, Seq("doc_id"), "left")
        .join(lk.withColumn("hit", lit(1L)), Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_tok"),
                coalesce(col("n_win"), lit(0L)).cast("bigint").as("n_windows"),
                coalesce(col("n_leak"), lit(0L)).cast("bigint").as("n_leaked_windows"),
                coalesce(col("n_partners"), lit(0L)).cast("bigint").as("n_train_partners"),
                coalesce(col("hit"), lit(0L)).as("leaked"))
        .orderBy(col("doc_id"))
    }.sqlTwin(
      s"""WITH ${Dialect.duckToSpark(Text.wordsCtesSql)},
        |$winCtesSparkSql,
        |$splitLeakCtesSql,
        |nv AS (SELECT doc_id, COUNT(*) AS n_win FROM vw GROUP BY 1)
        |SELECT t.doc_id, CAST(size(t.ws) AS BIGINT) AS n_tok,
        |       CAST(COALESCE(nv.n_win, 0) AS BIGINT) AS n_windows,
        |       CAST(COALESCE(lk.n_leak, 0) AS BIGINT) AS n_leaked_windows,
        |       CAST(COALESCE(lk.n_partners, 0) AS BIGINT) AS n_train_partners,
        |       CAST(CASE WHEN lk.doc_id IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS leaked
        |FROM toks t LEFT JOIN nv ON nv.doc_id = t.doc_id
        |            LEFT JOIN lk ON lk.doc_id = t.doc_id
        |WHERE t.doc_id % 10 = 7 AND size(t.ws) > 0 ORDER BY t.doc_id""".stripMargin),

    // ---- split repair (the action on q257's audit) ----
    // q257 reports WHICH val docs leak; this entry publishes the repaired
    // split: leaked val docs are DROPPED (not moved to train — dropping
    // keeps the training set fixed, which is the conservative action when
    // the LM/quality models of q234/q244 were already fit on it) and the
    // per-language split statistics are re-stated — the table a dataset
    // release actually ships next to its held-out metrics. The leak
    // definition is q257's ONE copy (splitLeakCtesSql / splitLeakTable):
    // the audit and the repair cannot drift.
    // Scale: the leak table is O(leaked docs) and joins the corpus spine
    // as a broadcast; the rollup is one lang-keyed aggregation.
    Entry("q260_split_repair",
      s"""WITH ${Text.wordsCtesSql},
        |$winCtesSql,
        |$splitLeakCtesSql,
        |d AS (SELECT t.doc_id, dd.lang, CAST(len(t.ws) AS BIGINT) AS n_tok,
        |        CASE WHEN t.doc_id % 10 = 7 THEN 1 ELSE 0 END AS is_val
        |      FROM toks t JOIN documents dd ON dd.doc_id = t.doc_id
        |      WHERE len(t.ws) > 0)
        |SELECT d.lang,
        |  CAST(SUM(CASE WHEN is_val = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_train_docs,
        |  CAST(SUM(CASE WHEN is_val = 0 THEN n_tok ELSE 0 END) AS BIGINT) AS n_train_tok,
        |  CAST(SUM(is_val) AS BIGINT) AS n_val_docs_before,
        |  CAST(SUM(CASE WHEN is_val = 1 AND lk.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_val_docs,
        |  CAST(SUM(CASE WHEN is_val = 1 AND lk.doc_id IS NULL THEN n_tok ELSE 0 END) AS BIGINT) AS n_val_tok,
        |  CAST(SUM(CASE WHEN is_val = 1 AND lk.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
        |FROM d LEFT JOIN lk ON lk.doc_id = d.doc_id
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val lk = splitLeakTable(winFpRows(s, d)).select(col("doc_id"), lit(1L).as("hit"))
      TokenIndex.toks(s, d).filter(size(col("ws")) > 0)
        .select(col("doc_id"), col("lang"),
                size(col("ws")).cast("bigint").as("n_tok"),
                when(col("doc_id") % 10 === 7, 1L).otherwise(0L).as("is_val"))
        .join(broadcast(lk), Seq("doc_id"), "left")
        .groupBy(col("lang"))
        .agg(sum(when(col("is_val") === 0, 1L).otherwise(0L)).cast("bigint").as("n_train_docs"),
             sum(when(col("is_val") === 0, col("n_tok")).otherwise(0L)).cast("bigint").as("n_train_tok"),
             sum(col("is_val")).cast("bigint").as("n_val_docs_before"),
             sum(when(col("is_val") === 1 && col("hit").isNull, 1L).otherwise(0L))
               .cast("bigint").as("n_val_docs"),
             sum(when(col("is_val") === 1 && col("hit").isNull, col("n_tok")).otherwise(0L))
               .cast("bigint").as("n_val_tok"),
             sum(when(col("is_val") === 1 && col("hit").isNotNull, 1L).otherwise(0L))
               .cast("bigint").as("n_dropped"))
        .orderBy(col("lang"))
    }.sqlTwin(
      s"""WITH ${Dialect.duckToSpark(Text.wordsCtesSql)},
        |$winCtesSparkSql,
        |$splitLeakCtesSql,
        |d AS (SELECT t.doc_id, dd.lang, CAST(size(t.ws) AS BIGINT) AS n_tok,
        |        CASE WHEN t.doc_id % 10 = 7 THEN 1 ELSE 0 END AS is_val
        |      FROM toks t JOIN documents dd ON dd.doc_id = t.doc_id
        |      WHERE size(t.ws) > 0)
        |SELECT d.lang,
        |  CAST(SUM(CASE WHEN is_val = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_train_docs,
        |  CAST(SUM(CASE WHEN is_val = 0 THEN n_tok ELSE 0 END) AS BIGINT) AS n_train_tok,
        |  CAST(SUM(is_val) AS BIGINT) AS n_val_docs_before,
        |  CAST(SUM(CASE WHEN is_val = 1 AND lk.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_val_docs,
        |  CAST(SUM(CASE WHEN is_val = 1 AND lk.doc_id IS NULL THEN n_tok ELSE 0 END) AS BIGINT) AS n_val_tok,
        |  CAST(SUM(CASE WHEN is_val = 1 AND lk.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
        |FROM d LEFT JOIN lk ON lk.doc_id = d.doc_id
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // ---- end-to-end curation report (the pipeline's decision table) ----
    // The artifact a curation pipeline actually materializes: one row per
    // document with every drop rule's verdict — exact-dup (not the
    // keep-min-id representative, q60's rule), near-dup (lower-id partner
    // at Jaccard >= 0.2, q61's pairs), low quality (q96's flags),
    // repetitive (q101's ratio > 0.2), contaminated (q102's probe
    // overlap) — and the conjunction `keep`, so audits see WHY each
    // document was dropped, not just that it was. Every signal reuses the
    // exact derivation (and oracle CTE text) of its standalone query; the
    // five signal tables join back to the corpus spine on doc_id, each
    // one doc_id-keyed and orders of magnitude smaller than the corpus.
    Entry("q154_curation_report",
      s"""WITH ${Text.wordsCtesSql},
        |${Text.shingle3CteSql(distinct = false)},
        |sd AS (SELECT DISTINCT doc_id, sh FROM sh),
        |ed AS (SELECT doc_id, MIN(doc_id) OVER (PARTITION BY text) AS rep
        |       FROM documents),
        |sz AS (SELECT doc_id, COUNT(*) AS sz FROM sd GROUP BY 1),
        |inter AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, COUNT(*) AS inter
        |          FROM sd x JOIN sd y ON x.sh = y.sh AND x.doc_id < y.doc_id
        |          GROUP BY 1, 2),
        |nd AS (SELECT DISTINCT doc_b FROM inter
        |       JOIN sz sa ON sa.doc_id = doc_a JOIN sz sb ON sb.doc_id = doc_b
        |       WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.2),
        |q AS (SELECT doc_id,
        |        CASE WHEN len(ws) >= 25 THEN 1 ELSE 0 END AS len_ok,
        |        CASE WHEN CAST(len(list_filter(ws, w -> w IN ('the', 'a', 'of', 'and', 'to', 'is', 'in'))) AS DOUBLE)
        |                  / len(ws) >= 0.03 THEN 1 ELSE 0 END AS stop_ok
        |      FROM toks WHERE len(ws) > 0),
        |r AS (SELECT doc_id,
        |        1 - CAST(COUNT(DISTINCT sh) AS DOUBLE) / COUNT(*) AS rep_ratio
        |      FROM sh GROUP BY 1),
        |ct AS (SELECT DISTINCT doc_id FROM (
        |         SELECT d.doc_id, p.doc_id AS pid, COUNT(*) AS c
        |         FROM sd d JOIN sd p ON d.sh = p.sh AND p.doc_id <= 5 AND d.doc_id > 5
        |         GROUP BY 1, 2 HAVING COUNT(*) >= 2))
        |SELECT q.doc_id,
        |  CASE WHEN ed.doc_id <> ed.rep THEN 1 ELSE 0 END AS exact_dup,
        |  CASE WHEN nd.doc_b IS NOT NULL THEN 1 ELSE 0 END AS near_dup,
        |  CASE WHEN q.len_ok * q.stop_ok = 0 THEN 1 ELSE 0 END AS low_quality,
        |  CASE WHEN COALESCE(r.rep_ratio, 0) > 0.2 THEN 1 ELSE 0 END AS repetitive,
        |  CASE WHEN ct.doc_id IS NOT NULL THEN 1 ELSE 0 END AS contaminated,
        |  CASE WHEN ed.doc_id = ed.rep AND nd.doc_b IS NULL
        |            AND q.len_ok * q.stop_ok = 1
        |            AND COALESCE(r.rep_ratio, 0) <= 0.2
        |            AND ct.doc_id IS NULL THEN 1 ELSE 0 END AS keep
        |FROM q JOIN ed ON ed.doc_id = q.doc_id
        |       LEFT JOIN nd ON nd.doc_b = q.doc_id
        |       LEFT JOIN r ON r.doc_id = q.doc_id
        |       LEFT JOIN ct ON ct.doc_id = q.doc_id
        |ORDER BY q.doc_id""".stripMargin) { (s, d) =>
      curationReport(s, d)
    },

    // ---- embedding-inference stage (chunk -> vector) ----
    // The produce-embeddings step between q141's chunking and the ANN
    // index: one typed map of a per-chunk encode function
    // (Multimodal.FakeCodec's pattern on the text side). The model is a
    // deterministic fake (per-dim hash folds over chunk tokens, then
    // L2-normalize) so the oracle replays the arithmetic exactly; the
    // plumbing — chunk slicing off the staged token index, the typed map —
    // is the real deployment path.
    Entry("q155_embed_stage",
      s"""WITH toks AS (SELECT doc_id, ${Text.tokensSql} AS ws FROM documents),
        |c AS (SELECT doc_id, len(ws) AS n_tok, ws,
        |        unnest(range(0, CASE WHEN len(ws) <= 32 THEN 1
        |                             ELSE (len(ws) - 32 + 23) // 24 + 1 END)) AS ci
        |      FROM toks WHERE len(ws) > 0),
        |ck AS (SELECT doc_id, ci AS chunk_id,
        |         unnest(list_slice(ws, ci * 24 + 1, LEAST(ci * 24 + 32, n_tok))) AS w
        |       FROM c),
        |hh AS (SELECT doc_id, chunk_id, ${Text.tokenHashSql} AS h FROM ck),
        |sv AS (SELECT doc_id, chunk_id,
        |         CAST(SUM((h + 0 * 2654435761) % 1000003 + 1) AS DOUBLE) AS s0,
        |         CAST(SUM((h + 1 * 2654435761) % 1000003 + 1) AS DOUBLE) AS s1,
        |         CAST(SUM((h + 2 * 2654435761) % 1000003 + 1) AS DOUBLE) AS s2,
        |         CAST(SUM((h + 3 * 2654435761) % 1000003 + 1) AS DOUBLE) AS s3
        |       FROM hh GROUP BY 1, 2)
        |SELECT doc_id, CAST(chunk_id AS INT) AS chunk_id,
        |  ROUND(s0 / sqrt(s0*s0 + s1*s1 + s2*s2 + s3*s3), 6) AS e0,
        |  ROUND(s1 / sqrt(s0*s0 + s1*s1 + s2*s2 + s3*s3), 6) AS e1,
        |  ROUND(s2 / sqrt(s0*s0 + s1*s1 + s2*s2 + s3*s3), 6) AS e2,
        |  ROUND(s3 / sqrt(s0*s0 + s1*s1 + s2*s2 + s3*s3), 6) AS e3
        |FROM sv ORDER BY doc_id, chunk_id""".stripMargin) { (s, d) =>
      import s.implicits._
      val chunks = chunkIndex(s, d)
        .filter(size(col("ws")) > 0)
        .select(col("doc_id"), col("ci").cast("int").as("chunk_id"),
                slice(col("ws"), col("ci") * 24 + 1,
                      least(lit(32), size(col("ws")) - col("ci") * 24)).as("toks"))
        .as[ChunkRow]
      chunks.map(FakeEncoder.encode).toDF()
        .select(col("doc_id"), col("chunk_id"),
                round(col("e0"), 6).as("e0"), round(col("e1"), 6).as("e1"),
                round(col("e2"), 6).as("e2"), round(col("e3"), 6).as("e3"))
        .orderBy(col("doc_id"), col("chunk_id"))
    }.sqlTwin(
      // structural gaps: range() exclusivity, list_slice (begin,end) vs
      // slice (start,LENGTH), and the token-hash fold via the registered
      // kernel
      s"""WITH toks AS (SELECT doc_id, ${Dialect.tokensSparkSql} AS ws FROM documents),
        |c AS (SELECT doc_id, size(ws) AS n_tok, ws,
        |        explode(sequence(0, CASE WHEN size(ws) <= 32 THEN 0
        |                                 ELSE (size(ws) - 32 + 23) div 24 END)) AS ci
        |      FROM toks WHERE size(ws) > 0),
        |ck AS (SELECT doc_id, ci AS chunk_id,
        |         explode(slice(ws, ci * 24 + 1, LEAST(32, n_tok - ci * 24))) AS w
        |       FROM c),
        |hh AS (SELECT doc_id, chunk_id, token_hash(w) AS h FROM ck),
        |sv AS (SELECT doc_id, chunk_id,
        |         CAST(SUM((h + 0 * 2654435761) % 1000003 + 1) AS DOUBLE) AS s0,
        |         CAST(SUM((h + 1 * 2654435761) % 1000003 + 1) AS DOUBLE) AS s1,
        |         CAST(SUM((h + 2 * 2654435761) % 1000003 + 1) AS DOUBLE) AS s2,
        |         CAST(SUM((h + 3 * 2654435761) % 1000003 + 1) AS DOUBLE) AS s3
        |       FROM hh GROUP BY 1, 2)
        |SELECT doc_id, CAST(chunk_id AS INT) AS chunk_id,
        |  ROUND(s0 / sqrt(s0*s0 + s1*s1 + s2*s2 + s3*s3), 6) AS e0,
        |  ROUND(s1 / sqrt(s0*s0 + s1*s1 + s2*s2 + s3*s3), 6) AS e1,
        |  ROUND(s2 / sqrt(s0*s0 + s1*s1 + s2*s2 + s3*s3), 6) AS e2,
        |  ROUND(s3 / sqrt(s0*s0 + s1*s1 + s2*s2 + s3*s3), 6) AS e3
        |FROM sv ORDER BY doc_id, chunk_id""".stripMargin),

    // ---- deterministic training shuffle (seeded, shardable) ----
    // The order a training job reads its corpus in: a seeded pseudo-random
    // permutation that is REPRODUCIBLE (same seed -> same epoch order,
    // the property loss-curve debugging depends on) and SHARDABLE (each
    // reader owns a shard, no coordination). shuffle key = md5(seed ||
    // doc_id); shard = key-prefix bucket; within-shard order = key order.
    // No global sort anywhere: one hash shuffle on `shard`, then a
    // per-shard sort — at 100 TB shard count scales with the reader
    // fleet and each shard sorts independently (writer-side this is
    // exactly a sortWithinPartitions after repartition). The declared
    // result pins the head of every shard's read order (row_number <= 3),
    // which Spark plans with WindowGroupLimit: each map task keeps 3 rows
    // per shard before the shuffle, so the full corpus never moves.
    Entry("q156_det_shuffle",
      """WITH k AS (SELECT doc_id,
        |             md5('epoch1:' || CAST(doc_id AS VARCHAR)) AS key
        |           FROM documents),
        |s AS (SELECT doc_id, key,
        |        CAST(('0x' || substr(key, 1, 4)) AS INT) % 8 AS shard FROM k),
        |r AS (SELECT shard, doc_id, key,
        |        ROW_NUMBER() OVER (PARTITION BY shard ORDER BY key) AS rk
        |      FROM s)
        |SELECT CAST(shard AS INT) AS shard, CAST(rk AS INT) AS rk, doc_id, key
        |FROM r WHERE rk <= 3 ORDER BY shard, rk""".stripMargin) { (s, d) =>
      epochOrder(T(s, d, "documents"), "epoch1", 8)
        .filter(col("rk") <= 3)
        .select(col("shard"), col("rk"), col("doc_id"), col("key"))
        .orderBy(col("shard"), col("rk"))
    }.sqlTwin(
      // structural gap: hex-prefix bucketing — DuckDB casts '0x....'
      // directly, Spark goes through conv(_, 16, 10)
      """WITH k AS (SELECT doc_id,
        |             md5(concat('epoch1:', CAST(doc_id AS STRING))) AS key
        |           FROM documents),
        |s AS (SELECT doc_id, key,
        |        CAST(CAST(conv(substr(key, 1, 4), 16, 10) AS INT) % 8 AS INT) AS shard
        |      FROM k),
        |r AS (SELECT shard, doc_id, key,
        |        ROW_NUMBER() OVER (PARTITION BY shard ORDER BY key) AS rk
        |      FROM s)
        |SELECT shard, CAST(rk AS INT) AS rk, doc_id, key
        |FROM r WHERE rk <= 3 ORDER BY shard, rk""".stripMargin),

    // BPE tokenizer training (the merge-table learner). The corpus-scale
    // work is ONE word-frequency agg over the staged token index — BPE
    // trains on the weighted surface-form vocabulary, never the raw
    // corpus — so at 100 TB the per-round working set is the ~10M-row
    // vocab table, not the petabyte. Each of the k rounds is one
    // pair-count hash agg, a 1-row argmax collect (the IVF-centroid
    // posture: the driver holds only the chosen rule), and a greedy
    // leftmost re-segmentation via the aggregate() fold — 'a b' -> 'ab'
    // once per non-overlapping occurrence, the reference BPE semantics.
    // Rounds never rescan the corpus: the segmented vocab is materialized,
    // each round derives from the previous and releases it (nothing leaks
    // past the entry).
    Entry("q161_bpe_merges", bpeOracleSql) { (s, d) => bpeMerges(s, d) }
      .sqlTwin(bpeTwinSql),

    // BPE ENCODING — applying q161's learned merge table. The key scale
    // property: merges apply to the distinct VOCAB (O(|V| * k) fold work,
    // never corpus-sized), and the corpus pays only a (word -> token
    // count) equi-join — word frequency is Zipfian, so the vocab table is
    // orders of magnitude smaller than the corpus it encodes. The merge
    // table itself is a k-row driver artifact (memoized per corpus: the
    // deployment trains the tokenizer offline and ships it with the job;
    // q161 measures the training, this entry measures the apply path).
    Entry("q162_bpe_encode", bpeEncodeOracleSql) { (s, d) => bpeEncode(s, d) }
      .sqlTwin(bpeEncodeTwinSql),

    // Blocklist scrub — the C4-style dictionary filter, the curation
    // stage between quality scoring (q96) and the keep/drop report
    // (q154): docs dense in blocked terms are DROPPED, light hits are
    // REDACTED in place. The blocklist is a local predicate (isin /
    // regexp alternation), so detection folds into the scan map-side;
    // only the hit counts (O(matching docs)) shuffle, and the redaction
    // itself is a per-row projection — at 100 TB this is one corpus pass
    // with no data movement beyond the tiny hit-count agg.
    Entry("q163_blocklist_scrub",
      s"""WITH toks AS (SELECT doc_id, ${Text.tokensSql} AS ws FROM documents),
        |words AS (SELECT doc_id, unnest(ws) AS w FROM toks),
        |h AS (SELECT doc_id, COUNT(*) AS n FROM words
        |      WHERE w IN (${blocklist.map("'" + _ + "'").mkString(", ")}) GROUP BY 1)
        |SELECT d.doc_id, d.source, CAST(COALESCE(h.n, 0) AS INT) AS n_hits,
        |  CASE WHEN COALESCE(h.n, 0) >= $blocklistDropAt THEN 'drop' ELSE 'keep' END AS action,
        |  CASE WHEN COALESCE(h.n, 0) >= $blocklistDropAt THEN NULL
        |       ELSE md5(regexp_replace(d.text, '\\b(${blocklist.mkString("|")})\\b', '[#]', 'g')) END AS redacted_md5
        |FROM documents d LEFT JOIN h ON d.doc_id = h.doc_id
        |ORDER BY d.doc_id""".stripMargin) { (s, d) => blocklistScrub(s, d) }
      .sqlTwin(
        s"""WITH toks AS (SELECT doc_id,
          |    filter(split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ')), ' '),
          |           w -> w <> '') AS ws FROM documents),
          |words AS (SELECT doc_id, explode(ws) AS w FROM toks),
          |h AS (SELECT doc_id, COUNT(*) AS n FROM words
          |      WHERE w IN (${blocklist.map("'" + _ + "'").mkString(", ")}) GROUP BY 1)
          |SELECT d.doc_id, d.source, CAST(COALESCE(h.n, 0) AS INT) AS n_hits,
          |  CASE WHEN COALESCE(h.n, 0) >= $blocklistDropAt THEN 'drop' ELSE 'keep' END AS action,
          |  CASE WHEN COALESCE(h.n, 0) >= $blocklistDropAt THEN NULL
          |       ELSE md5(regexp_replace(d.text, '\\\\b(${blocklist.mkString("|")})\\\\b', '[#]')) END AS redacted_md5
          |FROM documents d LEFT JOIN h ON d.doc_id = h.doc_id
          |ORDER BY d.doc_id""".stripMargin),

    // Temperature-scaled mixture weights — the multilingual/multi-source
    // sampling-rate computation (the "alpha sampling" of mT5/XLM-R,
    // CommonCrawl mixing): per-lang token share p_i, upweighted as
    // q_i ∝ p_i^alpha (alpha=0.5 flattens the head, boosts the tail),
    // normalized, and rendered as each lang's token allocation of a 1M
    // budget plus the implied epochs over its own tokens (allocation /
    // available — >1 means the tail lang repeats). Two tiny hash aggs
    // after the token-count scan; the normalizing sum is a single-row
    // sibling aggregate cross-joined back (broadcast), so nothing after
    // the first agg touches source rows. Shares are rounded to 9 dp
    // before the power fold so both engines raise identical doubles.
    Entry("q179_mix_weights",
      s"""WITH toks AS (SELECT doc_id, lang, ${Text.tokensSql} AS ws FROM documents),
        |n AS (SELECT lang, CAST(SUM(len(ws)) AS BIGINT) AS n_tok FROM toks GROUP BY 1),
        |tot AS (SELECT SUM(n_tok) AS t FROM n),
        |p AS (SELECT lang, n_tok, ROUND(CAST(n_tok AS DOUBLE) / (SELECT t FROM tot), 9) AS share FROM n),
        |q AS (SELECT lang, n_tok, share, pow(share, 0.5) AS q FROM p),
        |z AS (SELECT SUM(q) AS z FROM q)
        |SELECT lang, n_tok, share,
        |  ROUND(q / (SELECT z FROM z), 6) AS weight,
        |  CAST(ROUND(1000000 * q / (SELECT z FROM z), 0) AS BIGINT) AS alloc_tok,
        |  ROUND(1000000 * q / (SELECT z FROM z) / n_tok, 6) AS epochs
        |FROM q ORDER BY lang""".stripMargin) { (s, d) =>
      val n = TokenIndex.toks(s, d)
        .groupBy(col("lang")).agg(sum(size(col("ws"))).cast("bigint").as("n_tok"))
      val tot = n.agg(sum(col("n_tok")).as("t"))
      val q = n.crossJoin(broadcast(tot))
        .withColumn("share", round(col("n_tok").cast("double") / col("t"), 9))
        .withColumn("q", pow(col("share"), 0.5))
      val z = q.agg(sum(col("q")).as("z"))
      q.crossJoin(broadcast(z))
        .select(col("lang"), col("n_tok"), col("share"),
                round(col("q") / col("z"), 6).as("weight"),
                round(lit(1000000) * col("q") / col("z"), 0).cast("bigint").as("alloc_tok"),
                round(lit(1000000) * col("q") / col("z") / col("n_tok"), 6).as("epochs"))
        .orderBy(col("lang"))
    },

    // ---- exact token-budget apportionment (Hamilton largest remainder) ----
    // q179 publishes temperature weights and ROUNDS each language's
    // allocation independently — correct as a MIXING POLICY but the
    // rounded allocations don't sum to the budget, so a sampler fed them
    // over- or under-draws by up to langs/2 tokens. This entry is the
    // allocator a data-order job actually executes: the 1,000,000-token
    // budget split proportionally by exact integer arithmetic
    // (base = B*n//T, remainder-ranked bonus of +1 to the top
    // (B - SUM(base)) languages, ties by language ascending — Hamilton's
    // method, the one apportionment rule with no rounding drift), so
    // SUM(alloc_tok) == B exactly (pinned in ApportionSpec along with
    // quota monotonicity |alloc - quota| < 1).
    // Scale: one map-side-combinable corpus agg to O(langs) rows; all the
    // ranking (a single-partition window) runs on the O(langs) decision
    // table, never the corpus; B*n stays far under BIGINT at any corpus
    // size that fits a BIGINT token count.
    Entry("q258_budget_apportion",
      s"""WITH toks AS (SELECT doc_id, lang, ${Text.tokensSql} AS ws FROM documents),
        |n AS (SELECT lang, CAST(SUM(len(ws)) AS BIGINT) AS n_tok FROM toks GROUP BY 1),
        |tt AS (SELECT CAST(SUM(n_tok) AS BIGINT) AS t FROM n),
        |q AS (SELECT lang, n_tok,
        |        CAST((1000000 * n_tok) // t AS BIGINT) AS base_tok,
        |        CAST((1000000 * n_tok) % t AS BIGINT) AS rem
        |      FROM n CROSS JOIN tt),
        |lo AS (SELECT CAST(1000000 - SUM(base_tok) AS BIGINT) AS leftover FROM q),
        |r AS (SELECT lang, n_tok, base_tok, rem,
        |        ROW_NUMBER() OVER (ORDER BY rem DESC, lang) AS rk FROM q)
        |SELECT lang, n_tok, base_tok, rem,
        |  CAST(base_tok + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT) AS alloc_tok
        |FROM r CROSS JOIN lo ORDER BY lang""".stripMargin) { (s, d) =>
      hamiltonAlloc(
        TokenIndex.toks(s, d)
          .groupBy(col("lang")).agg(sum(size(col("ws"))).cast("bigint").as("n_tok")),
        "CAST(1000000 AS BIGINT)")
        .orderBy(col("lang"))
    },

    // ---- the sampler that EXECUTES the allocation (q258 ∘ q119) ----
    // q258 publishes how many tokens each language gets; q119 defines the
    // deterministic draw order. This entry composes them: apportion a
    // budget of one QUARTER of the corpus's tokens (scale-proportional,
    // so the cut is real at every sf — a fixed budget is vacuous the
    // moment the corpus outgrows it), then walk each language's docs in
    // q119's multiplicative-hash order until its allocation is exhausted.
    // The kept set is the actual training-mix draw: reproducible (pure
    // doc_id arithmetic), language-exact (Hamilton), and prefix-closed
    // per language (a budget increase only APPENDS docs). Same posture as
    // q119's cumulative window — the per-lang running sum is the one
    // corpus-keyed window, and the allocation joins back as a broadcast
    // O(langs) table.
    Entry("q259_apportioned_sample",
      s"""WITH toks AS (SELECT doc_id, lang, ${Text.tokensSql} AS ws FROM documents),
        |nt AS (SELECT doc_id, lang, CAST(len(ws) AS BIGINT) AS n_tok
        |       FROM toks WHERE len(ws) > 0),
        |n AS (SELECT lang, CAST(SUM(n_tok) AS BIGINT) AS n_lang FROM nt GROUP BY 1),
        |tt AS (SELECT CAST(SUM(n_lang) AS BIGINT) AS t FROM n),
        |q AS (SELECT lang, n_lang, t // 4 AS bud,
        |        CAST(((t // 4) * n_lang) // t AS BIGINT) AS base_tok,
        |        CAST(((t // 4) * n_lang) % t AS BIGINT) AS rem
        |      FROM n CROSS JOIN tt),
        |lo AS (SELECT CAST(MIN(bud) - SUM(base_tok) AS BIGINT) AS leftover FROM q),
        |r AS (SELECT lang, base_tok, rem,
        |        ROW_NUMBER() OVER (ORDER BY rem DESC, lang) AS rk FROM q),
        |al AS (SELECT lang,
        |         CAST(base_tok + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT) AS alloc_tok
        |       FROM r CROSS JOIN lo),
        |o AS (SELECT doc_id, lang, n_tok,
        |        (doc_id % 1000003) * 2654435761 % 1000000007 AS ord FROM nt),
        |c AS (SELECT doc_id, lang, n_tok,
        |        SUM(n_tok) OVER (PARTITION BY lang ORDER BY ord, doc_id) AS cum FROM o)
        |SELECT c.doc_id, c.lang, c.n_tok, CAST(c.cum AS BIGINT) AS cum_tok
        |FROM c JOIN al ON al.lang = c.lang
        |WHERE c.cum <= al.alloc_tok ORDER BY c.doc_id""".stripMargin) { (s, d) =>
      val nt = TokenIndex.toks(s, d)
        .select(col("doc_id"), col("lang"), size(col("ws")).cast("bigint").as("n_tok"))
        .filter(col("n_tok") > 0)
      val al = hamiltonAlloc(
        nt.groupBy(col("lang")).agg(sum(col("n_tok")).cast("bigint").as("n_tok")),
        "t div 4").select(col("lang"), col("alloc_tok"))
      perLangCumsum(
        nt.withColumn("ord", col("doc_id") % 1000003L * 2654435761L % 1000000007L))
        .join(broadcast(al), "lang")
        .filter(col("cum") <= col("alloc_tok"))
        .select(col("doc_id"), col("lang"), col("n_tok"),
                col("cum").cast("bigint").as("cum_tok"))
        .orderBy(col("doc_id"))
    },

    // PII redaction — the curation stage q163's blocklist doesn't cover:
    // structured identifiers (emails, phone numbers, IP addresses)
    // detected and masked by pattern, with per-doc counts for the
    // curation report. The fixture corpus carries no PII by design, so
    // the entry INJECTS deterministic synthetic PII first (a shared
    // doc_id-keyed fragment, both engines) — the patterns then have
    // real positives to find and the masked-text hash proves the
    // rewrite is byte-identical across engines. Patterns use only
    // character classes and bounded quantifiers (no lookaround, no
    // backrefs) so Java regex and DuckDB's RE2 agree by construction.
    // Scale: a pure map-only projection — counts and replacement are
    // codegen'd per-row regex ops, no shuffle, no join; at 100 TB this
    // is the cheapest stage in the pipeline and composes in front of
    // q154's curation report like any other per-doc signal.
    Entry.sql("q192_pii_redact",
      s"""WITH pii AS (SELECT doc_id, text ||
        |    CASE WHEN doc_id % 5 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END ||
        |    CASE WHEN doc_id % 7 = 0 THEN ' call 555-867-5309' ELSE '' END ||
        |    CASE WHEN doc_id % 11 = 0 THEN ' from 10.0.' || CAST(doc_id % 200 AS VARCHAR) || '.7' ELSE '' END AS t
        |  FROM documents),
        |red AS (SELECT doc_id,
        |    CAST(len(regexp_extract_all(t, '$piiEmailRe')) AS INT) AS n_emails,
        |    CAST(len(regexp_extract_all(t, '$piiPhoneRe')) AS INT) AS n_phones,
        |    CAST(len(regexp_extract_all(t, '$piiIpRe')) AS INT) AS n_ips,
        |    regexp_replace(regexp_replace(regexp_replace(t,
        |      '$piiEmailRe', '<EMAIL>', 'g'), '$piiPhoneRe', '<PHONE>', 'g'),
        |      '$piiIpRe', '<IP>', 'g') AS redacted
        |  FROM pii)
        |SELECT doc_id, n_emails, n_phones, n_ips,
        |  CAST(len(redacted) AS INT) AS redacted_len, md5(redacted) AS redacted_md5
        |FROM red ORDER BY doc_id""".stripMargin).sqlTwin(
      // structural gaps: Spark string literals process backslash escapes
      // (patterns need doubled backslashes), regexp_count replaces
      // len(regexp_extract_all), regexp_replace is global by default
      s"""WITH pii AS (SELECT doc_id, text ||
        |    CASE WHEN doc_id % 5 = 0 THEN ' contact user' || CAST(doc_id AS STRING) || '@example.com' ELSE '' END ||
        |    CASE WHEN doc_id % 7 = 0 THEN ' call 555-867-5309' ELSE '' END ||
        |    CASE WHEN doc_id % 11 = 0 THEN ' from 10.0.' || CAST(doc_id % 200 AS STRING) || '.7' ELSE '' END AS t
        |  FROM documents),
        |red AS (SELECT doc_id,
        |    CAST(regexp_count(t, '${piiEmailRe.replace("\\", "\\\\")}') AS INT) AS n_emails,
        |    CAST(regexp_count(t, '${piiPhoneRe.replace("\\", "\\\\")}') AS INT) AS n_phones,
        |    CAST(regexp_count(t, '${piiIpRe.replace("\\", "\\\\")}') AS INT) AS n_ips,
        |    regexp_replace(regexp_replace(regexp_replace(t,
        |      '${piiEmailRe.replace("\\", "\\\\")}', '<EMAIL>'),
        |      '${piiPhoneRe.replace("\\", "\\\\")}', '<PHONE>'),
        |      '${piiIpRe.replace("\\", "\\\\")}', '<IP>') AS redacted
        |  FROM pii)
        |SELECT doc_id, n_emails, n_phones, n_ips,
        |  CAST(length(redacted) AS INT) AS redacted_len, md5(redacted) AS redacted_md5
        |FROM red ORDER BY doc_id""".stripMargin),

    // ---- DSIR-style importance resampling (data selection) ----
    // Data Selection with Importance Resampling (Xie et al., NeurIPS
    // 2023): score every raw document by how much its hashed-n-gram
    // profile looks like a TARGET slice rather than the raw pool, then
    // keep the top-weight quarter. This is the *target-distribution*
    // selection step the pipeline's quality gates (q96/q234/q252) and
    // mixing allocation (q258/q259) don't cover: gates ask "is this doc
    // good?", DSIR asks "is this doc LIKE the data I want more of?".
    //
    // Determinism/oracle discipline: features are adjacent bigrams hashed
    // through the engine-wide token_hash kernel into B=64 buckets; the
    // target (lang='en' ∧ the q96 keep thresholds, spelled in exact
    // integer arithmetic: n_tok>=25 ∧ 100·n_stop>=3·n_tok) and raw bucket
    // counts are integers; each bucket's Laplace-smoothed log importance
    // ratio is quantized ONCE to integer micro-nats (FLOOR(1e6·ln), the
    // q244/q247 posture — the only float op, on an O(64)-row table), and
    // each doc's log-weight is then an integer SUM(c·λ) — order-
    // independent at any partitioning. Selection is top-(n//4) by weight
    // with ties broken in q91's multiplicative-hash order, so the draw
    // is replayable and prefix-stable. The selected set feeds q258's
    // apportioner exactly like the raw corpus (DsirSpec composes them).
    //
    // Scale: one map-side-combinable (doc_id, bucket) agg; both bucket
    // distributions are O(64) rows; λ broadcasts back; per-doc score is
    // one doc_id-keyed agg. The exact global rank is the oracle-replayable
    // boundary derivation and rides the O(docs) POST-AGG tier (q249's
    // adjudicated posture — a deployment takes the weight threshold from
    // a driver-side quantile sample and the window disappears).
    Entry("q262_dsir_select",
      s"""WITH $dsirCtesSql
        |SELECT r.doc_id, d.lang, r.n_bigrams, r.logw_unat
        |FROM rkd r JOIN documents d ON d.doc_id = r.doc_id
        |WHERE r.rk <= (SELECT k FROM kk)
        |ORDER BY r.doc_id""".stripMargin) { (s, d) =>
      dsirSelected(s, d)
        .select(col("doc_id"), col("lang"), col("n_bigrams"), col("logw_unat"))
        .orderBy(col("doc_id"))
    },

    // ---- the DSIR-curated training draw (q262 ∘ q258 ∘ q119) ----
    // The composition a data-order job actually executes: DSIR keeps the
    // top-quarter by target-importance (q262), Hamilton splits half of
    // the KEPT corpus's token mass across its languages exactly (q258's
    // method on the selected totals), and each language draws its
    // selected docs in q119's deterministic hash order until its
    // allocation is exhausted. The kept set is the training mix after
    // BOTH curation moves: importance-selected AND language-balanced —
    // reproducible end-to-end from pure integer arithmetic, so the hash
    // pins the full select→apportion→draw pipeline, not each stage in
    // isolation. Budget is scale-proportional (half the selected tokens),
    // so the cut is real at every sf (q259's vacuity lesson).
    // Scale: q262's plan + one lang agg on the O(selected) rows + the
    // per-lang cumulative window + the broadcast O(langs) allocation —
    // exactly q259's economics over the selected subset.
    Entry("q266_dsir_resample",
      s"""WITH $dsirCtesSql,
        |sel AS (SELECT doc_id FROM rkd WHERE rk <= (SELECT k FROM kk)),
        |nt AS (SELECT t.doc_id, d.lang, CAST(len(t.ws) AS BIGINT) AS n_tok
        |       FROM toks t JOIN documents d ON d.doc_id = t.doc_id
        |       JOIN sel s ON s.doc_id = t.doc_id),
        |nl AS (SELECT lang, CAST(SUM(n_tok) AS BIGINT) AS n_lang FROM nt GROUP BY 1),
        |tb AS (SELECT CAST(SUM(n_lang) AS BIGINT) AS t FROM nl),
        |qa AS (SELECT lang, n_lang, t // 2 AS bud,
        |         CAST(((t // 2) * n_lang) // t AS BIGINT) AS base_tok,
        |         CAST(((t // 2) * n_lang) % t AS BIGINT) AS rem
        |       FROM nl CROSS JOIN tb),
        |lo AS (SELECT CAST(MIN(bud) - SUM(base_tok) AS BIGINT) AS leftover FROM qa),
        |ra AS (SELECT lang, base_tok, rem,
        |         ROW_NUMBER() OVER (ORDER BY rem DESC, lang) AS rk FROM qa),
        |al AS (SELECT lang,
        |         CAST(base_tok + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT) AS alloc_tok
        |       FROM ra CROSS JOIN lo),
        |oo AS (SELECT doc_id, lang, n_tok,
        |         (doc_id % 1000003) * 2654435761 % 1000000007 AS ord FROM nt),
        |cc AS (SELECT doc_id, lang, n_tok,
        |         SUM(n_tok) OVER (PARTITION BY lang ORDER BY ord, doc_id) AS cum FROM oo)
        |SELECT cc.doc_id, cc.lang, cc.n_tok, CAST(cc.cum AS BIGINT) AS cum_tok
        |FROM cc JOIN al ON al.lang = cc.lang
        |WHERE cc.cum <= al.alloc_tok ORDER BY cc.doc_id""".stripMargin) { (s, d) =>
      // materialized: `nt` feeds the language totals (allocation) AND the
      // per-lang cumulative draw — without it the whole DSIR selection
      // chain above it runs twice (it is the draw's input).
      // O(selected docs) rows of (id, lang, count).
      val nt = Staging.materialize(TokenIndex.toks(s, d)
        .join(dsirSelected(s, d).select(col("doc_id")), "doc_id")
        .select(col("doc_id"), col("lang"), size(col("ws")).cast("bigint").as("n_tok")))
      val al = hamiltonAlloc(
        nt.groupBy(col("lang")).agg(sum(col("n_tok")).cast("bigint").as("n_tok")),
        "t div 2").select(col("lang"), col("alloc_tok"))
      perLangCumsum(
        nt.withColumn("ord", col("doc_id") % 1000003L * 2654435761L % 1000000007L))
        .join(broadcast(al), "lang")
        .filter(col("cum") <= col("alloc_tok"))
        .select(col("doc_id"), col("lang"), col("n_tok"),
                col("cum").cast("bigint").as("cum_tok"))
        .orderBy(col("doc_id"))
    },

    // ---- decontamination by EXCISION (the q256 edit on q254's signal) ----
    // q254 audits benchmark overlap and q261 gates arrivals — both DROP
    // whole documents. The surgical alternative a pipeline prefers for
    // long documents quoting a short eval passage is the Lee et al. edit
    // applied to CONTAMINATED SPANS: every 16-token window that appears
    // verbatim in the benchmark slice (doc_id % 97 = 0, q254's set) is
    // marked in every non-benchmark doc, marked positions union and
    // collapse into contiguous islands (the q256 machinery), and the
    // report is the per-doc excision ledger. The fixture's natural
    // cross-slice window overlap is zero at sf0.01 (measured), so
    // contamination is FABRICATED deterministically (the q255/q192
    // pattern): docs with doc_id % 7 = 3 append the canonical benchmark
    // span — the first 16 tokens of the smallest benchmark doc long
    // enough to carry one full window — so the scrubber has planted
    // ground truth to find at every scale, plus whatever natural overlap
    // exists (127 windows at sf0.1); the oracle replays fabrication and
    // excision in one chain.
    // Scale: the benchmark window set is eval-suite-sized at ANY corpus
    // scale (q254's argument) so it BROADCASTS onto the map-only window
    // stream — the marking costs zero corpus-keyed exchanges; the island
    // step is doc-keyed over marked positions only (the contaminated
    // tail, not the corpus).
    // Parity contract: the DataFrame path marks by 128-bit (h1, h2)
    // window fingerprints while the oracle compares full window strings —
    // the declared q146/q256 posture (the string bytes never ride an
    // exchange); a 2^-64-scale fingerprint collision would diverge the
    // entry from its oracle, accepted by design and stated here so the
    // assumption is explicit (r16 advice).
    Entry("q267_decontam_scrub",
      s"""WITH t0 AS (SELECT doc_id, ${Text.tokensSql} AS ws FROM documents),
        |sp AS (SELECT list_slice(ws, 1, 16) AS spn FROM t0
        |       WHERE doc_id % 97 = 0 AND len(ws) >= 16 ORDER BY doc_id LIMIT 1),
        |toks AS (SELECT doc_id,
        |           CASE WHEN doc_id % 7 = 3 AND doc_id % 97 <> 0
        |                THEN list_concat(ws, spn) ELSE ws END AS ws
        |         FROM t0 CROSS JOIN sp),
        |$winCtesSql,
        |bw AS (SELECT DISTINCT win FROM wins WHERE doc_id % 97 = 0),
        |mk AS (SELECT w.doc_id, w.start FROM wins w JOIN bw b ON b.win = w.win
        |       WHERE w.doc_id % 97 <> 0),
        |cv AS (SELECT DISTINCT doc_id, pos
        |       FROM (SELECT doc_id, unnest(range(start, start + 16)) AS pos FROM mk)),
        |il AS (SELECT doc_id,
        |         pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS g
        |       FROM cv),
        |pd AS (SELECT doc_id, COUNT(*) AS n_rm, COUNT(DISTINCT g) AS n_spans
        |       FROM il GROUP BY 1)
        |SELECT t.doc_id, CAST(len(t.ws) AS BIGINT) AS n_tok,
        |       CAST(COALESCE(pd.n_rm, 0) AS BIGINT) AS n_removed,
        |       CAST(COALESCE(pd.n_spans, 0) AS BIGINT) AS n_spans,
        |       CAST(len(t.ws) - COALESCE(pd.n_rm, 0) AS BIGINT) AS n_kept
        |FROM toks t LEFT JOIN pd ON pd.doc_id = t.doc_id
        |WHERE t.doc_id % 97 <> 0 AND len(t.ws) > 0 ORDER BY t.doc_id""".stripMargin) { (s, d) =>
      val t0 = TokenIndex.toks(s, d).select(col("doc_id"), col("ws"))
      // the planted span: a bounded 16-token driver scalar, mirrored by
      // the oracle's 1-row sp CTE (fails loudly if no benchmark doc can
      // carry a full window — impossible on the 10-99-word fixture)
      val spanRows = t0
        .filter(col("doc_id") % 97 === 0 && size(col("ws")) >= 16)
        .orderBy(col("doc_id")).limit(1)
        .select(slice(col("ws"), 1, 16)).collect()
      require(spanRows.nonEmpty,
        "q267: no benchmark doc (doc_id % 97 = 0) carries a full 16-token window — " +
        "the oracle's sp CTE would go empty and the fabrication is vacuous")
      val span: Seq[String] = spanRows(0).getSeq[String](0).toIndexedSeq
      val toks = t0.select(col("doc_id"),
        when(col("doc_id") % 7 === 3 && col("doc_id") % 97 =!= 0,
          concat(col("ws"), typedLit(span))).otherwise(col("ws")).as("ws"))
      val wf = winFingerprintsOf(toks)
      val bw = wf.filter(col("doc_id") % 97 === 0)
        .select(col("h1"), col("h2")).distinct()
      val mk = wf.filter(col("doc_id") % 97 =!= 0)
        .join(broadcast(bw), Seq("h1", "h2"))
        .select(col("doc_id"), col("start"))
      val cv = mk.select(col("doc_id"),
          explode(sequence(col("start"), col("start") + 15)).as("pos"))
        .distinct()
      val il = cv.withColumn("g",
        col("pos") - row_number().over(
          Window.partitionBy(col("doc_id")).orderBy(col("pos"))))
      val pd = il.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_rm"), countDistinct(col("g")).as("n_spans"))
      toks.filter(col("doc_id") % 97 =!= 0 && size(col("ws")) > 0)
        .select(col("doc_id"), size(col("ws")).cast("bigint").as("n_tok"))
        .join(pd, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_tok"),
                coalesce(col("n_rm"), lit(0L)).cast("bigint").as("n_removed"),
                coalesce(col("n_spans"), lit(0L)).cast("bigint").as("n_spans"),
                (col("n_tok") - coalesce(col("n_rm"), lit(0L))).cast("bigint").as("n_kept"))
        .orderBy(col("doc_id"))
    }.sqlTwin(
      // structural gaps: list_slice/list_concat/range spellings + the
      // end-exclusive range (see winCtesSparkSql)
      s"""WITH t0 AS (SELECT doc_id, ${Dialect.tokensSparkSql} AS ws FROM documents),
        |sp AS (SELECT slice(ws, 1, 16) AS spn FROM t0
        |       WHERE doc_id % 97 = 0 AND size(ws) >= 16 ORDER BY doc_id LIMIT 1),
        |toks AS (SELECT doc_id,
        |           CASE WHEN doc_id % 7 = 3 AND doc_id % 97 <> 0
        |                THEN concat(ws, spn) ELSE ws END AS ws
        |         FROM t0 CROSS JOIN sp),
        |$winCtesSparkSql,
        |bw AS (SELECT DISTINCT win FROM wins WHERE doc_id % 97 = 0),
        |mk AS (SELECT w.doc_id, w.start FROM wins w JOIN bw b ON b.win = w.win
        |       WHERE w.doc_id % 97 <> 0),
        |cv AS (SELECT DISTINCT doc_id, pos
        |       FROM (SELECT doc_id, explode(sequence(start, start + 15)) AS pos FROM mk)),
        |il AS (SELECT doc_id,
        |         pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS g
        |       FROM cv),
        |pd AS (SELECT doc_id, COUNT(*) AS n_rm, COUNT(DISTINCT g) AS n_spans
        |       FROM il GROUP BY 1)
        |SELECT t.doc_id, CAST(size(t.ws) AS BIGINT) AS n_tok,
        |       CAST(COALESCE(pd.n_rm, 0) AS BIGINT) AS n_removed,
        |       CAST(COALESCE(pd.n_spans, 0) AS BIGINT) AS n_spans,
        |       CAST(size(t.ws) - COALESCE(pd.n_rm, 0) AS BIGINT) AS n_kept
        |FROM toks t LEFT JOIN pd ON pd.doc_id = t.doc_id
        |WHERE t.doc_id % 97 <> 0 AND size(t.ws) > 0 ORDER BY t.doc_id""".stripMargin),

    // ---- quality-aware canonical selection (q90 ∘ q234) ----
    // q90 keeps each near-dup cluster's SMALLEST doc_id — the right
    // deterministic default when members are interchangeable, but a
    // curation pipeline keeps the BEST member (the FineWeb/CCNet keeper
    // rule: among near-duplicates, retain the highest-quality copy — the
    // cleanest extraction of a template page, not the first-crawled one).
    // This entry publishes the keep/drop decision: every doc with its
    // cluster (singletons are their own), its q234 quality score, and
    // the keeper flag — argmax score per cluster, ties by doc_id. The
    // keeper genuinely diverges from min-id on 2/3/29 multi-doc clusters
    // at sf0.001/0.01/0.1 (measured before pinning), so the hash pins
    // the quality rule, not a re-spelling of q90.
    // Scale: q90's clustering economics (the edge set moves, never the
    // corpus) + q234's scoring economics (the O(50)-row posterior table
    // folds back as literals — scoring is map-only) + one doc_id-keyed
    // left join and a per-cluster rank window (cluster sizes are bounded
    // by true duplication).
    Entry("q268_quality_keeper",
      s"""WITH RECURSIVE $pairCtes,
        |${QualityModel.chain(duck = true)},
        |$closureCtesSql,
        |$keeperTailSql""".stripMargin) { (s, d) =>
      val sh = TokenIndex.shingles3(s, d)
      val inter = sh.as("x").join(sh.as("y"),
          col("x.h") === col("y.h") && col("x.doc_id") < col("y.doc_id"))
        .groupBy(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
        .agg(count(lit(1)).as("inter"))
      val cl = clusterPairs(
        Text.jaccardScored(sh, inter, 0.2).select(col("doc_a"), col("doc_b")))
      keeperFrame(s, d, cl)
    }.sqlTwin(
      Dialect.duckToSpark(s"""WITH $pairCtes,
        |${QualityModel.chain(duck = false)},
        |${clusterLevelCtes(6)},
        |cl AS (SELECT id AS doc_id, CAST(lbl AS BIGINT) AS cluster FROM l6),
        |$keeperTailSql""".stripMargin)),

    // ---- the keeper rule on the LSH tier (q272, VERDICT r16 #4) ----
    // q268's declared entry derives its clusters from the exact
    // shared-shingle pair tier; at 100 TB the SAME keeper runs over
    // q90_lsh's banded clusters (the scale path — banded LSH candidates,
    // exact-verified at the same Jaccard 0.2 gate, so the LSH edge set is
    // a SUBSET of the exact edge set and every LSH cluster sits inside
    // one exact cluster). Bench-only by the q90_lsh rationale (xxhash64
    // band buckets are engine-specific); KeeperLshSpec pins the parity
    // contract in q148's precision/recall posture: the LSH-tier DROP set
    // is a subset of the exact tier's (precision 1.0 — structural: a
    // dropped doc lost its sub-cluster argmax, and the winner is still
    // present in the enclosing exact cluster) with recall >= the pinned
    // bound, and every kept doc is its own cluster's argmax.
    Entry.benchOnly("q272_quality_keeper_lsh") { (s, d) =>
      val cl = clusterPairs(
        Text.minhashNearDups(s, d).select(col("doc_a"), col("doc_b")))
      keeperFrame(s, d, cl)
    }
  )

  /** q268's Spark-side keeper tail — q234 quality scores (literal-fold,
    * map-only), cluster attach (singletons self-labeled), per-cluster
    * (score DESC, doc_id) argmax — ONE copy consumed by both cluster
    * tiers (exact q268 / LSH q272) so the keeper rule cannot drift
    * between them. `g` is read by the training collect and the returned
    * plan, so it is materialized (as Funnel.reportV2). */
  private def keeperFrame(s: SparkSession, d: String, cl: DataFrame): DataFrame = {
    val g = Staging.materialize(QualityModel.bucketFrame(T(s, d, "documents")))
    val m1 = QualityModel.trainPosteriors(g, "label")
    keeperTail(g.select(col("doc_id"), QualityModel.scoreCol(m1).as("score")), cl)
  }

  /** The keeper RULE alone — cluster attach (singletons self-labeled) +
    * per-cluster (score DESC, doc_id) argmax — over externally-supplied
    * per-doc scores; [[keeperFrame]] feeds it freshly-trained scores,
    * q277 (Streams) feeds it the STAGED gate-model fold. UNSORTED: the
    * presentation entries append the doc_id sort; q279 consumes these
    * rows under a join + rollup, where a global sort would be a wasted
    * range exchange at corpus scale. */
  private[graft] def keeperVerdicts(scored: DataFrame, cl: DataFrame): DataFrame =
    scored
      .join(cl.withColumnRenamed("doc_id", "cid"),
        col("doc_id") === col("cid"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster"), col("doc_id")).as("cluster"), col("score"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("cluster")).orderBy(col("score").desc, col("doc_id"))))
      .select(col("doc_id"), col("cluster").cast("bigint").as("cluster"),
        col("score").cast("bigint").as("score"),
        when(col("rk") === 1, 1L).otherwise(0L).as("keeper"))

  /** [[keeperVerdicts]] in presentation order — the declared keeper
    * entries' output shape. */
  private[graft] def keeperTail(scored: DataFrame, cl: DataFrame): DataFrame =
    keeperVerdicts(scored, cl).orderBy(col("doc_id"))

  /** q268's closure→score→keeper tail — consumes `cl` (doc_id, cluster
    * over edge docs) and the q234 chain's `sc` (doc_id, label, score);
    * ONE copy shared by the oracle (recursive closure) and the Spark
    * twin (unrolled closure), so the keeper rule cannot drift between
    * the two cluster derivations. */
  private def keeperTailSql: String =
    s"""$keeperCtesSql
      |SELECT doc_id, CAST(cluster AS BIGINT) AS cluster, CAST(score AS BIGINT) AS score,
      |  CAST(CASE WHEN rk = 1 THEN 1 ELSE 0 END AS BIGINT) AS keeper
      |FROM rkq ORDER BY doc_id""".stripMargin

  /** The DuckDB recursive min-label closure (`r`, `cl` over `edges`) —
    * ONE copy shared by q268's oracle and q279's shipped-corpus oracle.
    * The consuming WITH must carry the RECURSIVE keyword. (A def: see
    * [[keeperCtesSql]].) */
  private[graft] def closureCtesSql: String =
    """r(s, t) AS (SELECT s, t FROM edges
      |            UNION SELECT r.s, e.t FROM r JOIN edges e ON e.s = r.t),
      |cl AS (SELECT s AS doc_id, CAST(LEAST(s, MIN(t)) AS BIGINT) AS cluster
      |       FROM r GROUP BY s)""".stripMargin

  /** The keeper CTEs alone (`asg`, `rkq` over `cl` + `sc`) — the piece
    * q279's shipped-corpus oracle mounts inside a larger chain. (A def:
    * `entries` above initializes first and would read a null val
    * declared below — the dsirStop lesson.) */
  private[graft] def keeperCtesSql: String =
    """asg AS (SELECT sc.doc_id, COALESCE(cl.cluster, sc.doc_id) AS cluster, sc.score
      |        FROM sc LEFT JOIN cl ON cl.doc_id = sc.doc_id),
      |rkq AS (SELECT doc_id, cluster, score,
      |          ROW_NUMBER() OVER (PARTITION BY cluster ORDER BY score DESC, doc_id) AS rk
      |        FROM asg)""".stripMargin

  /** q262's target-slice stopword list — the q96 rule set (a def: `entries`
    * above initializes first and would read a null val declared below). */
  private def dsirStop: Seq[String] = Seq("the", "a", "of", "and", "to", "is", "in")

  /** The q262 DSIR chain CTEs (features → smoothed log-ratios → scores →
    * selection rank) — ONE copy shared by the selection entry (q262) and
    * the curated draw (q266); dialect-shared, so both twins derive via
    * the rename bridge. Consume `rkd` (ranked scores), `kk` (the top-k
    * threshold) and `toks` (from the spliced words CTEs). */
  private def dsirCtesSql: String =
    s"""${Text.wordsCtesSql},
      |${Text.bigramCteSql},
      |bgs AS (SELECT doc_id, w1 || ' ' || w2 AS w FROM bg),
      |feat AS (SELECT doc_id, (${Text.tokenHashSql}) % 64 AS b, COUNT(*) AS c
      |         FROM bgs GROUP BY 1, 2),
      |tgt AS (SELECT t.doc_id FROM toks t JOIN documents d ON d.doc_id = t.doc_id
      |        WHERE d.lang = 'en' AND len(t.ws) >= 25
      |          AND 100 * len(list_filter(t.ws, w -> w IN ('the', 'a', 'of', 'and', 'to', 'is', 'in'))) >= 3 * len(t.ws)),
      |qd AS (SELECT b, CAST(SUM(c) AS BIGINT) AS qc FROM feat GROUP BY 1),
      |pd AS (SELECT b, CAST(SUM(c) AS BIGINT) AS pc
      |       FROM feat JOIN tgt USING (doc_id) GROUP BY 1),
      |qt AS (SELECT CAST(SUM(qc) AS BIGINT) AS qt FROM qd),
      |pt AS (SELECT CAST(COALESCE(SUM(pc), 0) AS BIGINT) AS pt FROM pd),
      |lam AS (SELECT qd.b,
      |          CAST(FLOOR(1000000 * ln(((COALESCE(pd.pc, 0) + 1.0e0) * (qt + 64.0e0)) /
      |                                  ((qd.qc + 1.0e0) * (pt + 64.0e0)))) AS BIGINT) AS lam
      |        FROM qd LEFT JOIN pd ON pd.b = qd.b CROSS JOIN qt CROSS JOIN pt),
      |score AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bigrams,
      |                 CAST(SUM(c * lam) AS BIGINT) AS logw_unat
      |          FROM feat JOIN lam USING (b) GROUP BY 1),
      |kk AS (SELECT COUNT(*) // 4 AS k FROM score),
      |rkd AS (SELECT doc_id, n_bigrams, logw_unat,
      |          ROW_NUMBER() OVER (ORDER BY logw_unat DESC,
      |            (doc_id % 1000003) * 2654435761 % 1000000007, doc_id) AS rk
      |        FROM score)""".stripMargin

  /** DataFrame twin of [[dsirCtesSql]]'s selection: the top-quarter of
    * the corpus by smoothed hashed-bigram importance weight, with lang
    * attached — shared by q262 (the published selection) and q266 (the
    * draw that consumes it). */
  private def dsirSelected(s: SparkSession, d: String): DataFrame = {
    // materialized: `feat` is consumed THREE times (raw bucket rollup qd,
    // target rollup pd, per-doc score) — without it each consumer re-runs
    // the corpus-wide bigram explode + hash + (doc_id, b) agg, the most
    // expensive stage of the whole DSIR chain (the two joins' inferred
    // not-null filters push below the agg, so exchange reuse would not
    // share it). O(docs x 64) rows, hashed-bucket profile only — never
    // the bigrams themselves.
    val feat = Staging.materialize(Text.bigramPairs(s, d)
      .select(col("doc_id"),
        (graft.functions.vec.tokenHash(
          concat(col("w1"), lit(" "), col("w2"))) % 64).as("b"))
      .groupBy(col("doc_id"), col("b")).agg(count(lit(1)).as("c")))
    val tgt = TokenIndex.toks(s, d)
      .filter(col("lang") === "en" && size(col("ws")) >= 25 &&
        size(filter(col("ws"), w => w.isin(dsirStop: _*))) * 100 >= size(col("ws")) * 3)
      .select(col("doc_id"))
    val qd = feat.groupBy(col("b")).agg(sum(col("c")).cast("bigint").as("qc"))
    val pd = feat.join(tgt, "doc_id")
      .groupBy(col("b")).agg(sum(col("c")).cast("bigint").as("pc"))
    val qt = qd.agg(sum(col("qc")).cast("bigint").as("qt"))
    val pt = pd.agg(coalesce(sum(col("pc")), lit(0L)).cast("bigint").as("pt"))
    // one float op per BUCKET (64 rows), expression text identical to
    // the oracle so the doubles entering ln are bit-equal on both sides
    val lam = qd.join(broadcast(pd), Seq("b"), "left")
      .crossJoin(broadcast(qt)).crossJoin(broadcast(pt))
      .select(col("b"),
        expr("CAST(FLOOR(1000000 * ln(((COALESCE(pc, 0) + 1.0e0) * (qt + 64.0e0)) / " +
             "((qc + 1.0e0) * (pt + 64.0e0)))) AS BIGINT)").as("lam"))
    // consumed by the rank window AND the k-threshold count; each re-reads
    // the materialized feat, an O(docs x 64) scan
    val score = feat.join(broadcast(lam), "b")
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).cast("bigint").as("n_bigrams"),
           sum(col("c") * col("lam")).cast("bigint").as("logw_unat"))
    val kk = score.agg(expr("COUNT(*) div 4").as("k"))
    score
      .withColumn("ord", col("doc_id") % 1000003L * 2654435761L % 1000000007L)
      .withColumn("rk", row_number().over(
        Window.orderBy(col("logw_unat").desc, col("ord"), col("doc_id"))))
      .crossJoin(broadcast(kk)).filter(col("rk") <= col("k"))
      .join(Tables(s, d, "documents").select(col("doc_id"), col("lang")), "doc_id")
      .select(col("doc_id"), col("lang"), col("n_bigrams"), col("logw_unat"))
  }

  /** q192's PII patterns — character classes + bounded quantifiers only,
    * so Java regex (Spark) and RE2 (DuckDB) agree by construction.
    * (defs, not vals: `entries` above initializes first and would read
    * null vals declared below it.) */
  private def piiEmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private def piiPhoneRe = "555-[0-9]{3}-[0-9]{4}"
  private def piiIpRe = "10\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"

  /** The C4-style blocked-term dictionary (terms chosen to exist in the
    * synthetic corpus so the filter exercises both branches; a deployment
    * swaps in its real list — the shape is list-size-independent since
    * membership is a broadcast-local predicate). Threshold: >= 9 hits
    * drops the doc (~17% of the sf0.01 corpus), fewer redacts in place.
    * def, not val: referenced from `entries`' initializer above, which
    * runs before this line in object-init order. */
  private def blocklist = Seq("slow", "merge", "spark")
  private def blocklistDropAt = 9

  // def, not val: referenced from `entries`' initializer above — a val
  // would still be 0 (JVM default) at that point in the object init order
  private def bpeRounds = 4

  /** One BPE round over the segmented vocab `s{r-1}` -> `s{r}`:
    * adjacent-pair weighted counts, the argmax rule `b{r}`, and the
    * re-segmentation. The fold builds a unit-separator-delimited string —
    * a merge fires only when the accumulator's WHOLE last symbol equals
    * the rule's left side (the separator prefix makes the suffix test
    * exact), which is what keeps 'xa b' from merging under rule (a, b). */
  private def bpeRoundDuck(r: Int): String = {
    val p = s"s${r - 1}"
    s"""p$r AS (SELECT a, b, SUM(f) AS cnt FROM (
       |    SELECT f, unnest(list_slice(s, 1, len(s) - 1)) AS a,
       |           unnest(list_slice(s, 2, len(s))) AS b
       |    FROM $p WHERE len(s) >= 2) GROUP BY 1, 2),
       |b$r AS (SELECT a, b, cnt FROM p$r ORDER BY cnt DESC, a, b LIMIT 1),
       |s$r AS (SELECT w, f,
       |    list_filter(string_split(list_reduce(list_prepend('', s),
       |      (acc, x) -> CASE WHEN ends_with(acc, chr(31) || b$r.a) AND x = b$r.b
       |                  THEN acc || b$r.b ELSE acc || chr(31) || x END), chr(31)),
       |      t -> t <> '') AS s
       |    FROM $p CROSS JOIN b$r)""".stripMargin
  }

  private def bpeRoundSpark(r: Int): String = {
    val p = s"s${r - 1}"
    s"""p$r AS (SELECT p.a AS a, p.b AS b, SUM(f) AS cnt FROM (
       |    SELECT f, explode(transform(sequence(1, size(s) - 1),
       |      i -> struct(element_at(s, i) AS a, element_at(s, i + 1) AS b))) AS p
       |    FROM $p WHERE size(s) >= 2) GROUP BY 1, 2),
       |b$r AS (SELECT a, b, cnt FROM p$r ORDER BY cnt DESC, a, b LIMIT 1),
       |s$r AS (SELECT w, f,
       |    filter(split(aggregate(s, '',
       |      (acc, x) -> CASE WHEN endswith(acc, concat(char(31), b$r.a)) AND x = b$r.b
       |                  THEN concat(acc, b$r.b) ELSE concat(acc, char(31), x) END),
       |      char(31)), t -> t <> '') AS s
       |    FROM $p CROSS JOIN b$r)""".stripMargin
  }

  /** The shared learn-chain CTEs (toks .. s{bpeRounds}), DuckDB dialect:
    * both the q161 oracle and the q162 oracle replay the identical
    * derivation, so the two entries can never drift apart. */
  private def bpeChainDuck: String =
    s"""toks AS (SELECT doc_id, ${Text.tokensSql} AS ws FROM documents),
       |words AS (SELECT doc_id, unnest(ws) AS w FROM toks),
       |wf AS (SELECT w, COUNT(*) AS f FROM words GROUP BY 1),
       |s0 AS (SELECT w, f, string_split(w, '') AS s FROM wf),
       |${(1 to bpeRounds).map(bpeRoundDuck).mkString(",\n")}""".stripMargin

  private def bpeChainSpark: String =
    s"""toks AS (SELECT doc_id,
       |    filter(split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ')), ' '),
       |           w -> w <> '') AS ws FROM documents),
       |words AS (SELECT doc_id, explode(ws) AS w FROM toks),
       |wf AS (SELECT w, COUNT(*) AS f FROM words GROUP BY 1),
       |s0 AS (SELECT w, f, filter(split(w, ''), t -> t <> '') AS s FROM wf),
       |${(1 to bpeRounds).map(bpeRoundSpark).mkString(",\n")}""".stripMargin

  private def bpeOracleSql: String =
    s"""WITH $bpeChainDuck
       |${(1 to bpeRounds).map(r =>
           s"SELECT CAST($r AS INT) AS rnk, a AS left_sym, b AS right_sym, " +
           s"a || b AS merged, CAST(cnt AS BIGINT) AS cnt FROM b$r")
         .mkString("\n UNION ALL ")}
       | ORDER BY rnk""".stripMargin

  private def bpeTwinSql: String =
    s"""WITH $bpeChainSpark
       |${(1 to bpeRounds).map(r =>
           s"SELECT CAST($r AS INT) AS rnk, a AS left_sym, b AS right_sym, " +
           s"concat(a, b) AS merged, cnt FROM b$r")
         .mkString("\n UNION ALL ")}
       | ORDER BY rnk""".stripMargin

  private def bpeEncodeOracleSql: String =
    s"""WITH $bpeChainDuck
       |SELECT d.doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
       |       CAST(SUM(len(f.s)) AS BIGINT) AS n_bpe
       |FROM words d JOIN s$bpeRounds f ON d.w = f.w
       |GROUP BY 1 ORDER BY 1""".stripMargin

  private def bpeEncodeTwinSql: String =
    s"""WITH $bpeChainSpark
       |SELECT d.doc_id, COUNT(*) AS n_words, SUM(size(f.s)) AS n_bpe
       |FROM words d JOIN s$bpeRounds f ON d.w = f.w
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** The greedy leftmost merge of rule (a, b) applied to array column `c`,
    * as a Spark SQL expr string. Lambda names are suffixed with `i` so
    * chained applications stay collision-free however Catalyst collapses
    * the projections. Symbols are [a-z0-9]+ by the analyzer, safe to
    * inline as literals. */
  private[text] def bpeFold(c: String, a: String, b: String, i: Int): String =
    s"filter(split(aggregate($c, '', (acc$i, x$i) -> " +
      s"CASE WHEN endswith(acc$i, concat(char(31), '$a')) AND x$i = '$b' " +
      s"THEN concat(acc$i, '$b') ELSE concat(acc$i, char(31), x$i) END), " +
      s"char(31)), t$i -> t$i <> '')"

  /** The learned merge table, memoized per corpus dir: q161 measures the
    * training and (re)fills the cache; q162 consumes the artifact — the
    * deployment shape, where the tokenizer trains offline once and ships
    * with every encode job. Deterministic (argmax ties broken by
    * (cnt DESC, a, b)), so train-fresh and cached agree. */
  private val bpeRulesCache =
    scala.collection.concurrent.TrieMap.empty[String, Seq[(Int, String, String, String, Long)]]

  private def bpeRules(s: SparkSession, d: String): Seq[(Int, String, String, String, Long)] =
    bpeRulesCache.getOrElseUpdate(d, bpeLearn(s, d))

  /** The training loop. Driver state is k 1-row rules; everything
    * corpus- or vocab-sized stays distributed. */
  private def bpeLearn(s: SparkSession, d: String): Seq[(Int, String, String, String, Long)] = {
    val wf = TokenIndex.words(s, d).groupBy(col("w")).agg(count(lit(1)).as("f"))
    var syms = Staging.materialize(wf.select(col("w"), col("f"),
      expr("filter(split(w, ''), t -> t <> '')").as("s")))
    val rules = Seq.newBuilder[(Int, String, String, String, Long)]
    for (r <- 1 to bpeRounds) {
      val pairs = syms.filter(size(col("s")) >= 2)
        .select(col("f"), explode(expr(
          "transform(sequence(1, size(s) - 1), " +
            "i -> struct(element_at(s, i) AS a, element_at(s, i + 1) AS b))")).as("p"))
        .select(col("f"), col("p.a").as("a"), col("p.b").as("b"))
        .groupBy(col("a"), col("b")).agg(sum(col("f")).as("cnt"))
      val best = pairs.orderBy(col("cnt").desc, col("a"), col("b")).limit(1).head()
      val (a, b, cnt) = (best.getString(0), best.getString(1), best.getLong(2))
      rules += ((r, a, b, a + b, cnt))
      val prev = syms
      if (r < bpeRounds)
        syms = Staging.materialize(syms.withColumn("s", expr(bpeFold("s", a, b, r))))
      Staging.release(prev)
    }
    rules.result()
  }

  /** q161's implementation: train (the measured job), refresh the
    * artifact cache, surface the merge table. */
  private def bpeMerges(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val rules = bpeLearn(s, d)
    bpeRulesCache.put(d, rules)
    rules.toDF("rnk", "left_sym", "right_sym", "merged", "cnt")
      .orderBy(col("rnk"))
  }

  /** q162's implementation: apply the k merge rules in rank order to the
    * distinct vocab (O(|V| * k) fold work), then charge the corpus only a
    * (word -> token count) equi-join + per-doc sum. The join side is the
    * vocab aggregate, small enough for Spark's auto-broadcast / AQE to
    * localize at this scale; at a 100M-row vocab it degrades to a plain
    * shuffle join on `w`, still never corpus-quadratic. */
  private def bpeEncode(s: SparkSession, d: String): DataFrame = {
    val rules = bpeRules(s, d)
    var vocab = TokenIndex.words(s, d).groupBy(col("w")).agg(count(lit(1)).as("f"))
      .select(col("w"), expr("filter(split(w, ''), t -> t <> '')").as("s"))
    for (((_, a, b, _, _), i) <- rules.zipWithIndex)
      vocab = vocab.withColumn("s", expr(bpeFold("s", a, b, i)))
    val lens = vocab.select(col("w"), size(col("s")).as("n"))
    TokenIndex.words(s, d).join(lens, "w")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"), sum(col("n")).cast("long").as("n_bpe"))
      .orderBy(col("doc_id"))
  }

  /** q163's implementation — see the entry scaladoc for the shape. */
  private def blocklistScrub(s: SparkSession, d: String): DataFrame = {
    val pat = "\\b(" + blocklist.mkString("|") + ")\\b"
    val hits = TokenIndex.words(s, d)
      .filter(col("w").isin(blocklist: _*))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val n = coalesce(col("n"), lit(0L))
    T(s, d, "documents").join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"), n.cast("int").as("n_hits"),
        when(n >= blocklistDropAt, "drop").otherwise("keep").as("action"),
        when(n >= blocklistDropAt, lit(null).cast("string"))
          .otherwise(md5(regexp_replace(col("text"), lit(pat), lit("[#]"))))
          .as("redacted_md5"))
      .orderBy(col("doc_id"))
  }

  /** q154's implementation — the five drop rules joined to the corpus
    * spine (see the entry's scaladoc above for the rule provenance). */
  private def curationReport(s: SparkSession, d: String): DataFrame = {
      // spine + quality: per-row arithmetic off the staged token index
      val q = TokenIndex.toks(s, d)
        .filter(size(col("ws")) > 0)
        .select(col("doc_id"),
          when(size(col("ws")) >= 25, 1).otherwise(0).as("len_ok"),
          when(size(filter(col("ws"),
                 w => w.isin("the", "a", "of", "and", "to", "is", "in"))).cast("double")
                 / size(col("ws")) >= 0.03, 1).otherwise(0).as("stop_ok"))
      // exact-dup rule: q60's keep-min-id representative
      val ed = T(s, d, "documents").select(col("doc_id"),
        min(col("doc_id")).over(Window.partitionBy(col("text"))).as("rep"))
      // near-dup drops: the q61 pair derivation off the staged shingles
      val shh = TokenIndex.shingles3(s, d)
      val inter = shh.as("x").join(shh.as("y"),
          col("x.h") === col("y.h") && col("x.doc_id") < col("y.doc_id"))
        .groupBy(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
        .agg(count(lit(1)).as("inter"))
      val nd = Text.jaccardScored(shh, inter, 0.2).select(col("doc_b")).distinct()
      // repetition: q101's duplicate-shingle ratio (string shingles)
      val r = TokenIndex.toks(s, d)
        .select(col("doc_id"),
                explode(graft.functions.vec.wordShingles(col("ws"), 3)).as("sh"))
        .groupBy(col("doc_id"))
        .agg((lit(1) - countDistinct(col("sh")).cast("double") / count(lit(1)))
               .as("rep_ratio"))
      // contamination: q102's broadcast probe overlap (>= 2 shared shingles)
      val probe = shh.filter(col("doc_id") <= 5).select(col("doc_id").as("pid"), col("h"))
      val ct = shh.filter(col("doc_id") > 5).join(broadcast(probe), "h")
        .groupBy(col("doc_id"), col("pid")).agg(count(lit(1)).as("c"))
        .filter(col("c") >= 2).select(col("doc_id")).distinct()
      val keep = (col("exact_dup") + col("near_dup") + col("low_quality")
                    + col("repetitive") + col("contaminated")) === 0
      q.join(ed, "doc_id")
        .join(nd.withColumn("is_nd", lit(1)), col("doc_id") === col("doc_b"), "left")
        .join(r, Seq("doc_id"), "left")
        .join(ct.withColumn("is_ct", lit(1)).withColumnRenamed("doc_id", "ct_id"),
              col("doc_id") === col("ct_id"), "left")
        .select(col("doc_id"),
          when(col("doc_id") =!= col("rep"), 1).otherwise(0).as("exact_dup"),
          coalesce(col("is_nd"), lit(0)).as("near_dup"),
          when(col("len_ok") * col("stop_ok") === 0, 1).otherwise(0).as("low_quality"),
          when(coalesce(col("rep_ratio"), lit(0.0)) > 0.2, 1).otherwise(0).as("repetitive"),
          coalesce(col("is_ct"), lit(0)).as("contaminated"))
        .withColumn("keep", when(keep, 1).otherwise(0))
        .orderBy(col("doc_id"))
  }
}
